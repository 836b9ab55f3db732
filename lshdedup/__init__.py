"""lshdedup — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference library junior-2016/lsh-cpp (MinHash / weighted MinHash signatures
+ LSH banding for Jaccard similarity search and near-duplicate graph
construction; see /root/reference, cited per-module as file:line).

Design (see SURVEY.md):
  * everything is DataFrame ops + vectorized Arrow/pandas UDFs — no
    per-row Python on the hot path, no RDDs;
  * the LSH "index" is not a data structure but an exploded
    (id, band_id, band_hash) DataFrame; each bucket aggregates to a sorted
    id array whose pairs are the candidates (the reference's per-bucket
    id lists, lsh.h:33-50, 112-144), and an external query is a hash
    equi-join against the bucket rows (lsh.h:146-159);
  * per-element signature math (minhash.h:135-169) runs as batched numpy
    inside pandas UDFs — the distributed analogue of the reference's
    Eigen/MKL SIMD lanes;
  * clustering is union-find connected components over verified dup
    pairs (the reference's greedy star clustering, dna_benchmark.h:361-417);
  * checkpoint/resume, skew salting, and lineage metrics are first-class
    (the reference has none — single machine, restart from zero).
"""

__version__ = "0.2.0"

from lshdedup.config import DedupConfig  # noqa: F401
