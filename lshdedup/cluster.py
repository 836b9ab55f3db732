"""Connected components over dup pairs → cluster assignments.

The reference's clustering is a commented-out greedy star pass
(dna_benchmark.h:361-417, single-threaded, insertion-order dependent).
The distributed replacement labels every vertex with the least id of its
component, in three steps:

1. Contraction — one pass over the edges: canonical (least, greatest)
   pairs are hash-partitioned by the smaller endpoint and each partition
   runs a vectorized union-find (``_union_find``), emitting (id, root) for
   every vertex it holds, root = least id of its local component.  This is
   the partition-local contraction of BTS (ICDE 2024).  AQE coalesces a
   small edge set into one partition, where this pass is the whole answer.
2. Check — one ``groupBy(id)``: a vertex whose partitions all agree on its
   root already carries its final label (min root = min id of the
   component).
3. Star rounds — only when some vertex got two roots, i.e. a component
   spans partitions: alternating large-star/small-star rounds (Kiveris et
   al., SoCC 2014) over the graph linking those roots, until a round
   changes nothing.  The round budget is derived from the vertex count
   (O(log² n)); past it the call raises instead of returning a component
   split into several labels.

Deterministic: labels are min ids, independent of partitioning.
``localCheckpoint`` cuts each step's lineage so plans stay bounded.

Note CC ⊇ greedy-star clusters; recall per BASELINE is measured on
dup-PAIR sets, which are identical (SURVEY §2.6).
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _union_find(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: connected components of one partition's
    (u, v) pairs, u <= v, as (id, root) for every vertex in the
    partition, root = least id of its local component."""
    batches = list(batches)
    if not batches:  # an empty partition receives no batches
        return
    t = pa.Table.from_batches(batches)
    ends = pa.concat_arrays(t.column("u").chunks + t.column("v").chunks)
    # sorted distinct ids: code order is Spark's ordering of the ids
    ids = pc.unique(ends)
    ids = ids.take(pc.array_sort_indices(ids))
    codes = pc.index_in(ends, value_set=ids).to_numpy()
    a, b = codes[: t.num_rows], codes[t.num_rows:]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        # hook every root under the least root it shares an edge with
        np.minimum.at(parent, np.maximum(ra, rb)[cross], np.minimum(ra, rb)[cross])
        # pointer jumping until every vertex points at its root
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    yield pa.RecordBatch.from_arrays([ids, ids.take(pa.array(parent))], names=["id", "root"])


def local_roots(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Step 1, lazy: (id, root) per vertex per partition holding it.

    Self-loops stay, so a vertex with no other edge still gets a row."""
    pairs = edges.select(
        F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
    id_type = pairs.schema["u"].dataType
    return pairs.repartition("u").mapInArrow(
        _union_find,
        StructType([StructField("id", id_type), StructField("root", id_type)]))


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star then small-star round over edges (v, p), p < v.

    Returns the next edge set, with ``_chg`` set on edges either step
    rewrote: a round in which no edge is flagged left the graph as it
    was, and that graph is a star per component centred on its least id.
    """
    both = e.select(F.explode(F.array(
        F.struct(F.col("p").alias("u"), F.col("v").alias("w")),
        F.struct(F.col("v").alias("u"), F.col("p").alias("w")),
    )).alias("_e")).select("_e.*")
    # large-star: each strictly larger neighbour w of u re-links to the
    # least of u and its neighbours
    m = F.least(F.col("u"), F.min("w").over(Window.partitionBy("u")))
    large = (
        both.select("u", "w", m.alias("m"))
        .filter(F.col("w") > F.col("u"))
        .select(F.col("w").alias("v"), F.col("m").alias("p"),
                (F.col("m") != F.col("u")).alias("_chg"))
    )
    # small-star: v and each of its smaller neighbours re-link to the
    # least of those neighbours
    small = large.withColumn("mm", F.min("p").over(Window.partitionBy("v")))
    chg = (F.col("_chg") | (F.col("p") != F.col("mm"))).alias("_chg")
    return (
        small.select(F.explode(F.array(
            F.struct(F.col("v"), F.col("mm").alias("p"), chg),
            F.struct(F.col("p").alias("v"), F.col("mm").alias("p"), chg),
        )).alias("_e"))
        .select("_e.*")
        .filter(F.col("v") != F.col("p"))
        .groupBy("v", "p")
        .agg(F.max("_chg").alias("_chg"))
    )


def _star_rounds(e: DataFrame, max_iter: Optional[int]) -> DataFrame:
    """Star rounds over edges (v, p), p < v, until one
    changes nothing: then (v, p) holds, for every vertex but the least of
    its component, p = that least id.  Raises RuntimeError past
    ``max_iter`` rounds (default: a budget from the vertex count)."""
    if max_iter is None:
        # Kiveris et al. bound the alternating rounds by O(log² n); the
        # graph has at most two vertices per edge
        max_iter = math.ceil(math.log2(2 * e.count() + 1)) ** 2 + 1
    for _ in range(max_iter):
        e = _star_round(e).localCheckpoint(eager=True)
        if e.filter("_chg").limit(1).count() == 0:
            return e.drop("_chg")
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        "star rounds"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: Optional[int] = None,
) -> DataFrame:
    """(id, cluster_id) for every vertex appearing in ``edges``.

    cluster_id = min vertex id of the component (ids: any orderable type).
    ``max_iter`` overrides the star-round budget, which by default grows
    with log² of the vertex count; raises RuntimeError if the rounds have
    not converged within it rather than return a split component.
    """
    # ``edges`` is evaluated exactly once, inside this checkpoint, so an
    # unpersisted upstream plan is never computed twice
    local = local_roots(edges, src, dst).localCheckpoint(eager=True)
    labels = local.groupBy("id").agg(
        F.min("root").alias("cluster_id"), F.max("root").alias("_max"))
    split = labels.filter(F.col("cluster_id") != F.col("_max"))
    if split.limit(1).count() == 0:
        return labels.drop("_max")

    # a component spans partitions: link each root of a split vertex to
    # that vertex's least root, and contract the root graph in star rounds
    e = (
        local.join(split.select("id", "cluster_id"), "id")
        .filter(F.col("root") != F.col("cluster_id"))
        .select(F.col("root").alias("v"), F.col("cluster_id").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    star = _star_rounds(e, max_iter).select(
        F.col("v").alias("cluster_id"), F.col("p").alias("_min"))
    return labels.join(star, "cluster_id", "left").select(
        "id", F.coalesce("_min", "cluster_id").alias("cluster_id"))


def assign_clusters(
    all_ids: DataFrame,
    dup_edges: DataFrame,
    id_col: str = "image_id",
    src: str = "src",
    dst: str = "dst",
    max_iter: Optional[int] = None,
) -> DataFrame:
    """Full-corpus (id, cluster_id): component label for connected rows,
    own id for singletons (left join keeps unmatched rows broadcast-free)."""
    comps = connected_components(dup_edges, src=src, dst=dst, max_iter=max_iter)
    return (
        all_ids.select(F.col(id_col))
        .join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )


def cluster_sizes(clusters: DataFrame, id_col: str = "image_id") -> DataFrame:
    return clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
