"""LSH banding as DataFrames — the "join" stage.

The reference's LSH index is b hash maps keyed by a hash of r contiguous
signature rows (lsh.h:33-50); insert appends a label to a bucket chain
(lsh.h:112-124), query unions bucket members (lsh.h:146-159), and
query_then_insert yields each unordered pair exactly once via
insertion-order asymmetry (lsh.h:126-144).

Spark-first re-expression: there is no index.  The signature column explodes
to an (id, band_id, band_hash) bucket table; "query_then_insert over the
whole corpus" is one aggregate of each bucket into a sorted id array, read
off as every ``id_a < id_b`` pair — the same pair set, order-free and
distributed, with no self-join.  Band hashes are computed JVM-side with
``xxhash64`` over the band's slice (order-sensitive, seeded by band index),
so the explode stays inside whole-stage codegen — no Python.

Scale safeguards the reference lacks (single machine, SURVEY §4.9):
  * exact-duplicate pre-grouping: identical (caption, phash) rows collapse
    to one representative BEFORE banding, so degenerate corpora (millions of
    identical rows) cannot create m² buckets;
  * bucket cap: buckets larger than ``cfg.bucket_cap`` are excluded from
    pair generation and surfaced as a skew metric (after exact-dup
    collapsing, an over-cap bucket is almost surely a band-hash pileup, not
    a real dup cluster);
  * ``cfg.pair_salt`` spreads the pair work of a hot but eligible bucket
    over several reducers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.util import persist_stage


def band_hashes_expr(sig_col: str, b: int, r: int) -> Column:
    """array<struct<band_id:int, band_hash:long>> — one entry per band.

    band_hash = xxhash64(band_id, sig[i*r] .. sig[i*r+r-1]): the JVM-side
    analogue of the vector-range band hash xx_Hash<uint64_t>(vec, [start,
    end)) (hash.h:186-206).  Seeding with band_id keeps equal slices in
    different bands from colliding into one bucket key space.

    Built as ONE parsed SQL expression rather than b×(r+3) py4j calls:
    the resulting analyzed plan is identical (pinned by
    tests/test_lsh.py::test_band_expr_sql_equals_column_builder), but
    construction drops from ~0.5 s to ~2 ms at b=32 — driver time that
    sat inside the timed window of every pipeline run.  A backtick in
    ``sig_col`` is doubled, SQL's escape inside a quoted identifier.
    """
    quoted = "`" + sig_col.replace("`", "``") + "`"
    parts = ", ".join(
        f"struct({i} as band_id, xxhash64({i}, "
        + ", ".join(f"{quoted}[{i * r + j}]" for j in range(r))
        + ") as band_hash)"
        for i in range(b)
    )
    return F.expr(f"array({parts})")


def explode_bands(
    df: DataFrame, id_col: str, sig_col: str, cfg: DedupConfig
) -> DataFrame:
    """Bucket table: (id, band_id, band_hash) — LSH::insert as rows
    (lsh.h:112-124)."""
    assert cfg.b is not None and cfg.r is not None
    assert cfg.b * cfg.r <= cfg.n_perm, "b*r must fit the signature (lsh.h:95)"
    return (
        df.select(id_col, F.explode(band_hashes_expr(sig_col, cfg.b, cfg.r)).alias("_bd"))
        .select(id_col, F.col("_bd.band_id").alias("band_id"), F.col("_bd.band_hash").alias("band_hash"))
    )


def exact_dup_groups(
    df: DataFrame, id_col: str, key_cols: list[str],
    persisted: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collapse exactly-identical rows before LSH.

    Returns (reps, member_edges):
      reps         — one representative row per distinct key (min id);
      member_edges — (src=id, dst=rep_id) for every NON-representative row,
                     fed straight into connected components.

    Key is 128 bits (xxhash64 ⊕ md5-half) so distinct content cannot merge
    even at 10^12 rows.  One shuffle on the content key.

    ``persisted``: when given, the shared window frame is persisted by
    ``util.persist_stage`` (and appended there for the caller to release)
    so the reps consumer and the member_edges consumer don't each
    recompute the content-key shuffle + window — they are materialized at
    different times in the pipeline and the second pass was a full
    recompute (guide §2.4: one exchange, reused).
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in key_cols]
    keyed = df.withColumn("_k1", F.xxhash64(*cols)).withColumn(
        "_k2", F.substring(F.md5(F.concat_ws("\x01", *cols)), 1, 16)
    )
    w = Window.partitionBy("_k1", "_k2")
    tagged = keyed.withColumn("_rep", F.min(id_col).over(w))
    if persisted is not None:
        tagged = persist_stage(tagged)
        persisted.append(tagged)
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).drop("_k1", "_k2", "_rep")
    member_edges = (
        tagged.filter(F.col(id_col) != F.col("_rep"))
        .select(F.col(id_col).alias("src"), F.col("_rep").alias("dst"))
    )
    return reps, member_edges


def candidate_pairs(
    buckets: DataFrame,
    id_col: str,
    cfg: DedupConfig,
    persisted: list | None = None,
    eager: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Bucket id arrays → distinct candidate pairs (id_a < id_b).

    Equivalent pair set to running query_then_insert sequentially over the
    corpus (lsh.h:126-144): each unordered pair that shares ≥1 band bucket
    appears exactly once.  Like the reference's per-bucket id list
    (lsh.h:33-50), each eligible bucket becomes one sorted id array and its
    pairs are read straight off it.

    Returns (pairs, skew_report) where skew_report lists buckets skipped by
    the cap.  Plan: one shuffle on (band_id, band_hash) for the window
    count, which the array aggregate reuses; over-cap buckets are sized by
    the (spillable) window and never become arrays.  Both outputs are lazy.

    ``persisted`` and ``eager`` are accepted and ignored: nothing here is
    cached or counted.  They remain only for existing callers.
    """
    keys = ["band_id", "band_hash"]
    sized = buckets.withColumn("_bsz", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    skew_report = (
        sized.filter(F.col("_bsz") > cfg.bucket_cap)
        .groupBy(*keys)
        .agg(F.max("_bsz").alias("bucket_size"))
    )
    # collect_set, not collect_list: a repeated id must not pair with itself
    ids = (
        sized.filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= cfg.bucket_cap))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
    )
    mine = F.lit(True)
    if cfg.pair_salt > 1:
        # explicit skew salting (north rule): replicate each bucket's array
        # s times and spread the copies over (band_id, band_hash, _salt);
        # copy k emits only the left ids with pmod(xxhash64(id_a), s) == k,
        # so a hot bucket's m² pair work spreads over s reducers.  Pair set
        # is unchanged.
        s = cfg.pair_salt
        ids = ids.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(s - 1).cast("long"))),
        ).repartition(*keys, "_salt")
        mine = F.pmod(F.xxhash64(F.col("id_a")), F.lit(s)) == F.col("_salt")
    pairs = (
        ids.select("*", F.posexplode("_ids").alias("_i", "id_a"))
        .filter(mine)
        .select("id_a", F.explode(F.slice("_ids", F.col("_i") + 2, F.size("_ids"))).alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs, skew_report


def query_candidates(
    query_buckets: DataFrame, corpus_buckets: DataFrame, qid_col: str, id_col: str
) -> DataFrame:
    """LSH::query for an external query set (lsh.h:146-159): equi-join the
    query's band rows against the corpus bucket table, union across bands
    via dropDuplicates.  Small query side → AQE broadcasts it."""
    q = query_buckets.select(
        F.col("band_id"), F.col("band_hash"), F.col(qid_col).alias("_qid")
    )
    c = corpus_buckets.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("_cid")
    )
    return (
        q.join(c, on=["band_id", "band_hash"])
        .select(F.col("_qid").alias(qid_col), F.col("_cid").alias(id_col))
        .dropDuplicates([qid_col, id_col])
    )
