"""ANN over embeddings: brute-force baseline vs SRP-bucketed scale path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lshdedup.ann import (
    brute_force_topk,
    cosine_expr,
    embedding_near_dup_pairs,
    srp_topk,
)

DIM = 16


def _vecs(n, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a array<double>, b array<double>"
    )
    got = [r["c"] for r in df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == pytest.approx(1.0) and got[1] == pytest.approx(0.0)


def test_brute_force_topk(spark):
    corpus = _vecs(50, 1)
    queries = corpus[:3] + 0.01 * _vecs(3, 2)  # near-copies of rows 0..2
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in corpus[i]]) for i in range(50)], ["cid", "cvec"]
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in queries[i]]) for i in range(3)], ["qid", "qvec"]
    )
    top = brute_force_topk(qdf, cdf, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cid"]))
    for q in range(3):
        ranks = sorted(by_q[q])
        assert len(ranks) == 5
        assert ranks[0][1] == q  # nearest neighbor is the perturbed source


def test_srp_recall_at_10(spark):
    corpus = _vecs(200, 3)
    queries = corpus[:5] + 0.02 * _vecs(5, 4)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in corpus[i]]) for i in range(200)], ["cid", "cvec"]
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in queries[i]]) for i in range(5)], ["qid", "qvec"]
    )
    exact = {
        (r["qid"], r["cid"])
        for r in brute_force_topk(qdf, cdf, k=1).collect()
    }
    approx = {
        (r["qid"], r["cid"])
        for r in srp_topk(qdf, cdf, k=10, dim=DIM, n_bits=64, n_bands=16).collect()
    }
    # the true NN (a near-copy, cosine ≈ 1) must be retrieved for most queries
    hits = sum(1 for p in exact if p in approx)
    assert hits >= 4


def test_embedding_near_dup_pairs(spark):
    base = _vecs(30, 5)
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # plant a near-dup of row 0
    dup = base[0] + 0.001 * _vecs(1, 6)[0]
    rows.append((99, [float(x) for x in dup / np.linalg.norm(dup)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dup_pairs(
        df, "vec_id", "embedding", DIM, min_cosine=0.99, n_bands=16
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 99 for r in pairs)
    for r in pairs:
        assert r["cosine"] >= 0.99


def test_ivf_topk_recall_and_scan_fraction(spark):
    """IVF coarse-quantized ANN: recall@5 >= 0.7 at 8/16 probes on the
    near-uniform fixture embeddings (IVF's worst case — no cluster
    structure), and the candidate set is a strict subset of the corpus
    (never a full scan)."""
    from pyspark.sql import functions as F

    from lshdedup.ann import brute_force_topk, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    bf = {(r["qid"], r["cid"]) for r in brute_force_topk(q, c, k=5).collect()}
    iv = {(r["qid"], r["cid"])
          for r in ivf_topk(q, c, k=5, dim=64, n_cells=16, n_probe=8).collect()}
    assert len(bf & iv) / len(bf) >= 0.7


def test_ivf_corpus_spill_lifts_recall_no_duplicate_pairs(spark):
    """Cell spilling (corpus rows indexed under their 2 nearest centroids)
    must (a) never return a duplicate (qid, cid) pair despite the pair now
    being joinable through up to `spill` shared cells, (b) keep ranks
    contiguous 1..k per query, and (c) recall at spill=2 dominates spill=1
    on the same geometry — the boundary-loss neighbors it exists to catch."""
    from pyspark.sql import functions as F

    from lshdedup.ann import brute_force_topk, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    bf = {(r["qid"], r["cid"]) for r in brute_force_topk(q, c, k=5).collect()}
    rows = ivf_topk(
        q, c, k=5, dim=64, n_cells=16, n_probe=4, corpus_spill=2
    ).collect()
    pairs = [(r["qid"], r["cid"]) for r in rows]
    assert len(pairs) == len(set(pairs))  # dedup before the rank window
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    recall2 = len(bf & set(pairs)) / len(bf)
    base = {
        (r["qid"], r["cid"])
        for r in ivf_topk(
            q, c, k=5, dim=64, n_cells=16, n_probe=4, corpus_spill=1
        ).collect()
    }
    assert recall2 >= len(bf & base) / len(bf)


def test_ivf_centroids_deterministic(spark):
    """Same data + seed → identical centroids (hash-ordered sample, seeded
    k-means): cell assignments are reproducible across runs/partitionings."""
    import numpy as np
    from pyspark.sql import functions as F

    from lshdedup.ann import train_ivf_centroids

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c1 = train_ivf_centroids(e, "vec_id", "v", 64, n_cells=8, seed=7)
    c2 = train_ivf_centroids(e.repartition(16), "vec_id", "v", 64, n_cells=8, seed=7)
    assert np.array_equal(c1, c2)


def test_ivf_null_and_ragged_rows_skip_not_crash(spark):
    from pyspark.sql import functions as F

    from lshdedup.ann import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    # corpus with one NULL and one wrong-dimension vector injected
    good = e.filter(F.col("vec_id") >= 3).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    bad = spark.createDataFrame(
        [(99990, None), (99991, [1.0, 2.0])],
        "cid long, cvec array<double>",
    )
    res = ivf_topk(q, good.unionByName(bad), k=5, dim=64, n_cells=8, n_probe=4)
    rows = res.collect()
    assert len(rows) > 0
    assert all(r["cid"] < 99990 for r in rows)  # bad rows skipped, job alive


def test_ivf_degenerate_corpus_returns_empty(spark):
    """Empty corpus: ivf_topk returns an empty result with the output
    schema instead of crashing in the k-means trainer (np.array of zero
    rows).  A NON-empty corpus whose rows are all invalid is a `dim`
    misconfiguration and stays a loud ValueError."""
    from lshdedup.ann import ivf_topk, train_ivf_centroids

    q = spark.createDataFrame(
        [(1, [1.0] * 64)], "qid long, qvec array<double>"
    )
    empty = spark.createDataFrame([], "cid long, cvec array<double>")
    res = ivf_topk(q, empty, k=5, dim=64, n_cells=8, n_probe=4)
    assert res.columns == ["qid", "cid", "cosine", "rank"]
    assert res.count() == 0

    # rows exist but none survive the dim check -> misconfiguration, loud
    bad = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0])], "cid long, cvec array<double>"
    )
    with pytest.raises(ValueError, match="no valid"):
        ivf_topk(q, bad, k=5, dim=64, n_cells=8, n_probe=4)

    with pytest.raises(ValueError, match="empty corpus"):
        train_ivf_centroids(empty, "cid", "cvec", dim=64, n_cells=8)


def test_ivf_seeded_recall_subset_and_determinism(spark):
    """ivf_topk_seeded (zero-iteration seeded-row quantizer, pure native
    expressions — the SQL-oracle-checkable IVF variant): recall@5 >= 0.6
    at 8/16 probes on the near-uniform fixture, candidate set never a full
    scan, and repartitioning the input does not change the result
    (TakeOrderedAndProject centroid pick is partition-invariant)."""
    from pyspark.sql import functions as F

    from lshdedup.ann import brute_force_topk, ivf_topk_seeded

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    res = ivf_topk_seeded(q, c, k=5, n_cells=16, n_probe=8)
    rows = res.collect()
    got = {(r["qid"], r["cid"]) for r in rows}
    bf = {(r["qid"], r["cid"]) for r in brute_force_topk(q, c, k=5).collect()}
    assert len(bf & got) / len(bf) >= 0.6
    # per-query at most k rows, ranks 1..k contiguous
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    rows2 = ivf_topk_seeded(
        q.repartition(16), c.repartition(16), k=5, n_cells=16, n_probe=8
    ).collect()
    assert {(r["qid"], r["cid"], r["cosine"], r["rank"]) for r in rows2} == {
        (r["qid"], r["cid"], r["cosine"], r["rank"]) for r in rows
    }


def test_rerank_dedup_only_where_pairs_can_repeat(spark):
    """The re-rank core's (qid, cid) dedup is one Aggregate in the
    optimized plan exactly where the candidate join can repeat a pair:
    none for single-cell IVF (in-memory and seeded), one once corpus rows
    spill into 2 cells, and one for SRP, whose pairs can collide in up to
    n_bands bands."""
    from pyspark.sql import functions as F
    from test_entry_contract import SF_DIR

    from lshdedup.ann import ivf_topk, ivf_topk_seeded

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )

    def dedups(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Aggregate [qid")

    for spill in (1, 2):
        ivf = ivf_topk(
            q, c, k=5, dim=64, n_cells=8, n_probe=3, corpus_spill=spill
        )
        seeded = ivf_topk_seeded(
            q, c, k=5, n_cells=16, n_probe=4, corpus_spill=spill
        )
        assert dedups(ivf) == spill - 1
        assert dedups(seeded) == spill - 1
    assert dedups(srp_topk(q, c, k=5, dim=64, n_bands=16)) == 1
