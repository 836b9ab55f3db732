"""LSH banding / bucket-join semantics (lsh.h:112-159) on DataFrames."""

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from lshdedup.config import DedupConfig
from lshdedup.lsh import (
    candidate_pairs,
    exact_dup_groups,
    explode_bands,
    query_candidates,
)
from lshdedup.minhash import add_signatures
from lshdedup.params import optimal_params


def _signed(spark, cfg, rows):
    df = spark.createDataFrame(rows, ["image_id", "caption"])
    return add_signatures(df, cfg, phash_col="_none_")


def test_explode_bands_shape(spark):
    cfg = DedupConfig(k=3, n_perm=32, b=8, r=4, use_phash=False)
    signed = _signed(spark, cfg, [("a", "hello world this is a test")])
    bands = explode_bands(signed, "image_id", "sig", cfg).collect()
    assert len(bands) == 8
    assert sorted(r["band_id"] for r in bands) == list(range(8))


def test_identical_docs_collide_in_all_bands(spark):
    cfg = DedupConfig(k=3, n_perm=32, b=8, r=4, use_phash=False)
    signed = _signed(spark, cfg, [("a", "same text here"), ("b", "same text here")])
    bands = explode_bands(signed, "image_id", "sig", cfg)
    pairs, _ = candidate_pairs(bands, "image_id", cfg)
    got = pairs.collect()
    assert len(got) == 1 and got[0]["id_a"] == "a" and got[0]["id_b"] == "b"


def test_lsh_retrieval_word_fixture(spark, word_sets):
    """test_lsh_minhash analogue (test.h:110-138): insert m2, m3; query m1
    at threshold 0.7 → m2 retrieved (J(m1,m2) ≈ 0.67, J(m1,m3) ≈ 0.47)."""
    cfg = DedupConfig(n_perm=128, seed=1, threshold=0.7, use_phash=False).resolved(optimal_params)
    from lshdedup.minhash import token_hash_signature_udf

    df = spark.createDataFrame(
        [(k, v) for k, v in word_sets.items()], ["set_id", "text"]
    ).withColumn(
        "sig",
        token_hash_signature_udf(cfg)(
            F.transform(F.array_distinct(F.split("text", " ")), lambda x: F.xxhash64(x))
        ),
    )
    corpus = explode_bands(df.filter(F.col("set_id") != "m1"), "set_id", "sig", cfg)
    query = explode_bands(df.filter(F.col("set_id") == "m1"), "set_id", "sig", cfg)
    got = query_candidates(
        query.withColumnRenamed("set_id", "qid"), corpus, "qid", "set_id"
    ).collect()
    found = {r["set_id"] for r in got}
    assert "m2" in found


def test_bucket_cap_excludes_hot_bucket(spark):
    cfg = DedupConfig(k=3, n_perm=32, b=1, r=4, bucket_cap=3, use_phash=False)
    # 5 identical docs -> one bucket of 5 > cap 3
    rows = [(f"id{i}", "identical caption text") for i in range(5)]
    signed = _signed(spark, cfg, rows)
    bands = explode_bands(signed, "image_id", "sig", cfg)
    pairs, skew = candidate_pairs(bands, "image_id", cfg)
    assert pairs.count() == 0
    rep = skew.collect()
    assert len(rep) == 1 and rep[0]["bucket_size"] == 5

    # the cap is inclusive: a bucket of exactly cap rows emits all its
    # pairs, a bucket of cap + 1 rows emits none and is reported
    cap = cfg.bucket_cap
    rows = [(f"a{i}", "first caption text") for i in range(cap)]
    rows += [(f"b{i}", "second other words") for i in range(cap + 1)]
    bands = explode_bands(_signed(spark, cfg, rows), "image_id", "sig", cfg)
    pairs, skew = candidate_pairs(bands, "image_id", cfg)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(f"a{i}", f"a{j}") for i in range(cap) for j in range(i + 1, cap)}
    assert [r["bucket_size"] for r in skew.collect()] == [cap + 1]
    assert skew.schema["bucket_size"].dataType == LongType()


def test_candidate_pairs_plan_has_no_cache_or_join(spark):
    """Pairs are read off per-bucket id arrays: the plan caches nothing
    and joins nothing, and building it runs no Spark job, whatever the
    caller passes for the legacy ``persisted``/``eager`` keywords."""
    cfg = DedupConfig(k=3, n_perm=32, b=8, r=4, use_phash=False)
    signed = _signed(spark, cfg, [("a", "same text here"), ("b", "same text here")])
    bands = explode_bands(signed, "image_id", "sig", cfg)
    sc = spark.sparkContext
    sc.setJobGroup("candidate_pairs_build", "build candidate_pairs")
    try:
        pairs, _ = candidate_pairs(bands, "image_id", cfg, persisted=[], eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("candidate_pairs_build")) == []
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    assert "Join" not in plan
    assert [tuple(r) for r in pairs.collect()] == [("a", "b")]


def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "x", 1), ("c", "x", 2), ("d", "y", 1)],
        ["image_id", "caption", "phash"],
    )
    reps, edges = exact_dup_groups(df, "image_id", ["caption", "phash"])
    rep_ids = {r["image_id"] for r in reps.collect()}
    assert rep_ids == {"a", "c", "d"}
    e = {(r["src"], r["dst"]) for r in edges.collect()}
    assert e == {("b", "a")}


def test_pair_set_matches_sequential_query_then_insert(spark):
    """The bucket id arrays yield exactly the unordered pairs a sequential
    query_then_insert loop (lsh.h:126-144) would: every pair sharing ≥1
    band bucket, once."""
    cfg = DedupConfig(k=2, n_perm=16, b=4, r=4, use_phash=False)
    rows = [
        ("a", "abcabcabc"),
        ("b", "abcabcabc"),
        ("c", "abcabcabx"),
        ("d", "zzzzzzzzz"),
    ]
    signed = _signed(spark, cfg, rows)
    bands = explode_bands(signed, "image_id", "sig", cfg).cache()
    pairs = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(bands, "image_id", cfg)[0].collect()
    }
    # sequential simulation over collected buckets
    buckets = {}
    expected = set()
    for row in bands.collect():  # any order; pair set must be order-free
        key = (row["band_id"], row["band_hash"])
        for other in buckets.get(key, []):
            expected.add(tuple(sorted((other, row["image_id"]))))
        buckets.setdefault(key, []).append(row["image_id"])
    assert pairs == expected
    assert ("a", "b") in pairs


def test_salted_pairs_equal_unsalted(spark):
    """pair_salt changes partitioning only — identical pair set."""
    import dataclasses

    cfg = DedupConfig(k=2, n_perm=16, b=4, r=4, use_phash=False)
    rows = [(f"d{i}", ["abcabc", "abcabx", "zzzzzz", "abcabc"][i % 4] * 2) for i in range(12)]
    signed = _signed(spark, cfg, rows)
    bands = explode_bands(signed, "image_id", "sig", cfg).cache()
    plain = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(bands, "image_id", cfg)[0].collect()
    }
    salted_cfg = dataclasses.replace(cfg, pair_salt=4)
    salted = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(bands, "image_id", salted_cfg)[0].collect()
    }
    assert plain == salted and len(plain) > 0


def test_band_expr_sql_equals_column_builder(spark):
    """The parsed-SQL band expression (r6 driver-time optimization) must
    produce exactly the values of the original Column-builder form."""
    from lshdedup.lsh import band_hashes_expr

    def column_builder(sig_col, b, r):
        bands = []
        for i in range(b):
            elems = [F.col(sig_col)[i * r + j] for j in range(r)]
            bands.append(
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.xxhash64(F.lit(i), *elems).alias("band_hash"),
                )
            )
        return F.array(*bands)

    df = spark.range(50).select(
        "id",
        F.array(*[F.xxhash64(F.col("id"), F.lit(j)) for j in range(32)]).alias("sig"),
    )
    got = df.select("id", band_hashes_expr("sig", 8, 4).alias("bh")).collect()
    want = df.select("id", column_builder("sig", 8, 4).alias("bh")).collect()
    assert got == want


def test_band_expr_quotes_backtick_column_name(spark):
    """A backtick in the signature column's name is escaped, not
    spliced into the SQL text: same band hashes as under a plain name."""
    from lshdedup.lsh import band_hashes_expr

    df = spark.range(20).select(
        "id",
        F.array(*[F.xxhash64(F.col("id"), F.lit(j)) for j in range(16)]).alias("sig"),
    )
    odd = "s`ig"
    got = df.withColumnRenamed("sig", odd).select(
        "id", band_hashes_expr(odd, 4, 4).alias("bh")).collect()
    want = df.select("id", band_hashes_expr("sig", 4, 4).alias("bh")).collect()
    assert got == want
