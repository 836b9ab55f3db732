"""Streaming incremental dedup (query_then_insert semantics, lsh.h:126-144)
via Structured Streaming foreachBatch over a file source."""

import time

import pytest
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.streaming import StreamingDedup

CFG = DedupConfig(k=3, n_perm=64, b=16, r=4, threshold=0.7, use_phash=False)

SCHEMA = "image_id string, caption string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_dedup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    batch1 = [("a", "the quick brown fox jumps"), ("b", "totally unrelated words")]
    batch2 = [("c", "the quick brown fox jumps"), ("d", "more unrelated content")]
    _write_batch(spark, src, batch1)

    dedup = StreamingDedup(spark, CFG, state, id_col="image_id", text_col="caption")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = dedup.start(stream)
    q.awaitTermination(60)

    # second wave of files, new run (availableNow terminates)
    _write_batch(spark, src, batch2)
    q2 = dedup.start(spark.readStream.schema(SCHEMA).parquet(src))
    q2.awaitTermination(60)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.dup_pairs().select("id_a", "id_b").collect()
    }
    norm = {tuple(sorted(p)) for p in pairs}
    assert ("a", "c") in norm          # cross-batch dup found
    assert all("b" not in p and "d" not in p for p in norm)


def test_streaming_idempotent_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    rows = [("x", "identical caption here"), ("y", "identical caption here")]
    _write_batch(spark, src, rows)
    dedup = StreamingDedup(spark, CFG, state, id_col="image_id", text_col="caption")
    bdf = spark.read.parquet(src)
    dedup.process_batch(bdf, 0)
    n1 = dedup.dup_pairs().count()
    dedup.process_batch(bdf, 0)  # replay same batch id → no duplicate state
    n2 = dedup.dup_pairs().count()
    assert n1 == n2 == 1




def _pair_set(dedup):
    return {tuple(sorted((r["id_a"], r["id_b"])))
            for r in dedup.dup_pairs().select("id_a", "id_b").collect()}


@pytest.mark.parametrize("mode", ["minhash", "exact", "exact+simhash"])
def test_streaming_pairs_equal_pipeline(spark, tmp_path, mode):
    """Streaming verifies with verify_pairs, so under every verify_mode a
    two-batch stream emits exactly the dup pairs dedup_pipeline finds on
    the union (captions made distinct: the pipeline's exact-dup collapse
    is then a no-op)."""
    from dataclasses import replace

    from lshdedup.pipeline import dedup_pipeline
    from lshdedup.synth import SynthConfig, synth_corpus

    cfg = replace(CFG, verify_mode=mode)
    df = (
        synth_corpus(spark, SynthConfig(n_rows=160))
        .select("image_id", "caption")
        .dropDuplicates(["caption"])
        .cache()
    )
    res = dedup_pipeline(spark, df, cfg, phash_col=None)
    want = {tuple(sorted((r["id_a"], r["id_b"]))) for r in res.dup_pairs.collect()}
    res.unpersist()
    dedup = StreamingDedup(spark, cfg, str(tmp_path / "state"))
    for i in range(2):
        dedup.process_batch(df.filter(F.pmod(F.xxhash64("image_id"), F.lit(2)) == i), i)
    df.unpersist()
    assert want and _pair_set(dedup) == want


def test_streaming_compaction_bounds_docs_files(spark, tmp_path):
    """Compaction rewrites the docs store as the one partition labelled
    with the last batch it covers, in at most one file per core, without
    changing results."""
    import os

    state = str(tmp_path / "state")
    dedup = StreamingDedup(
        spark, CFG, state, id_col="image_id", text_col="caption", compact_every=3,
    )
    texts = [
        ("a", "the quick brown fox jumps high"),
        ("b", "something else entirely different"),
        ("c", "the quick brown fox jumps high"),
        ("d", "yet more unrelated filler words"),
        ("e", "the quick brown fox jumps high"),
        ("f", "final unrelated content block"),
    ]
    for i in range(3):
        bdf = spark.createDataFrame(texts[2 * i : 2 * i + 2], SCHEMA)
        dedup.process_batch(bdf, i)

    docs = os.path.join(state, "docs")
    assert [d for d in os.listdir(docs) if not d.startswith((".", "_"))] == ["batch_id=2"]
    files = [f for f in os.listdir(os.path.join(docs, "batch_id=2"))
             if f.endswith(".parquet")]
    assert 1 <= len(files) <= spark.sparkContext.defaultParallelism, files
    assert {r["image_id"] for r in spark.read.parquet(docs).collect()} == set("abcdef")
    assert _pair_set(dedup) == {("a", "c"), ("a", "e"), ("c", "e")}


def test_streaming_ignores_own_partial_docs(spark, tmp_path):
    """Batch N reads only the docs of batches < N: a planted
    docs/batch_id=N partition (what a crashed write of N leaves behind) is
    never matched against, and N's own write replaces it."""
    import os

    from lshdedup.minhash import add_signatures

    state = str(tmp_path / "state")
    dedup = StreamingDedup(
        spark, CFG, state, id_col="image_id", text_col="caption", compact_every=0,
    )
    b0 = spark.createDataFrame(
        [(f"id{i}", f"unique text number {i} with words") for i in range(20)],
        SCHEMA,
    )
    dedup.process_batch(b0, 0)
    text0 = "unique text number 0 with words"
    ghost = add_signatures(
        spark.createDataFrame([("ghost", text0)], SCHEMA), CFG,
        text_col="caption", phash_col="_none_",
    )
    ghost.write.parquet(os.path.join(state, "docs", "batch_id=1"))
    b1 = spark.createDataFrame([("id0b", text0)], SCHEMA)
    dedup.process_batch(b1, 1)
    pairs = _pair_set(dedup)
    assert ("id0", "id0b") in pairs
    assert not [p for p in pairs if "ghost" in p]
    stored = {r["image_id"] for r in spark.read.parquet(os.path.join(state, "docs")).collect()}
    assert "ghost" not in stored and "id0b" in stored


# ---- crash injection: crash mid-batch, replay the batch in a fresh processor

CRASH_BATCHES = [
    [("a", "the quick brown fox jumps high"), ("b", "something else entirely different")],
    [("c", "the quick brown fox jumps high"), ("d", "yet more unrelated filler words"),
     ("e", "the quick brown fox jumps high")],
    [("f", "yet more unrelated filler words"), ("g", "final unrelated content block")],
]


class Crash(Exception):
    pass


def _run(spark, state, batches, compact_every=16):
    dedup = StreamingDedup(spark, CFG, state, compact_every=compact_every)
    for i, rows in batches:
        dedup.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    return dedup


def _pair_rows(dedup):
    return [(r["id_a"], r["id_b"], r["batch_id"])
            for r in dedup.dup_pairs().select("id_a", "id_b", "batch_id").collect()]


@pytest.fixture(scope="module")
def uncrashed_rows(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("uncrashed") / "state")
    return _pair_rows(_run(spark, state, enumerate(CRASH_BATCHES)))


@pytest.mark.parametrize("crash", ["write1", "write2", "compaction"])
def test_replay_after_crash(spark, tmp_path, monkeypatch, uncrashed_rows, crash):
    """Batch 1 crashes after its first parquet write (dup_pairs), after
    its second (docs), or between compaction's two renames; a fresh
    processor on the same state then replays batch 1 and runs batch 2.
    The emitted pair rows equal an uncrashed run's, with no duplicate row
    and no read-time dedup."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    state = str(tmp_path / "state")
    compact_every = 2 if crash == "compaction" else 16
    _run(spark, state, [(0, CRASH_BATCHES[0])], compact_every)

    calls = []
    if crash == "compaction":
        real_rename = os.rename

        def rename(src, dst):
            calls.append(src)
            if len(calls) == 2:
                raise Crash(src)
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename)
    else:
        k = int(crash[-1])
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            calls.append(path)
            if len(calls) == k:
                raise Crash(path)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Crash):
        _run(spark, state, [(1, CRASH_BATCHES[1])], compact_every)
    monkeypatch.undo()

    replayed = _run(spark, state, [(1, CRASH_BATCHES[1]), (2, CRASH_BATCHES[2])],
                    compact_every)
    rows = _pair_rows(replayed)
    assert len(rows) == len(set(rows)), rows
    assert sorted(rows) == sorted(uncrashed_rows)
    assert {tuple(sorted(r[:2])) for r in rows} == {
        ("a", "c"), ("a", "e"), ("c", "e"), ("d", "f")}
