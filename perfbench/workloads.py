"""The workloads and the two ways to run one.

End-to-end (``--trace 0``): set the session up once, JVM launch included,
then call the engine's public entry point in a closed loop (one call at a
time, one client) for the run's seconds; every call is checked against the
oracle.
A batch workload's call is one ``dedup_pipeline``; a stream workload's call
is its micro-batches through ``StreamingDedup.process_batch`` in order,
against fresh state.  One untimed warm-up call on the first rows of the
input comes first, so the timed calls do not pay the JVM's JIT warm-up.

Traced (``--trace 1``): a streaming pass, one untraced ``dedup_pipeline``
call that gives the pipeline-level numbers and the reference output, then
one traced pass that calls each layer's public function inside a span and
materializes the frame the pipeline would hand to the next layer.  The
traced output must equal the untraced output.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace
from pathlib import Path
from typing import Callable

import pandas as pd

from lshdedup.config import DedupConfig
from perfbench import gen, oracle
from perfbench.procstat import PeakSampler, descendants, tree_cpu_s, wait_gone, workers_pss_mb
from perfbench.trace import Tracer, event_log_stats

ID, TEXT, PHASH = "image_id", "caption", "phash"
CORES = 4
WARM_ROWS = 300

# bench.py's image_dedup configuration
BENCH_CFG = DedupConfig(
    threshold=0.7, n_perm=128, b=32, r=4, fp_weight=0.1, fn_weight=0.9,
    shuffle_partitions=16, sig_scheme="oph",
)


@dataclass(frozen=True)
class Spec:
    name: str
    # make(seed, *size) -> (rows, generator group of each row)
    make: Callable[..., tuple[pd.DataFrame, list[int]]]
    size: tuple[int, ...]
    cfg: DedupConfig
    checkpointed: bool = False
    # the oracle's components must come back as exactly the output clusters
    exact_clusters: bool = False
    # > 0: a stream of this many micro-batches instead of one batch call
    batches: int = 0
    # calls per end-to-end run, at least, whatever --seconds says
    min_calls: int = 2


SPECS = {
    s.name: s
    for s in (
        Spec("mixed_dups", gen.mixed_dups, (2000,), BENCH_CFG),
        Spec("long_captions", gen.long_captions, (512,), replace(BENCH_CFG, sig_scheme="kperm")),
        Spec(
            "dup_chains_resumable",
            gen.dup_chains,
            (12, 8),
            BENCH_CFG,
            checkpointed=True,
            exact_clusters=True,
        ),
        Spec(
            "stream_batches",
            gen.mixed_dups,
            (2000,),
            BENCH_CFG,
            batches=4,
            min_calls=1,
        ),
    )
}

# compaction every second batch, so a four-batch stream compacts twice
STREAM_COMPACT_EVERY = 2


# ---------------------------------------------------------------- inputs


@dataclass
class Prepared:
    path: str
    n_rows: int
    oracle: set
    n_components: int
    floors: dict

    def captions(self) -> list[str]:
        return pd.read_parquet(self.path, columns=[TEXT])[TEXT].tolist()


def prepare(spec: Spec, seed: int, cache: Path, floors: dict) -> Prepared:
    """Generate the seed's input and oracle once (outside every timed
    region) and keep them under ``cache``; later runs only read them.
    A stream's oracle is caption-only: process_batch never reads pHash."""
    d = cache / "inputs" / "-".join(map(str, (spec.name, seed, *spec.size)))
    if not (d / "oracle.json").exists():
        df, groups = spec.make(seed, *spec.size)
        phashes = None if spec.batches else df[PHASH].tolist()
        pairs = oracle.rule_pairs(df[ID].tolist(), df[TEXT].tolist(), groups, phashes)
        comp = oracle.components(pairs)
        n_comp = len({comp.get(i, i) for i in df[ID]})
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        tmp.mkdir(parents=True, exist_ok=True)
        df.to_parquet(tmp / "input.parquet", index=False)
        with open(tmp / "oracle.json", "w") as fh:
            json.dump({"pairs": sorted(pairs), "components": n_comp, "rows": len(df)}, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(d / "oracle.json") as fh:
        o = json.load(fh)
    return Prepared(
        str(d / "input.parquet"), o["rows"], {tuple(p) for p in o["pairs"]},
        o["components"], floors,
    )


# --------------------------------------------------------------- session


def session_conf(cache: Path, event_log: Path | None = None) -> dict:
    """get_spark's settings plus directories inside the checkout
    (-XX:-UsePerfData keeps the JVM out of /tmp/hsperfdata_*), and one
    change: the JIT stops at C1.  With the default tiered JIT, C2 compiles
    through the first calls, so a run needs a 30 s warm-up and its first
    timed call is still 20-30 % slower than the next; with C1 the first
    timed call is already at the plateau.  The driver heap is get_spark's."""
    tmp = cache / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(cache / "spark-local"),
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1"
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    return conf


def split_batches(df, k: int) -> list:
    """The input as ``k`` micro-batches by xxhash64(image_id) % k, so a
    planted group spans batches."""
    from pyspark.sql import functions as F

    part = F.pmod(F.xxhash64(F.col(ID)), F.lit(k))
    return [df.filter(part == i) for i in range(k)]


def start(spec: Spec, path: str, conf: dict):
    """Set-up as a user pays it: JVM launch and session start (the process
    must not have a JVM yet), then loading the input (and cutting it into
    micro-batches, for a stream)."""
    from lshdedup.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=16, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(path).persist()
    df.count()
    batches = []
    if spec.batches:
        batches = [b.persist() for b in split_batches(df, spec.batches)]
        for b in batches:
            b.count()
    return spark, df, batches, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait until the JVM and
    its Python workers have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    procs = descendants()
    gw.shutdown()
    # the gateway JVM exits when its stdin closes
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(procs)


def _storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _dir_size(path: Path) -> tuple[float, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files) / 2**20, len(files)


# ------------------------------------------------------------- one call


@dataclass
class Outcome:
    wall_s: float
    cpu_s: float
    pairs: set | None = None
    clusters: dict | None = None      # batch calls
    call_s: float = 0.0               # batch calls: until dedup_pipeline returns
    cached_mb: float = 0.0
    batch_s: list = field(default_factory=list)   # stream calls
    batch_cpu_s: float = 0.0
    dup_rows: int = 0
    state_mb: float = 0.0
    state_files: int = 0


def call_pipeline(spark, df, spec: Spec, work: Path, tag: str, want_pairs: bool) -> Outcome:
    """One dedup_pipeline call, timed from the call until the cluster
    assignment is collected into Python.  Job groups ``<tag>.call`` and
    ``<tag>.result`` split its Spark jobs in the event log."""
    from lshdedup.pipeline import dedup_pipeline

    sc = spark.sparkContext
    cfg = spec.cfg
    ckpt = work / f"ckpt-{tag}-{time.monotonic_ns()}"
    if spec.checkpointed:
        cfg = replace(cfg, checkpoint_dir=str(ckpt), run_id=tag)
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    sc.setJobGroup(f"{tag}.call", tag)
    res = dedup_pipeline(spark, df, cfg)
    t_call = time.perf_counter()
    sc.setJobGroup(f"{tag}.result", tag)
    rows = res.clusters.select(ID, "cluster_id").collect()
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    sc.setLocalProperty("spark.jobGroup.id", None)
    out = Outcome(wall, cpu, clusters={r[0]: r[1] for r in rows},
                  call_s=t_call - t0, cached_mb=_storage_mb(sc))
    if want_pairs:
        out.pairs = {(r[0], r[1]) for r in res.dup_pairs.select("id_a", "id_b").collect()}
    res.unpersist()
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def call_stream(spark, batches: list, spec: Spec, work: Path, tag: str,
                tracer: Tracer | None = None) -> Outcome:
    """The micro-batches through StreamingDedup.process_batch in order,
    against fresh state, timed until the emitted pairs are collected.
    With a tracer, each batch is a span ``streaming.process_batch.<i>``."""
    from contextlib import nullcontext

    from lshdedup.streaming import StreamingDedup

    state = work / f"state-{tag}-{time.monotonic_ns()}"
    sd = StreamingDedup(spark, spec.cfg, str(state), compact_every=STREAM_COMPACT_EVERY)
    sc = spark.sparkContext
    walls, cpus = [], []
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    for i, b in enumerate(batches):
        name = f"streaming.process_batch.{i}"
        with tracer.span(name) if tracer else nullcontext():
            if not tracer:
                sc.setJobGroup(f"{tag}.{name}", tag)
            c0, b0 = tree_cpu_s(), time.perf_counter()
            sd.process_batch(b, i)
            walls.append(time.perf_counter() - b0)
            cpus.append(tree_cpu_s() - c0)
    rows = sd.dup_pairs().select("id_a", "id_b").collect()
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    if not tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)
    pairs = {tuple(sorted((r[0], r[1]))) for r in rows}
    mb, files = _dir_size(state)
    shutil.rmtree(state, ignore_errors=True)
    return Outcome(wall, cpu, pairs=pairs, batch_s=walls, batch_cpu_s=sum(cpus),
                   dup_rows=len(rows) - len(pairs), state_mb=mb, state_files=files)


def verdict(prep: Prepared, spec: Spec, o: Outcome) -> tuple[float, float, list[str]]:
    """pair_recall, pair_precision and the oracle check's failures.  A
    batch call's recall counts co-clustered oracle pairs; a stream's counts
    emitted ones."""
    if o.clusters is not None:
        recall = oracle.pair_recall(prep.oracle, o.clusters)
    else:
        recall = oracle.emitted_recall(prep.oracle, o.pairs)
    precision = oracle.pair_precision(o.pairs, prep.oracle)
    problems = []
    if recall < prep.floors["pair_recall"]:
        problems.append(f"pair_recall {recall:.4f} < {prep.floors['pair_recall']}")
    if precision < prep.floors["pair_precision"]:
        problems.append(f"pair_precision {precision:.4f} < {prep.floors['pair_precision']}")
    if o.dup_rows:
        problems.append(f"{o.dup_rows} duplicate pair rows")
    if spec.exact_clusters and len(set(o.clusters.values())) != prep.n_components:
        problems.append(
            f"{len(set(o.clusters.values()))} clusters, oracle has {prep.n_components}"
        )
    return recall, precision, problems


# ------------------------------------------------------------ end to end


def run_e2e(spec: Spec, prep: Prepared, seconds: float, cache: Path) -> dict:
    work = cache / "work" / str(os.getpid())
    spark, df, batches, setup_s = start(spec, prep.path, session_conf(cache))

    def call(frame, parts, tag: str) -> Outcome:
        if spec.batches:
            return call_stream(spark, parts, spec, work, tag)
        return call_pipeline(spark, frame, spec, work, tag, want_pairs=True)

    # memory the engine holds: Spark storage of its cached frames plus its
    # Python UDF workers.  Sampled over the warm-up and the first min_calls
    # timed calls, a fixed amount of work whatever the engine's speed.
    sc = spark.sparkContext
    mem = PeakSampler(lambda: _storage_mb(sc) + workers_pss_mb()).start()
    warm = df.limit(WARM_ROWS).persist()
    warm_s = call(warm, split_batches(warm, spec.batches), "warm").wall_s
    warm.unpersist()

    calls, failed, problems = [], 0, []
    recall = precision = None
    t_end = time.perf_counter() + seconds
    while len(calls) < spec.min_calls or time.perf_counter() < t_end:
        if len(calls) == spec.min_calls:
            mem.stop()
        try:
            o = call(df, batches, f"c{len(calls)}")
        except Exception as exc:  # a raising call is a failed attempt
            failed += 1
            problems.append(repr(exc))
            calls.append(None)
            continue
        calls.append(o)
        r, p, bad = verdict(prep, spec, o)
        if recall is None:
            recall, precision = r, p
        elif (r, p) != (recall, precision):
            bad.append(f"recall/precision {r}/{p} differ from the first call's")
        if bad:
            failed += 1
            problems += bad
    mem.stop()
    stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    ok = [o for o in calls if o is not None]
    if not ok:
        raise RuntimeError(f"every call failed: {problems}")
    wall = statistics.median(o.wall_s for o in ok)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "images_per_s": (prep.n_rows / wall, "img/s"),
        "cpu_s": (statistics.median(o.cpu_s for o in ok), "s"),
        "peak_mem_mb": (mem.peak, "MB"),
        "pair_recall": (recall, "ratio"),
        "pair_precision": (precision, "ratio"),
    }
    if spec.batches:
        metrics["batch_s"] = (statistics.median(t for o in ok for t in o.batch_s), "s")
        metrics["duplicate_pair_rows"] = (max(o.dup_rows for o in ok), "count")
    result = _result(metrics, len(calls), failed, problems)
    result["warm_s"] = warm_s
    result["calls_s"] = [o.wall_s for o in ok]
    return result


def _result(metrics: dict, attempted: int, failed: int, problems: list[str]) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "problems": problems,
    }


# ---------------------------------------------------------------- traced


def traced_pipeline(spark, df, spec: Spec, tracer: Tracer, work: Path) -> dict:
    """dedup_pipeline's layers, one span each, in the pipeline's order and
    with its stage boundaries: persist() in memory, StageRunner parquet
    stages when checkpointed.  Returns the frames later counts read."""
    from pyspark.sql import functions as F

    from lshdedup.checkpoint import StageRunner
    from lshdedup.cluster import assign_clusters
    from lshdedup.lsh import candidate_pairs, exact_dup_groups, explode_bands
    from lshdedup.minhash import add_signatures
    from lshdedup.params import optimal_params
    from lshdedup.verify import verify_pairs

    cfg = spec.cfg.resolved(optimal_params)
    runner = None
    if spec.checkpointed:
        cfg = replace(cfg, checkpoint_dir=str(work / "ckpt-traced"), run_id="traced")
        runner = StageRunner(spark, cfg)
    narrow = df.select(ID, TEXT, PHASH)
    keys = [TEXT, PHASH]
    persisted: list = []
    f: dict = {"persisted": persisted, "runner": runner}

    def hand_on(name: str, frame):
        """Materialize ``frame`` inside the caller's span and hand it on as
        the pipeline does: cached, or through a StageRunner parquet stage
        that then only writes the cached rows and reads them back, so
        checkpoint.stage_s times the stage boundary alone."""
        frame = frame.persist()
        persisted.append(frame)
        n = frame.count()
        if runner:
            frame = runner.stage(name, lambda: frame)
        return frame, n

    with tracer.span("lsh.exact_dup_groups") as sp:
        if runner:
            reps, n_reps = hand_on("reps", exact_dup_groups(narrow, ID, keys)[0])
            edges, n_edges = hand_on("exact_edges", exact_dup_groups(narrow, ID, keys)[1])
        else:
            reps, edges = exact_dup_groups(narrow, ID, keys, persisted=persisted)
            n_reps, n_edges = reps.count(), edges.count()
        sp.counts = {"reps": n_reps, "edges": n_edges}

    with tracer.span("minhash.add_signatures"):
        signed, _ = hand_on("signatures", add_signatures(reps, cfg, text_col=TEXT, phash_col=PHASH))

    with tracer.span("lsh.candidate_pairs") as sp:
        f["buckets"] = buckets = explode_bands(signed, ID, "sig", cfg)
        cands, f["skew"] = candidate_pairs(buckets, ID, cfg, persisted=persisted, eager=not runner)
        cands, n = hand_on("candidates", cands)
        sp.counts = {"candidates": n}

    with tracer.span("verify.verify_pairs") as sp:
        verified = verify_pairs(cands, signed, cfg, id_col=ID, text_col=TEXT, phash_col=PHASH)
        if runner:
            # the checkpointed pipeline stages the whole verified frame
            verified, _ = hand_on("verified", verified)
            dup = verified.filter(F.col("is_dup"))
            n = dup.count()
        else:
            # what dedup_pipeline hands on is the is_dup filter, whose plan
            # differs from verified's (the filter is pushed into the join)
            dup, n = hand_on("dup_pairs", verified.filter(F.col("is_dup")))
        f["verified"] = verified
        sp.counts = {"dup_pairs": n}

    with tracer.span("cluster.assign_clusters"):
        f["edges"] = edges_in = dup.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).union(edges.select("src", "dst"))
        clusters = assign_clusters(narrow, edges_in, id_col=ID)
        if runner:
            clusters, _ = hand_on("clusters", clusters)
        f["clusters"] = {r[0]: r[1] for r in clusters.select(ID, "cluster_id").collect()}
    f["dup"] = dup
    f["pairs"] = {(r[0], r[1]) for r in dup.select("id_a", "id_b").collect()}
    return f


def hashing_ms(captions: list[str], reps: int = 3) -> dict:
    """Kernel microbenches on the workload's own captions, in ms per
    2048-row batch (scaled linearly from a smaller input)."""
    import numpy as np

    from lshdedup.hashing import (
        generate_permutations, minhash_segments, oph_densify, oph_raw,
        ragged_valid_indices, series_grams,
    )

    texts = pd.Series(captions[:2048])
    scale = 2048 / len(texts)
    k, n_perm, seed = BENCH_CFG.k, BENCH_CFG.n_perm, BENCH_CFG.seed
    a, b = generate_permutations(n_perm, seed)
    flat, bounds, _, _ = series_grams(texts, k)
    idx, lens = ragged_valid_indices(bounds)
    grams = flat[idx]
    raw = oph_raw(grams, lens, n_perm, seed)

    def ms(fn) -> float:
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return float(np.median(ts)) * 1000 * scale

    return {
        "hashing.series_grams.ms": ms(lambda: series_grams(texts, k)),
        "hashing.oph_raw.ms": ms(lambda: oph_raw(grams, lens, n_perm, seed)),
        "hashing.oph_densify.ms": ms(lambda: oph_densify(raw, n_perm, seed)),
        "hashing.minhash_segments.ms": ms(lambda: minhash_segments(flat, bounds, a, b)),
    }


def run_traced(spec: Spec, prep: Prepared, cache: Path, run_id: str) -> dict:
    """Every layer on every workload: a stream workload streams its own
    micro-batches, a batch workload streams its input as two; a batch
    workload without checkpoint_dir stages its dup pairs through
    StageRunner once, so checkpoint.* is measured everywhere.  A fixed set
    of passes, so --seconds does not apply."""
    from pyspark.sql import functions as F

    from lshdedup.checkpoint import StageRunner

    work = cache / "work" / str(os.getpid())
    log_dir = work / "eventlog"
    spark, df, batches, _ = start(spec, prep.path, session_conf(cache, log_dir))
    sc = spark.sparkContext
    problems = []
    tracer = Tracer(sc, run_id)

    # streaming first: it also warms the session for the pipeline calls
    if spec.batches:
        ref_stream = call_stream(spark, batches, spec, work, "stream-ref")
        _, _, bad = verdict(prep, spec, ref_stream)
        problems += bad
    else:
        batches = split_batches(df, 2)
    with tracer.span("streaming"):
        stream = call_stream(spark, batches, spec, work, "stream-traced", tracer)
    if spec.batches and stream.pairs != ref_stream.pairs:
        problems.append("traced stream pairs differ from the untraced stream's")

    ref = call_pipeline(spark, df, spec, work, "pipeline", True)
    if not spec.batches:
        _, _, bad = verdict(prep, spec, ref)
        problems += bad

    with tracer.span("traced"):
        f = traced_pipeline(spark, df, spec, tracer, work)
    if f["clusters"] != ref.clusters or f["pairs"] != ref.pairs:
        problems.append("traced output differs from the untraced output")
    # untraced calls on both sides of the traced pass, so the session's
    # warm-up drift cancels out of the overhead
    ref_after = call_pipeline(spark, df, spec, work, "pipeline-after", False)
    if ref_after.clusters != ref.clusters:
        problems.append("untraced calls disagree")

    runner = f["runner"]
    if runner is None:
        cfg = replace(spec.cfg, checkpoint_dir=str(work / "ckpt-stage"), run_id="stage")
        runner = StageRunner(spark, cfg)
        with tracer.span("checkpoint.stage"):
            runner.stage("dup_pairs", lambda: f["dup"])

    # counts that need their own jobs, outside every span
    sc.setJobGroup("counts", "counts")
    sizes = f["buckets"].groupBy("band_id", "band_hash").count()
    b = sizes.agg(
        F.sum(F.when(F.col("count") >= 2, F.col("count"))).alias("rows"),
        F.max("count").alias("max"),
    ).first()
    skipped = f["skew"].count()
    prefilter = f["verified"].count()
    edges_in = f["edges"].count()
    for d in f["persisted"]:
        d.unpersist()
    stage_s = sum(e.get("wall_sec", 0.0) for e in runner.events)
    ck_mb, ck_files = _dir_size(Path(runner.root))
    stop(spark)
    stats = event_log_stats(str(log_dir))
    tracer.write(str(cache / f"trace-{run_id}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    def layer(name: str) -> dict:
        sp = tracer.get(name)
        return {f"{name}.s": sp.s, f"{name}.cpu_s": sp.cpu_s}

    sizes_by_cluster = pd.Series(list(f["clusters"].values())).value_counts()
    cands = tracer.get("lsh.candidate_pairs").counts["candidates"]
    dups = tracer.get("verify.verify_pairs").counts["dup_pairs"]
    sig = tracer.get("minhash.add_signatures")
    m = {
        "pipeline.call_s": ref.call_s,
        "pipeline.jobs": stats["pipeline.call"].jobs,
        "pipeline.cached_mb": ref.cached_mb,
        **layer("lsh.exact_dup_groups"),
        "lsh.exact_dup_groups.reps": tracer.get("lsh.exact_dup_groups").counts["reps"],
        "lsh.exact_dup_groups.edges": tracer.get("lsh.exact_dup_groups").counts["edges"],
        **layer("minhash.add_signatures"),
        "minhash.add_signatures.task_util":
            stats["minhash.add_signatures"].task_run_s / (sig.s * CORES),
        **layer("lsh.candidate_pairs"),
        "lsh.candidate_pairs.bucket_rows": int(b["rows"] or 0),
        "lsh.candidate_pairs.candidates": cands,
        "lsh.candidate_pairs.skipped_buckets": skipped,
        "lsh.candidate_pairs.max_bucket": int(b["max"] or 0),
        "lsh.candidate_pairs.shuffle_mb": stats["lsh.candidate_pairs"].shuffle_mb,
        "lsh.candidate_pairs.task_skew": stats["lsh.candidate_pairs"].task_skew,
        **layer("verify.verify_pairs"),
        "verify.verify_pairs.prefilter_pass": prefilter / cands if cands else 0.0,
        "verify.verify_pairs.dup_pairs": dups,
        "verify.verify_pairs.yield": dups / cands if cands else 0.0,
        "verify.verify_pairs.shuffle_mb": stats["verify.verify_pairs"].shuffle_mb,
        **layer("cluster.assign_clusters"),
        "cluster.assign_clusters.jobs": stats["cluster.assign_clusters"].jobs,
        "cluster.assign_clusters.edges_in": edges_in,
        "cluster.assign_clusters.clusters": int(sizes_by_cluster.size),
        "cluster.assign_clusters.max_cluster": int(sizes_by_cluster.max()),
        "checkpoint.stage_s": stage_s,
        "checkpoint.mb_written": ck_mb,
        "checkpoint.files_written": ck_files,
        "streaming.process_batch.s_first": stream.batch_s[0],
        "streaming.process_batch.s_last": stream.batch_s[-1],
        "streaming.process_batch.cpu_s": stream.batch_cpu_s,
        "streaming.process_batch.jobs": sum(
            g.jobs for n, g in stats.items() if n.startswith("streaming.process_batch.")
        ),
        "streaming.process_batch.state_mb": stream.state_mb,
        "streaming.process_batch.state_files": stream.state_files,
        **hashing_ms(prep.captions()),
        "trace.overhead_s": tracer.get("traced").s - (ref.wall_s + ref_after.wall_s) / 2,
        "trace.coverage": tracer.coverage("traced"),
    }
    metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}
    attempted = 5 if spec.batches else 4
    return _result(metrics, attempted, 1 if problems else 0, problems)


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf in ("s", "cpu_s", "call_s", "stage_s", "overhead_s", "s_first", "s_last"):
        return "s"
    if leaf == "ms":
        return "ms"
    if "mb" in leaf.split("_"):
        return "MB"
    if leaf in ("task_util", "task_skew", "prefilter_pass", "yield", "coverage"):
        return "ratio"
    return "count"


PER_LAYER = [
    "pipeline.call_s", "pipeline.jobs", "pipeline.cached_mb",
    "lsh.exact_dup_groups.s", "lsh.exact_dup_groups.cpu_s",
    "lsh.exact_dup_groups.reps", "lsh.exact_dup_groups.edges",
    "minhash.add_signatures.s", "minhash.add_signatures.cpu_s",
    "minhash.add_signatures.task_util",
    "lsh.candidate_pairs.s", "lsh.candidate_pairs.cpu_s",
    "lsh.candidate_pairs.bucket_rows", "lsh.candidate_pairs.candidates",
    "lsh.candidate_pairs.skipped_buckets", "lsh.candidate_pairs.max_bucket",
    "lsh.candidate_pairs.shuffle_mb", "lsh.candidate_pairs.task_skew",
    "verify.verify_pairs.s", "verify.verify_pairs.cpu_s",
    "verify.verify_pairs.prefilter_pass", "verify.verify_pairs.dup_pairs",
    "verify.verify_pairs.yield", "verify.verify_pairs.shuffle_mb",
    "cluster.assign_clusters.s", "cluster.assign_clusters.cpu_s",
    "cluster.assign_clusters.jobs", "cluster.assign_clusters.edges_in",
    "cluster.assign_clusters.clusters", "cluster.assign_clusters.max_cluster",
    "checkpoint.stage_s", "checkpoint.mb_written", "checkpoint.files_written",
    "streaming.process_batch.s_first", "streaming.process_batch.s_last",
    "streaming.process_batch.cpu_s", "streaming.process_batch.jobs",
    "streaming.process_batch.state_mb", "streaming.process_batch.state_files",
    "hashing.series_grams.ms", "hashing.oph_raw.ms", "hashing.oph_densify.ms",
    "hashing.minhash_segments.ms",
    "trace.overhead_s", "trace.coverage",
]
PER_LAYER_UNITS = {n: _unit(n) for n in PER_LAYER}
