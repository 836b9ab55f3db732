"""Small shared execution helpers: the in-memory stage boundary and the
conditional fan-out of under-parallel scans."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# logical nodes a "plain scan" may contain; anything else (joins, windows,
# aggregates, cached/checkpointed relations, generators, python evals)
# disqualifies the cheap partition probe below
_NARROW_NODE = re.compile(
    r"^\s*\+?-?\s*'?(Project|Filter|Relation|SubqueryAlias|GlobalLimit|"
    r"LocalLimit|Sample)\b"
)


def _is_plain_scan(df: DataFrame) -> bool:
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    return bool(lines) and all(_NARROW_NODE.match(ln) for ln in lines)


_CACHED_REPARTITION = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def persist_stage(df: DataFrame) -> DataFrame:
    """Persist ``df`` as an in-memory stage boundary whose partitions AQE
    sizes, like any uncached plan's.

    Why: Spark (4.x default ``canChangeCachedPlanOutputPartitioning=false``)
    registers a cached plan with AQE's final-stage coalescing switched off,
    so a persisted shuffle output keeps all ``spark.sql.shuffle.partitions``
    and every stage built on it runs that many tasks.  Each Python task
    pays a fixed cost before its UDF sees a row: on ``local[4]`` a trivial
    pandas UDF over 2,000 rows took 1.50–1.52 s warm over 16 partitions
    and 0.40–0.50 s over 4.  Timed inside the worker, 0.2–0.25 s of each
    task is pyspark calling ``importlib.invalidate_caches()`` per task
    (``worker_util.setup_spark_files``), after which Python 3.11's zip
    importers re-read the directories of the spark-core jar and
    ``pyspark.zip``.  So count Python tasks, not rows, when a small stage
    is slow.

    The setting is read once, when ``persist()`` registers the plan with
    the CacheManager, so it is switched on for that call only and the
    session's own value (or its absence) is restored afterwards — also
    when ``persist()`` raises.  Plans and results are unchanged; only the
    physical partition counts of the cached stages follow the data.
    """
    conf = df.sparkSession.conf
    prev = conf.get(_CACHED_REPARTITION, None)
    conf.set(_CACHED_REPARTITION, "true")
    try:
        return df.persist()
    finally:
        if prev is None:
            conf.unset(_CACHED_REPARTITION)
        else:
            conf.set(_CACHED_REPARTITION, prev)


def fan_out(df: DataFrame, factor: int = 4) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when it is a
    plain file scan with far fewer partitions than the session has cores.

    Why: a small parquet file — or a big one written as a single row
    group — scans as ONE partition, so every downstream narrow operator
    (pandas-UDF signatures, shingle-array expressions, higher-order-
    function cosine math) runs single-threaded no matter how many cores
    the session has.  A conditional round-robin repartition spreads that
    work across the executor cores for the price of one tiny shuffle.

    Why conditional: an input that already has a reasonable number of
    partitions (>= parallelism/factor) is left alone — at scale the scan
    is naturally parallel and an unconditional repartition would shuffle
    the whole table for nothing.  The threshold derives from
    ``defaultParallelism`` (i.e. from the session master / core count),
    never a hard-coded core count.

    Safety: the partition probe (``df.rdd``) would EXECUTE upstream query
    stages on a multi-stage adaptive plan, so it only runs when the
    analyzed plan is scan+project+filter shaped — on such plans it merely
    compiles, launching no job.  Anything wider is returned unchanged.
    """
    if not _is_plain_scan(df):
        return df
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        # JVM-internal RDD: compiles the physical plan (cheap for a plain
        # scan) WITHOUT building the Python-facing RDD wrapper, whose
        # javaToPython conversion costs ~1 s cold (measured) vs ~0.1 s here
        nparts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df
    if nparts * factor <= par:
        return df.repartition(par)
    return df
