"""Small shared execution helpers."""

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
