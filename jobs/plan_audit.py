"""Physical-plan audit — regenerates PLANS.md.

Captures `explain("formatted")` for the pipeline's headline stages over a
parquet source and checks the plan properties the 100 TB design relies on:
column pruning reaching the scan (no `bytes`), whole-stage codegen around
the band explode and verify expressions, no shingle `transform(` in a join
condition of the optimized dup_pairs plan, a hash-partitioned exchange
feeding the connected-components contraction (never a broadcast or
cartesian join in CC), and AQE being active.

Run:  python jobs/plan_audit.py [out_md]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def captured_explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(out_path: str = "PLANS.md") -> int:
    from pyspark.sql import functions as F

    from lshdedup.config import DedupConfig
    from lshdedup.lsh import candidate_pairs, explode_bands
    from lshdedup.minhash import add_signatures
    from lshdedup.pipeline import dedup_pipeline
    from lshdedup.session import get_spark
    from lshdedup.synth import SynthConfig, synth_corpus

    spark = get_spark(app_name="plan-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    path = "/tmp/lshdedup_plan_audit.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_corpus(spark, SynthConfig(n_rows=400)).write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)
    cfg = DedupConfig(threshold=0.7, b=32, r=4, sig_scheme="oph")

    sections: list[tuple[str, str, str]] = []

    res = dedup_pipeline(spark, src, cfg)
    plan_pairs = captured_explain(res.dup_pairs)
    optimized_pairs = res.dup_pairs._jdf.queryExecution().optimizedPlan().toString()
    sections.append((
        "End-to-end dup_pairs (scan → signatures → banding → self-join → verify)",
        plan_pairs,
        "The parquet scan's ReadSchema must NOT contain `bytes`/`w`/`h`/`fmt` "
        "(column pruning reaches the scan); the bucket self-join is a shuffle "
        "join keyed on (band_id, band_hash); verify similarity math is native "
        "expressions inside WholeStageCodegen.",
    ))

    signed = add_signatures(src.select("image_id", "caption", "phash"), cfg)
    buckets = explode_bands(signed, "image_id", "sig", cfg)
    sections.append((
        "Band explode (signature → bucket rows)",
        captured_explain(buckets),
        "Narrow: one ArrowEvalPython (the fused signature UDF) then "
        "generate/explode inside codegen — zero shuffles before the join.",
    ))

    from lshdedup.cluster import connected_components, local_roots

    # checkpointed edges keep the upstream verify joins out of the CC plans
    edges = res.dup_pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).limit(100).localCheckpoint()
    plan_contract = captured_explain(local_roots(edges))
    sections.append((
        "Connected components: partition-local union-find contraction",
        plan_contract,
        "One pass over the edges: canonical (least, greatest) pairs, one "
        "hashpartitioning Exchange on the smaller endpoint feeding the "
        "MapInArrow union-find kernel — no join of any kind.",
    ))
    plan_cc = captured_explain(connected_components(edges, max_iter=1))
    sections.append((
        "Connected components: labels",
        plan_cc,
        "The per-vertex min-root aggregate over the checkpointed contraction "
        "(plus, when a component spans partitions, the star-round labels "
        "join) — never BroadcastHashJoin, BroadcastNestedLoopJoin or "
        "CartesianProduct: the labels scale with the vertex count.",
    ))

    # ---- round-2 operators: events + IVF ----
    events_path = "/root/testdata/sf0.001/events.parquet"
    plan_rollup = plan_sessions = plan_ivf = plan_ivfs = plan_ivfsp = ""
    if os.path.exists(events_path):
        from lshdedup.events import hourly_rollup, sessionize

        ev = spark.read.parquet(events_path)
        plan_rollup = captured_explain(hourly_rollup(ev))
        sections.append((
            "Events hourly rollup (tumbling window agg)",
            plan_rollup,
            "Partial (map-side) + final HashAggregate around one Exchange on "
            "(window, event_type); the scan's ReadSchema must NOT read "
            "`props` or `user_id` (column pruning).",
        ))
        plan_sessions = captured_explain(sessionize(ev))
        sections.append((
            "Events sessionization (gaps-and-islands)",
            plan_sessions,
            "All Exchanges hash-partition on user_id (the lag window, the "
            "running sum, and both aggregations share the partitioning); no "
            "single-partition global sort.",
        ))
    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    if os.path.exists(emb_path):
        from lshdedup.ann import ivf_topk

        e = spark.read.parquet(emb_path).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        q = e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
        )
        c = e.filter(F.col("vec_id") >= 5).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
        )
        plan_ivf = captured_explain(ivf_topk(q, c, k=5, dim=64, n_cells=8, n_probe=2))
        sections.append((
            "IVF ANN top-k (cell equi-join + re-rank)",
            plan_ivf,
            "Candidate generation is an equi-join on the coarse cell id — "
            "never a cartesian/broadcast-nested-loop product.",
        ))
        plan_ivfsp = captured_explain(
            ivf_topk(q, c, k=5, dim=64, n_cells=8, n_probe=2, corpus_spill=2)
        )
        sections.append((
            "IVF ANN top-k with cell spilling (corpus_spill=2)",
            plan_ivfsp,
            "Same cell equi-join, plus exactly one (qid, cid) dedup "
            "aggregate over the 3-column candidate projection (a pair is "
            "joinable through up to `spill` shared cells) before the rank "
            "window — the only plan cost spilling adds.",
        ))
        from lshdedup.ann import ivf_topk_seeded

        # the centroid pick runs eagerly inside ivf_topk_seeded (n_cells
        # rows materialized driver-side), so audit its plan separately
        plan_pick = captured_explain(
            c.select(
                F.md5(F.col("cid").cast("string")).alias("_ckey"), "cvec"
            )
            .orderBy("_ckey")
            .limit(8)
        )
        sections.append((
            "Seeded-IVF centroid pick (eager, driver-side)",
            plan_pick,
            "Must be TakeOrderedAndProject — per-partition top-k + driver "
            "merge, no global sort Exchange.",
        ))
        plan_ivfs = captured_explain(
            ivf_topk_seeded(q, c, k=5, n_cells=8, n_probe=2)
        )
        sections.append((
            "Seeded-IVF ANN top-k (oracle-checkable variant)",
            plan_ivfs,
            "Exactly two bounded broadcast products (the n_cells-row "
            "centroid attaches); the candidate join is a hash equi-join "
            "on the cell id — never a CartesianProduct and never a third "
            "nested-loop join.",
        ))

    # ---- relational breadth (TPC-H-shaped driver queries) ----
    plan_q1 = plan_q5 = ""
    if os.path.exists("/root/testdata/sf0.001/lineitem.parquet"):
        import __spark_entry__ as entry_mod

        sfd = "/root/testdata/sf0.001"
        plan_q1 = captured_explain(entry_mod.q_tpch_pricing_summary(spark, sfd))
        sections.append((
            "TPC-H Q1-shaped pricing summary",
            plan_q1,
            "The date predicate must appear in PushedFilters at the parquet "
            "scan and ReadSchema must exclude unused columns.",
        ))
        plan_q5 = captured_explain(entry_mod.q_tpch_revenue_by_region(spark, sfd))
        sections.append((
            "TPC-H Q5-shaped multi-way join",
            plan_q5,
            "Every dimension join is a BroadcastHashJoin; the fact scan "
            "reads only (l_orderkey, l_extendedprice, l_discount).",
        ))

    # ---- checks ----
    problems = []
    import re

    for schema in re.findall(r"ReadSchema: (struct<[^>]*>)", plan_pairs):
        cols = {f.split(":")[0] for f in schema[7:-1].split(",") if f}
        for col in ("bytes", "fmt", "w", "h"):
            if col in cols:
                problems.append(f"unpruned column {col!r} in scan: {schema}")
    # verify's shingle deferral holds only while is_dup stays above the
    # verified boundary: a filter pushed into the enrich join inlines the
    # shingle transform into the join condition, once per candidate
    if [ln for ln in optimized_pairs.splitlines() if "Join" in ln and "transform(" in ln]:
        problems.append("a dup_pairs join condition holds the shingle transform(")
    for plan in (plan_contract, plan_cc):
        for bad in ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
            if bad in plan:
                problems.append(f"connected-components plan contains {bad}")
    # the kernel's child in the tree rendering must be the Exchange, and
    # that Exchange must hash-partition on the smaller endpoint
    feed = re.search(r"MapInArrow \(\d+\)\n\s*\+- Exchange \((\d+)\)", plan_contract)
    if not feed or not re.search(
        rf"\({feed.group(1)}\) Exchange\nInput \[\d+\]: \[[^\]]*\]\nArguments: hashpartitioning\(u#",
        plan_contract,
    ):
        problems.append(
            "CC contraction kernel is not fed by a hashpartitioning exchange "
            "on the smaller endpoint"
        )
    if plan_rollup:
        for schema in re.findall(r"ReadSchema: (struct<[^>]*>)", plan_rollup):
            for col in ("props", "user_id"):
                if col in schema:
                    problems.append(f"rollup scan reads {col!r}: {schema}")
    if plan_sessions and "SinglePartition" in plan_sessions:
        problems.append("sessionize plan has a single-partition exchange")
    if plan_ivf:
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in plan_ivf:
                problems.append(f"IVF candidate join degenerated to {bad}")
    if plan_ivfsp:
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if bad in plan_ivfsp:
                problems.append(f"spilled-IVF candidate join degenerated to {bad}")
        # formatted explain puts the Exchange header and its
        # "Arguments: hashpartitioning(...)" detail on separate lines
        if not re.search(r"hashpartitioning\(qid#\d+L?, cid#", plan_ivfsp):
            problems.append(
                "spilled-IVF plan is missing the (qid, cid) dedup exchange "
                "(duplicate pairs would inflate row_number ranks)"
            )
    if plan_ivfs:
        if "TakeOrderedAndProject" not in plan_pick:
            problems.append("seeded-IVF centroid pick is not TakeOrderedAndProject")
        if "CartesianProduct" in plan_ivfs:
            problems.append("seeded-IVF plan contains a CartesianProduct")
        # the two centroid attaches are the ONLY nested-loop joins allowed;
        # a third means the candidate equi-join degenerated to a full scan
        # count operator detail headers "(N) BroadcastNestedLoopJoin" —
        # each join also appears once in the tree rendering
        n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan_ivfs))
        if n_bnlj > 2:
            problems.append(
                f"seeded-IVF plan has {n_bnlj} nested-loop joins "
                "(candidate join degenerated?)"
            )
    if plan_q1 and "l_shipdate" not in "".join(
        re.findall(r"PushedFilters: \[([^\]]*)\]", plan_q1)
    ):
        problems.append("Q1 date filter not pushed to the parquet scan")
    if plan_q5:
        if "BroadcastHashJoin" not in plan_q5:
            problems.append("Q5 dimension joins are not broadcast")
        for schema in re.findall(r"ReadSchema: (struct<l_[^>]*>)", plan_q5):
            if "l_quantity" in schema or "l_shipdate" in schema:
                problems.append(f"Q5 fact scan reads unused columns: {schema}")

    lines = [
        "# PLANS — physical-plan audit of the headline stages",
        "",
        f"Regenerate with `python jobs/plan_audit.py`.  Checks: "
        f"{'ALL PASS' if not problems else 'PROBLEMS: ' + '; '.join(problems)}",
        "",
    ]
    for title, plan, why in sections:
        lines += [f"## {title}", "", why, "", "```", plan.rstrip(), "```", ""]
    text = "\n".join(lines)
    # plan text embeds the exact-dup key's \x00/\x01 separator literals
    text = text.replace("\x00", "\\x00").replace("\x01", "\\x01")
    with open(out_path, "w") as fh:
        fh.write(text)
    print(f"wrote {out_path}; problems: {problems or 'none'}")
    spark.stop()
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"))
