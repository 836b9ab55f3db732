"""Benchmark for the lshdedup engine.

    python3 perfbench/run.py --workload mixed_dups --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, a table
    python3 -m pytest perfbench -q                   # self-tests, no Spark

Run from the root of a checkout.  Inputs are generated from ``--seed`` into
``.perfbench/`` (outside every timed region) and the engine runs on
``local[4]`` from this process.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced pass.  The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Each run also appends its figures, per-call times, steal seconds and load
average to ``.perfbench/runs.jsonl``; steal and load are kept for reading
beside the figures, never compared.  ``baseline.json`` holds the oracle
floors, the per-layer to end-to-end map and the seed commit's values.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench"
HERE = Path(__file__).resolve().parent


def _source_sha() -> str:
    """Identity of the measured code: a checkout need not be a git tree."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "lshdedup").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run_all(names: list[str], seed: int, seconds: float) -> int:
    """Every workload, end to end and traced, each in its own process;
    prints every metric by name and unit with a verdict per run."""
    bad = 0
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{name} trace={trace}: FAILED (exit {proc.returncode})")
                bad += 1
                continue
            res = json.loads(lines[-1])
            verdict = "correct" if res["correct"] else "INCORRECT"
            print(f"{name} trace={trace}: {verdict}, failure_rate "
                  f"{res['failed']}/{res['attempted']}")
            for k, m in res["metrics"].items():
                print(f"    {k:40s} {m['value']:>14.6g} {m['unit']}")
            bad += not res["correct"]
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "lshdedup" / "__init__.py").is_file():
        print(f"no lshdedup package under {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    # everything the run writes stays inside the checkout
    CACHE.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    (CACHE / "tmp").mkdir(exist_ok=True)
    # spark.local.dir yields to this variable when it is set
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))

    from perfbench import procstat, workloads

    if args.workload == "all":
        return run_all(list(workloads.SPECS), args.seed, args.seconds)
    spec = workloads.SPECS.get(args.workload)
    if spec is None:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.SPECS)} or all")
    with open(HERE / "baseline.json") as fh:
        floors = json.load(fh)["floors"][spec.name]
    # a recorded seed must do at least as well as the seed commit did on it
    floors = floors.get("by_seed", {}).get(str(args.seed), floors)
    prep = workloads.prepare(spec, args.seed, CACHE, floors)

    run_id = f"{spec.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    meta = {"run_id": run_id, "commit": _source_sha(), "time": time.time(),
            "loadavg_start": procstat.loadavg()}
    steal0 = procstat.steal_s()
    if args.trace:
        result = workloads.run_traced(spec, prep, CACHE, run_id)
    else:
        result = workloads.run_e2e(spec, prep, args.seconds, CACHE)
    meta.update(steal_s=procstat.steal_s() - steal0, loadavg_end=procstat.loadavg(),
                run_s=time.time() - meta["time"])
    # stored for reading alongside the figures, never compared: steal and
    # load describe the host, not the program
    with open(CACHE / "runs.jsonl", "a") as fh:
        fh.write(json.dumps({**meta, **result}) + "\n")
    for p in result["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
