"""Steadiness mode: one workload, N runs, each in its own process.

    python3 coldbench/steady.py --workload <name> --runs 10 [--seed0 1]
        [--seconds 12] [--traced] [--cpus N]

Runs ``coldbench/run.py`` N times from the repository root with seeds
seed0 .. seed0+N-1 and prints, for each end-to-end metric, the median,
the quartiles (``statistics.quantiles(n=4)``) and their distance as a
share of the median, plus each run's host steal share. With --traced
one traced run follows, and its tracing overhead is printed: its pass
(or micro-batch) median against the untraced runs' median. The whole
report is also written to .bench_work/steady/<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.getcwd(), ".bench_work")


def one(workload: str, seed: int, seconds: float, trace: int,
        cpus: int | None = None) -> tuple[dict, dict]:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
        + (["--cpus", str(cpus)] if cpus else []),
        capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(WORK, "last_run.json")) as fh:
        side = json.load(fh)
    side["run_s"] = time.time() - t0
    return res, side


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        res, side = one(args.workload, seed, args.seconds, 0, args.cpus)
        row = {"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
               "failed": res["failed"], "run_s": side["run_s"],
               "steal_share": side["layers"]["host.steal_share"],
               "duckdb_s": side["layers"]["control.duckdb_s"],
               **{k: side["layers"][k] for k in ("rss.python_mb", "rss.jvm_mb", "rss.workers_mb",
                                                 "cpu.python_s", "cpu.jvm_s", "cpu.workers_s")},
               **{k: v["value"] for k, v in res["metrics"].items()}}
        runs.append(row)
        print(json.dumps(row), flush=True)
    names = [k for k in runs[0] if not k.startswith(("rss.", "cpu.")) and k not in (
        "seed", "correct", "attempted", "failed", "run_s", "steal_share", "duckdb_s")]
    report = {"workload": args.workload, "seconds": args.seconds, "cpus": args.cpus,
              "runs": runs,
              "metrics": {k: spread([r[k] for r in runs]) for k in names}}
    for k, s in report["metrics"].items():
        print(f"{k:16s} median {s['median']:.5g}  q1 {s['q1']:.5g}  q3 {s['q3']:.5g}  "
              f"iqr/median {s['iqr_share']:.3f}")
    print("steal shares:", " ".join(f"{r['steal_share']:.3f}" for r in runs))
    print("duckdb control s:", " ".join(f"{r['duckdb_s']:.3f}" for r in runs))
    if args.traced:
        res, _side = one(args.workload, args.seed0, args.seconds, 1, args.cpus)
        traced = res["metrics"]["trace.latency_p50_s"]["value"]
        untraced = report["metrics"]["latency_p50_s"]["median"]
        report["trace_overhead_share"] = traced / untraced - 1
        report["traced_latency_p50_s"] = traced
        print(f"tracing overhead: traced p50 {traced:.4g} s vs untraced median "
              f"{untraced:.4g} s = {report['trace_overhead_share']:+.1%}")
    os.makedirs(os.path.join(WORK, "steady"), exist_ok=True)
    tag = f"{args.workload}-cpus{args.cpus}" if args.cpus else args.workload
    with open(os.path.join(WORK, "steady", f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
