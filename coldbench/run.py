"""Cold-posture benchmark of sparkflow: one workload, one run.

    python3 coldbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's corpus from the
seed (kept under .bench_work/ for the next run with the same seed),
computes DuckDB's expected results, then starts the workload in its own
process (coldbench/workload.py) with SPARK_GRAFT_CPUS = nproc and the
repository root on PYTHONPATH, so the Python workers can import
sparkflow. It samples that process tree's memory from /proc while it
runs, stops every process of it, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 an
uncompressed event log is enabled, the per-layer metrics are printed
and one JSONL row per query per pass (or per micro-batch) is written to
.bench_work/trace/.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
SHARED_ROOT = "/tmp/sparkflow_io/shared"  # sparkflow.sources.staging.SHARED_ROOT
RUN_DEADLINE_S = 170  # a run, corpus and oracles included, ends within this
WORKLOADS = {"headline_sf0.1": "base", "headline_sf1": "x10", "stream_cep": "backlog"}


def _shared_root_listing() -> list[tuple[str, int]]:
    """Every path under the staged-artifact root with its mtime."""
    out = []
    for root, dirs, files in os.walk(SHARED_ROOT):
        for name in dirs + files:
            p = os.path.join(root, name)
            try:
                out.append((p, os.stat(p).st_mtime_ns))
            except OSError:
                pass
    return sorted(out)


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the workload's process group, which holds the JVM and the
    Python workers too, and wait until none of its members is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _child_env(work: str, trace: bool, cpus: int | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus or len(os.sched_getaffinity(0))),
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        from coldbench import tracing

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = tracing.event_log_conf(log_dir)
    return env


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             cpus: int | None = None) -> dict:
    """One run: returns {"correct", "attempted", "failed", "metrics", ...}."""
    import shutil

    import pandas as pd

    from coldbench import checker, corpus, procfs

    t_launch = time.time()
    if checker.selftest(verbose=False) != 0:
        raise SystemExit("the correctness checker accepts a wrong result")
    corpus_dir = corpus.ensure(WORKLOADS[workload], seed, os.path.join(WORK, "corpus"))
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    steal0 = procfs.steal_ticks()
    if workload == "stream_cep":
        want, duck_s = checker.stream_oracle(corpus_dir)
    else:
        want, duck_s = checker.batch_oracles(corpus_dir)
    oracles = os.path.join(work, "oracles.pkl")
    pd.to_pickle(want, oracles)
    staged_before = _shared_root_listing()

    out = os.path.join(work, "summary.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", workload,
           "--corpus", corpus_dir, "--oracles", oracles, "--work", work,
           "--seconds", str(seconds), "--trace", str(int(trace)), "--out", out]
    log_path = os.path.join(work, "workload.log")
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=_child_env(work, trace, cpus), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            with procfs.RssSampler(proc.pid) as rss:
                code = proc.wait(timeout=t_launch + RUN_DEADLINE_S - time.time())
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            _kill_group(proc)
    steal = procfs.steal_share(steal0, procfs.steal_ticks())
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"workload process failed ({code})")
    with open(out) as fh:
        s = json.load(fh)
    staged_changed = _shared_root_listing() != staged_before

    metrics = {
        "setup_s": (s["setup_done"] - t_spawn, "s"),
        "latency_p50_s": (statistics.median(s["units"]), "s"),
        "rows_per_s": (sum(s["unit_rows"]) / s["timed_wall"], "rows/s"),
        # median over timed passes (drains): robust to a JIT or GC burst
        "cpu_s_per_mrow": (statistics.median(
            c / (r / 1e6) for c, r in zip(s["unit_cpu"], s["unit_rows"])), "s/Mrow"),
    }
    layers = dict(s["layers"])
    layers.update({f"cpu.{g}_s": v for g, v in s["timed_cpu"].items()})
    layers.update({f"rss.{g}_mb": rss.peaks[g] / 2**20 for g in procfs.GROUPS})
    layers["rss.peak_mb"] = sum(rss.peaks.values()) / 2**20
    layers.update({"host.steal_share": steal, "control.duckdb_s": duck_s})
    # a wrong result is a failed operation; `correct` speaks of the rest
    failures = list(s["failures"])
    if staged_changed:
        failures.append(f"the run changed {SHARED_ROOT}")
    return {
        "correct": not staged_changed, "attempted": s["attempted"], "failed": s["failed"],
        "metrics": metrics, "layers": layers, "summary": s, "failures": failures,
        "log": log_path, "work": work,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores for a reference run (default: nproc)")
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "sparkflow", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("run from the sparkflow repository root (sparkflow/ and bench.py missing)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated launcher still runs its cleanup and kills the workload
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.trace:
        from coldbench import layers

        res = layers.traced_run(args.workload, args.seed, args.seconds, args.cpus)
        metrics = res["per_layer"]
    else:
        res = run_once(args.workload, args.seed, args.seconds, trace=False, cpus=args.cpus)
        metrics = res["metrics"]
    for why in res["failures"]:
        print(f"FAILED {why}", file=sys.stderr)
    with open(os.path.join(WORK, "last_run.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "layers": res["layers"], "failures": res["failures"]}, fh)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
