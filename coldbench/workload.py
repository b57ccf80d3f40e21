"""One benchmark workload in its own process (started by run.py).

Batch workloads time passes over the 8 headline queries of
``bench.BENCH_QUERIES``: every pass builds each plan fresh through its
registered function and fetches it with Arrow ``toPandas``. The stream
workload drains the event backlog through the optional-step CEP
pattern's ``compile_stream`` into a memory sink, one file per trigger.

Set-up is import, ``get_spark()`` with its defaults, the catalog loads
and the first pass (or drain). Then WARMUP more passes or drains run
untimed, then passes or drains repeat until their summed wall time
reaches --seconds. Every result is checked; a mismatch counts
as a failed operation. The process writes one JSON summary to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd

from coldbench import checker, procfs, tracing

# untimed passes or drains after the set-up one, fixed per workload: the
# JIT keeps cutting a headline pass's CPU until about the 7th pass, and the
# 2nd drain still runs slower than the later ones. A timed phase on that
# slope would let the number of timed passes move the medians.
WARMUP = {"headline_sf0.1": 5, "headline_sf1": 2, "stream_cep": 1}
BATCH_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
                "events", "embeddings")
# tables each headline query reads: its input rows are theirs summed
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_join3_topk": ("customer", "orders", "lineitem"),
    "q5_join5_agg": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "window_rank_orders": ("orders", "customer"),
    "distinct_users": ("events",),
    "events_tumbling_1h": ("events",),
    "json_extract_agg": ("events",),
    "embeddings_knn": ("embeddings",),
}


class Run:
    def __init__(self, args):
        self.args = args
        self.trace = args.trace
        self.pid = os.getpid()
        self.layers: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.units: list[float] = []      # latency samples (s)
        self.timed_wall = 0.0             # summed wall of timed units (s)
        self.unit_rows: list[int] = []    # input rows of each timed pass or drain
        self.timed_cpu = dict.fromkeys(procfs.GROUPS, 0.0)
        self.unit_cpu: list[float] = []   # CPU seconds of each timed pass or drain
        self.trace_rows: list[dict] = []
        self.staging = tracing.StagingProbe() if self.trace else None

    def record(self, op: str, why: str | None) -> None:
        self.attempted += 1
        if why is not None:
            self.failed += 1
            self.failures.append(f"{op}: {why}")

    def timed(self, fn):
        """Run fn() as one timed unit; returns its result."""
        c0 = procfs.cpu_seconds(self.pid)
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        c1 = procfs.cpu_seconds(self.pid)
        for g in procfs.GROUPS:
            self.timed_cpu[g] += c1[g] - c0[g]
        self.unit_cpu.append(sum(c1.values()) - sum(c0.values()))
        self.timed_wall += wall
        return out, wall


# ---------------------------------------------------------------- batch

def batch(run: Run, spark, corpus: str) -> None:
    import bench
    from sparkflow import catalog

    with open(os.path.join(corpus, "_corpus.json")) as fh:
        rows = json.load(fh)["rows"]
    pass_rows = sum(rows[t] for q in QUERY_TABLES for t in QUERY_TABLES[q])
    oracles = pd.read_pickle(run.args.oracles)
    sc = spark.sparkContext
    n_pass = 0

    def one_pass(timed=False):
        nonlocal n_pass
        n_pass += 1
        results, trace = {}, []
        for name, fn in bench.BENCH_QUERIES.items():
            if run.trace:
                sc.setJobDescription(f"{name}|{n_pass}")
                s_calls, s_sec = run.staging.calls, run.staging.seconds
            t0 = time.time()
            df = fn(spark, corpus)
            t1 = time.time()
            results[name] = df.toPandas()
            t2 = time.time()
            if run.trace:
                row = {"pass": n_pass, "query": name, "timed": timed, "t_start": t0 * 1e3,
                       "t_built": t1 * 1e3, "t_end": t2 * 1e3,
                       "wall_ms": (t2 - t0) * 1e3, "build_ms": (t1 - t0) * 1e3,
                       "result_rows": len(results[name]),
                       "staging_probe_calls": run.staging.calls - s_calls,
                       "staging_probe_ms": (run.staging.seconds - s_sec) * 1e3}
                row.update(tracing.catalyst_phases(df))
                row.update({f"plan_{k}": v for k, v in tracing.plan_counts(df).items()})
                trace.append(row)
        if run.trace:
            sc.setJobDescription(None)
        return results, trace

    def check(results):
        for name, got in results.items():
            why = None
            try:
                why = checker.mismatch(got, oracles[name])
            except Exception as e:  # a checker crash is a failed operation, never silent
                why = f"checker error {e!r}"
            run.record(f"pass{n_pass}:{name}", why)

    # set-up: catalog loads, cold-posture assertion, the first pass
    t = time.time()
    for tname in BATCH_TABLES:
        catalog.table(spark, corpus, tname)
    run.layers["setup.catalog_s"] = time.time() - t
    postures = getattr(bench, "staged_postures", lambda _d: {})(corpus)
    warm = {q: p for q, p in postures.items() if p != "cold"}
    if warm:
        raise SystemExit(f"staged posture on a fresh corpus: {warm}")
    t = time.time()
    first, trace = one_pass()
    run.layers["setup.first_pass_s"] = time.time() - t
    run.trace_rows.extend(trace)
    run.setup_done = time.time()
    check(first)
    for _ in range(WARMUP[run.args.workload]):
        res, _trace = one_pass()
        check(res)

    if run.trace:
        run.layers["floor_ms.pre"] = bench.measure_floor(spark) * 1e3
    while run.timed_wall < run.args.seconds:
        (res, trace), wall = run.timed(lambda: one_pass(timed=True))
        run.units.append(wall)
        run.unit_rows.append(pass_rows)
        run.trace_rows.extend(trace)
        check(res)
    if run.trace:
        run.layers["floor_ms.post"] = bench.measure_floor(spark) * 1e3


# ---------------------------------------------------------------- stream

def cep_pattern():
    from sparkflow.streaming.cep import CepPattern

    return (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )


def stream(run: Run, spark, corpus: str) -> None:
    from sparkflow import catalog

    backlog = os.path.join(corpus, "backlog")
    with open(os.path.join(corpus, "_corpus.json")) as fh:
        meta = json.load(fh)
    backlog_rows, users = meta["rows"]["events"], meta["users"]
    want = pd.read_pickle(run.args.oracles)
    ckpt_root = os.path.join(run.args.work, "checkpoints")
    n_drain = 0

    t = time.time()
    catalog.table(spark, corpus, "events")
    run.layers["setup.catalog_s"] = time.time() - t

    def drain():
        nonlocal n_drain
        n_drain += 1
        t0 = time.perf_counter()
        sdf = cep_pattern().compile_stream(spark, backlog, corpus)
        compile_ms = (time.perf_counter() - t0) * 1e3
        name = f"cep_drain_{n_drain}"
        q = (sdf.writeStream.format("memory").queryName(name).outputMode("append")
             .option("checkpointLocation", os.path.join(ckpt_root, name))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
        sink = spark.table(name).toPandas()
        spark.catalog.dropTempView(name)
        return compile_ms, progress, sink

    def check(progress, sink):
        try:
            why = checker.stream_mismatch(sink, want, progress, backlog_rows, users)
        except Exception as e:  # a checker crash is a failed operation, never silent
            why = f"checker error {e!r}"
        run.record(f"drain{n_drain}", why)

    def trace_batches(progress, timed):
        for p in progress:
            if p["numInputRows"] == 0:
                continue
            row = {"drain": n_drain, "batch": p["batchId"], "timed": timed,
                   "input_rows": p["numInputRows"],
                   **{f"duration_{k}_ms": v for k, v in p["durationMs"].items()}}
            for st in p.get("stateOperators", []):
                row.update(state_update_ms=st.get("allUpdatesTimeMs"),
                           state_commit_ms=st.get("commitTimeMs"),
                           state_rows=st.get("numRowsTotal"),
                           state_bytes=st.get("memoryUsedBytes"),
                           rows_updated=st.get("numRowsUpdated"))
            run.trace_rows.append(row)

    t = time.time()
    compile_ms, progress, sink = drain()
    run.layers["setup.first_pass_s"] = time.time() - t
    run.layers["stream.compile_ms"] = compile_ms
    run.setup_done = time.time()
    trace_batches(progress, False)
    check(progress, sink)
    for _ in range(WARMUP[run.args.workload]):
        check(*drain()[1:])

    while run.timed_wall < run.args.seconds:
        (compile_ms, progress, sink), _wall = run.timed(drain)
        run.units.extend(p["durationMs"]["triggerExecution"] / 1e3
                         for p in progress if p["numInputRows"] > 0)
        run.unit_rows.append(sum(p["numInputRows"] for p in progress))
        trace_batches(progress, True)
        check(progress, sink)


# ---------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--oracles", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)

    t = time.time()
    import sparkflow  # noqa: F401
    from sparkflow.session import get_spark
    run.layers["setup.import_s"] = time.time() - t
    if run.trace:
        run.staging.install()
    t = time.time()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    run.layers["setup.session_s"] = time.time() - t
    try:
        (stream if args.workload == "stream_cep" else batch)(run, spark, args.corpus)
    finally:
        spark.stop()
    summary = {
        "setup_done": run.setup_done, "attempted": run.attempted, "failed": run.failed,
        "failures": run.failures[:20], "units": run.units, "timed_wall": run.timed_wall,
        "unit_rows": run.unit_rows, "timed_cpu": run.timed_cpu, "unit_cpu": run.unit_cpu,
        "layers": run.layers, "trace_rows": run.trace_rows,
    }
    with open(args.out, "w") as fh:
        json.dump(summary, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
