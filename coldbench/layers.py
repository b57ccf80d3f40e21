"""Traced run: split a workload's wall time into layers.

One run with the event log on, each query's jobs tagged with a job
description, Catalyst tracker phases read after each fetch and the
staging module's public functions wrapped. Per query and pass (batch)
or per micro-batch (stream) one JSONL row goes to
.bench_work/trace/<workload>-seed<seed>.jsonl; the per-layer metrics
below are medians over the timed passes or micro-batches.

For a batch query, wall = build + Catalyst optimization and planning +
execution (first job submitted after the build to last job end) +
fetch (last job end to toPandas return) + residual; analysis runs
inside the build. `trace.residual_share` is the largest |residual| /
wall over the timed queries.
"""

from __future__ import annotations

import json
import os
import re
import statistics

from coldbench import checker, run as runner, tracing

QUERIES = tuple(checker.ORACLE_KEY)
EXEC = ("jobs", "stages", "tasks", "stage_wait_ms", "run_ms", "cpu_ms", "gc_ms",
        "input_bytes", "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes")
_EXEC_UNIT = {"jobs": "count", "stages": "count", "tasks": "count", "input_records": "count"}
STREAM_PHASES = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
                 "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch"}
STREAM_STATE = ("state_update_ms", "state_commit_ms", "state_rows", "state_bytes",
                "rows_updated", "python_bytes_sent", "python_bytes_received")

# every per-layer metric, with its unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    **{f"setup.{k}": "s" for k in ("import_s", "session_s", "catalog_s", "first_pass_s")},
    **{f"build_ms.{q}": "ms" for q in QUERIES},
    "staging.probe_calls": "count", "staging.probe_ms": "ms",
    **{f"catalyst.{k}_ms": "ms" for k in ("analysis", "optimization", "planning")},
    **{f"plan.{k}": "count" for k in ("exchanges", "scans", "python_nodes")},
    **{f"exec.{k}": _EXEC_UNIT.get(k, "ms" if k.endswith("_ms") else "bytes") for k in EXEC},
    "floor_ms.pre": "ms", "floor_ms.post": "ms",
    **{f"fetch_ms.{q}": "ms" for q in QUERIES},
    **{f"result_rows.{q}": "count" for q in QUERIES},
    "stream.compile_ms": "ms",
    **{f"stream.{k}": "ms" for k in STREAM_PHASES},
    **{f"stream.{k}": ("ms" if k.endswith("_ms") else "bytes" if "bytes" in k else "count")
       for k in STREAM_STATE},
    **{f"cpu.{g}_s": "s" for g in ("python", "jvm", "workers")},
    **{f"rss.{g}_mb": "MB" for g in ("python", "jvm", "workers", "peak")},
    "host.steal_share": "ratio", "control.duckdb_s": "s",
    "trace.latency_p50_s": "s", "trace.residual_share": "ratio",
}


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _batch_layers(all_rows: list[dict], log: dict) -> dict:
    """Join query rows with their jobs; per-pass sums, then medians over
    the timed passes."""
    out, by_pass = {}, {}
    for r in all_rows:
        ex = log.get(f"{r['query']}|{r['pass']}", {})
        r.update({k: ex.get(k, 0) for k in EXEC})
        spans = [s for s in ex.get("job_spans", []) if s[0] is not None and s[0] >= r["t_built"]]
        exec_ms = (max(s[1] for s in spans) - min(s[0] for s in spans)) if spans else 0.0
        r["exec_span_ms"] = exec_ms
        r["fetch_ms"] = r["t_end"] - max(s[1] for s in spans) if spans else 0.0
        parts = (r["build_ms"] + r.get("optimization_ms", 0) + r.get("planning_ms", 0)
                 + exec_ms + r["fetch_ms"])
        r["residual_ms"] = r["wall_ms"] - parts
    rows = [r for r in all_rows if r["timed"]]
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)
    for q in QUERIES:
        qr = [r for r in rows if r["query"] == q]
        out[f"build_ms.{q}"] = _median(r["build_ms"] for r in qr)
        out[f"fetch_ms.{q}"] = _median(r["fetch_ms"] for r in qr)
        out[f"result_rows.{q}"] = _median(r["result_rows"] for r in qr)

    def per_pass(key):
        return _median(sum(r.get(key, 0) for r in rs) for rs in by_pass.values())

    out["staging.probe_calls"] = per_pass("staging_probe_calls")
    out["staging.probe_ms"] = per_pass("staging_probe_ms")
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = per_pass(f"{k}_ms")
    for k in ("exchanges", "scans", "python_nodes"):
        out[f"plan.{k}"] = per_pass(f"plan_{k}")
    for k in EXEC:
        out[f"exec.{k}"] = per_pass(k)
    out["trace.residual_share"] = max((abs(r["residual_ms"]) / r["wall_ms"] for r in rows),
                                      default=0.0)
    return out


_BATCH_RE = re.compile(r"batch = (\d+)")


def _stream_layers(all_rows: list[dict], log: dict) -> dict:
    """Progress phases and state per micro-batch, joined with the event
    log's jobs for that batch (Structured Streaming describes each
    batch's jobs with the query name and `batch = <id>`)."""
    per_batch: dict[tuple[int, int], dict] = {}
    for desc, rec in log.items():
        m = _BATCH_RE.search(desc)
        name = re.search(r"cep_drain_(\d+)", desc)
        if m and name:
            key = (int(name.group(1)), int(m.group(1)))
            acc = per_batch.setdefault(key, dict.fromkeys(EXEC + ("python_bytes_sent",
                                                                  "python_bytes_received"), 0))
            for k in acc:
                acc[k] += rec.get(k, 0)
    for r in all_rows:
        r.update(per_batch.get((r["drain"], r["batch"]), {}))
        phases = sum(r.get(f"duration_{v}_ms", 0) for v in STREAM_PHASES.values())
        r["residual_ms"] = r["duration_triggerExecution_ms"] - phases
    rows = [r for r in all_rows if r["timed"]]
    out = {f"stream.{k}": _median(r.get(f"duration_{v}_ms") for r in rows)
           for k, v in STREAM_PHASES.items()}
    for k in STREAM_STATE:
        agg = max if k in ("state_rows", "state_bytes") else _median
        vals = [r.get(k) or 0 for r in rows]
        out[f"stream.{k}"] = float(agg(vals)) if vals else 0.0
    for k in EXEC:
        out[f"exec.{k}"] = _median(r.get(k, 0) for r in rows)
    out["trace.residual_share"] = max(
        (abs(r["residual_ms"]) / r["duration_triggerExecution_ms"] for r in rows), default=0.0)
    return out


def traced_run(workload: str, seed: int, seconds: float, cpus: int | None = None) -> dict:
    res = runner.run_once(workload, seed, seconds, trace=True, cpus=cpus)
    rows = res["summary"]["trace_rows"]
    log = tracing.read_event_log(os.path.join(res["work"], "eventlog"))
    layer = (_stream_layers if workload == "stream_cep" else _batch_layers)(rows, log)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(res["layers"])
    metrics.update(layer)
    metrics["trace.latency_p50_s"] = res["metrics"]["latency_p50_s"][0]
    trace_dir = os.path.join(runner.WORK, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{workload}-seed{seed}.jsonl")
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    res["per_layer"] = {k: (float(metrics[k]), PER_LAYER[k]) for k in PER_LAYER}
    res["trace_path"] = path
    return res
