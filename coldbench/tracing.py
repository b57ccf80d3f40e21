"""Layer probes for the traced run, all from outside the program.

- Catalyst: ``QueryExecution.tracker().phases()`` and the executed plan.
- Staging probes: counting wrappers around the public functions of
  ``sparkflow.sources.staging`` (callers reach them as module
  attributes, so wrapping the attributes sees every call).
- Execution: the uncompressed Spark event log the benchmark's launch
  configuration enables, with each query's jobs tagged by the job
  description the benchmark sets.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time

STAGING_FUNCS = ("corpus_digest", "shared_path", "is_published", "scratch_path",
                 "publish", "unpublish", "stage_parquet", "staging_vacuum")
_PYTHON_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
                          r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|"
                          r"AggregateInPandas|WindowInPandas|PythonMapInArrow|"
                          r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF)")


def event_log_conf(log_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that turn on an uncompressed event log."""
    return (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell")


class StagingProbe:
    """Counts top-level calls into the staging module and their time."""

    def __init__(self):
        self.calls, self.seconds, self._depth = 0, 0.0, 0

    def install(self) -> None:
        from sparkflow.sources import staging

        for name in STAGING_FUNCS:
            setattr(staging, name, self._wrap(getattr(staging, name)))

    def _wrap(self, fn):
        @functools.wraps(fn)
        def probe(*args, **kwargs):
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.calls += 1
                    self.seconds += time.perf_counter() - t0
        return probe


def catalyst_phases(df) -> dict[str, float]:
    """analysis/optimization/planning ms of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    out = {}
    for k in ("analysis", "optimization", "planning"):
        summary = phases.get(k)
        if summary.isDefined():
            out[f"{k}_ms"] = float(summary.get().durationMs())
    return out


def plan_counts(df) -> dict[str, int]:
    """Exchange, scan and Python-node counts of the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    return {
        "exchanges": sum(1 for ln in lines if re.search(r"\b\w*Exchange\b", ln)),
        "scans": sum(1 for ln in lines if re.search(r"\b(File)?Scan\b", ln)),
        "python_nodes": sum(1 for ln in lines if _PYTHON_NODE.search(ln)),
    }


_ACC_PY_SENT = "data sent to Python workers"
_ACC_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description: job/stage/task counts, summed task metrics
    and each job's [submission, completion] in epoch ms."""
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not p.endswith(".inprogress.tmp"))
    stage_desc: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    stage_first_launch: dict[tuple[int, int], float] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}

    def rec(desc):
        return out.setdefault(desc, {
            "jobs": 0, "stages": 0, "tasks": 0, "stage_wait_ms": 0.0, "run_ms": 0.0,
            "cpu_ms": 0.0, "gc_ms": 0.0, "input_bytes": 0, "input_records": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "python_bytes_sent": 0,
            "python_bytes_received": 0, "job_spans": []})

    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    job_desc[ev["Job ID"]] = desc
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                    r = rec(desc)
                    r["jobs"] += 1
                    job_start[ev["Job ID"]] = ev.get("Submission Time")
                elif kind == "SparkListenerJobEnd":
                    r = rec(job_desc.get(ev["Job ID"], ""))
                    r["job_spans"].append([job_start.get(ev["Job ID"]), ev.get("Completion Time")])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    if info.get("Submission Time") is not None:
                        stage_submit[key] = info["Submission Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    r = rec(stage_desc.get(info["Stage ID"], ""))
                    r["stages"] += 1
                    if key in stage_submit and key in stage_first_launch:
                        r["stage_wait_ms"] += max(0.0, stage_first_launch[key] - stage_submit[key])
                elif kind == "SparkListenerTaskStart":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    t = ev["Task Info"]["Launch Time"]
                    stage_first_launch[key] = min(t, stage_first_launch.get(key, t))
                elif kind == "SparkListenerTaskEnd":
                    r = rec(stage_desc.get(ev["Stage ID"], ""))
                    r["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    r["run_ms"] += m.get("Executor Run Time", 0)
                    r["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    r["gc_ms"] += m.get("JVM GC Time", 0)
                    im = m.get("Input Metrics") or {}
                    r["input_bytes"] += im.get("Bytes Read", 0)
                    r["input_records"] += im.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == _ACC_PY_SENT and upd is not None:
                            r["python_bytes_sent"] += int(upd)
                        elif name == _ACC_PY_RECV and upd is not None:
                            r["python_bytes_received"] += int(upd)
    return out
