"""tools/perf.py's sweep and plan modes, run in-process on the session
fixture for two cheap keys, so the per-key perf tool keeps working as
the registry changes."""

from __future__ import annotations

from tools import perf

KEYS = ["filter_predicate", "agg_global"]
SWEEP_FIELDS = {"key", "sf_dir", "t_build", "t_first", "t_noop", "t_total_cold"}
PLAN_FIELDS = {
    "key", "exchanges", "reused", "scans", "sorts", "windows", "generates",
    "py_batch", "py_arrow", "py_map", "udtf", "cartesian", "bnlj",
    "single_part", "smj", "shj", "bhj", "global_window", "unpart_window",
}


def test_sweep_emits_timing_fields(spark, sf_small):
    rows = list(perf.sweep(spark, sf_small, KEYS, n=1))
    assert [r["key"] for r in rows] == KEYS
    for r in rows:
        assert set(r) == SWEEP_FIELDS, r
        assert r["sf_dir"] == sf_small
        assert r["t_total_cold"] == round(r["t_build"] + r["t_first"], 4)
    # a broken key is reported, not raised
    (bad,) = perf.sweep(spark, sf_small, ["no_such_key"], n=1)
    assert set(bad) == {"key", "sf_dir", "error"}


def test_plan_emits_counts_and_dumps(spark, sf_small, tmp_path):
    rows = list(perf.plan(spark, sf_small, KEYS, dump=str(tmp_path)))
    assert [r["key"] for r in rows] == KEYS
    for r in rows:
        assert set(r) == PLAN_FIELDS, r
        assert r["scans"] >= 1
        text = (tmp_path / f"{r['key']}.txt").read_text()
        assert r["exchanges"] == text.count("Exchange (")
