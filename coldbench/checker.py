"""Correctness checks: every benchmark result against DuckDB.

Batch results are compared with DuckDB's evaluation of the registered
oracle on the same generated files, by ``tools/check.py``'s EXACT rule
(sorted string renderings identical). The stream's memory sink is
compared with the ``stream_cep_optional`` oracle the same way, and its
progress must show that every backlog row was committed and that keyed
state never held more rows than there are users.

Self-test: ``python3 coldbench/checker.py`` feeds the checker a correct
and a perturbed result and exits non-zero unless only the perturbed one
is counted as failed.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# bench.BENCH_QUERIES name -> registered oracle key; the tumbling batch
# twin is checked against its streaming analog's oracle
ORACLE_KEY = {
    "q1_pricing_summary": "agg_hash_group",
    "q3_join3_topk": "limit_topk",
    "q5_join5_agg": "join_multiway_star",
    "window_rank_orders": "win_topk_per_group",
    "distinct_users": "agg_distinct",
    "events_tumbling_1h": "stream_tumbling",
    "json_extract_agg": "fn_json",
    "embeddings_knn": "llm_knn_cosine",
}
STREAM_ORACLE_KEY = "stream_cep_optional"


def _connect(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in sorted(os.listdir(corpus_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(corpus_dir, name)}')")
    return con


def batch_oracles(corpus_dir: str) -> tuple[dict[str, pd.DataFrame], float]:
    """Expected result of every headline query, and DuckDB's seconds."""
    import sparkflow

    con = _connect(corpus_dir)
    t0 = time.perf_counter()
    out = {q: con.execute(sparkflow.ORACLES[k]).fetchdf() for q, k in ORACLE_KEY.items()}
    return out, time.perf_counter() - t0


def stream_oracle(corpus_dir: str) -> tuple[pd.DataFrame, float]:
    """Expected sink of the optional-step CEP stream (times as epoch us,
    the streaming twin's convention), and DuckDB's seconds."""
    import sparkflow

    con = _connect(corpus_dir)
    t0 = time.perf_counter()
    df = con.execute(
        "SELECT user_id, match_id, epoch_us(match_ts) AS match_us, "
        "epoch_us(start_ts) AS start_us, with_click FROM ("
        + sparkflow.ORACLES[STREAM_ORACLE_KEY] + ")"
    ).fetchdf()
    return df, time.perf_counter() - t0


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` equals `want` by the EXACT rule, else why not."""
    from tools.check import compare

    verdict = compare(got, want)
    return None if verdict == "EXACT" else verdict


def stream_mismatch(sink: pd.DataFrame, want: pd.DataFrame, progress: list[dict],
                    backlog_rows: int, users: int) -> str | None:
    """None when the drained stream is right, else why not."""
    committed = sum(p["numInputRows"] for p in progress)
    if committed != backlog_rows:
        return f"committed {committed} input rows, backlog has {backlog_rows}"
    state_rows = max((s["numRowsTotal"] for p in progress
                      for s in p.get("stateOperators", [])), default=0)
    if state_rows > users:
        return f"{state_rows} state rows exceed {users} distinct users"
    return mismatch(sink, want)


def selftest(verbose: bool = True) -> int:
    """Exit status 0 when a correct result passes and every perturbed
    one fails."""
    say = print if verbose else (lambda *a: None)
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0],
                         "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])})
    cases = {
        "value": want.assign(v=[0.5, 1.25, 2.01]),
        "row": want.iloc[:2],
        "column": want.rename(columns={"v": "w"}),
        "time": want.assign(t=pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-04"])),
        "tolerance": want.assign(v=[0.5, 1.25, 2.0 + 1e-12]),
    }
    ok = mismatch(want.iloc[::-1].reset_index(drop=True), want) is None
    say(f"correct (reordered) result accepted: {ok}")
    for name, bad in cases.items():
        why = mismatch(bad, want)
        say(f"perturbed {name}: {'failed: ' + why if why else 'ACCEPTED'}")
        ok &= why is not None
    prog = [{"numInputRows": 10, "stateOperators": [{"numRowsTotal": 3}]}]
    sink = pd.DataFrame({"user_id": [1]})
    lost = stream_mismatch(sink, sink, prog, backlog_rows=11, users=3)
    fat = stream_mismatch(sink, sink, prog, backlog_rows=10, users=2)
    good = stream_mismatch(sink, sink, prog, backlog_rows=10, users=3)
    say(f"stream lost rows: {lost}; state over users: {fat}; good: {good}")
    ok &= lost is not None and fat is not None and good is None
    say("SELFTEST", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(selftest())
