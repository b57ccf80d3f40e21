"""sf1 bench rung (round-5 verdict item 2, carried to r7).

At sf0.1 every headline query sits on the ~30 ms dispatch floor, so the
"within 2x of baseline" criterion measures the harness, not the plans.
This tool measures the same 8 headline queries at sf1 — the 10x replica
of sf0.1 (lineitem 6M rows, events 1M, written by coldbench/corpus.py
with consistent per-replica key offsets) — Spark vs DuckDB, SAME
WINDOW, interleaved per iteration so machine-load drift hits both
engines equally (BASELINE.md round-5 load note; only same-window A/B is
meaningful on this box).

Methodology deliberately DIFFERS from bench.py in one respect: the
Spark DataFrame is REBUILT each iteration. Re-collecting a prepared
DataFrame reuses its completed shuffle map outputs (Spark skips stages
whose shuffle files exist — measured here: a prepared sf10 q1
"re-execution" returned in 65 ms while a metadata-only count() of the
same table took 460 ms), so at a scale where the work is real, the
prepared-plan loop times only the final stage + fetch. A fresh build
per iteration gets fresh shuffle ids and therefore a genuine
scan→shuffle→agg execution, matching DuckDB, which re-runs its full
pipeline on every execute. The py4j plan-construction cost this adds is
measured and reported separately (build_ms) so the comparison stays
interpretable. The DuckDB SQL is each query's REGISTERED ORACLE — the
exact statements the correctness harness hash-matches against, so the
two engines provably compute the same result while being timed
(spot-verified EXACT at sf10 for q1/distinct/q5/knn this session).

Usage:
  python3 coldbench/corpus.py x10 <seed> /tmp/sparkflow_scale10x  # once
  python tools/bench_sf1.py            # run at sf1, print table + JSON line
  python tools/bench_sf1.py DIR LABEL  # another corpus dir, its sf label
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import sparkflow
from bench import BENCH_QUERIES
from sparkflow.session import get_spark

SF1 = "/tmp/sparkflow_scale10x"

# bench query name -> registered oracle key (events_tumbling_batch in
# bench.py is the batch twin of stream_tumbling — identical shape)
_ORACLE_KEY = {
    "q1_pricing_summary": "agg_hash_group",
    "q3_join3_topk": "limit_topk",
    "q5_join5_agg": "join_multiway_star",
    "window_rank_orders": "win_topk_per_group",
    "distinct_users": "agg_distinct",
    "events_tumbling_1h": "stream_tumbling",
    "json_extract_agg": "fn_json",
    "embeddings_knn": "llm_knn_cosine",
}
_RUNS = 5


def main() -> None:
    global SF1
    sf_label = 1.0
    if len(sys.argv) > 1:
        SF1 = sys.argv[1]
    if len(sys.argv) > 2:
        sf_label = float(sys.argv[2])
    if not os.path.isdir(SF1):
        raise SystemExit(
            f"{SF1} missing — run: python3 coldbench/corpus.py x10 <seed> {SF1}"
        )

    # Scale-appropriate session tuning, each lever measured at sf10
    # (config sweep this session, 60M-row lineitem):
    # - 32g heap: 32 concurrent shuffled-hash builds at 8g threw
    #   "Can't acquire 128MB to build hash relation" — the memory-pool
    #   failure mode that motivates Spark's SMJ default; with heap
    #   sized to the box, SHJ is safe and faster here.
    # - preferSortMergeJoin=false: fact⋈fact 60M⋈15M join 3.2 s SMJ →
    #   2.0 s SHJ (no sort phases).
    # - AQE ON (the engine default; bench.py disables it only for the
    #   sub-GB sf0.1 rung where per-stage replanning is pure latency):
    #   q3 4.3 s → 2.1 s via runtime broadcast/coalesce decisions.
    # - autoBroadcastJoinThreshold stays DEFAULT (10m): a 64m threshold
    #   measured WORSE here (q3 2.1 → 2.9-3.9 s) — the driver builds the
    #   multi-MB broadcast hash relation single-threaded, and a fresh
    #   plan per iteration rebuilds it every run; the 32-thread shuffled
    #   hash join beats a serial broadcast build at these sizes.
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark("bench-sf1", shuffle_partitions=32)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in sparkflow.catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF1}/{t}.parquet')"
        )

    from pyspark.sql import functions as F

    rows = []
    for name, fn in BENCH_QUERIES.items():
        sql = sparkflow.ORACLES[_ORACLE_KEY[name]]
        fn(spark, SF1).toPandas()  # warm: JVM JIT, catalog, page cache
        con.execute(sql).fetchdf()  # warm
        t_spark, t_duck, t_build = [], [], []
        for _ in range(_RUNS):  # interleaved: same-window by construction
            t0 = time.perf_counter()
            n_duck = len(con.execute(sql).fetchdf())
            t_duck.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            df = fn(spark, SF1)  # fresh build -> no shuffle-stage reuse
            t1 = time.perf_counter()
            n_spark = len(df.toPandas())
            t_spark.append(time.perf_counter() - t0)
            t_build.append(t1 - t0)
        rows.append(
            (name, statistics.median(t_spark), statistics.median(t_duck),
             n_spark, n_duck, statistics.median(t_build))
        )

    # same-run dispatch floor (bench.py's definition)
    fdf = spark.range(10).select(F.col("id"))
    fdf.toPandas()
    floor_times = []
    for _ in range(_RUNS):
        t0 = time.perf_counter()
        fdf.toPandas()
        floor_times.append(time.perf_counter() - t0)
    floor = statistics.median(floor_times)

    print(f"{'query':22s} {'spark(s)':>9s} {'duck(s)':>9s} {'ratio':>6s} "
          f"{'floor%':>7s} {'build_ms':>9s} rows")
    q_json, d_json, b_json = {}, {}, {}
    for name, ts, td, ns, nd, tb in rows:
        q_json[name] = round(ts, 4)
        d_json[name] = round(td, 4)
        b_json[name] = round(tb * 1000, 1)
        print(f"{name:22s} {ts:9.3f} {td:9.3f} {ts / td:5.2f}x "
              f"{100 * floor / ts:6.1f}% {tb * 1000:9.1f} {ns}/{nd}")
    tot_s = sum(r[1] for r in rows)
    tot_d = sum(r[2] for r in rows)
    print(f"{'suite':22s} {tot_s:9.3f} {tot_d:9.3f} {tot_s / tot_d:5.2f}x   "
          f"floor {floor * 1000:.1f} ms")
    print(json.dumps({
        "metric": "sf1 headline suite, same-window interleaved A/B, median-of-5 warm",
        "value": round(tot_s, 4),
        "unit": "sec",
        "queries": q_json,
        "duckdb": d_json,
        "spark_build_ms": b_json,
        "ratio": round(tot_s / tot_d, 3),
        "dispatch_floor_sec": round(floor, 4),
        "sf": sf_label,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
