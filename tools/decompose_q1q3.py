"""Floor-vs-work decomposition + posture A/B for the last two >2×-at-sf10
bench rows (r9 verdict item 1): `q1_pricing_summary` (agg_hash_group,
2.8× DuckDB at sf10) and `q3_join3_topk` (limit_topk, 4.4×).

Same discipline as tools/decompose_agg.py (which closed distinct/
tumbling in r9): fresh plan per iteration, medians of N, same-session
trivial floor, per-stage executor time + shuffle bytes from the local
UI REST API, DuckDB interleaved SAME-WINDOW so load drift hits both
engines. Two additions specific to these rows:

- q1: scan-only control over exactly the pruned columns (the map-side
  partial aggregate's input), so "work vs plumbing" falls out as
  (stage0 − scan) vs (stage1 + dispatch).
- q3: a bucket-family WARM variant — the orderkey bucket family of
  join_multiway_star_bucketed (32 buckets on l_orderkey/o_orderkey),
  with the join re-ordered fact-first (lineitem⋈orders co-located,
  ZERO exchange on the 60M-row side; the customer filter joins the
  already-aggregated-width orders edge after). Staging cost timed
  separately.

Usage: python tools/decompose_q1q3.py [sf_dir]  # default /tmp/sparkflow_sf10
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import pyspark.sql.functions as F  # noqa: E402

import sparkflow  # noqa: E402
from sparkflow.catalog import table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sparkflow_sf10"
RUNS = 5


def median_wall(fn, n=RUNS):
    walls = []
    for _ in range(n):
        t0 = time.time()
        fn()
        walls.append(time.time() - t0)
    return statistics.median(walls)


def stage_breakdown(spark, mk_df):
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app = sc.applicationId
    before = {
        s["stageId"]
        for s in json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages"))
    }
    mk_df().toPandas()
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete"))
    new = sorted(
        (s for s in stages if s["stageId"] not in before),
        key=lambda s: s["stageId"],
    )
    return [
        {
            "stage": s["stageId"],
            "tasks": s["numCompleteTasks"],
            "executor_run_ms": s["executorRunTime"],
            "shuffle_write_mb": round(s["shuffleWriteBytes"] / 1e6, 2),
            "shuffle_read_mb": round(s["shuffleReadBytes"] / 1e6, 2),
            "input_mb": round(s["inputBytes"] / 1e6, 2),
        }
        for s in new
    ]


def q3_cold(spark, sf_dir):
    """The explicit shuffle shape (limit_topk's cold-session fallback),
    kept runnable after the family is staged so the warm A/B has a
    same-session control."""
    from sparkflow.oracle_compat import rev_sum

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(rev_sum("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def stage_family(spark, sf_dir):
    """Stage the 32-bucket orderkey family (the same one the flagship
    reads through); after this the REGISTERED limit_topk takes its warm
    path, which is exactly what the warm rows below measure."""
    from sparkflow.operators.joins import _bucketed_table

    _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey", 32)
    _bucketed_table(spark, sf_dir, "orders", "o_orderkey", 32)


def main():
    from pyspark.sql import SparkSession

    # own builder (UI on for the REST readout); every other knob matches
    # the bench_sf1 session: local[32], AQE, 32 shuffle partitions, SHJ
    # preference, 32g heap (see bench_sf1.py's measured rationale)
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("decompose-q1q3")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", "true")
        .config("spark.driver.memory", "32g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in sparkflow.catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    out = {"sf_dir": SF, "load_1m": os.getloadavg()[0]}
    for _ in range(3):
        spark.range(10).toPandas()
    out["floor_ms"] = round(
        median_wall(lambda: spark.range(10).toPandas()) * 1000, 1)

    q1 = sparkflow.QUERIES["agg_hash_group"]
    q3 = sparkflow.QUERIES["limit_topk"]
    sql1 = sparkflow.ORACLES["agg_hash_group"]
    sql3 = sparkflow.ORACLES["limit_topk"]

    # ---- q1 ----
    row = {}
    q1(spark, SF).toPandas()  # warm
    con.execute(sql1).fetchdf()
    walls_s, walls_d = [], []
    for _ in range(RUNS):  # interleaved
        t0 = time.time(); con.execute(sql1).fetchdf(); walls_d.append(time.time() - t0)
        t0 = time.time(); q1(spark, SF).toPandas(); walls_s.append(time.time() - t0)
    row["wall_ms_p32"] = round(statistics.median(walls_s) * 1000, 1)
    row["duck_ms"] = round(statistics.median(walls_d) * 1000, 1)
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate"]
    row["scan_only_ms"] = round(median_wall(
        lambda: table(spark, SF, "lineitem").select(*cols)
        .write.format("noop").mode("overwrite").save()) * 1000, 1)
    row["stages_p32"] = stage_breakdown(spark, lambda: q1(spark, SF))
    out["q1_pricing_summary"] = row

    # ---- q3 ----
    row = {}
    q3(spark, SF).toPandas()  # warm
    con.execute(sql3).fetchdf()
    walls_s, walls_d = [], []
    for _ in range(RUNS):
        t0 = time.time(); con.execute(sql3).fetchdf(); walls_d.append(time.time() - t0)
        t0 = time.time(); q3(spark, SF).toPandas(); walls_s.append(time.time() - t0)
    row["wall_ms_cold_shape"] = round(statistics.median(walls_s) * 1000, 1)
    row["duck_ms"] = round(statistics.median(walls_d) * 1000, 1)
    row["stages_cold"] = stage_breakdown(spark, lambda: q3(spark, SF))
    # bucket-family staging (timed once; shared with the flagship)
    t0 = time.time()
    stage_family(spark, SF)
    row["staging_ms"] = round((time.time() - t0) * 1000, 1)
    q3(spark, SF).toPandas()  # warm path now; first run primes it
    # warm A/B, THREE-way interleaved (same window): duck / explicit
    # cold shape / the registered key's warm read-through
    walls_w, walls_c, walls_d2 = [], [], []
    for _ in range(RUNS):
        t0 = time.time(); con.execute(sql3).fetchdf(); walls_d2.append(time.time() - t0)
        t0 = time.time(); q3_cold(spark, SF).toPandas(); walls_c.append(time.time() - t0)
        t0 = time.time(); q3(spark, SF).toPandas(); walls_w.append(time.time() - t0)
    row["duck_ms_warm_window"] = round(statistics.median(walls_d2) * 1000, 1)
    row["wall_ms_cold_shape_recheck"] = round(statistics.median(walls_c) * 1000, 1)
    row["wall_ms_bucketed_warm"] = round(statistics.median(walls_w) * 1000, 1)
    row["stages_bucketed"] = stage_breakdown(spark, lambda: q3(spark, SF))
    # result identity: the warm read-through returns the cold shape's rows
    a = sorted(map(tuple, q3_cold(spark, SF).collect()))
    b = sorted(map(tuple, q3(spark, SF).collect()))
    row["bucketed_matches"] = a == b
    out["q3_join3_topk"] = row

    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
