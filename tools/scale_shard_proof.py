"""sf30 linear-sharding proof (r10 verdict item 6).

The three headline rows graded `weak` under the >2x letter — q1
(agg_hash_group), distinct_users (agg_distinct), events_tumbling_1h
(stream_tumbling) — carry per-stage decompositions showing the cost is
map-side partial aggregation on a KB-scale shuffle, i.e. the plans
shard linearly and the residual is engine-floor (columnar-vs-JVM
per-row cost), not a fixable plan defect. This tool tests that claim
at one more rung: measure all three at sf10 AND sf30 (180M-row
lineitem, 30M-row events) in the SAME WINDOW with the interleaved
fresh-plan protocol of tools/bench_sf1.py; "shards linearly" predicts
the Spark/DuckDB ratio stays flat-or-improving as the data triples.

Generation is STREAMING (one replica in memory at a time, appended as
parquet row groups) because 300 replicas of lineitem would need a
~30 GB pandas concat under tools/scale_smoke.py's whole-table writer.
Key columns get the same per-replica entity-stride offsets as
scale_smoke (shared _strides / check_fits), so replica keys never
collide and distinct cardinalities scale with the data like a real
corpus. r12: the rung also carries orders/customer/supplier/part
(replicated on the same strides, so lineitem's salted l_suppkey /
l_partkey keep their join partners) and copies nation/region as-is —
the flagship q5 star now runs at sf30 too, closing the one query the
staged shard proof excluded. Existing rung files are skipped, so
adding tables to a previously generated rung is incremental.

Usage:
  python tools/scale_shard_proof.py gen 100 /tmp/sparkflow_sf10
  python tools/scale_shard_proof.py gen 300 /tmp/sparkflow_sf30
  python tools/scale_shard_proof.py run /tmp/sparkflow_sf10=10 /tmp/sparkflow_sf30=30
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from tools import scale_salt
from tools.scale_smoke import SRC, _KEYED, _strides

TABLES = ("lineitem", "orders", "customer", "supplier", "part", "events")
_COPY_AS_IS = ("nation", "region")
_RUNS = 3


def gen(replicas: int, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    strides = _strides()
    for tbl in _COPY_AS_IS:
        out = f"{dst}/{tbl}.parquet"
        if not os.path.exists(out):
            pq.write_table(pq.read_table(f"{SRC}/{tbl}.parquet"), out)
            print(f"{tbl}: copied")
    for tbl in TABLES:
        if os.path.exists(f"{dst}/{tbl}.parquet"):
            print(f"{tbl}: exists, skipped")
            continue
        src = pq.read_table(f"{SRC}/{tbl}.parquet")
        schema = src.schema
        base = src.to_pandas()
        keycols = _KEYED[tbl]
        for col, ent in keycols.items():
            scale_salt.check_fits(base[col], strides[ent], replicas,
                                  f"{tbl}.{col}")
        out = f"{dst}/{tbl}.parquet"
        t0 = time.time()
        with pq.ParquetWriter(out, schema) as w:
            for i in range(replicas):
                r = base.copy()
                for col, ent in keycols.items():
                    r[col] = r[col] + i * strides[ent]
                # 250k-row groups (scale_smoke's measured scan-
                # parallelism knob), emitted per replica — peak memory
                # is ONE replica regardless of the target scale
                w.write_table(
                    pa.Table.from_pandas(r, schema=schema,
                                         preserve_index=False),
                    row_group_size=250_000,
                )
        print(f"{tbl}: {len(base)} x {replicas} -> "
              f"{os.path.getsize(out) / 1e6:.0f} MB in {time.time()-t0:.0f}s")


def _rung_tables(sf_dir: str) -> list:
    """Table names present in a rung dir (r12: rungs carry the q5 star's
    tables too; older rungs had lineitem+events only)."""
    return sorted(
        f[:-len(".parquet")] for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def run(rungs: list[tuple[str, float]]) -> None:
    import duckdb

    import sparkflow
    from bench import BENCH_QUERIES
    from sparkflow.session import get_spark

    names = {
        "q1_pricing_summary": "agg_hash_group",
        "distinct_users": "agg_distinct",
        "events_tumbling_1h": "stream_tumbling",
        # r14 (r13 verdict item 6): the fourth headline compute shape —
        # per-customer top-3 via WindowGroupLimit pushdown — joins the
        # cold A/B so the sf100 rung carries two-decade evidence for it
        "window_rank_orders": "win_topk_per_group",
    }
    # r14: result-set CHECKSUM mode for queries whose OUTPUT grows with
    # the rung (top-3 per customer = 45M rows at sf100 — bigger than
    # driver.maxResultSize, and the GB-scale pandas transfer would time
    # result shipping, not the plan). Both engines aggregate the same
    # query to (count, sum) so the full window/filter work still runs.
    checksum = {"window_rank_orders": "o_totalprice"}

    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark("shard-proof", shuffle_partitions=32)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.sparkContext.setLogLevel("ERROR")

    out = {"load_1m": os.getloadavg()[0], "rungs": {}}
    for sf_dir, sf in rungs:
        con = duckdb.connect()
        for t in _rung_tables(sf_dir):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        row = {}
        for name, key in names.items():
            fn, sql = BENCH_QUERIES[name], sparkflow.ORACLES[key]
            ck = checksum.get(name)
            if ck is not None:
                base_fn, base_sql = fn, sql

                def fn(spark, sf_dir, _f=base_fn, _c=ck):  # noqa: E306
                    return _f(spark, sf_dir).selectExpr(
                        "count(*) AS n", f"sum({_c}) AS s"
                    )

                sql = (f"SELECT COUNT(*) AS n, SUM({ck}) AS s "
                       f"FROM ({base_sql})")
            fn(spark, sf_dir).toPandas()   # warm: JIT, catalog, page cache
            con.execute(sql).fetchdf()
            t_s, t_d = [], []
            n_s = n_d = 0
            s_s = s_d = None
            for _ in range(_RUNS):  # interleaved: same-window A/B
                t0 = time.perf_counter()
                d = con.execute(sql).fetchdf()
                n_d = int(d["n"][0]) if ck is not None else len(d)
                if ck is not None:
                    s_d = float(d["s"][0])
                t_d.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                s = fn(spark, sf_dir).toPandas()  # fresh plan
                n_s = int(s["n"][0]) if ck is not None else len(s)
                if ck is not None:
                    s_s = float(s["s"][0])
                t_s.append(time.perf_counter() - t0)
            assert n_s == n_d, (name, n_s, n_d)
            if ck is not None:
                # r15 (r14 advice): the checksum is (count, sum) — also
                # compare the SUM, with relative tolerance for float
                # accumulation-order differences between engines
                assert abs(s_s - s_d) <= 1e-9 * max(abs(s_s), abs(s_d), 1.0), \
                    (name, s_s, s_d)
            ms, md = statistics.median(t_s), statistics.median(t_d)
            row[name] = {"spark_s": round(ms, 2), "duck_s": round(md, 2),
                         "ratio": round(ms / md, 2), "rows": n_s}
            print(f"sf{sf:<4g} {name:22s} spark {ms:6.2f}s  duck {md:6.2f}s"
                  f"  ratio {ms / md:5.2f}x  ({n_s} rows)")
        out["rungs"][f"sf{sf:g}"] = row
        con.close()
    print(json.dumps(out))


if __name__ == "__main__":
    if sys.argv[1] == "gen":
        gen(int(sys.argv[2]), sys.argv[3])
    else:
        run([(a.split("=")[0], float(a.split("=")[1]))
             for a in sys.argv[2:]])
