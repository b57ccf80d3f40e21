"""events_rfm scale A/B (r15, r14 verdict item 8).

Measures the folded single-band-layout RFM plan against the DuckDB
oracle at the ephemeral scale rungs (/tmp/sparkflow_sf{10,30,100} —
regenerate with `python tools/scale_shard_proof.py gen N <dst>`), in
CHECKSUM mode: the result set is one row per user (450k at sf30,
1.5M at sf100), so both engines aggregate the full RFM output to
(count, sum of rfm_code, sum of the three scores) — the banded
NTILE work all runs, but neither engine pays a GB-scale result
transfer that would time pandas IPC instead of the plan.

r14 context: the three independent banded pipelines measured sf30
5.4 s / sf100 10.9 s vs DuckDB 0.5 / 3.3 s (3.35x at sf100), the gap
being ~30 small stages of dispatch floor on the reduced table. The
r15 fold (one explode, one Window shuffle over the shared band id,
one pivot) exists to cut that stage count; the verdict's bar is
sf100 fresh-plan ratio <= 2x.

Usage: python tools/rfm_scale_ab.py [sf30dir sf100dir ...]
Prints one JSON line per rung.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sparkflow  # noqa: E402
from sparkflow.session import get_spark  # noqa: E402

_RUNS = 3
_CK = ("SELECT COUNT(*) AS n, SUM(rfm_code) AS s1, "
       "SUM(r_score + f_score + m_score) AS s2 FROM ({q})")


def main(rungs):
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark("rfm-ab", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    fn = sparkflow.QUERIES["events_rfm"]
    sql = _CK.format(q=sparkflow.ORACLES["events_rfm"])
    out = {"load_1m": os.getloadavg()[0], "rungs": {}}
    for sf_dir in rungs:
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )

        def spark_ck():
            return (
                fn(spark, sf_dir)
                .selectExpr("count(*) AS n", "sum(rfm_code) AS s1",
                            "sum(r_score + f_score + m_score) AS s2")
                .toPandas()
            )

        spark_ck()            # warm: JIT, catalog, page cache
        con.execute(sql).fetchdf()
        t_s, t_d = [], []
        ck_s = ck_d = None
        for _ in range(_RUNS):  # interleaved: same-window A/B
            t0 = time.perf_counter()
            d = con.execute(sql).fetchdf()
            ck_d = (int(d["n"][0]), int(d["s1"][0]), int(d["s2"][0]))
            t_d.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            s = spark_ck()    # fresh plan each run
            ck_s = (int(s["n"][0]), int(s["s1"][0]), int(s["s2"][0]))
            t_s.append(time.perf_counter() - t0)
        assert ck_s == ck_d, (sf_dir, ck_s, ck_d)
        ms, md = statistics.median(t_s), statistics.median(t_d)
        out["rungs"][sf_dir] = {
            "spark_s": round(ms, 2), "duck_s": round(md, 2),
            "ratio": round(ms / md, 2), "users": ck_s[0],
        }
        print(f"{sf_dir}: spark {ms:6.2f}s  duck {md:6.2f}s  "
              f"ratio {ms / md:5.2f}x  ({ck_s[0]} users)", flush=True)
        con.close()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:] or ["/tmp/sparkflow_sf30", "/tmp/sparkflow_sf100"])
