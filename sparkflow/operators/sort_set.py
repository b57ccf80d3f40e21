"""Global sort / top-k (SURVEY §2.6) and set operations (§2.7).

Flink-side equivalents: bounded sort, Table Top-N; `stream.union` and
keyed co-process dedup for the set ops.

Spark-first: `orderBy().limit(k)` compiles to TakeOrderedAndProject —
per-partition heaps + a k-row merge at the driver, never a full global
sort. Global sort itself uses range partitioning (sampled split points),
the scalable distributed sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..oracle_compat import rev_sum, sql_rev_sum
from ..registry import register


@register(
    "sort_multi",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier ORDER BY s_nationkey ASC, s_acctbal DESC, s_suppkey
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-column sort (range-partitioned exchange). The driver's
    hash is order-insensitive; the actual ordering is asserted in pytest."""
    return (
        table(spark, sf_dir, "supplier")
        .orderBy(F.col("s_nationkey").asc(), F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


@register(
    "limit_topk",
    oracle=f"""
    SELECT o_orderkey, o_orderdate,
           {sql_rev_sum('revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + global top-10. orderBy().limit()
    → TakeOrderedAndProject (heap per partition, k-merge), not a sort of
    the whole aggregate. Revenue is exact integer units, and o_orderkey breaks
    ties, so the top-10 *set* is deterministic across engines."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
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


@register(
    "set_union_all",
    oracle="""
    SELECT user_id, event_type, value FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, event_type, value FROM events WHERE event_type = 'purchase'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (Flink stream.union): no shuffle at all — partitions are
    simply concatenated."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    return ev.filter(F.col("event_type") == "click").unionByName(
        ev.filter(F.col("event_type") == "purchase")
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    UNION
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .union(ev.filter(F.col("event_type") == "view").select("user_id"))
        .distinct()
    )


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both a finished and an open order (keyed co-process
    membership pattern) — planned as a left-semi join on the dedup'd sides."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .intersect(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT user_id AS o_custkey FROM events WHERE event_type = 'error'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buyers minus error-reporters (left-anti under the hood)."""
    buyers = table(spark, sf_dir, "orders").select("o_custkey")
    error_users = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("o_custkey"))
    )
    return buyers.subtract(error_users)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('F', 'O')
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-preserving) — the variant a
    keyed co-process with counters implements."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus").isin("F", "O"))
        .select("o_custkey")
        .exceptAll(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_suppkey")
        .intersectAll(li.filter(F.col("l_returnflag") == "A").select("l_suppkey"))
    )


@register(
    "sort_within_partitions",
    oracle="""
    SELECT event_id, user_id, ts, event_type FROM events
    """,
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort (Flink: keyBy + per-key ordered processing; classic
    MapReduce 'secondary sort'): hash-partition by user_id, then sort
    WITHIN each partition by (user_id, ts, event_id) — every user's
    events are contiguous and time-ordered inside one partition, with NO
    global sort barrier (contrast sort_multi's range-partitioned total
    order). This is the physical layout stateful per-key operators want
    as input; at 100 TB it's one shuffle, and each partition streams
    sorted runs straight to the consumer. Content is order-insensitively
    identical to the plain table (the oracle); the partition-locality and
    intra-partition order properties are asserted in pytest."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "ts", "event_type")
        .repartition(8, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )


def _morton16(x: str, y: str) -> str:
    """SQL text for a 16-bit Morton (Z-order) code interleaving two 8-bit
    coordinates — `<<`/`>>`/`&`/`|` evaluate identically in Spark SQL and
    DuckDB, so one generated expression serves engine and oracle."""
    terms = [f"((({x} >> {i}) & 1) << {2 * i})" for i in range(8)]
    terms += [f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
    return "(" + " + ".join(terms) + ")"


_Z_CELL = _morton16("zx", "zy") + " >> 8"


@register(
    "sort_zorder_layout",
    oracle=f"""
    WITH coords AS (
      SELECT CAST(FLOOR((l_partkey - (SELECT MIN(l_partkey) FROM lineitem))
                        * 256.0 /
                        ((SELECT MAX(l_partkey) - MIN(l_partkey) FROM lineitem) + 1))
                  AS BIGINT) AS zx,
             CAST(FLOOR((l_suppkey - (SELECT MIN(l_suppkey) FROM lineitem))
                        * 256.0 /
                        ((SELECT MAX(l_suppkey) - MIN(l_suppkey) FROM lineitem) + 1))
                  AS BIGINT) AS zy
      FROM lineitem
    )
    SELECT {_Z_CELL} AS z_cell, COUNT(*) AS n_rows,
           MIN(zx) AS min_x, MAX(zx) AS max_x,
           MIN(zy) AS min_y, MAX(zy) AS max_y
    FROM coords GROUP BY 1
    """,
)
def sort_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the multi-dimensional file-layout
    lever behind Delta/Iceberg OPTIMIZE ZORDER: interleave the bits of
    two range-bucketed columns so that sorting by ONE key co-locates
    rows that are close in BOTH dimensions, letting min/max footer stats
    skip files for predicates on either column. The registered query
    reports per-z-cell bounding boxes (each 16×16-cell must bound both
    dims tightly — the skipping property itself, oracle-checked);
    the companion pytest writes a repartitionByRange(z) layout and
    verifies per-file footer spans shrink vs the natural order.

    Scale: the z-value is pure bit arithmetic in the scan's codegen
    span, and the layout write is repartitionByRange (sampled split
    points) — the same distributed sort any 100 TB OPTIMIZE runs; no
    driver bottleneck anywhere."""
    # range buckets are MIN-anchored (reseed shrinkage catch, r8): the
    # original `key * 256 / (max+1)` assumed keys start near 0 — on an
    # id-offset corpus where min ≈ max every row landed in cell 255 and
    # the 256-cell layout silently collapsed to ONE cell while the
    # mirrored oracle kept it green
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
    )
    coords = li.crossJoin(F.broadcast(bounds)).select(
        F.floor(
            (F.col("l_partkey") - F.col("minp"))
            * 256.0
            / (F.col("maxp") - F.col("minp") + 1)
        )
        .cast("long")
        .alias("zx"),
        F.floor(
            (F.col("l_suppkey") - F.col("mins"))
            * 256.0
            / (F.col("maxs") - F.col("mins") + 1)
        )
        .cast("long")
        .alias("zy"),
    )
    return (
        coords.withColumn("z_cell", F.expr(_Z_CELL))
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zx").alias("min_x"),
            F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"),
            F.max("zy").alias("max_y"),
        )
    )
