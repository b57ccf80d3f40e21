"""Join operators (SURVEY §2.3).

Flink-side equivalents (public DataStream/Table API — the reference's
pattern vocabulary): ``DataStream.join.where.equalTo`` for equi-joins,
broadcast state / KeyedCoProcessFunction for the "full cache join"
dimension-enrichment pattern, Table API outer/theta joins, the temporal
table join (``FOR SYSTEM_TIME AS OF``) for as-of, and the interval join
(``between(lower, upper)``).

Spark-first design notes:
- Equi-joins are declared with ``df.join`` and left to Catalyst/AQE:
  sort-merge for fact⋈fact, runtime broadcast conversion when a side is
  small. We force ``F.broadcast`` only on the fixed-size dims
  (region/nation) — the one case where we know better than statistics at
  any scale factor.
- The as-of join (no batch asofJoin in PySpark 4.1.2) is the union+window
  formulation: tag both sides, one shuffle on the key, a single ordered
  window carrying the last left-side value forward. O(n log n) per key
  group, no UDF, no broadcast of either side — survives 100 TB, unlike
  the naive join+filter+argmax which materializes every candidate pair.
- The interval join is a range-predicate join on a bucketized equi-key
  (user_id) so Spark still gets a hash/sort-merge shuffle on the equi
  part and evaluates the time predicate post-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..oracle_compat import dsum, rev_sum, sql_dsum, sql_rev_sum
from ..registry import register

# --- shared probe synthesis for the as-of / temporal family ------------
# The two time domains in the testdata don't overlap (orders 1995-2001,
# events 2024), so probes are synthesized from orders inside the events
# range. The bounds are DERIVED FROM THE DATA — min/max event user and
# min event ts — never literals: the round-7 reseeded-fixture
# differential (tools/reseed.py) caught the previous `o_custkey < 150` /
# `TIMESTAMP '2024-01-01'` constants as corpus-specialized (they select
# nothing on an id-offset / time-shifted corpus). One 1-row aggregate,
# broadcast-crossed into the probe scan: free at any scale.
_SQL_EVENT_BOUNDS = (
    "b AS (SELECT MIN(user_id) AS lo, MAX(user_id) AS hi,"
    " MIN(ts) AS t0 FROM events)"
)
_SQL_PROBE_T = "b.t0 + INTERVAL (o_orderkey % 2592000) SECOND"
_SQL_PROBE_FROM = "FROM orders, b WHERE o_custkey BETWEEN b.lo AND b.hi"


def _event_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row DF (lo, hi, t0): event user-id span + earliest event ts."""
    return table(spark, sf_dir, "events").agg(
        F.min("user_id").alias("lo"),
        F.max("user_id").alias("hi"),
        F.min("ts").alias("t0"),
    )


def _asof_probe_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders overlapping the event user space, with a deterministic
    probe timestamp inside the events range: columns (k, t, o_orderkey)."""
    return (
        table(spark, sf_dir, "orders")
        .crossJoin(F.broadcast(_event_bounds(spark, sf_dir)))
        .filter((F.col("o_custkey") >= F.col("lo")) & (F.col("o_custkey") <= F.col("hi")))
        .select(
            F.col("o_custkey").alias("k"),
            F.expr("t0 + make_interval(0,0,0,0,0,0, o_orderkey % 2592000)").alias("t"),
            "o_orderkey",
        )
    )


@register(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    customer = table(spark, sf_dir, "customer")
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "join_broadcast_dim",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_customers,
           {sql_dsum('c.c_acctbal', 'total_acctbal')}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Flink "full cache join" pattern (broadcast-state enrichment of a
    big stream against small cached dims) in its batch form: explicit
    broadcast hash joins against the fixed-size dims — zero shuffle of the
    fact side regardless of scale."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


@register(
    "join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with null-extension: every customer, big orders if any."""
    customer = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    open_orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return customer.join(
        open_orders, customer.c_custkey == open_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@register(
    "join_theta_range",
    oracle="""
    SELECT p.p_partkey, p.p_name, COUNT(*) AS n_lines
    FROM part p JOIN lineitem l
      ON l.l_partkey = p.p_partkey
     AND l.l_extendedprice BETWEEN p.p_retailprice * 10 AND p.p_retailprice * 40
    GROUP BY p.p_partkey, p.p_name
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range band: the equi part keeps this a shuffled hash join
    (NOT a nested-loop cartesian), the theta predicate is applied
    post-match — the only formulation that scales."""
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_extendedprice >= part.p_retailprice * 10)
        & (li.l_extendedprice <= part.p_retailprice * 40)
    )
    return (
        part.join(li, cond)
        .groupBy("p_partkey", "p_name")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "join_asof",
    oracle=f"""
    WITH {_SQL_EVENT_BOUNDS}, tagged AS (
      SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
             event_id, NULL::BIGINT AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS k, {_SQL_PROBE_T} AS t,
             1 AS side, NULL::BIGINT AS event_id, o_orderkey
      {_SQL_PROBE_FROM}
    ), w AS (
      SELECT *,
        LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_event_id
      FROM tagged
    )
    SELECT o_orderkey, k AS user_id, asof_event_id
    FROM w WHERE side = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Flink temporal table join, `FOR SYSTEM_TIME AS OF`):
    for each probe row, the latest event of the same user at-or-before the
    probe time. Ties broken by max event_id.

    Probe side is synthesized from orders via `_asof_probe_base`
    (data-derived user span + timestamp anchor, no corpus literals)
    because the two time domains in the testdata don't overlap.
    Implementation: union-tag + `last(..., ignorenulls)` over one
    ordered window — a single shuffle on the key, linear scan per key, no
    pairwise blow-up. Window order (t, side, event_id) puts the latest
    event (tie: max event_id) immediately before each probe row, so the
    carried value implements the documented tie rule exactly.
    """
    events = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    probes = _asof_probe_base(spark, sf_dir).select(
        "k",
        "t",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    tagged = events.unionByName(probes)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "asof_event_id",
        F.last(F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("side") == 1).select(
        "o_orderkey", F.col("k").alias("user_id"), "asof_event_id"
    )


_ASOF_TOL_US = 86400 * 1_000_000  # 24h max staleness


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH {_SQL_EVENT_BOUNDS}, tagged AS (
      SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
             event_id, NULL::BIGINT AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS k, {_SQL_PROBE_T} AS t,
             1 AS side, NULL::BIGINT AS event_id, o_orderkey
      {_SQL_PROBE_FROM}
    ), w AS (
      SELECT *,
        LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_id,
        LAST_VALUE(CASE WHEN side = 0 THEN t END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_t
      FROM tagged
    )
    SELECT o_orderkey, k AS user_id,
           CASE WHEN epoch_us(t) - epoch_us(m_t) <= {_ASOF_TOL_US}
                THEN m_id END AS asof_event_id,
           CASE WHEN epoch_us(t) - epoch_us(m_t) <= {_ASOF_TOL_US}
                THEN epoch_us(t) - epoch_us(m_t) END AS staleness_us
    FROM w WHERE side = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with BOUNDED STALENESS (the production variant every
    enrichment pipeline actually wants — kdb's `wj`/pandas
    `merge_asof(tolerance=...)` shape): the latest same-user event
    at-or-before each probe time COUNTS ONLY if it is at most 24h old;
    older state is reported as no-match (NULL) rather than silently
    serving stale data, and each match carries its measured staleness.

    Same single-shuffle union+window plan as join_asof (one extra
    carried column, the matched timestamp — no second window pass, no
    pairwise blow-up); the tolerance is applied as a row-local guard
    AFTER the carry, so the window machinery is shared and the two
    operators cannot drift. Staleness rides in integer microseconds —
    engine-exact, no interval arithmetic ambiguity."""
    events = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    probes = _asof_probe_base(spark, sf_dir).select(
        "k",
        "t",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    tagged = events.unionByName(probes)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "m_id",
        F.last(F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True).over(w),
    ).withColumn(
        "m_t",
        F.last(F.when(F.col("side") == 0, F.col("t")), ignorenulls=True).over(w),
    )
    stale = F.unix_micros("t") - F.unix_micros("m_t")
    fresh = stale <= F.lit(_ASOF_TOL_US)
    return carried.filter(F.col("side") == 1).select(
        "o_orderkey",
        F.col("k").alias("user_id"),
        F.when(fresh, F.col("m_id")).alias("asof_event_id"),
        F.when(fresh, stale).alias("staleness_us"),
    )


@register(
    "join_interval",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink interval join (`between(0, +10min)`): purchases within 10
    minutes after a click by the same user. Batch form: equi-join on
    user_id (one shuffle) + time-range residual predicate. The true
    streaming twin (stream-stream join with watermarks) is in
    streaming/stateful.py and covered by pytest."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    return clicks.join(purchases, cond).select("click_id", "purchase_id", "user_id")


_Q5_ORACLE = f"""
    SELECT n.n_name AS nation,
           {sql_rev_sum('revenue', 'l.l_extendedprice', 'l.l_discount')}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """


@register("join_multiway_star_shuffle", oracle=_Q5_ORACLE)
@register("join_multiway_star", oracle=_Q5_ORACLE)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q5 shape): 6-table star join + grouped revenue
    over plain unbucketed scans. join_multiway_star_shuffle is the same
    plan under its older A/B-rung name. The bucketed twin
    (join_multiway_star_bucketed) and the maintained view
    (maintenance_rollup_q5) are separate keys that build their staged
    artifact on first call.

    Join order: fact-to-fact first (lineitem⋈orders⋈customer shuffles
    on their keys, AQE may broadcast customer at small SF), then the
    supplier local-nation condition, then explicit broadcasts of the
    fixed-size nation/region dims. Date filter sits directly on the
    orders scan so it pushes into the parquet reader.
    """
    return _star_q5(
        spark, sf_dir,
        table(spark, sf_dir, "lineitem"), table(spark, sf_dir, "orders"),
    )


def _star_q5(
    spark: SparkSession, sf_dir: str, lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """The Q5 star body over caller-supplied fact frames — shared by
    the flagship and the bucketed twin, so the two differ ONLY in
    fact-table physical layout, never in join logic."""
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (F.col("l_suppkey") == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(rev_sum("revenue"))
    )


@register(
    "join_stream_static",
    oracle="""
    SELECT e.event_id, e.event_type, e.value, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (the "full cache join" streaming form).
    Batch analog for the oracle; the true `readStream.join(static)` twin
    is exercised in tests/test_streaming.py. At scale the static side is
    re-read per micro-batch, so dim updates are picked up — same
    semantics as Flink's periodically-reloaded cache."""
    events = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    customer = table(spark, sf_dir, "customer")
    return events.join(customer, events.user_id == customer.c_custkey).select(
        "event_id", "event_type", "value", "c_name", "c_mktsegment"
    )


@register(
    "join_lateral",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber AS top_linenumber,
           t.l_extendedprice AS top_price
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 1
    ) t
    WHERE o.o_totalprice > 450000
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-row subquery (Table API LATERAL): top-priced line of
    each big order. Spark 4 `lateralJoin` decorrelates this into a
    window-ranked join — no per-row execution."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    li = table(spark, sf_dir, "lineitem")
    top = (
        li.where(F.col("l_orderkey") == F.col("o_orderkey").outer())
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_linenumber").asc())
        .limit(1)
        .select(
            F.col("l_linenumber").alias("top_linenumber"),
            F.col("l_extendedprice").alias("top_price"),
        )
    )
    return orders.lateralJoin(top).select("o_orderkey", "top_linenumber", "top_price")


def _bucketed_table(
    spark: SparkSession, sf_dir: str, tname: str, key: str, n_buckets: int = 8
) -> DataFrame:
    """Register-once bucketed copy of a fixture table (bucketBy(n, key)
    .sortBy(key)) and return a scan of it. Shared by join_bucketed and
    join_multiway_star_bucketed so two queries over the same (table,
    key) pay the one-time bucketing write ONCE per corpus — exactly the
    amortization story bucketing sells at 100 TB. Registration naming,
    durable content-addressed publication, and the concurrent-writer
    race are handled by _bucketed_frame (below), which this thinly
    wraps."""
    return _bucketed_frame(
        spark, sf_dir, tname, lambda: table(spark, sf_dir, tname), key,
        n_buckets, tables=(tname,),
    )


def _bucketed_registration(spark, sf_dir, name, key, n_buckets, tables):
    """(registered catalog name, published data location) for one
    bucket-family member. The catalog name embeds the corpus DIGEST, so
    a session that re-targets a mutated corpus (tools/reseed.py twins)
    can never resolve a stale registration — the name itself misses."""
    from ..sources import staging

    final = staging.shared_path(
        "bucketed", sf_dir, tables, f"{name}_{key}_b{n_buckets}"
    )
    digest = os.path.basename(os.path.dirname(final))
    reg = f"sparkflow_bucketed_{name}_{key}_b{n_buckets}_{digest}"
    return reg, final


def _register_bucketed(spark, reg: str, final: str, key: str,
                       n_buckets: int) -> DataFrame:
    """Register the published bucketed data as an EXTERNAL bucketed
    table in this session's catalog (metadata-only DDL — the cross-
    session half of the durable posture: session 2 pays one CREATE
    TABLE, not a 25 s bucketing write). Spark identifies each file's
    bucket by the _NNNNN suffix its own bucketed writer embedded, so a
    DDL-registered scan consumes the layout exactly as the writing
    session did (co-located, sort-free joins)."""
    schema = spark.read.parquet(final).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE {reg} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{final}'"
    )
    return spark.table(reg)


def _bucketed_frame(
    spark: SparkSession, sf_dir: str, name: str, mk_df, key: str,
    n_buckets: int, tables=None,
) -> DataFrame:
    """Durable bucketed copy of an arbitrary frame (built lazily by
    mk_df() only on a publication miss). Factored from _bucketed_table
    so the denormalized-star posture can bucket a JOINED frame with the
    same one-file-per-bucket write discipline. r12 (verdict item 1):
    data is published CONTENT-ADDRESSED under the shared staging root —
    the build happens in an app-scoped scratch (saveAsTable needs a
    catalog entry to write bucketed, so a scratch registration is made
    and dropped), one atomic rename publishes it, and every later
    session re-attaches with metadata-only DDL. Two concurrent
    processes both build in private scratches; one rename wins; the
    loser reads the winner's identical artifact."""
    from ..sources import staging

    tables = tables or (name,)
    reg, final = _bucketed_registration(
        spark, sf_dir, name, key, n_buckets, tables
    )
    if spark.catalog.tableExists(reg):
        return spark.table(reg)
    if not staging.is_published(final):
        app = spark.sparkContext.applicationId
        scratch = staging.scratch_path(final, app)
        scratch_reg = f"{reg}_scratch"
        (
            # repartition on the bucket key BEFORE bucketBy: without it
            # every write task emits a file into every bucket (32 tasks
            # x 32 buckets = 1024 files measured at sf10), and a
            # multi-file bucket loses its sorted property at read time,
            # forcing per-bucket re-sorts that cost more than the
            # exchange the buckets remove (7.5 s vs 5.4 s shuffle at
            # sf10). One shuffle at write -> exactly one sorted file
            # per bucket -> sort-free co-located reads forever after.
            mk_df()
            .repartition(n_buckets, key)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", scratch)
            .mode("overwrite")
            .saveAsTable(scratch_reg)
        )
        # external table: DROP removes only the catalog entry, the
        # scratch files stay for the publish rename
        spark.sql(f"DROP TABLE IF EXISTS {scratch_reg}")
        staging.publish(scratch, final, {
            "kind": "bucketed", "name": name, "key": key,
            "n_buckets": n_buckets, "sf_dir": os.path.abspath(sf_dir),
            "tables": sorted(set(tables)), "app_id": app,
        })
    return _register_bucketed(spark, reg, final, key, n_buckets)


@register(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, COUNT(*) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join via bucketing: both tables are written
    bucketBy(8, orderkey).sortBy(orderkey), so the sort-merge join reads
    matching buckets directly — ZERO join-side shuffle (asserted in
    tests/test_plans.py: the only Exchange left is the final group-by).
    This is THE lever for repeated big joins at 100 TB: pay the
    partitioning once at write time, never at query time. Bucketed data
    lands under /tmp, NAMESPACED BY applicationId: the catalog's
    tableExists guard is per-session, so two concurrent processes (e.g.
    a pytest run beside a harness run) would otherwise both see "not
    there yet" and race mode('overwrite') writes onto one directory,
    corrupting whichever scan is in flight."""
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey").filter(
        F.col("o_orderstatus") == "F"
    )
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    # MERGE hint: at test SF the planner would broadcast instead, which
    # never exercises the buckets; at real fact⋈fact scale SMJ is what it
    # picks anyway — the hint pins the scale-representative plan.
    return (
        o.hint("merge").join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@register("join_multiway_star_bucketed", oracle=_Q5_ORACLE)
def join_multiway_star_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship Q5 star (same result and oracle text as
    join_multiway_star) on PRE-BUCKETED fact tables — the engine's
    answer to the star join's sf10 gap (VERDICT r7: 8.1× vs DuckDB,
    decomposed to exchange cost on the fact⋈fact edge; the side
    experiment in BASELINE.md measured orders⋈lineitem 3.63 s → 1.70 s
    bucketed, ONE exchange left).

    Plan contract (asserted in tests/test_plans.py on the AQE FINAL
    plan): ≤1 shuffle exchange in the whole query — the final group-by.
    The dominant exchange, lineitem⋈orders (the two largest tables),
    disappears because both sides are written bucketBy(32, orderkey)
    .sortBy with exactly one sorted file per bucket (see
    _bucketed_table) — the join consumes the bucket partitioning
    directly, paid once at write time. Everything else is deliberately
    UN-hinted: the sf10 variant ladder measured every pinned strategy
    losing to AQE's runtime choices —

      8-bucket merge-hint + forced dim broadcasts : 5.46 s (LOST to shuffle)
      32 clean buckets, merge hint + broadcasts   : 4.2 s
      32 clean buckets, merge hint, AQE dims      : 3.1 s
      32 clean buckets, NO hints (this operator)  : 2.73 s
      unbucketed shuffle flagship, same window    : 5.34 s

    — the forced customer broadcast serialized a 1.5M-row hash build on
    the driver, and the merge hint forced sort-merge where a bucketed
    shuffled-hash join is sort-free. 32 buckets = one per core on this
    box (bucket count caps fact-edge parallelism; size it to executor
    slots on a real cluster — at 100 TB you would also bucket
    orders+customer on custkey as a second family, or let AQE shuffle
    just that edge). The date filter sits on the bucketed orders scan
    and pushes into its parquet reader; bucketing survives filters."""
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey", n_buckets=32)
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey", n_buckets=32)
    return _star_q5(spark, sf_dir, li, o)


@register("join_multiway_star_denorm", oracle=_Q5_ORACLE)
def join_multiway_star_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship Q5 star (same result and oracle text as
    join_multiway_star) over a DENORMALIZED bucketed dimension,
    answering the edge the
    orderkey bucket family cannot touch (SCALE.md r8: at sf10 the
    customer join still shuffles the joined fact stream because a 1.5M-
    row dim is past broadcast, leaving the bucketed star at 0.79x, not
    the fact-edge experiment's 0.47x).

    One maintenance pass joins orders⋈customer (shuffle paid ONCE, at
    dim size not fact-stream size), keeps exactly the columns every
    downstream star query needs (o_orderkey, o_orderdate, c_nationkey),
    and writes the result bucketBy(32, o_orderkey) — the classic
    denormalized star-schema posture every warehouse ships. The query
    is then lineitem⋈orders_enriched co-located on the shared bucket
    family (zero exchange), supplier un-hinted (AQE broadcasts it when
    it measures small; at extreme SF this edge shuffles — the one
    residual), nation/region constant broadcasts, one final agg
    exchange. Date filter pushes into the enriched scan.

    Trade-off vs join_multiway_star_bucketed, stated honestly: the
    enriched copy is QUERY-SHAPE-SCOPED (any star needing other
    customer columns re-stages or widens it) where the plain bucket
    family serves every orderkey join; in exchange the per-query plan
    drops the fact-stream shuffle entirely. sf10 A/B in SCALE.md."""
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey", n_buckets=32)

    def _mk_enriched() -> DataFrame:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        return o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey", "o_orderdate", "c_nationkey"
        )

    oe = _bucketed_frame(
        spark, sf_dir, "orders_enriched", _mk_enriched, "o_orderkey", 32,
        tables=("orders", "customer"),
    ).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        li.join(oe, li.l_orderkey == oe.o_orderkey)
        .join(
            supplier,
            (F.col("l_suppkey") == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(rev_sum("revenue"))


@register(
    "join_skew_salted",
    oracle="""
    WITH skewed AS (
      SELECT event_id, user_id % 5 AS hot_key, value FROM events
      UNION ALL
      SELECT event_id + 1000000 AS event_id, 0 AS hot_key, value
      FROM events WHERE event_id % 2 = 0
    ),
    dim AS (
      SELECT r_regionkey AS hot_key, r_name FROM region
    )
    SELECT s.hot_key, d.r_name,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(s.value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
              / 100.0) AS value_sum
    FROM skewed s JOIN dim d ON s.hot_key = d.hot_key
    GROUP BY s.hot_key, d.r_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via salting: a deterministic hot key (key 0
    carries ~60% of rows after the in-query skew synthesis) would pin
    one reducer in a plain shuffle join. Salting appends a 16-way salt
    to the fact key and explodes the dim side 16×, spreading the hot key
    over 16 reducers; the aggregate then removes the salt. The oracle is
    the plain (semantically identical) join.

    At 100 TB this is the manual fallback when AQE skew-join splitting
    can't help (e.g. skewed aggregation keys, or pre-AQE engines); the
    session factory also enables spark.sql.adaptive.skewJoin."""
    from ..oracle_compat import cents

    ev = table(spark, sf_dir, "events")
    skewed = ev.select(
        "event_id", (F.col("user_id") % 5).alias("hot_key"), "value"
    ).unionByName(
        ev.filter(F.col("event_id") % 2 == 0).select(
            (F.col("event_id") + 1000000).alias("event_id"),
            F.lit(0).cast("long").alias("hot_key"),
            "value",
        )
    )
    n_salt = 16
    salted_fact = skewed.withColumn("salt", (F.col("event_id") % n_salt).cast("int"))
    dim = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("hot_key"), "r_name"
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        salted_fact.join(salted_dim, ["hot_key", "salt"])
        .groupBy("hot_key", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("value_sum"),
        )
    )


@register(
    "join_range_binned",
    oracle="""
    SELECT c.event_id AS click_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_nearby_purchases
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.ts >= c.ts AND p.ts < c.ts + INTERVAL 60 SECOND
    GROUP BY c.event_id
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless band join, bin-bucketed: purchases (by ANY user) within
    60 s after each click. With no equi key the naive plan is a
    BroadcastNestedLoopJoin — O(clicks × purchases), a 100 TB
    death sentence. The bin trick manufactures an equi key: bucket time
    into band-width bins, join each click against its own and the next
    bin (every match is in one of the two), then apply the exact range
    residual. Catalyst plans a shuffled hash join on bin_id; cost drops
    to O(n × per-bin density). This is the standard range-join
    optimization; the oracle is the plain (quadratic) formulation."""
    ev = table(spark, sf_dir, "events")
    _BAND_US = 60_000_000  # 60 s in microseconds (ts is µs-precision)
    c_us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        c_us.alias("c_us"),
        # a match lies in the click's own bin or the next one, never both
        F.explode(
            F.array(
                F.floor(c_us / _BAND_US).cast("long"),
                F.floor(c_us / _BAND_US).cast("long") + 1,
            )
        ).alias("bin_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts")).alias("p_us"),
        F.floor(F.unix_micros(F.col("ts")) / _BAND_US).cast("long").alias("bin_id"),
    )
    # LEFT join + conditional count (not a post-join filter): a click whose
    # candidate bins contain only out-of-band purchases must still appear
    # with count 0, exactly like the oracle's LEFT JOIN.
    in_band = (F.col("p_us") >= F.col("c_us")) & (
        F.col("p_us") < F.col("c_us") + _BAND_US
    )
    return (
        clicks.join(purchases, "bin_id", "left")
        .groupBy("click_id")
        .agg(F.count_if(F.coalesce(in_band, F.lit(False))).cast("bigint").alias(
            "n_nearby_purchases"
        ))
    )


@register(
    "join_temporal_versioned",
    oracle=f"""
    WITH {_SQL_EVENT_BOUNDS}, versions AS (
      SELECT user_id, value AS dim_value, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to,
             event_id
      FROM events
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1
    ),
    probes AS (
      SELECT o_orderkey, o_custkey AS user_id,
             {_SQL_PROBE_T} AS probe_ts
      {_SQL_PROBE_FROM}
    )
    SELECT p.o_orderkey, p.user_id, v.event_id AS version_event_id,
           v.dim_value
    FROM probes p JOIN versions v
      ON v.user_id = p.user_id
     AND p.probe_ts >= v.valid_from
     AND (v.valid_to IS NULL OR p.probe_ts < v.valid_to)
    """,
)
def join_temporal_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal table join against a VERSIONED dimension (Flink's
    `FOR SYSTEM_TIME AS OF` over a changelog-backed table, the SCD2
    shape): first BUILD the versioned dim from the event changelog —
    one version per (user, distinct ts), valid [ts, next-ts), latest
    event_id winning within a timestamp — then join each probe to the
    version whose validity interval contains the probe time.

    Same question as join_asof, deliberately different plan: asof uses
    union+last-over-window (one shuffle, no dim materialization);
    this materializes the SCD2 dim — the right trade when ONE slowly-
    changing dim serves MANY probe streams, because the versioned table
    is built once and each join is a plain equi+range hash join on the
    key. Versions-per-key is bounded by change rate, so the range
    residual scans a handful of versions per probe."""
    ev = table(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("dim_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wl).alias("valid_to"),
            "event_id",
        )
    )
    probes = _asof_probe_base(spark, sf_dir).select(
        "o_orderkey",
        F.col("k").alias("user_id"),
        F.col("t").alias("probe_ts"),
    )
    cond = (
        (probes.user_id == versions.user_id)
        & (probes.probe_ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (probes.probe_ts < versions.valid_to))
    )
    return probes.join(versions, cond).select(
        "o_orderkey",
        probes.user_id.alias("user_id"),
        F.col("event_id").alias("version_event_id"),
        "dim_value",
    )


@register(
    "join_asof_forward",
    oracle=f"""
    WITH {_SQL_EVENT_BOUNDS}, tagged AS (
      SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t, 1 AS side,
             event_id, NULL::BIGINT AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS k, {_SQL_PROBE_T} AS t,
             0 AS side, NULL::BIGINT AS event_id, o_orderkey
      {_SQL_PROBE_FROM}
    ), w AS (
      SELECT *,
        FIRST_VALUE(CASE WHEN side = 1 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS next_event_id
      FROM tagged
    )
    SELECT o_orderkey, k AS user_id, next_event_id
    FROM w WHERE side = 0
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each probe, the EARLIEST event of the same
    user at-or-after the probe time (the look-ahead direction — "what
    happened next"; join_asof is the look-back). Same union+window
    machinery mirrored: probes sort BEFORE events at equal timestamps
    (side 0 < 1), and a forward-unbounded frame carries the first
    following event id back. Ties at the same ts break to MIN event_id
    via the window order. One shuffle on the key, like join_asof."""
    events = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    probes = _asof_probe_base(spark, sf_dir).select(
        "k",
        "t",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    tagged = events.unionByName(probes)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = tagged.withColumn(
        "next_event_id",
        F.first(
            F.when(F.col("side") == 1, F.col("event_id")), ignorenulls=True
        ).over(w),
    )
    return carried.filter(F.col("side") == 0).select(
        "o_orderkey", F.col("k").alias("user_id"), "next_event_id"
    )


@register(
    "join_bloom_filter",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice', 'total_price')}
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
    GROUP BY l_returnflag
    """,
)
def join_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join (Flink's dynamic filtering / Spark's own
    InjectRuntimeFilter, done explicitly): the build side's keys are
    folded into a 1024-bit bloom filter ON THE DRIVER (16 longs — the
    standard engine move: the build side is dim-sized by construction,
    and a bloom is the only thing collected, never data rows), the
    filter ships inside the plan as a literal array, and the fact scan
    drops non-members with two xxhash64 probes BEFORE any join. The
    exact semi-join that follows removes bloom false positives, so the
    result is byte-identical to the plain semi-join oracle regardless
    of hash choice or bloom size.

    Scale: for broadcast-able dims Spark already semi-joins without a
    shuffle; the bloom's value is the SMJ regime (both sides big) —
    membership pruning happens map-side before the fact rows are
    shuffled, cutting exchange volume by the filter's selectivity. The
    pre-filter is a pure expression, so it rides inside the scan's
    WholeStageCodegen span."""
    _BITS = 1024  # 16 longs; size ~10 bits/key at dim scale, config at 100 TB
    supp = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5)
    keys = supp.select(F.col("s_suppkey").alias("k"))

    def positions(col):  # two independent probe positions per key
        return [F.pmod(F.xxhash64(F.lit(i), col), F.lit(_BITS)) for i in (1, 2)]

    bits = keys.select(
        F.explode(F.array(*positions(F.col("k")))).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("int").alias("word"),
        # pyspark's shiftleft() only takes a literal bit count — SQL text
        # accepts a column expression
        F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
    )
    words = {
        r["word"]: r["w"]
        for r in bits.groupBy("word").agg(F.bit_or("bit").alias("w")).collect()
    }
    bloom_sql = (
        "array(" + ", ".join(f"{words.get(i, 0)}L" for i in range(_BITS // 64)) + ")"
    )

    def member(seed):  # bit test: bloom[p/64] >> (p%64) & 1, p = hash position
        p = f"pmod(xxhash64({seed}, l_suppkey), {_BITS})"
        return (
            f"(shiftright(element_at({bloom_sql}, cast({p} / 64 as int) + 1), "
            f"cast(pmod({p}, 64) as int)) & 1L) = 1"
        )

    li = table(spark, sf_dir, "lineitem")
    candidates = li.filter(F.expr(member(1)) & F.expr(member(2)))
    confirmed = candidates.join(
        F.broadcast(supp.select("s_suppkey")),
        candidates.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    return confirmed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_extendedprice", "total_price"),
    )


@register(
    "join_null_safe",
    oracle="""
    SELECT c.nk AS nation_key, COUNT(*) AS n_pairs
    FROM (SELECT NULLIF(c_nationkey, 3) AS nk FROM customer) c
    JOIN (SELECT NULLIF(s_nationkey, 3) AS nk FROM supplier) s
      ON c.nk IS NOT DISTINCT FROM s.nk
    GROUP BY c.nk
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL matches
    NULL instead of vanishing — the semantics dimension-key joins need
    when 'unknown' is itself a key. Nulls are synthesized
    deterministically (NULLIF on nationkey 3) since the fixtures are
    null-free. Catalyst plans eqNullSafe as a standard hash join (the
    null bucket is just one more key), so the scale shape is identical
    to join_inner_equi — this row exists for the semantics, which
    silently differ from `=` and are a classic migration bug."""
    c = table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk_c")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(3)).alias("nk_s")
    )
    return (
        c.join(s, F.col("nk_c").eqNullSafe(F.col("nk_s")))
        .groupBy(F.col("nk_c").alias("nation_key"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_partition_pruned",
    oracle="""
    WITH fact AS (
      SELECT event_id, user_id, CAST(day(ts) AS INT) AS day FROM events
    ),
    dim AS (
      SELECT day, day % 7 AS dow FROM (SELECT DISTINCT day FROM fact) d
    )
    SELECT f.day, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users
    FROM fact f JOIN dim ON dim.day = f.day AND dim.dow = 1
    GROUP BY f.day
    """,
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is LAID OUT partitioned
    by day (a session fixture standing in for how a
    100 TB event table is actually stored), the dim filter (dow = 1)
    is only knowable at runtime, and Spark turns the broadcast build
    side into a partition filter on the fact scan — only ~1/7 of the
    day directories are read at all. This is THE mechanism that makes
    star-schema queries on date-partitioned lakes cheap; the pytest
    companion asserts `dynamicpruningexpression` lands on the scan."""
    from ..sources import staging

    def write(base: str) -> None:
        table(spark, sf_dir, "events").select(
            "event_id", "user_id", F.dayofmonth("ts").cast("int").alias("day")
        ).write.partitionBy("day").mode("overwrite").parquet(base)

    base = staging.session_fixture(spark, sf_dir, ("events",), "dpp", write)
    fact = spark.read.parquet(base)
    dim = (
        fact.select("day").distinct().select(
            "day", (F.col("day") % 7).alias("dow")
        )
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("dow") == 1)), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "join_broadcast_nested_loop",
    oracle=f"""
    WITH bands AS (
      SELECT r_regionkey AS band_id,
             r_regionkey * 12000.0 AS lo,
             (r_regionkey + 1) * 12000.0 AS hi
      FROM region
    )
    SELECT b.band_id, COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice', 'total_price')}
    FROM lineitem l JOIN bands b
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY b.band_id
    """,
)
def join_broadcast_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless theta join done the one way it scales: broadcast nested
    loop with a DIM-SIZED build side (5 price bands). With no equi key
    Spark cannot hash-partition the match, so the only viable plans are
    (a) broadcast the small side and stream the fact — this operator —
    or (b) manufacture an equi key by binning (join_range_binned). The
    fact side never shuffles for the join; cost is |fact| × |bands|
    predicate evaluations inside codegen.

    This is the row that documents the decision boundary: BNLJ is
    correct ONLY while the build side stays broadcast-able; past that,
    bin it."""
    r = table(spark, sf_dir, "region")
    bands = r.select(
        F.col("r_regionkey").alias("band_id"),
        (F.col("r_regionkey") * 12000.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 12000.0).alias("hi"),
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "total_price"),
        )
    )


@register(
    "join_asof_nearest",
    oracle=f"""
    WITH {_SQL_EVENT_BOUNDS}, tagged AS (
      SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS t, 0 AS side,
             event_id, NULL::BIGINT AS o_orderkey
      FROM events
      UNION ALL
      SELECT o_custkey AS k, {_SQL_PROBE_T} AS t,
             1 AS side, NULL::BIGINT AS event_id, o_orderkey
      {_SQL_PROBE_FROM}
    ), w AS (
      SELECT *,
        LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_id,
        LAST_VALUE(CASE WHEN side = 0 THEN epoch_us(t) END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
        FIRST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_id,
        FIRST_VALUE(CASE WHEN side = 0 THEN epoch_us(t) END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, side, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
      FROM tagged
    )
    SELECT o_orderkey, k AS user_id,
      CASE WHEN back_id IS NOT NULL
                AND (fwd_id IS NULL OR epoch_us(t) - back_us <= fwd_us - epoch_us(t))
           THEN back_id ELSE fwd_id END AS nearest_event_id,
      CASE WHEN back_id IS NOT NULL
                AND (fwd_id IS NULL OR epoch_us(t) - back_us <= fwd_us - epoch_us(t))
           THEN 'backward' WHEN fwd_id IS NOT NULL THEN 'forward'
           ELSE 'none' END AS direction,
      CASE WHEN back_id IS NOT NULL
                AND (fwd_id IS NULL OR epoch_us(t) - back_us <= fwd_us - epoch_us(t))
           THEN epoch_us(t) - back_us
           WHEN fwd_id IS NOT NULL THEN fwd_us - epoch_us(t) END AS dist_us
    FROM w WHERE side = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (both directions): for each probe, the
    event of the same user CLOSEST in time — backward candidate is the
    latest at-or-before (tie: max event_id), forward candidate the
    earliest strictly-after (tie: min event_id), equal distances resolve
    backward. The pandas `merge_asof(direction='nearest')` semantics,
    done distributed.

    Same union-tag single-window machinery as `join_asof` — BOTH
    directional candidates come out of one shuffle on the key (two frame
    specs over one sort), then the pick is a row-local CASE. No second
    shuffle, no self-join; the deterministic (t, side, event_id) order
    makes the carried id/timestamp pairs consistent (side 0 sorts before
    the probe at equal t, so an exact-time event is the backward winner
    at distance 0)."""
    events = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    probes = _asof_probe_base(spark, sf_dir).select(
        "k",
        "t",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    tagged = events.unionByName(probes)
    order = [F.col("t"), F.col("side"), F.col("event_id")]
    wb = (
        Window.partitionBy("k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("k")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ev_id = F.when(F.col("side") == 0, F.col("event_id"))
    ev_us = F.when(F.col("side") == 0, F.unix_micros("t"))
    carried = (
        tagged.withColumn("back_id", F.last(ev_id, ignorenulls=True).over(wb))
        .withColumn("back_us", F.last(ev_us, ignorenulls=True).over(wb))
        .withColumn("fwd_id", F.first(ev_id, ignorenulls=True).over(wf))
        .withColumn("fwd_us", F.first(ev_us, ignorenulls=True).over(wf))
    )
    t_us = F.unix_micros("t")
    take_back = F.col("back_id").isNotNull() & (
        F.col("fwd_id").isNull() | ((t_us - F.col("back_us")) <= (F.col("fwd_us") - t_us))
    )
    return carried.filter(F.col("side") == 1).select(
        "o_orderkey",
        F.col("k").alias("user_id"),
        F.when(take_back, F.col("back_id")).otherwise(F.col("fwd_id")).alias(
            "nearest_event_id"
        ),
        F.when(take_back, F.lit("backward"))
        .when(F.col("fwd_id").isNotNull(), F.lit("forward"))
        .otherwise(F.lit("none"))
        .alias("direction"),
        F.when(take_back, t_us - F.col("back_us"))
        .when(F.col("fwd_id").isNotNull(), F.col("fwd_us") - t_us)
        .alias("dist_us"),
    )


@register(
    "join_interval_outer",
    oracle="""
    SELECT a.event_id AS click_id, a.user_id, b.event_id AS purchase_id
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    WHERE a.event_type = 'click'
    """,
)
def join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join: every click, null-extended when no
    purchase by the same user lands within the next 10 minutes — the
    batch analog of the watermarked stream-stream outer join twin
    (`sparkflow/streaming/stateful.py::interval_left_join_stream`, whose
    null rows may only emit once the watermark proves no match can
    arrive). Same single-shuffle shape as the inner `join_interval`;
    the outer side just keeps the unmatched probes."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    return clicks.join(purchases, cond, "left_outer").select(
        "click_id", "user_id", "purchase_id"
    )
