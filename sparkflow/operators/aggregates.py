"""Aggregation operators (SURVEY §2.4).

Flink-side equivalents: `keyBy().aggregate(AggregateFunction)` for
grouped aggs, `AllWindowedStream.aggregate` for global, keyed MapState
dedup for count-distinct, Table API ROLLUP/CUBE/GROUPING SETS.

Spark-first: `groupBy().agg()` — Catalyst plans every one of these as a
partial (map-side) HashAggregate + shuffle on the group key + final
HashAggregate, which is exactly the two-phase combine a hand-written
Flink AggregateFunction implements. Grouping-set variants expand via the
built-in `Expand` operator (one shuffle, no N-pass union).

Oracle determinism: money sums go through the oracle_compat decimal
path (order-independent); statistical aggregates are computed on
small-magnitude columns and rounded, because Spark and DuckDB use
different accumulation algorithms (documented per-query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..oracle_compat import davg, dsum, sql_davg, sql_dsum
from ..registry import register

# Exact integer units for the multi-factor money products: price*(1-disc)
# is a 4-decimal rational, *(1+tax) a 6-decimal one. Both engines compute
# the identical IEEE double product, so scaled flooring lands on the same
# integer (see oracle_compat docstring for why floor beats round/decimal).
def _disc_price_units():
    prod = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return F.floor(prod * 10000 + F.lit(0.5)).cast("long")


def _charge_units():
    prod = (
        F.col("l_extendedprice")
        * (F.lit(1) - F.col("l_discount"))
        * (F.lit(1) + F.col("l_tax"))
    )
    return F.floor(prod * 1000000 + F.lit(0.5)).cast("long")


_SQL_DISC_PRICE_SUM = (
    "(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)"
    " AS BIGINT)) AS DOUBLE) / 10000.0) AS sum_disc_price"
)
_SQL_CHARGE_SUM = (
    "(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
    " * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) AS sum_charge"
)


@register(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('l_quantity', 'sum_qty')},
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           {sql_davg('l_extendedprice', 'avg_price')}
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate — Spark still runs it partial+final across all
    partitions, no single-node bottleneck."""
    return table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice", "avg_price"),
    )


@register(
    "agg_hash_group",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {_SQL_DISC_PRICE_SUM},
           {_SQL_CHARGE_SUM},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + group by 2 low-cardinality keys + 8
    aggregates. The classic partial-agg showcase: map-side combine
    reduces the shuffle to (#groups × #partitions) rows regardless of
    input size. maintenance_rollup_pricing serves the same rows from
    maintained integer partials."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        (F.sum(_disc_price_units()).cast("double") / 10000.0).alias("sum_disc_price"),
        (F.sum(_charge_units()).cast("double") / 1000000.0).alias("sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — Spark plans this as a two-level aggregate
    (dedup on (event_type, user_id) then count), the same keyed-MapState
    dedup a Flink pattern hand-codes. maintenance_rollup_distinct serves
    the same rows from maintained (type, bucket) bitmaps."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ count-distinct (rsd=5%). No SQL oracle — sketch estimates are
    engine-specific; pytest asserts |approx - exact| <= 5% instead. At
    100 TB this is THE distinct-count to use: fixed-size sketch, one
    pass, mergeable across partitions."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"))
    )


_KMV_K = 64  # sketch size: rsd ~ 1/sqrt(k-2) ~ 12.7%


@register(
    "agg_kmv_distinct",
    oracle=f"""
    WITH dh AS (
      SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM dh
    ),
    kth AS (
      SELECT event_type, COUNT(*) AS m,
             MAX(CASE WHEN rn = {_KMV_K}
                      THEN ('0x' || substr(h, 1, 15))::BIGINT END) AS hk
      FROM ranked WHERE rn <= {_KMV_K}
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN m < {_KMV_K} THEN m
                ELSE FLOOR(CAST({_KMV_K - 1} AS DOUBLE)
                           / (CAST(hk AS DOUBLE) / 1152921504606846976.0))
                END AS BIGINT) AS est_users
    FROM kth
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC approximate count-distinct via a KMV (k-minimum-
    values) sketch — the answer to agg_approx_distinct's one honest
    limitation: HLL++ sketch estimates are engine-internal, so that op
    can never be hash-checked. KMV's estimator is a pure function of
    the k smallest md5 hashes of the distinct values ((k−1)/frac(h_k),
    Bar-Yossef 2002), and since we own the hash, both engines compute
    the IDENTICAL estimate — a mergeable one-pass sketch WITH an exact
    DuckDB oracle. Exact regime: a group whose sketch never fills
    (< k kept hashes) reports its true distinct count — decided from
    the sketch itself, no total-count pass (an unbounded COUNT window
    would drag every distinct row through the exchange and break the
    WindowGroupLimit pushdown below).

    Scale: distinct (group, hash) is one shuffle; the k-smallest filter
    is a rank window that Spark executes as WindowGroupLimit —
    map-side per-partition top-k heaps BEFORE the exchange, so the
    shuffle carries ≤ k rows per (group, partition), never the distinct
    stream. At 100 TB this is the same merge shape HLL uses, with ~8x
    the bytes per group (k·16B) bought for determinism. The normalizer
    2^60 and the two-division sequence are written identically in both
    engines — every arithmetic step is an exact int or one shared IEEE
    op, hence the EXACT oracle; the accuracy envelope (rsd ≈ 1/√(k−2))
    is pytest-checked against the true counts like the HLL op."""
    ev = table(spark, sf_dir, "events")
    dh = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = dh.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= _KMV_K)
    kth = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.max(
            F.when(
                F.col("rn") == _KMV_K,
                F.conv(F.substring("h", 1, 15), 16, 10).cast("long"),
            )
        ).alias("hk"),
    )
    frac = F.col("hk").cast("double") / F.lit(1152921504606846976.0)
    est = F.when(F.col("m") < _KMV_K, F.col("m")).otherwise(
        F.floor(F.lit(float(_KMV_K - 1)) / frac)
    )
    return kth.select(
        "event_type", est.cast("bigint").alias("est_users")
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_discount), 6) AS disc_stddev,
           ROUND(VAR_SAMP(l_discount), 6) AS disc_var,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS qty_disc_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. Spark and DuckDB accumulate differently
    (Welford vs sum-of-squares), so outputs are computed on small-
    magnitude columns and rounded to 6dp — fp disagreement lives at
    ~1e-15 relative, far below the rounding step."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_discount"), 6).alias("disc_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(MEDIAN(o_totalprice), 2) AS median_price,
           ROUND(QUANTILE_CONT(o_totalprice, 0.95), 2) AS p95_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + exact p95 (linear interpolation in both engines,
    rounded to absorb interpolation fp noise). The approx variant
    (percentile_approx — the 100 TB path) is asserted in pytest against
    these exact values."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.median("o_totalprice"), 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", 0.95), 2).alias("p95_price"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation): per-nation, per-region subtotal, grand
    total in one Expand+aggregate pass. COALESCE disambiguation is safe —
    the data has no NULL names (FIXTURES.md)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(dsum("c_acctbal", "total_bal"), F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "total_bal",
            "n_customers",
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(o_orderstatus, 'ALL') AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE(c_mktsegment, o_orderstatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: by priority, by status, grand total —
    one Expand pass, not a 3-way union of separate scans."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "agg_filtered",
    oracle=f"""
    SELECT l_linestatus,
           (CAST(SUM(CASE WHEN l_returnflag = 'R'
                          THEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                     END) AS DOUBLE) / 100.0) AS returned_value,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_discount,
           {sql_dsum('l_extendedprice', 'total_value')}
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — sum/count over a predicate without a
    second scan (what a Flink AggregateFunction does with an in-add
    filter)."""
    li = table(spark, sf_dir, "lineitem")
    from ..oracle_compat import cents

    return li.groupBy("l_linestatus").agg(
        (
            F.sum(F.when(F.col("l_returnflag") == "R", cents("l_extendedprice"))).cast(
                "double"
            )
            / 100.0
        ).alias("returned_value"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_high_discount"),
        dsum("l_extendedprice", "total_value"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id % 10 AS cohort,
           COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events GROUP BY user_id % 10
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — skipping value-discovery keeps
    it a single pass (and deterministic columns for the oracle)."""
    ev = table(spark, sf_dir, "events").withColumn("cohort", F.col("user_id") % 10)
    piv = (
        ev.groupBy("cohort")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    # pivot-count yields NULL for empty cells; oracle COUNT yields 0
    return piv.select(
        "cohort",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_custkey AS custkey,
           STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_totalprice > 420000
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordered list (Flink ListState accumulation pattern),
    rendered as a joined string so the comparison is array-layout-proof.
    collect_list is unordered across partitions → array_sort makes it
    deterministic."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 420000)
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.array_join(F.transform(F.array_sort(F.collect_list("o_orderkey")), lambda x: x.cast("string")), ",").alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
           CAST(FLOOR(value / 5.0) AS BIGINT) * 5 AS bucket_lo,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type, CAST(FLOOR(value / 5.0) AS BIGINT)
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram per event type (Flink's windowed distribution
    pattern / the profiling pass every pipeline runs before choosing
    skew/salting strategy). Bucketing is a projection, so the whole
    histogram is one partial-aggregating shuffle of (type, bucket) pairs
    — at 100 TB the map-side combine reduces each partition to at most
    |types|x|buckets| rows before the exchange. floor(value/5.0) is the
    same IEEE double op in both engines -> exact bucket identity."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 5.0)
    return ev.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n")).select(
        "event_type",
        "bucket",
        (F.col("bucket") * 5).alias("bucket_lo"),
        "n",
    )


@register("agg_hll_merge")  # rows-only: sketch estimates are engine-specific
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the 100 TB pattern
    agg_approx_distinct only hints at: build one HLL sketch per (day,
    type) partition of the data, then union the per-day sketches into a
    per-type estimate WITHOUT touching rows again. This is how
    incremental pipelines maintain distinct counts: yesterday's sketches
    are a few KB, today's partition is the only data scanned, and the
    union is associative/commutative (datasketches HLL). Rows-only
    check; pytest gates |estimate - exact| <= 5%."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_merged_sketches"),
        )
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem WHERE l_orderkey % 60 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 60 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey % 60 = 0
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of agg_pivot: three measure columns
    become (measure, value) rows via `stack`, which expands in ONE
    projection pass (an Expand node, no join or shuffle; the oracle's
    3-way UNION ALL re-scans per measure — at 100 TB the single-scan
    stack form reads a third of the bytes)."""
    # modulo sample cap (offset-robust), not an absolute id range
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 60 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE),"
            " 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) AS (measure, value)"
        ),
    )


@register(
    "agg_misc",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_totalprice > 100000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge,
           median(o_totalprice) AS median_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean/median aggregate surface: count_if, bool_and,
    bool_or, and exact median per order priority.

    count_if/bool_* are algebraic (map-side partial agg applies). Exact
    median is the one holistic agg here — Spark sorts within each group;
    its per-group cost is bounded by the largest group, which is why
    production paths prefer approx_percentile at extreme group sizes
    (agg_percentile covers that). Median of an even group is the IEEE
    mean of the two middle doubles in BOTH engines — bit-exact."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.median("o_totalprice").alias("median_price"),
    )


@register(
    "agg_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP): nation
    names per region, '|'-joined in name order. The explicit WITHIN
    GROUP ordering is what makes the result deterministic and therefore
    oracle-exact — an unordered listagg is nondeterministic under
    parallel merge and would be a correctness bug at any scale."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)").alias("nations")
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps — the scale path
    between count(distinct) (re-shuffles raw values) and HLL (approx).
    bitmap_bit_position slots each key into a fixed 4 MB bucket bitmap;
    bitmaps OR-merge associatively, so the plan is two algebraic
    hash-aggregations with map-side partials and NO distinct expansion.
    This is how incremental/rollup pipelines keep exact uniques: the
    per-(group, bucket) bitmaps are storable and re-mergeable across
    days without rescanning history. Oracle: plain COUNT(DISTINCT)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", F.col("o_custkey").alias("k"))
        .groupBy("o_orderpriority", F.bitmap_bucket_number("k").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("k")).alias("bm"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_customers"))
    )


@register(
    "agg_decimal_sum",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation surface: sums over DECIMAL(18,2) casts.
    Decimal arithmetic is base-10 exact and order-independent in both
    engines, so the sums match digit-for-digit with no fixed-point
    trick. The engine's money path still prefers integer cents
    (oracle_compat) because decimal aggregation detours through
    BigDecimal per row (~1.6× slower, measured) — this operator exists
    to cover the TYPE, and the trade-off is documented here. AVG is
    deliberately absent: decimal division scale rules differ between
    engines (Spark yields decimal(…,6), DuckDB a double). The FINAL cast
    to double is presentation only: Spark renders a Decimal with its
    declared scale ('909.30') while DuckDB's client hands back a float
    ('909.3') — string-compared, the same exact sum mismatches whenever
    it ends in a zero cent (caught by the reseeded differential; latent
    on sf0.01, where no sum happened to). The aggregation itself is
    still exact decimal in both engines; a 2-dp total converts to double
    identically on both sides."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_disc"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


@register(
    "agg_arg_extremes",
    oracle="""
    SELECT o_orderpriority,
           (MAX(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS top_order,
           (MIN(struct_pack(p := o_totalprice, k := o_orderkey))).k
             AS bottom_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG_MAX / ARG_MIN (max_by/min_by): the order key holding the
    extreme price per priority. The comparator is a (price, key) STRUCT
    — the key tiebreak makes the answer deterministic under parallel
    merge (bare max_by(x, price) with duplicate prices returns whichever
    partition merges last: a real nondeterminism bug at scale). The
    oracle mirrors the trick with struct-valued MAX/MIN, which compare
    lexicographically in both engines."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "top_order"
        ),
        F.expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "bottom_order"
        ),
    )


@register(
    "agg_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
             AS n_errors,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS value_total
    FROM events
    """,
)
def agg_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API (Spark's named-metrics hook — the analog of
    Flink's operator metrics/accumulators): metrics ride ON a query via
    df.observe() and are harvested after any action WITHOUT a second
    scan. Here the observed pipeline is a pass-through count; the
    operator returns the harvested metrics as a 1-row DataFrame. At
    100 TB this is how you get row counts / error rates / money totals
    out of a production job for free — observe() adds a streaming-safe
    CollectMetrics node, not another aggregation over the input."""
    from pyspark.sql import Observation

    ev = table(spark, sf_dir, "events")
    obs = Observation()
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias("cents"),
    )
    observed.count()  # the action the metrics piggyback on
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["n_errors"]), m["cents"] / 100.0)],
        "n_rows BIGINT, n_errors BIGINT, value_total DOUBLE",
    )


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
    FROM counts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority) = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group — built-in
    mode() tie-breaks arbitrarily in BOTH engines (partition-order-
    dependent: a nondeterminism this engine refuses to ship), so the
    portable form is count + top-1 window with an explicit (count desc,
    value) tiebreak. Two shuffles: the (group, value) count — map-side
    combinable — then a window over groups whose input is already
    reduced to distinct values per group."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_CMS_TOP = 10  # demonstration keys: top-N true-frequency users


def _cms_bucket_sql(i: str, key: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' "
        f"|| CAST({key} AS VARCHAR)), 1, 15))::BIGINT % {_CMS_W})"
    )


@register(
    "agg_cms_heavy_hitters",
    oracle=f"""
    WITH salts AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(i)),
    cms AS (
      SELECT s.i, {_cms_bucket_sql('s.i', 'e.user_id')} AS b, COUNT(*) AS c
      FROM events e CROSS JOIN salts s
      GROUP BY s.i, b
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, true_cnt FROM truth
      ORDER BY true_cnt DESC, user_id LIMIT {_CMS_TOP}
    )
    SELECT t.user_id, t.true_cnt, MIN(c.c) AS cms_est
    FROM top t
    CROSS JOIN salts s
    JOIN cms c ON c.i = s.i
              AND c.b = {_cms_bucket_sql('s.i', 't.user_id')}
    GROUP BY t.user_id, t.true_cnt
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Count-Min sketch (Cormode-Muthukrishnan 2005) —
    the frequency-estimation twin of agg_kmv_distinct's cardinality
    sketch: d=4 hash rows x w=256 counters (_CMS_D/_CMS_W) over md5
    hashes we OWN, so
    DuckDB rebuilds the identical sketch and the estimate
    (min over rows of counter[h_i(key)]) is hash-checkable EXACTLY,
    unlike any engine-internal sketch. Point-queried here for the
    top-10 (_CMS_TOP) true-frequency users; CMS guarantees est >= true with
    overshoot < eps*N at probability 1-delta (eps=e/w, delta=e^-d) —
    the pytest asserts both bounds.

    Scale shape: the sketch build explodes each row into d (row,
    bucket) pairs, but hash-partial aggregation collapses them to
    <= d*w rows PER PARTITION before the exchange — the shuffle carries
    at most 1024 rows per map task no matter the input (the same
    map-side-combine property that makes counting scalable at all).
    The finished sketch is d*w = 1024 rows — broadcast to the probe
    side; point queries never shuffle. The exact `truth` pass exists
    only to pick demonstration keys and verify the bound; a production
    reader probes the sketch with known keys and skips it."""
    ev = table(spark, sf_dir, "events").select("user_id")

    def bucket(i: int, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    buckets = F.array(*[bucket(i, F.col("user_id")) for i in range(_CMS_D)])
    hashed = ev.select(F.posexplode(buckets).alias("i", "b"))
    cms = hashed.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = truth.orderBy(F.desc("true_cnt"), "user_id").limit(_CMS_TOP)
    cand = top.select(
        "user_id", "true_cnt", F.posexplode(buckets).alias("i", "b")
    )
    return (
        cand.join(F.broadcast(cms), ["i", "b"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("c").alias("cms_est"))
    )


_QSK_K = 128  # per-group sample size (bottom-k by owned hash)
_QSK_QS = [0.25, 0.5, 0.75, 0.95]


@register(
    "agg_quantile_sketch",
    oracle=f"""
    WITH h AS (
      SELECT event_type, value,
             md5(CAST(event_id AS VARCHAR)) AS hh
      FROM events
    ),
    sample AS (
      SELECT event_type, value FROM h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY hh) <= {_QSK_K}
    ),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM sample
    )
    SELECT r.event_type, qs.q, r.value AS est
    FROM ranked r
    JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) AS qs(q)
      ON r.rn = CAST(CEIL(qs.q * r.n) AS BIGINT)
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC approximate quantiles — the third member of the
    owned-hash sketch family (agg_kmv_distinct = cardinality,
    agg_cms_heavy_hitters = frequency, this = quantiles): a bottom-k
    hash sample per group (k smallest md5(event_id) — the hash is a
    uniform RNG both engines share), quantile estimate = the EXACT
    order statistic rank ceil(q·n) of the sample. Engine-internal
    quantile sketches (approx_percentile's KLL/GK) can never be
    hash-checked; this one is a pure function of the owned hashes, so
    DuckDB rebuilds the identical sample and the identical picks —
    EXACT oracle. Accuracy is the textbook empirical-quantile bound
    (rank error ~ sqrt(q(1-q)/k), pytest envelope vs true quantiles).

    Scale shape — the same mergeable-sketch property the KMV op pins:
    bottom-k by hash is a rank window that Spark executes as
    WindowGroupLimit (map-side per-partition top-k heaps BEFORE the
    exchange, plan-tested), so the shuffle carries ≤ k rows per
    (group, partition) however many events exist — merging bottom-k
    sets is itself a bottom-k. The second window (value ranking) and
    the quantile pick run on k·groups rows — sketch-sized, never
    data-sized. At 100 TB per-group state is k·16B, same economics as
    t-digest/KLL with determinism bought for a constant factor."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "value",
        F.md5(F.col("event_id").cast("string")).alias("hh"),
    )
    wk = Window.partitionBy("event_type").orderBy("hh")
    sample = (
        ev.withColumn("rn0", F.row_number().over(wk))
        .filter(F.col("rn0") <= _QSK_K)
        .select("event_type", "value")
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    ranked = sample.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in _QSK_QS])
    ).alias("q")
    return (
        ranked.select("event_type", "value", "rn", "n", qs)
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n")))
        .select("event_type", "q", F.col("value").alias("est"))
    )
