"""Scalar function surface (SURVEY §2.8): string / regexp / split /
date / math / json / array / map / conditional.

Flink-side equivalent: Table API built-in functions, or `map()` /
`flatMap()` with hand-written Java in DataStream patterns.

Spark-first: everything here is a built-in `pyspark.sql.functions`
expression — JVM-side, inside whole-stage codegen, zero Python in the
row path. This is the hot-path rule for 100 TB: a scalar UDF would be
10-100× slower (see functions/udfs.py for the deliberate UDF surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register


@register(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name) AS name_lower,
           UPPER(p_brand) AS brand_upper,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           TRIM(CONCAT(' ', p_name, ' ')) AS name_trimmed,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           LENGTH(p_name) AS name_len
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "fn_regexp",
    oracle="""
    SELECT p_partkey,
           CAST(REGEXP_EXTRACT(p_brand, 'Brand#(\\d+)', 1) AS INT) AS brand_num,
           REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS name_censored
    FROM part
    WHERE REGEXP_MATCHES(p_type, '^(PROMO|ECONOMY)')
    """,
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace / rlike. Note: Spark replaces all
    matches by default; DuckDB needs the 'g' flag — encoded in the oracle."""
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_type").rlike("^(PROMO|ECONOMY)")).select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_censored"),
    )


@register(
    "fn_split_explode",
    oracle="""
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
    FROM documents WHERE lang = 'en'
    """,
)
def fn_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → one row per token (Flink flatMap). split+explode stays
    JVM-side; at 100 TB this is the shape of every tokenization pass."""
    d = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


@register(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           DATE_TRUNC('month', o_orderdate) AS order_month,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_mon,
           CAST(ISODOW(o_orderdate) AS INT) AS dow_iso,
           DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal functions. Day-of-week uses the ISO convention (Mon=1) —
    Spark's `dayofweek` is Sun=1 while DuckDB's is Sun=0, so `weekday()+1`
    is the portable spelling."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        (F.weekday("o_orderdate") + 1).alias("dow_iso"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice / 7.0, 2) AS price_seventh,
           ABS(l_discount - 0.05) AS disc_dev,
           POWER(l_quantity, 2) AS qty_sq,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           SQRT(l_quantity) AS qty_sqrt,
           l_partkey % 7 AS partkey_mod
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions. round() targets a continuous quotient (never an
    exact decimal midpoint) and ln() is rounded: libm vs JVM Math differ
    in the last ulp. sqrt/abs/power-of-int are IEEE-exact."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") / 7.0, 2).alias("price_seventh"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_partkey") % 7).alias("partkey_mod"),
    )


_JSON_ORACLE = """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS k_avg
    FROM events GROUP BY event_type
    """


@register("fn_json_raw_parse", oracle=_JSON_ORACLE)
@register("fn_json", oracle=_JSON_ORACLE)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (`props` is a JSON string column) +
    aggregate: `from_json` with an explicit schema parses each payload
    once into a typed struct (Jackson, JVM-side) — measurably faster
    than per-path `get_json_object` and the right shape when several
    fields are extracted (one parse, N struct reads).
    fn_json_raw_parse is the same plan under its older A/B-rung name;
    maintenance_json_materialize is the separate key that builds the
    parse-once typed copy and serves this aggregate from it."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json("props", "k LONG").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
            (F.sum("k") / F.count(F.lit(1))).alias("k_avg"),
        )
    )


@register(
    "fn_array",
    oracle="""
    SELECT vec_id,
           LEN(embedding) AS dim,
           LEN(LIST_FILTER(embedding, x -> x > 0)) AS n_pos,
           ROUND(LIST_AGGREGATE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)),
                                'sum'), 4) AS vec_sum,
           ROUND(LIST_AGGREGATE(LIST_TRANSFORM(embedding,
                                x -> CAST(x AS DOUBLE) * 2.0), 'sum'), 4) AS vec_sum_x2,
           ARRAY_CONTAINS([0, 1, 2], label) AS label_low
    FROM embeddings
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construct/size/contains + higher-order transform/filter/
    aggregate over the embedding column — all codegen'd, the scalable way
    to process vector columns without Python."""
    e = table(spark, sf_dir, "embeddings")
    to_d = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.aggregate(to_d, F.lit(0.0), lambda acc, x: acc + x), 4).alias("vec_sum"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * 2.0),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("vec_sum_x2"),
        F.array_contains(F.array(F.lit(0), F.lit(1), F.lit(2)), F.col("label")).alias(
            "label_low"
        ),
    )


@register(
    "fn_map",
    oracle="""
    SELECT event_id, 'k' AS prop_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_value
    FROM events WHERE event_type = 'signup'
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + explode: parse props into a map column,
    explode to (key, value) rows. The oracle flattens the same content
    relationally (DuckDB has no MAP explode of this shape)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    m = F.create_map(F.lit("k"), F.get_json_object("props", "$.k").cast("long"))
    return ev.select("event_id", F.explode(m).alias("prop_key", "prop_value"))


@register(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS bal_tier,
           COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_or_other,
           GREATEST(c_acctbal, 0.0) AS bal_floor0,
           LEAST(c_acctbal, 5000.0) AS bal_cap5k
    FROM customer
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
        .alias("bal_tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor0"),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_cap5k"),
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, user_id) AS id_xor,
           event_id << 2 AS shifted_l,
           event_id >> 3 AS shifted_r,
           CAST(bit_count(event_id) AS INT) AS popcount
    FROM events WHERE event_type = 'error'
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operators (AND/OR/XOR/shifts/popcount) — exact integer
    semantics, identical in any engine."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("id_xor"),
        F.expr("shiftleft(event_id, 2)").alias("shifted_l"),
        F.expr("shiftright(event_id, 3)").alias("shifted_r"),
        F.bit_count("event_id").alias("popcount"),
    )


@register(
    "fn_url",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang AS url
      FROM documents
    )
    SELECT doc_id,
           split_part(split_part(url, '://', 2), '/', 1) AS host,
           '/' || split_part(split_part(url, '://', 2), '/', 2) || '/'
               || split_part(split_part(split_part(url, '://', 2), '/', 3), '?', 1)
             AS path,
           split_part(url, '?', 2) AS query,
           split_part(split_part(url, '?', 2), '=', 2) AS lang_param
    FROM urls
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (`parse_url` — JVM-side java.net parsing): host, path,
    query string, and one query parameter, over deterministic synthesized
    URLs. Web-corpus pipelines canonicalize/dedup on exactly these parts;
    the oracle recomputes them with string splits, which doubles as a
    check that parse_url agrees with the grammar for well-formed URLs."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "fn_binary",
    oracle="""
    SELECT n_nationkey,
           to_base64(encode(n_name)) AS name_b64,
           lower(hex(encode(n_name))) AS name_hex,
           CAST(octet_length(encode(n_name)) AS INT) AS name_bytes
    FROM nation
    """,
)
def fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encodings: base64 and hex of UTF-8 bytes plus byte length —
    the encode/decode surface multimodal columns rely on. All JVM
    expressions; hex is lowercased on both sides (Spark emits upper,
    DuckDB lower — case is presentation, bytes are identical)."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.base64(F.encode("n_name", "utf-8")).alias("name_b64"),
        F.lower(F.hex(F.encode("n_name", "utf-8"))).alias("name_hex"),
        F.octet_length(F.encode("n_name", "utf-8")).alias("name_bytes"),
    )


@register(
    "fn_try",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST(event_type AS BIGINT) AS bad_int,
           CASE WHEN CAST(FLOOR(value) AS BIGINT) - 50 = 0 THEN NULL
                ELSE CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                     / (CAST(FLOOR(value) AS BIGINT) - 50) END AS safe_div,
           CASE WHEN event_id = 0 THEN NULL ELSE
             CAST(9223372036854775807 AS BIGINT) // event_id END AS big_div
    FROM events WHERE event_id % 10 = 0
    """,
)
def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expression surface (try_cast / try_divide): malformed
    casts and zero denominators yield NULL instead of failing the job —
    at 100 TB a single dirty row must not kill a 1000-executor stage.
    Spark's try_* family maps to TRY_CAST / NULLIF-guarded division in
    the oracle. try_divide(int, int) in Spark is double division; the
    floor-div variant uses `div` with an explicit zero guard."""
    # modulo sample cap, not an absolute id range — survives key offsets
    # on any integer-keyed corpus (tools/reseed.py differential)
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    denom = F.floor("value").cast("bigint") - 50
    return ev.select(
        "event_id",
        F.try_to_number(
            F.get_json_object("props", "$.k"), F.lit("999999")
        ).cast("bigint").alias("k_int"),
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_int"),
        F.try_divide(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"), denom).alias(
            "safe_div"
        ),
        F.when(
            F.col("event_id") != 0,
            F.expr("9223372036854775807L div event_id"),
        ).alias("big_div"),
    )


@register(
    "fn_struct",
    oracle="""
    SELECT doc_id,
           to_json(struct_pack(lang := lang, n_chars := n_chars))
             AS doc_meta,
           struct_pack(lang := lang, n_chars := n_chars).lang
             AS lang_again,
           CAST(json_extract(
             to_json(struct_pack(lang := lang, n_chars := n_chars)),
             '$.n_chars') AS BIGINT) AS n_chars_roundtrip
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct (nested-type) surface: build a struct column, serialize it
    with to_json, access a field, and round-trip a value through JSON —
    the nested-row vocabulary of a typed pipeline. Field ORDER is part
    of struct identity, so both engines emit identical JSON; fields are
    restricted to ints/strings (float rendering inside JSON is the one
    place engines could diverge)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    meta = F.struct(F.col("lang"), F.col("n_chars"))
    return d.select(
        "doc_id",
        F.to_json(meta).alias("doc_meta"),
        meta.getField("lang").alias("lang_again"),
        F.get_json_object(F.to_json(meta), "$.n_chars")
        .cast("bigint")
        .alias("n_chars_roundtrip"),
    )


@register(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           'OBJECT<k: BIGINT>' AS var_schema
    FROM events WHERE event_type = 'click' AND event_id % 5 = 0
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT type (Spark 4's semi-structured column): parse_json →
    binary variant, typed extraction with variant_get, and
    schema_of_variant for discovery. Unlike from_json, VARIANT keeps the
    full document without committing to a schema — the open-schema
    ingestion path for heterogeneous JSON at scale (shredding decides
    layout later). The oracle checks the extracted value and pins the
    discovered schema literal."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 5 == 0)
    )
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_value"),
        F.schema_of_variant(v).alias("var_schema"),
    )


@register(
    "fn_xml",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed,
           event_type AS type_parsed
    FROM events WHERE event_type IN ('signup', 'error') AND event_id % 10 < 3
    """,
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion (from_xml, first-class in Spark 4): serialize each
    event to an XML fragment, parse it back with an explicit struct
    schema, and extract the fields — the enterprise-feed ingestion
    round-trip. The oracle recomputes the same fields from the source
    columns, so any parse/extract defect breaks equality."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error") & (F.col("event_id") % 10 < 3)
    )
    xml = F.concat(
        F.lit("<event><k>"),
        F.get_json_object("props", "$.k"),
        F.lit("</k><type>"),
        F.col("event_type"),
        F.lit("</type></event>"),
    )
    parsed = F.from_xml(xml, "STRUCT<k: BIGINT, type: STRING>")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_parsed"),
        parsed.getField("type").alias("type_parsed"),
    )


@register(
    "fn_mask",
    oracle="""
    SELECT event_id,
           regexp_replace(regexp_replace(regexp_replace(
             event_type || '-' || CAST(user_id AS VARCHAR),
             '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS masked
    FROM events WHERE event_id % 5 = 0
    """,
)
def fn_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking (`F.mask`): redact a value while preserving its
    shape — uppercase→X, lowercase→x, digits→n — the reversible-format
    redaction used for log shipping and PII-safe debugging. One JVM
    expression; the oracle reproduces it with three character-class
    replaces."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    return ev.select(
        "event_id",
        F.mask(
            F.concat_ws("-", "event_type", F.col("user_id").cast("string"))
        ).alias("masked"),
    )
