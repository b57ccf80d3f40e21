"""Table catalog over the driver-provided parquet directories.

Schemas come from the parquet footers (documented in FIXTURES.md); we do
not re-declare them, so predicate pushdown + column pruning reach the
scan untouched. At 100 TB each "table" would be a partitioned parquet
dataset or an Iceberg/Delta table — the access path (``spark.read``)
is identical, which is why nothing above this module cares.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .sources.staging import corpus_digest

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are fixed-size). customer/supplier/part grow with SF, so
# broadcasting them is a per-query decision, not a catalog property.
ALWAYS_BROADCAST = ("region", "nation")


# (session id, sf_dir, name) -> (weakref(session), corpus digest, value)
_MEMO: dict = {}


def session_memo(spark: SparkSession, sf_dir: str, tables, name: str, build):
    """build(), reused while this session lives and the data files of
    `tables` under `sf_dir` are unchanged (staging.corpus_digest: one
    os.stat per file). A corpus rewritten in place misses and rebuilds,
    so a memoized value never outlives the content it was built from;
    the weakref evicts the entry with its session and guards against
    id() reuse. A corpus that cannot be digested (no local data files)
    is not memoized: build() runs and raises or answers as it would."""
    key = (id(spark), sf_dir.rstrip("/"), name)
    try:
        digest = corpus_digest(sf_dir, tables)
    except OSError:
        return build()
    hit = _MEMO.get(key)
    if hit is not None and hit[0]() is spark and hit[1] == digest:
        return hit[2]
    value = build()
    # the dict is bound now: at interpreter exit the module global may
    # already be None when a dying session fires the callback
    _MEMO[key] = (weakref.ref(spark, lambda _, k=key, m=_MEMO: m.pop(k, None)),
                  digest, value)
    return value


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Data timestamps are UTC wall times and the DuckDB oracle is
    # timezone-naive: pin the session timezone so results are identical
    # under any host/driver timezone (runtime-settable, idempotent).
    # NOTE: deliberate session mutation — documented engine contract
    # (results must be timezone-independent); applied here because the
    # driver hands us ITS session and this accessor is the one choke
    # point every query passes through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # If the caller left shuffle parallelism at Spark's out-of-the-box
    # 200, right-size it for the local test scale (200 near-empty tasks
    # per exchange is pure scheduler overhead at sf<=0.1). Any
    # explicitly tuned value — our session factory's, the bench's, a
    # cluster operator's — is NOT 200 and is left untouched.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    # the loaded frame skips the file listing and footer read each
    # spark.read.parquet repeats (~0.1 s/table of py4j + IO locally)
    return session_memo(spark, sf_dir, (name,), name,
                        lambda: _load(spark, sf_dir, name))


def round_robin(df: DataFrame) -> DataFrame:
    """df round-robin repartitioned to defaultParallelism, ahead of a
    row-amplifying stage (a per-row explode of ~n_chars shingles or
    ~n_tokens tokens, or a Python-worker map). A compact parquet scan,
    or a union of a few filtered selects of one, reads as 1-3 input
    splits, so byte-based partitioning understates such a stage's work
    by orders of magnitude and runs it on as many cores (the LSH
    signature stage at the 10x scale point: 235 s on one core, ~13 s
    after the spread). The shuffle moves the small pre-explode rows
    once, and it is the single exchange later branches hang off, so
    AQE's exchange reuse scans once per query. Row placement cannot
    change a result: every caller follows it only with key-grouped
    aggregates, equi-joins, per-key windows or per-row maps."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a raw-read events timestamp column to session-tz TIMESTAMP.

    The driver's testdata has shipped `events.ts` in two physical parquet
    encodings across generations: timestamp[ns] (Spark rejects NANOS
    outright — PARQUET_TYPE_ILLEGAL — unless read as raw long via
    ``spark.sql.legacy.parquet.nanosAsLong``) and timestamp[us] (Spark 4
    reads it as TIMESTAMP_NTZ). Both are folded to TIMESTAMP here so
    downstream ``unix_micros(ts)`` etc. always resolve. The session tz is
    pinned UTC in :func:`table`, so the NTZ->LTZ cast is value-preserving
    (wall time == instant). Works on streaming DataFrames too (the schema
    is declared up front). No-op if `ts` is already TIMESTAMP.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # ns-as-long: truncate ns -> µs (integer div, matching DuckDB's
        # ns->TIMESTAMP truncation).
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}
