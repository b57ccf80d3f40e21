"""Custom connector via the PySpark 4 Python DataSource API — the
"write your own source" surface a pattern repo demonstrates with a
custom SourceFunction/InputFormat.

The format here is deliberately one Spark has no built-in reader for: a
directory of `docmeta-*.txt` files, one line per record,
`doc_id|lang|n_chars`. The DataSource plans ONE InputPartition PER FILE
(the unit of parallel work — at 100 TB, file = split, and Spark
schedules them across executors exactly like a built-in format), and
each partition's `read` streams lines without materializing the file.

Python-source rows cross into the JVM via Arrow batches; for a format
with columnar native readers, a built-in format wins — the custom API is
for systems Spark cannot otherwise reach (this is documented, not
hidden).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..catalog import table
from ..registry import register
from .staging import session_fixture

_N_FILES = 4


class _DocMetaReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]

    def partitions(self):
        files = sorted(
            f for f in os.listdir(self.path) if f.startswith("docmeta-")
        )
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                doc_id, lang, n_chars = line.rstrip("\n").split("|")
                yield (int(doc_id), lang, int(n_chars))


class DocMetaSource(DataSource):
    """`spark.read.format("docmeta")` — one partition per file."""

    @classmethod
    def name(cls):
        return "docmeta"

    def schema(self):
        return "doc_id BIGINT, lang STRING, n_chars BIGINT"

    def reader(self, schema):
        return _DocMetaReader(self.options)


def _stage_files(spark: SparkSession, sf_dir: str) -> str:
    """Export documents metadata to the custom line format. Files get
    deterministic doc_id-range splits.

    FIXTURE STAGING, not the operator's data path: this materializes the
    foreign format the connector exists to read (in production that data
    already lives in the external system). The driver-side toPandas here
    is the test harness building its fixture; the connector itself reads
    partition-parallel with no driver involvement."""
    def write(out: str) -> None:
        rows = (
            table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .toPandas()
            .sort_values("doc_id")
        )
        step = (len(rows) + _N_FILES - 1) // _N_FILES
        for i in range(_N_FILES):
            part = rows.iloc[i * step : (i + 1) * step]
            with open(os.path.join(out, f"docmeta-{i}.txt"), "w", encoding="utf-8") as fh:
                for r in part.itertuples():
                    fh.write(f"{r.doc_id}|{r.lang}|{r.n_chars}\n")

    return session_fixture(spark, sf_dir, ("documents",), "docmeta", write)


@register(
    "source_custom_python",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def source_custom_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a format Spark doesn't know (pipe-delimited docmeta files)
    through a registered Python DataSource, then aggregate — proving the
    custom connector feeds the full engine like any built-in source.
    The staging export runs once; the oracle is the same aggregation on
    the original table (round-trip equality is what's under test)."""
    path = _stage_files(spark, sf_dir)
    spark.dataSource.register(DocMetaSource)
    df = spark.read.format("docmeta").option("path", path).load()
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Splittable Avro source: byte-range InputPartitions over ONE container
# file, sync-marker aligned (avrolite.iter_rows_in_range)
# ---------------------------------------------------------------------------

_AVRO_SPLITS = 8


class _AvroRangeReader(DataSourceReader):
    """Plans N byte-range partitions over a single Avro object container
    file — the split story binaryFile cannot give (it parallelizes by
    FILE, so one 10 GB container serializes onto one task). Each task
    mmaps the file, seeks to its range, aligns forward to the next
    validated sync marker and decodes exactly the blocks that START in
    its range — the Hadoop input-split contract, so a full cover yields
    every row exactly once with no coordination."""

    def __init__(self, options):
        self.path = options["path"]
        self.n_splits = int(options.get("splits", str(_AVRO_SPLITS)))

    def partitions(self):
        size = os.path.getsize(self.path)
        step = max(1, (size + self.n_splits - 1) // self.n_splits)
        return [
            InputPartition((lo, min(lo + step, size)))
            for lo in range(0, size, step)
        ]

    def read(self, partition):
        import mmap

        from sparkflow.sources import avrolite

        lo, hi = partition.value
        with open(self.path, "rb") as fh:
            with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                schema, _, _, _ = avrolite.parse_header(mm)
                names = [f["name"] for f in schema["fields"]]
                for rec in avrolite.iter_rows_in_range(mm, lo, hi):
                    yield tuple(rec[n] for n in names)


class AvroLiteSource(DataSource):
    """`spark.read.format("avrolite")` — splittable single-file Avro."""

    @classmethod
    def name(cls):
        return "avrolite"

    def schema(self):
        # the one staged shape; a general version would parse the header
        # driver-side and map Avro types to Spark DDL
        return ("o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus STRING, o_totalprice DOUBLE")

    def reader(self, schema):
        return _AvroRangeReader(self.options)


@register(
    "scan_avro_splittable",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def scan_avro_splittable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for LARGE Avro files: scan_avro (sources/io.py)
    parallelizes by file via binaryFile, which serializes a single big
    container onto one task; this operator reads ONE multi-block
    container (512 rows/block, deflate) through a Python DataSource
    that plans sync-aligned BYTE-RANGE partitions — 8 concurrent tasks
    over one file, each decoding only the blocks starting in its range
    (avrolite.iter_rows_in_range; collision-validated marker scan).
    Oracle: the original parquet table — the split cover must return
    every row exactly once, which is precisely what a misaligned or
    overlapping split would break."""
    from . import avrolite

    def write(base: str) -> None:
        schema = {
            "type": "record",
            "name": "orders",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_custkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        }
        pdf = (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    "o_totalprice")
            .toPandas()
        )  # fixture staging (one local file by design — the point is
        #    the SPLIT read); production containers arrive pre-written
        data = avrolite.write_container(
            schema, pdf.itertuples(index=False, name=None),
            codec="deflate", rows_per_block=512,
        )
        with open(os.path.join(base, "orders.avro"), "wb") as fh:
            fh.write(data)

    base = session_fixture(spark, sf_dir, ("orders",), "avro_one", write)
    path = os.path.join(base, "orders.avro")
    spark.dataSource.register(AvroLiteSource)
    return spark.read.format("avrolite").option("path", path).load()


# ---------------------------------------------------------------------------
# Custom STREAMING source (offset-tracked) — pytest-exercised twin
# ---------------------------------------------------------------------------

_SLICES = 5


class _EventSliceStreamReader(SimpleDataSourceStreamReader):
    """Replays the events table in `_SLICES` offset-tracked micro-batches
    (offset = slice index over event_id ranges) — the Kafka-shaped
    contract: resumable offsets, re-readable ranges (readBetweenOffsets
    is what checkpoint recovery calls), deterministic content."""

    def __init__(self, options):
        self.path = options["events_parquet"]
        self.lo = int(options["min_id"])
        self.hi = int(options["max_id"])  # inclusive
        self.step = (self.hi - self.lo + _SLICES) // _SLICES

    def initialOffset(self):
        return {"slice": 0}

    def _rows(self, s):
        import pyarrow.parquet as pq

        t = pq.read_table(self.path, columns=["event_id", "user_id", "value"])
        lo = self.lo + s * self.step
        hi = min(self.lo + (s + 1) * self.step, self.hi + 1)
        out = []
        for eid, uid, val in zip(
            t.column("event_id").to_pylist(),
            t.column("user_id").to_pylist(),
            t.column("value").to_pylist(),
        ):
            if lo <= eid < hi:
                out.append((eid, uid, val))
        return out

    def read(self, start):
        s = start["slice"]
        if s >= _SLICES:
            return iter([]), {"slice": s}
        return iter(self._rows(s)), {"slice": s + 1}

    def readBetweenOffsets(self, start, end):
        out = []
        for s in range(start["slice"], end["slice"]):
            out.extend(self._rows(s))
        return iter(out)


class EventSliceStreamSource(DataSource):
    @classmethod
    def name(cls):
        return "event_slices"

    def schema(self):
        return "event_id BIGINT, user_id BIGINT, value DOUBLE"

    def simpleStreamReader(self, schema):
        return _EventSliceStreamReader(self.options)


# ---------------------------------------------------------------------------
# Custom WRITER (two-phase commit) — completes the connector: Spark can
# now both read AND write the foreign docmeta format.
# ---------------------------------------------------------------------------

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class _DocMetaCommit(WriterCommitMessage):
    staged: str
    final: str
    n_rows: int


class _DocMetaWriter(DataSourceWriter):
    """Per-partition task writes to a UUID-staged file and returns a
    commit message; the driver-side commit() renames staged files into
    place ATOMICALLY-ENOUGH for a filesystem sink (task retries leave
    only orphaned staging, never half-visible data) — the same
    two-phase protocol every production Spark sink implements.

    Final names carry a per-JOB token (minted on the driver, shipped to
    tasks via pickling), so APPEND jobs never collide with a previous
    job's files; OVERWRITE clears the prior visible files inside
    commit(), after every task has succeeded — a failed overwrite leaves
    the old data fully intact."""

    def __init__(self, options, overwrite: bool):
        import uuid

        self.path = options["path"]
        self.overwrite = overwrite
        self.job = uuid.uuid4().hex[:12]  # one token per write job

    def write(self, iterator):
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"{uuid.uuid4().hex}.txt")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(f"{row.doc_id}|{row.lang}|{row.n_chars}\n")
                n += 1
        final = os.path.join(self.path, f"docmeta-w{self.job}-{pid:04d}.txt")
        return _DocMetaCommit(staged=staged, final=final, n_rows=n)

    def commit(self, messages):
        import os
        import shutil

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("docmeta-") and not f.startswith(
                    f"docmeta-w{self.job}-"
                ):
                    os.remove(os.path.join(self.path, f))
        for m in messages:
            os.replace(m.staged, m.final)
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


# extend the registered DataSource with the writer half
def _docmeta_writer(self, schema, overwrite):
    return _DocMetaWriter(self.options, overwrite)


DocMetaSource.writer = _docmeta_writer


@register(
    "sink_custom_python",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def sink_custom_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full custom-connector round trip: documents flow OUT through the
    Python DataSource WRITER (partition-parallel tasks, UUID staging,
    driver-side two-phase commit) into the foreign pipe-delimited
    format, then back IN through the reader, then aggregate. Oracle =
    the same aggregation on the original table, so write-path
    completeness (no lost/duplicated rows under the commit protocol) is
    exactly what the hash equality certifies."""
    spark.dataSource.register(DocMetaSource)

    def write(out: str) -> None:
        (
            table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .repartition(4)
            .write.format("docmeta")
            .option("path", out)
            .mode("overwrite")
            .save()
        )

    out = session_fixture(spark, sf_dir, ("documents",), "docmeta_sink", write)
    df = spark.read.format("docmeta").option("path", out).load()
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
