"""Shared fixtures: one tuned local SparkSession per test session, sf
dirs, a private corpus copy, and a DuckDB oracle connection factory."""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb
import pytest

# this checkout first, so its own sparkflow/tools are the ones imported
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sparkflow.catalog import TABLES
from sparkflow.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparkflow-tests", shuffle_partitions=8)
    # transformWithStateInPandas requires the RocksDB state store provider
    s.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med() -> str:
    return SF_MED


def copy_corpus(src: str, dst, tables=TABLES) -> str:
    """Copy the data files of `tables` from corpus `src` into the new
    directory `dst`; returns its path."""
    os.makedirs(dst)
    for t in tables:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        os.path.join(dst, f"{t}.parquet"))
    return str(dst)


@pytest.fixture
def private_corpus(spark, sf_small, tmp_path):
    """A private copy of sf_small. On teardown every artifact published
    for it under the shared staging root is removed (matched by the
    manifest's recorded sf_dir), together with the session's bucketed
    registrations over it, so a test leaves no staged state behind."""
    sf = copy_corpus(sf_small, tmp_path / "corpus")
    yield sf
    remove_published(spark, sf)


def published_for(sf: str) -> list:
    """(kind, digest, artifact dir) of every artifact under the shared
    staging root whose manifest names `sf` as its sf_dir."""
    from sparkflow.sources import staging

    root = staging.SHARED_ROOT
    found = []
    for kind in os.listdir(root) if os.path.isdir(root) else ():
        for digest in os.listdir(os.path.join(root, kind)):
            ddir = os.path.join(root, kind, digest)
            for name in os.listdir(ddir):
                manifest = os.path.join(ddir, name, "_sparkflow_manifest.json")
                try:
                    with open(manifest, encoding="utf-8") as fh:
                        mine = json.load(fh).get("sf_dir") == sf
                except (OSError, ValueError):
                    continue
                if mine:
                    found.append((kind, digest, os.path.join(ddir, name)))
    return found


def remove_published(spark, sf: str) -> None:
    """Remove every artifact published for `sf` (published_for) and the
    session's bucketed catalog registrations over it."""
    for kind, digest, path in published_for(sf):
        shutil.rmtree(path, ignore_errors=True)
        if kind == "bucketed":
            for row in spark.sql(
                f"SHOW TABLES LIKE 'sparkflow_bucketed_*_{digest}'"
            ).collect():
                spark.sql(f"DROP TABLE IF EXISTS {row.tableName}")
        if not os.listdir(os.path.dirname(path)):
            os.rmdir(os.path.dirname(path))


@pytest.fixture(scope="session")
def duck():
    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con

    return connect


class FakeTimerState:
    """applyInPandasWithState GroupState stand-in with the event-time
    timer surface: lets a test drive a keyed CEP function
    (stateful.cep_keyed_fn) across hand-built or random micro-batch
    splits without a streaming query. The test sets wm_ms per batch,
    and hasTimedOut for a timer call."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.wm_ms = 0
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms > self.wm_ms, "timer must be beyond the watermark"
        self.timeout_ms = ms
