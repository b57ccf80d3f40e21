"""Durable content-addressed staging (r11 verdict item 1).

The contract under test: only maintenance keys and the bucket-family
keys publish staged artifacts, and every other registered query plans
from its inputs alone, whatever an earlier run published; a corpus
whose content digest changed can never serve the stale artifact (a
clean miss rebuilds); concurrent publishers never corrupt each other;
and the serving frames are bit-identical to the cold plans.
"""

from __future__ import annotations

import os
import shutil

from conftest import copy_corpus

import sparkflow
from sparkflow.sources import staging
from sparkflow.sources.io import VIEWS

_TABLES = {view.name: view.tables for view in VIEWS}

#: registered queries (plus bench's tumbling twin) that must never read
#: the shared staging root
_COLD_KEYS = ("agg_hash_group", "agg_distinct", "limit_topk",
              "join_multiway_star", "fn_json", "llm_knn_cosine")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_results_independent_of_published_artifacts(spark, private_corpus):
    """Run every key that publishes a staged artifact over the same
    corpus, then rebuild the cold queries: none of them may scan the
    shared staging root, and each returns exactly its first rows."""
    from bench import events_tumbling_batch

    sf = private_corpus
    queries = {k: sparkflow.QUERIES[k] for k in _COLD_KEYS}
    queries["events_tumbling_batch"] = events_tumbling_batch
    first = {k: _rows(fn(spark, sf)) for k, fn in queries.items()}
    publishers = sorted(
        k for k in sparkflow.QUERIES if k.startswith("maintenance_rollup_")
    ) + ["maintenance_json_materialize", "maintenance_knn_quantize",
         "join_multiway_star_bucketed"]
    for key in publishers:
        sparkflow.QUERIES[key](spark, sf).collect()
    assert staging.is_published(
        staging.shared_path("rollup", sf, _TABLES["pricing"], "pricing_serve")
    )
    for k, fn in queries.items():
        df = fn(spark, sf)
        staged = [p for p in df.inputFiles() if staging.SHARED_ROOT in p]
        assert not staged, (k, staged)
        assert _rows(df) == first[k], k


def test_digest_change_invalidates(spark, private_corpus):
    """The invalidation rule IS the address: stage against a private
    copy of the corpus, mutate the corpus (mtime bump — the cheapest
    change a rewrite makes), and the published artifact no longer
    resolves — the maintenance key rebuilds under the new digest and
    still returns the cold values."""
    sf = private_corpus
    cold = _rows(sparkflow.QUERIES["agg_distinct"](spark, sf))
    sparkflow.QUERIES["maintenance_rollup_distinct"](spark, sf).collect()

    def serve_path():
        return staging.shared_path(
            "rollup", sf, _TABLES["distinct"], "distinct_serve"
        )

    old = serve_path()
    assert staging.is_published(old)
    # mutate the corpus: same bytes, newer mtime — a conservative
    # staleness signal (rewrites always bump mtime)
    os.utime(os.path.join(sf, "events.parquet"))
    assert serve_path() != old and not staging.is_published(serve_path())
    got = _rows(sparkflow.QUERIES["maintenance_rollup_distinct"](spark, sf))
    assert got == cold
    assert staging.is_published(serve_path())


def test_corpus_rewritten_in_place_gets_new_answer(spark, private_corpus, duck):
    """Session memos (catalog.table's loaded frame, the KNN query row)
    and session fixtures (scan_schema_evolution's two producer files)
    are keyed on the corpus content, not its path: events and
    embeddings rewritten in place within one session answer as the
    rewritten corpus does. Embeddings lose rows, the minimum vec_id
    (the KNN query point) among them; events lose rows and the rest is
    written three times in small row groups, so the file grows and a
    frame holding the old file listing would silently skip its tail."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tools.check import compare

    sf = private_corpus
    keys = ("agg_distinct", "llm_knn_cosine", "scan_schema_evolution")
    before = {k: sparkflow.QUERIES[k](spark, sf).toPandas() for k in keys}
    ev_path, emb_path = (os.path.join(sf, f"{t}.parquet")
                         for t in ("events", "embeddings"))
    ev = pq.read_table(ev_path)
    kept = ev.filter(pc.not_equal(pc.bit_wise_and(ev["event_id"], 3), 0))
    pq.write_table(pa.concat_tables([kept] * 3), ev_path, row_group_size=100)
    emb = pq.read_table(emb_path)
    keep = pc.equal(pc.bit_wise_and(emb["vec_id"], 1), 1)
    pq.write_table(emb.filter(keep), emb_path)
    assert pc.min(emb["vec_id"]).as_py() % 2 == 0  # the query row goes
    con = duck(sf)
    for k in keys:
        got = sparkflow.QUERIES[k](spark, sf).toPandas()
        want = con.execute(sparkflow.ORACLES[k]).fetchdf()
        assert compare(got, want) == "EXACT", (k, compare(got, want))
        assert compare(before[k], want) != "EXACT", k


def test_same_named_corpora_get_their_own_fixtures(spark, sf_small, sf_med,
                                                   tmp_path, duck):
    """Two corpora with the same directory name and different content in
    one session: each key that reads a session fixture answers as its
    own corpus does, and a sink_parquet plan built over the first
    corpus still reads its own output after the second corpus's sink
    has been written."""
    from tools.check import compare

    corpora = [copy_corpus(sf_small, tmp_path / "a" / "corpus"),
               copy_corpus(sf_med, tmp_path / "b" / "corpus")]

    def check(key, sf, df):
        want = duck(sf).execute(sparkflow.ORACLES[key]).fetchdf()
        assert compare(df.toPandas(), want) == "EXACT", (key, sf)

    sink_first = sparkflow.QUERIES["sink_parquet"](spark, corpora[0])
    for sf in corpora:
        for key in ("scan_orc", "scan_schema_evolution"):
            check(key, sf, sparkflow.QUERIES[key](spark, sf))
    check("sink_parquet", corpora[1],
          sparkflow.QUERIES["sink_parquet"](spark, corpora[1]))
    check("sink_parquet", corpora[0], sink_first)


def test_session_dir_of_undigestable_corpus(tmp_path):
    """A corpus with no local data files to digest still gets a session
    fixture address, one per path."""
    from types import SimpleNamespace

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    a, b = (staging.session_dir(spark, str(tmp_path / d / "corpus"),
                                ("events",), "orc") for d in "ab")
    assert a != b and os.path.dirname(a) == os.path.dirname(b)


def test_concurrent_publish_loser_discards(tmp_path):
    """Two writers race the same artifact: both build private
    scratches, one rename wins, the loser's publish() is a no-op
    success that removes its scratch — never an error, never a
    corrupted final directory."""
    final = tmp_path / "shared" / "kind" / "digest" / "art"
    s1 = staging.scratch_path(str(final), "app-1")
    s2 = staging.scratch_path(str(final), "app-2")
    for s, payload in ((s1, "one"), (s2, "two")):
        os.makedirs(s)
        with open(os.path.join(s, "part-0"), "w") as fh:
            fh.write(payload)
    staging.publish(s1, str(final), {"who": 1})
    staging.publish(s2, str(final), {"who": 2})  # loser: must not raise
    assert staging.is_published(str(final))
    with open(final / "part-0") as fh:
        assert fh.read() == "one"  # winner's bytes, untouched
    assert not os.path.exists(s2)  # loser scratch discarded


def test_serve_frames_bit_identical(spark, sf_med):
    """The serving artifacts are written from the exact read-side
    expressions, so staged reads are bit-identical to the cold plans
    (parquet round-trips doubles losslessly) — checked on the Q1
    pricing frame, whose eight doubles are the most bit-fragile."""
    order = ["l_returnflag", "l_linestatus"]
    cold_pd = sparkflow.QUERIES["agg_hash_group"](spark, sf_med).toPandas()
    cold_pd = cold_pd.sort_values(order).reset_index(drop=True)
    warm_pd = sparkflow.QUERIES["maintenance_rollup_pricing"](
        spark, sf_med).toPandas().sort_values(order).reset_index(drop=True)
    assert cold_pd[warm_pd.columns].equals(warm_pd)  # exact, not approx


def test_staging_vacuum_lifecycle(spark, sf_small, tmp_path):
    """staging_vacuum (r12): live artifacts are never reclaimed (any
    age), crashed-writer scratches and stale/undigestable artifacts are
    reclaimed only past the min-age window (the open-reader contract),
    and empty parents disappear."""
    sf = copy_corpus(sf_small, tmp_path / "corpus", ("events",))

    def build():
        return (
            spark.read.parquet(os.path.join(sf, "events.parquet"))
            .groupBy("event_type").count()
        )

    staging.stage_parquet(
        spark, "testvac", sf, ["events"], "counts", build
    )
    live = staging.shared_path("testvac", sf, ["events"], "counts")
    assert staging.is_published(live)

    # live artifacts survive even a zero-age vacuum
    s = staging.staging_vacuum(min_age_sec=0.0)
    assert staging.is_published(live)
    assert s["kept_live"] >= 1

    # crashed-writer scratches: an OLD one is reclaimed, a YOUNG one is
    # protected by the window
    old_scratch = staging.scratch_path(live, "crashed-app")
    young_scratch = staging.scratch_path(live + "2", "live-app")
    for p in (old_scratch, young_scratch):
        os.makedirs(p)
        with open(os.path.join(p, "part-000"), "w") as fh:
            fh.write("x")
    past = os.path.getmtime(old_scratch) - 7200
    os.utime(old_scratch, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert not os.path.exists(old_scratch) and s["removed_scratch"] == 1
    assert os.path.exists(young_scratch) and s["kept_young"] >= 1
    shutil.rmtree(young_scratch)

    # mutate the corpus: the artifact is now stale (unreachable) but a
    # YOUNG manifest keeps it (an open reader may still be scanning)
    os.utime(os.path.join(sf, "events.parquet"))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert staging.is_published(live)

    # ... and past the window it is reclaimed, parents swept
    manifest = os.path.join(live, "_sparkflow_manifest.json")
    os.utime(manifest, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert not os.path.exists(live) and s["removed_stale"] == 1
    assert not os.path.exists(os.path.dirname(live))  # empty digest dir

    # a corpus that VANISHED entirely -> undigestable, same age rule
    staging.stage_parquet(
        spark, "testvac", sf, ["events"], "counts", build
    )
    gone = staging.shared_path("testvac", sf, ["events"], "counts")
    shutil.rmtree(sf)
    mf = os.path.join(gone, "_sparkflow_manifest.json")
    os.utime(mf, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert not os.path.exists(gone) and s["removed_undigestable"] == 1


def test_mid_read_publish_never_tears(spark, sf_small, tmp_path):
    """r13 (r12 verdict item 9): a concurrent ingest publishing while a
    reader holds the current artifact must never serve a torn frame.
    Three guarantees, each pinned:

    1. a writer MID-BUILD is invisible — its scratch (data files, no
       manifest, not renamed) is not published;
    2. an ingest that mutates the corpus publishes under a NEW digest
       address — the open reader's resolved frame is untouched and
       collects identical rows after the publish;
    3. the superseded artifact survives the age-guarded vacuum inside
       the open-reader window and is reclaimed after it."""
    import pandas as pd

    sf = copy_corpus(sf_small, tmp_path / "corpus")
    from sparkflow.catalog import table as _table

    def build():
        return _table(spark, sf, "events").groupBy("event_type").count()

    # (1) mid-build: scratch with data but no manifest/rename -> miss
    final = staging.shared_path("race", sf, ("events",), "counts")
    scratch = staging.scratch_path(final, "torn-writer")
    build().write.mode("overwrite").parquet(scratch)
    assert not staging.is_published(final)
    shutil.rmtree(scratch)

    # publish for real and resolve an open reader over it
    reader = staging.stage_parquet(
        spark, "race", sf, ("events",), "counts", build
    )
    assert staging.is_published(final)
    before = reader.toPandas().sort_values("event_type").reset_index(drop=True)
    assert len(before) > 0

    # (2) concurrent ingest: corpus mutates (append-style mtime bump),
    # the ingest session publishes under the NEW digest
    old_final = final
    os.utime(os.path.join(sf, "events.parquet"))
    new_final = staging.shared_path("race", sf, ("events",), "counts")
    assert new_final != old_final
    staging.stage_parquet(spark, "race", sf, ("events",), "counts", build)
    assert staging.is_published(new_final)

    # (3) age-guarded vacuum keeps the superseded artifact inside the
    # open-reader window...
    staging.staging_vacuum(min_age_sec=3600)
    assert staging.is_published(old_final)
    # ...and the open reader still collects the identical, un-torn frame
    after = reader.toPandas().sort_values("event_type").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # window over (reader gone): the orphan is reclaimed, the live
    # (new-digest) artifact is kept at any age
    staging.staging_vacuum(min_age_sec=0)
    assert not os.path.exists(old_final)
    assert staging.is_published(new_final)
    shutil.rmtree(new_final, ignore_errors=True)


def test_maintenance_vacuum_sweeps_staging_root(spark, sf_small, tmp_path):
    """r13 (r12 verdict item 9): the registered maintenance_vacuum key
    also garbage-collects the shared staging root — a backdated orphan
    (its corpus deleted, manifest older than the 1-hour window) is
    reclaimed by running THE KEY, while a live artifact for an intact
    corpus survives, and the key's own output stays non-empty."""
    # live artifact on a private corpus copy
    sf = copy_corpus(sf_small, tmp_path / "live_corpus")
    from sparkflow.catalog import table as _table

    staging.stage_parquet(
        spark, "mvkind", sf, ("events",), "live", lambda: _table(
            spark, sf, "events").groupBy("event_type").count(),
    )
    live_path = staging.shared_path("mvkind", sf, ("events",), "live")

    # orphan artifact whose corpus is then deleted; manifest backdated
    # beyond the open-reader window
    gone = copy_corpus(sf_small, tmp_path / "gone_corpus", ("events",))
    orphan_path = staging.shared_path("mvkind", gone, ("events",), "dead")
    staging.stage_parquet(
        spark, "mvkind", gone, ("events",), "dead", lambda: _table(
            spark, gone, "events").groupBy("event_type").count(),
    )
    shutil.rmtree(gone)
    old = 4000.0
    import time

    manifest = os.path.join(orphan_path, "_sparkflow_manifest.json")
    os.utime(manifest, (time.time() - old, time.time() - old))

    out = sparkflow.QUERIES["maintenance_vacuum"](spark, sf_small).collect()
    assert len(out) > 0
    assert not os.path.exists(orphan_path), "orphan survived the sweep"
    assert staging.is_published(live_path), "live artifact was reclaimed"
    shutil.rmtree(live_path, ignore_errors=True)


def test_staging_vacuum_keeps_unverifiable_source(
        spark, sf_small, tmp_path, monkeypatch):
    """r13 + r14 advice, composed: a TRANSIENT I/O failure digesting a
    still-present source corpus (unmounted volume, permission hiccup)
    must NOT class a live warm artifact as garbage — kept_unverifiable,
    any age, re-checked next sweep. But the DETERMINISTIC
    FileNotFoundError corpus_digest raises when the corpus dir exists
    with its table files permanently deleted ('no data files') is
    permanently unresolvable — keeping those forever is a disk leak, so
    they sweep as undigestable past the age window (r14 advice)."""
    sf = copy_corpus(sf_small, tmp_path / "corpus_unv", ("events",))

    def build():
        return (
            spark.read.parquet(os.path.join(sf, "events.parquet"))
            .groupBy("event_type").count()
        )

    staging.stage_parquet(
        spark, "testunv", sf, ["events"], "counts", build
    )
    live = staging.shared_path("testunv", sf, ["events"], "counts")
    assert staging.is_published(live)

    # transient failure: source dir present, digest raises a
    # non-FileNotFoundError OSError -> kept, any age
    mf = os.path.join(live, "_sparkflow_manifest.json")
    past = os.path.getmtime(mf) - 7200
    os.utime(mf, (past, past))
    real_digest = staging.corpus_digest

    def flaky_digest(sf_dir, tables):
        if os.path.abspath(sf_dir) == os.path.abspath(sf):
            raise OSError(5, "I/O error")
        return real_digest(sf_dir, tables)

    monkeypatch.setattr(staging, "corpus_digest", flaky_digest)
    s = staging.staging_vacuum(min_age_sec=3600)
    assert staging.is_published(live)
    assert s.get("kept_unverifiable", 0) == 1

    # stat RACE (r15 advice): a concurrent corpus rewrite deletes a
    # listed file between listing and stat — corpus_digest raises a
    # plain FileNotFoundError that is NOT CorpusEmptyError. The source
    # dir exists, so the artifact must be kept unverifiable (the old
    # blanket FileNotFoundError handler deleted it as undigestable).
    def racy_digest(sf_dir, tables):
        if os.path.abspath(sf_dir) == os.path.abspath(sf):
            raise FileNotFoundError(2, "raced stat", "events.parquet")
        return real_digest(sf_dir, tables)

    monkeypatch.setattr(staging, "corpus_digest", racy_digest)
    os.utime(mf, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert staging.is_published(live)
    assert s.get("kept_unverifiable", 0) == 1
    monkeypatch.setattr(staging, "corpus_digest", real_digest)

    # permanent no-data-files: dir exists, table files deleted ->
    # corpus_digest's deterministic FileNotFoundError -> undigestable,
    # swept once past the age window (NOT kept forever)
    os.remove(os.path.join(sf, "events.parquet"))
    os.utime(mf, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert not os.path.exists(live)
    assert s["removed_undigestable"] >= 1


def test_staging_vacuum_stale_digest_sweeps(spark, sf_small, tmp_path):
    """A source that digests SUCCESSFULLY to a different address is the
    ordinary stale case: swept past the window (split out of the
    unverifiable test when r14 advice tightened no-data-files)."""
    sf = copy_corpus(sf_small, tmp_path / "corpus_stale", ("events",))

    def build():
        return (
            spark.read.parquet(os.path.join(sf, "events.parquet"))
            .groupBy("event_type").count()
        )

    staging.stage_parquet(
        spark, "teststale", sf, ["events"], "counts", build
    )
    live = staging.shared_path("teststale", sf, ["events"], "counts")
    assert staging.is_published(live)

    # rewrite the source file -> mtime bump -> different digest
    shutil.copy(
        os.path.join(sf_small, "events.parquet"),
        os.path.join(sf, "events.parquet"),
    )
    mf = os.path.join(live, "_sparkflow_manifest.json")
    past = os.path.getmtime(mf) - 7200
    os.utime(mf, (past, past))
    s = staging.staging_vacuum(min_age_sec=3600)
    assert not os.path.exists(live)
    assert s["removed_stale"] >= 1


#: the partials schema of each view at sf0.001, as published
_PARTIALS_LAYOUT = {
    "tumbling": "struct<hour_start:timestamp,event_type:string,"
                "n_events:bigint,value_cents:bigint>",
    "distinct": "struct<event_type:string,bucket:bigint,bm:binary,"
                "n_events:bigint>",
    "pricing": "struct<l_returnflag:string,l_linestatus:string,"
               "qty_c:bigint,price_c:bigint,disc_price_u:bigint,"
               "charge_u:bigint,disc_c:bigint,n_qty:bigint,n_price:bigint,"
               "n_disc:bigint,n_all:bigint>",
    "q5": "struct<nation:string,o_year:int,rev_u:bigint,n_items:bigint>",
    "q3": "struct<o_orderkey:bigint,o_orderdate:timestamp_ntz,"
          "rev_u:bigint,n_items:bigint>",
}


def test_partials_layouts_pinned(spark, sf_small):
    """A published partials artifact is addressed by corpus content and
    name only, so a directory written by an older layout would be read
    as the new one: each view's partials schema is pinned here."""
    from sparkflow.catalog import table

    assert sorted(_PARTIALS_LAYOUT) == sorted(_TABLES)
    for view in VIEWS:
        src = table(spark, sf_small, view.tables[0])
        got = view.partials(spark, sf_small, src).schema.simpleString()
        assert got == _PARTIALS_LAYOUT[view.name], (
            f"{view.name} partials layout changed; a layout change also "
            f"needs a new artifact name, or published partials of the old "
            f"layout are served as the new one: {got}")
