"""True-streaming twins vs their oracle-checked batch analogs.

Events are replayed as 3 sequential files → 3 micro-batches
(maxFilesPerTrigger=1), so keyed state genuinely crosses batch
boundaries and event-time timers genuinely fire on watermark advance.
"""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import FakeTimerState

import sparkflow
from sparkflow.streaming import stateful


@pytest.fixture(scope="module")
def stream_dir(spark, sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream"))
    return stateful.split_events_to_files(spark, sf_small, out, n_files=3)


def _collect(spark, stream_df, name, mode="append"):
    stateful.run_to_memory(stream_df, name, mode)
    return spark.table(name).toPandas()


def test_stateful_counter_matches_analog(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.stateful_counter_stream(spark, stream_dir, sf_small),
        "t_counter",
    ).sort_values("event_id").reset_index(drop=True)
    want = (
        sparkflow.QUERIES["stream_stateful_counter"](spark, sf_small)
        .toPandas()[["event_id", "running_count", "running_sum"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "running_count", "running_sum"]], want, check_dtype=False
    )
    # a key's micro-batch whose id order differs from its time order
    # counts in (ts, event_id) order, as the analog's window does
    batch = pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": pd.to_datetime(["2024-01-01 00:00:02", "2024-01-01 00:00:01",
                              "2024-01-01 00:00:01"]),
        "value": [1.0, 2.0, 4.0],
    })
    (out,) = stateful._counter_fn((7,), iter([batch]), FakeTimerState())
    assert out["event_id"].tolist() == [2, 3, 1]
    assert out["running_count"].tolist() == [1, 2, 3]
    assert out["running_sum"].tolist() == [2.0, 6.0, 7.0]


def test_dedup_within_watermark_matches_analog(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.dedup_within_watermark_stream(spark, stream_dir, sf_small),
        "t_dedup",
    ).sort_values(["user_id", "event_type"]).reset_index(drop=True)
    want = (
        sparkflow.QUERIES["stream_dedup"](spark, sf_small)
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_interval_join_stream_matches_batch(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.interval_join_stream(spark, stream_dir, sf_small),
        "t_ivjoin",
    ).sort_values(["click_id", "purchase_id"]).reset_index(drop=True)
    want = (
        sparkflow.QUERIES["join_interval"](spark, sf_small)
        .toPandas()
        .sort_values(["click_id", "purchase_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_update_mode_aggregation_upserts_to_batch(spark, stream_dir, sf_small):
    """Flink retract-stream analog: a watermarked groupBy in
    outputMode('update') emits per-batch UPSERTS through foreachBatch;
    applying them in order (last write per key wins) must converge to
    the batch aggregation exactly."""
    from pyspark.sql import functions as F

    ev = stateful._events_stream(spark, stream_dir, sf_small)
    agg = ev.withWatermark("ts", "10 seconds").groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias("cents"),
    )
    upserts: dict[tuple, tuple] = {}
    batches = []

    def apply_upserts(bdf, bid):
        rows = bdf.collect()
        batches.append(len(rows))
        for r in rows:
            upserts[(r["user_id"], r["event_type"])] = (r["n"], r["cents"])

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(apply_upserts)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode re-emits only CHANGED keys per micro-batch: total rows
    # across batches must exceed the distinct key count (proof of true
    # upserts, not a single complete dump)
    assert sum(batches) > len(upserts)
    want = {
        (r["user_id"], r["event_type"]): (r["n"], r["cents"])
        for r in sparkflow.catalog.table(spark, sf_small, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias("cents"),
        )
        .collect()
    }
    assert upserts == want


def test_timeout_timers_fire(spark, stream_dir, sf_small):
    """In-batch gaps must exactly match the analog's non-final rows;
    timer-emitted trailing silences (-1) must be a subset of users whose
    final gap the analog marks with NULL silence."""
    got = _collect(
        spark,
        stateful.timeout_session_stream(spark, stream_dir, sf_small),
        "t_quiet",
    )
    analog = sparkflow.QUERIES["stream_timeout_session"](spark, sf_small).toPandas()
    analog_us = (
        pd.to_datetime(analog["quiet_since"]).astype("datetime64[us]").astype("int64")
    )
    # non-final (real gap) rows
    got_gaps = got[got["silence_seconds"] >= 0]
    want_gaps = analog[analog["silence_seconds"].notna()]
    assert sorted(got_gaps["quiet_since_us"]) == sorted(
        analog_us[analog["silence_seconds"].notna()]
    )
    assert sorted(got_gaps["silence_seconds"]) == sorted(
        want_gaps["silence_seconds"].astype("int64")
    )
    # trailing silences: subset of analog's NULL-silence rows (watermark
    # only advances with data, so the very last users' timers may not fire)
    final_want = set(analog_us[analog["silence_seconds"].isna()])
    got_final = got[got["silence_seconds"] == -1]
    assert set(got_final["quiet_since_us"]).issubset(final_want)
    # a key's micro-batch whose id order differs from its time order:
    # the 3 h gap between its two events is a quiet row
    state = FakeTimerState()
    batch = pd.DataFrame({
        "event_id": [1, 2],
        "ts": pd.to_datetime(["2024-01-01 03:00:00", "2024-01-01 00:00:00"]),
    })
    (out,) = stateful._quiet_fn((7,), iter([batch]), state)
    t0 = int(pd.Timestamp("2024-01-01").value // 1000)
    assert out["quiet_since_us"].tolist() == [t0]
    assert out["silence_seconds"].tolist() == [3 * 3600]
    assert state.get == (t0 + 3 * 3600 * 1_000_000,)


def test_tumbling_append_emits_closed_windows_only(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.tumbling_append_stream(spark, stream_dir, sf_small),
        "t_tumble_append",
    )
    complete = (
        sparkflow.QUERIES["stream_tumbling"](spark, sf_small)
        .toPandas()[["hour_start", "event_type", "n_events"]]
    )
    # append-mode output ⊆ complete-mode output, and every emitted window
    # agrees exactly on its counts
    merged = got.merge(
        complete, on=["hour_start", "event_type"], suffixes=("_got", "_want")
    )
    assert len(merged) == len(got)
    assert (merged["n_events_got"] == merged["n_events_want"]).all()
    assert len(got) > 0, "watermark must have closed at least one window"


def test_session_window_native_equals_lag_cumsum_rewrite(spark, duck, sf_small):
    """SURVEY §7 hard item 4: F.session_window merge semantics equal the
    lag-gap cumulative rewrite (which is the DuckDB oracle)."""
    sdf = sparkflow.QUERIES["stream_session"](spark, sf_small).toPandas()
    odf = duck(sf_small).execute(sparkflow.ORACLES["stream_session"]).fetchdf()
    from tools.check import compare

    assert compare(sdf, odf) == "EXACT"


def test_sessionize_consistent_with_session_aggregate(spark, sf_small):
    """events_sessionize (event-level assignment) and stream_session
    (aggregate form) implement the SAME 30-min gap rule through
    different machinery (running-sum marks + opener-rank trick vs
    native F.session_window merge): per user, the assignment's max
    session_seq must equal the aggregate's session count, and summing
    events per (user, session_seq) must reproduce the aggregate's
    per-session n_events multiset."""
    import pandas as pd

    assign = sparkflow.QUERIES["events_sessionize"](spark, sf_small).toPandas()
    agg = sparkflow.QUERIES["stream_session"](spark, sf_small).toPandas()
    n_sessions_a = assign.groupby("user_id")["session_seq"].max()
    n_sessions_b = agg.groupby("user_id").size()
    pd.testing.assert_series_equal(
        n_sessions_a.sort_index(), n_sessions_b.sort_index(),
        check_names=False, check_dtype=False,
    )
    sizes_a = (
        assign.groupby(["user_id", "session_seq"]).size()
        .groupby("user_id").apply(lambda s: sorted(s.tolist()))
    )
    sizes_b = (
        agg.groupby("user_id")["n_events"]
        .apply(lambda s: sorted(int(x) for x in s))
    )
    pd.testing.assert_series_equal(
        sizes_a.sort_index(), sizes_b.sort_index(),
        check_names=False, check_dtype=False,
    )
    # within-session positions are 1..k dense
    k = assign.groupby(["user_id", "session_seq"])["event_in_session"]
    assert (k.min() == 1).all() and (k.max() == k.size()).all()


def test_asof_tolerance_guards(spark, sf_small):
    """join_asof_tolerance: staleness is present iff the match is, and
    always within [0, 24h]; rows whose plain as-of match is fresh must
    agree with join_asof's answer."""
    tol = sparkflow.QUERIES["join_asof_tolerance"](spark, sf_small).toPandas()
    both_null = tol["asof_event_id"].isna() == tol["staleness_us"].isna()
    assert both_null.all()
    s = tol["staleness_us"].dropna()
    assert ((s >= 0) & (s <= 86400 * 1_000_000)).all()
    plain = sparkflow.QUERIES["join_asof"](spark, sf_small).toPandas()
    merged = tol.merge(plain, on=["o_orderkey", "user_id"], suffixes=("", "_plain"))
    fresh = merged["asof_event_id"].notna()
    assert (
        merged.loc[fresh, "asof_event_id"]
        == merged.loc[fresh, "asof_event_id_plain"]
    ).all()


def test_stream_static_join_matches_batch(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.stream_static_join_stream(spark, stream_dir, sf_small),
        "t_ss_join",
    ).sort_values("event_id").reset_index(drop=True)
    want = (
        sparkflow.QUERIES["join_stream_static"](spark, sf_small)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_out_of_order_replay_drops_late_rows(spark, sf_small, tmp_path_factory):
    """SURVEY §5.3: replay events in interleaved (out-of-order) slices.
    With a finite watermark delay, windows closed by batch 1's watermark
    must reject batch 2/3's late rows: append-mode totals come out
    strictly below the complete-mode totals, and every emitted window
    must match the analog's bucket count minus late arrivals (i.e. never
    exceed it)."""
    out = str(tmp_path_factory.mktemp("ooo_stream"))
    files = stateful.split_events_out_of_order(spark, sf_small, out, n_files=3)
    got = _collect(
        spark,
        stateful.tumbling_append_stream(spark, files, sf_small, delay="10 minutes"),
        "t_ooo_tumble",
    )
    complete = (
        sparkflow.QUERIES["stream_tumbling"](spark, sf_small)
        .toPandas()[["hour_start", "event_type", "n_events"]]
    )
    merged = got.merge(
        complete, on=["hour_start", "event_type"], suffixes=("_got", "_want")
    )
    assert len(merged) == len(got)
    assert (merged["n_events_got"] <= merged["n_events_want"]).all()
    assert (merged["n_events_got"] < merged["n_events_want"]).any(), (
        "out-of-order replay should have produced at least one late drop"
    )
    total_got = got["n_events"].sum()
    total_all = complete["n_events"].sum()
    assert total_got < total_all


def test_gap_fill_stream_matches_analog(spark, stream_dir, sf_small):
    """Streaming gap-fill must equal the oracle-checked analog on every
    hour except each user's final hour (which the incremental form can
    only close when a later event arrives — it never does for the last
    one)."""
    got = _collect(
        spark, stateful.gap_fill_stream(spark, stream_dir, sf_small), "t_gapfill"
    )
    analog = sparkflow.QUERIES["stream_gap_fill"](spark, sf_small).toPandas()
    analog = analog.assign(
        hour_us=pd.to_datetime(analog["hour"]).astype("datetime64[us]").astype("int64")
    )
    last_hour = analog.groupby("user_id")["hour_us"].max()
    want = analog[
        analog["hour_us"] < analog["user_id"].map(last_hour)
    ][["user_id", "hour_us", "filled_value"]]
    got_s = got.sort_values(["user_id", "hour_us"]).reset_index(drop=True)
    want_s = want.sort_values(["user_id", "hour_us"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_dtype=False)


def test_sliding_window_streaming_append(spark, stream_dir, sf_small):
    """Emitted sliding windows (closed by the final watermark) must match
    the batch analog exactly on those windows, and cover every window
    whose end precedes the pre-final-batch watermark."""
    got = _collect(
        spark,
        stateful.sliding_window_stream(spark, stream_dir, sf_small),
        "t_sliding",
    )
    want = sparkflow.QUERIES["stream_sliding"](spark, sf_small).toPandas()
    want_map = {
        pd.Timestamp(r["window_start"]).value // 1000: (r["n_events"], round(r["value_sum"], 2))
        for _, r in want.iterrows()
    }
    assert len(got) > 0
    for _, r in got.iterrows():
        k = pd.Timestamp(r["window_start"]).value // 1000
        assert want_map[k] == (r["n_events"], round(r["value_sum"], 2)), k


def test_session_window_streaming_append(spark, stream_dir, sf_small):
    got = _collect(
        spark,
        stateful.session_window_stream(spark, stream_dir, sf_small),
        "t_sess_stream",
    )
    batch = (
        sparkflow.QUERIES["stream_session"](spark, sf_small)
        .toPandas()[["user_id", "session_start", "session_end", "n_events"]]
    )
    merged = got.merge(
        batch, on=["user_id", "session_start", "session_end"], suffixes=("_g", "_w")
    )
    assert len(merged) == len(got), "every emitted session must exist in batch"
    assert (merged["n_events_g"] == merged["n_events_w"]).all()
    assert len(got) > 0


def test_checkpoint_recovery_exactly_once(spark, sf_small, tmp_path_factory):
    """Exactly-once restart: run a checkpointed foreachBatch aggregation
    over the first half of the files, STOP the query, then restart from
    the same checkpoint with all files present. The recovered run must
    not reprocess committed batches (batch-id staging stays consistent)
    and the final re-aggregated result must equal the batch answer."""
    import os
    import shutil

    from pyspark.sql import functions as F

    base = str(tmp_path_factory.mktemp("ckpt_stream"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    half_dir = os.path.join(base, "half")
    os.makedirs(half_dir)
    files = sorted(os.listdir(full))
    for f in files[:2]:
        shutil.copy(os.path.join(full, f), os.path.join(half_dir, f))
        os.utime(os.path.join(half_dir, f), (1_700_000_000, 1_700_000_000))

    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    schema = spark.read.parquet(full).schema

    def run(src_dir):
        def write_batch(bdf, bid):
            (
                bdf.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(os.path.join(sink, f"batch_{bid}"))
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(half_dir)  # first run: 2 files, then clean stop
    batches_after_first = set(os.listdir(sink))
    # "restart" against the full directory (the 2 committed files + 2 new)
    for f in files:
        dst = os.path.join(half_dir, f)
        if not os.path.exists(dst):
            shutil.copy(os.path.join(full, f), dst)
            os.utime(dst, (1_700_000_100, 1_700_000_100))
    run(half_dir)
    # committed batches were not reprocessed into new ids
    assert batches_after_first.issubset(set(os.listdir(sink)))
    got = (
        spark.read.parquet(os.path.join(sink, "batch_*"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_events"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.catalog.table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_micro_batch_killed_mid_write_recovers_exactly_once(
    spark, sf_small, tmp_path_factory
):
    """Failure injection on the foreachBatch two-phase path (VERDICT r4
    item 5): the sink stages each batch to a temp dir and COMMITS via
    atomic rename; the injected fault kills the query after batch 2's
    data files are fully written but BEFORE the commit rename — the
    worst spot, a crash mid-write with complete-looking partial output
    on disk. On restart from the same checkpoint Structured Streaming
    must re-deliver the SAME batch id with the same offsets; the
    staging overwrite + rename then commits it exactly once. Proves:
    (a) the partial output was never visible as committed, (b) no batch
    id is duplicated or missing after recovery, (c) the re-aggregated
    sink equals the batch answer row for row."""
    import os
    import shutil

    from pyspark.sql import functions as F

    base = str(tmp_path_factory.mktemp("crash_stream"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    os.makedirs(sink)
    crash_marker = os.path.join(base, "crashed_once")
    schema = spark.read.parquet(full).schema

    def write_batch(bdf, bid):
        agg = bdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        staging = os.path.join(sink, f"_staging_batch_{bid}")
        final = os.path.join(sink, f"batch_{bid}")
        if os.path.isdir(staging):  # stale staging from a crashed attempt
            shutil.rmtree(staging)
        agg.write.parquet(staging)
        if bid == 2 and not os.path.exists(crash_marker):
            with open(crash_marker, "w") as fh:
                fh.write("x")
            raise RuntimeError("injected crash after write, before commit")
        os.rename(staging, final)  # the commit point

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(full)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()

    committed = {d for d in os.listdir(sink) if not d.startswith("_")}
    assert committed == {"batch_0", "batch_1"}, committed
    # the killed batch's partial output exists but was never committed
    assert os.path.isdir(os.path.join(sink, "_staging_batch_2"))

    run()  # restart from the same checkpoint: batch 2 retried, 3 runs

    committed = sorted(d for d in os.listdir(sink) if not d.startswith("_"))
    assert committed == ["batch_0", "batch_1", "batch_2", "batch_3"], committed
    got = (
        spark.read.parquet(os.path.join(sink, "batch_*"))
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_events"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.catalog.table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_dynamic_rules_reload_between_batches(spark, sf_small, tmp_path_factory):
    """Broadcast-state dynamic rules: rules csv is swapped while the
    query runs (between micro-batches, via foreachBatch hook) — events
    in later batches must be judged by the NEW thresholds."""
    import os

    base = str(tmp_path_factory.mktemp("rules_stream"))
    files = stateful.split_events_to_files(spark, sf_small, base, n_files=2)
    rules_dir = os.path.join(base, "rules")
    os.makedirs(rules_dir)

    def write_rules(threshold):
        with open(os.path.join(rules_dir, "rules.csv"), "w") as f:
            for t in ["click", "purchase", "error", "view", "signup"]:
                f.write(f"{t},{threshold}\n")

    write_rules(1000.0)  # batch 0: nothing alerts
    seen = {}

    stream = stateful.dynamic_rules_stream(spark, files, sf_small, rules_dir)

    def sink(bdf, bid):
        from pyspark.sql import functions as F

        seen[bid] = bdf.agg(F.sum("alert")).collect()[0][0]
        write_rules(-1.0)  # after the first batch: everything alerts

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    assert len(seen) >= 2
    batches = sorted(seen)
    assert seen[batches[0]] == 0, "threshold 1000 must alert nothing"
    assert seen[batches[-1]] > 0, "reloaded threshold -1 must alert everything"


def test_stream_stream_left_outer_join(spark, stream_dir, sf_small):
    """Matched rows must equal the batch inner join; null-extended rows
    must be exactly clicks WITHOUT a matching purchase (modulo trailing
    clicks whose watermark never closed — availableNow ends with the
    data, so the tail can be missing but never wrong)."""
    got = _collect(
        spark,
        stateful.interval_left_join_stream(spark, stream_dir, sf_small),
        "t_loj",
    )
    inner = sparkflow.QUERIES["join_interval"](spark, sf_small).toPandas()
    matched = got[got["purchase_id"].notna()]
    assert sorted(matched["click_id"]) == sorted(inner["click_id"])
    # every null-extension is a genuinely unmatched click
    unmatched_got = set(got[got["purchase_id"].isna()]["click_id"])
    assert not (unmatched_got & set(inner["click_id"]))
    # and the watermark did close some windows (null rows were emitted)
    assert len(unmatched_got) > 0


def test_cdc_final_state_matches_pandas_replay(spark, sf_small):
    """Replaying the changelog imperatively in pandas must produce the
    same final table as the window formulation."""
    got = sparkflow.QUERIES["stream_changelog_cdc"](spark, sf_small).toPandas()
    ev = (
        sparkflow.catalog.table(spark, sf_small, "events")
        .selectExpr("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    state = {}
    for r in ev.itertuples():
        if r.event_type == "error":
            state.pop(r.user_id, None)
        else:
            state[r.user_id] = (r.event_id, r.value)
    assert len(got) == len(state)
    for r in got.itertuples():
        eid, val = state[r.user_id]
        assert r.last_event_id == eid and r.final_value == val


def test_cdc_stream_matches_batch_analog(spark, stream_dir, sf_small):
    """Final per-user snapshot from the streaming CDC state machine must
    equal the batch last-writer-wins materialization."""
    got = _collect(
        spark,
        stateful.changelog_cdc_stream(spark, stream_dir, sf_small),
        "t_cdc",
    )
    last = (
        got.sort_values(["ts_us", "last_event_id"])
        .groupby("user_id")
        .tail(1)
    )
    alive = last[last["alive"] == 1].set_index("user_id")
    want = (
        sparkflow.QUERIES["stream_changelog_cdc"](spark, sf_small)
        .toPandas()
        .set_index("user_id")
    )
    assert set(alive.index) == set(want.index)
    want = want.loc[alive.index]
    assert (alive["last_event_id"].to_numpy() == want["last_event_id"].to_numpy()).all()
    assert (alive["final_value"].to_numpy() == want["final_value"].to_numpy()).all()


def test_custom_stream_source_replays_all_events(spark, sf_small):
    """The offset-tracked custom streaming source must replay the whole
    events table across micro-batches with no loss or duplication, and
    its exact cents total must equal the batch read."""
    import time

    from sparkflow.sources.custom import EventSliceStreamSource

    ev = sparkflow.catalog.table(spark, sf_small, "events")
    lo, hi = ev.selectExpr("min(event_id)", "max(event_id)").first()
    n = ev.count()
    spark.dataSource.register(EventSliceStreamSource)
    df = (
        spark.readStream.format("event_slices")
        .option("events_parquet", f"{sf_small}/events.parquet")
        .option("min_id", lo)
        .option("max_id", hi)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("t_custom_stream")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table("t_custom_stream").count() >= n:
            break
        time.sleep(0.5)
    q.stop()
    got = spark.table("t_custom_stream")
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n
    import pyspark.sql.functions as F

    got_cents = got.select(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
    ).first()[0]
    want_cents = ev.select(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
    ).first()[0]
    assert got_cents == want_cents


def test_window_topn_stream_matches_analog_on_closed_windows(spark, stream_dir, sf_small):
    """Ranking the append-mode (closed-window) counts must reproduce the
    batch Top-N exactly for every hour the watermark closed."""
    got = _collect(
        spark,
        stateful.window_topn_stream(spark, stream_dir, sf_small),
        "t_wtopn",
    )
    ranked = got.sort_values(
        ["hour_start", "n_events", "user_id"], ascending=[True, False, True]
    )
    ranked["rn"] = ranked.groupby("hour_start").cumcount() + 1
    ranked = ranked[ranked["rn"] <= 3]
    want = sparkflow.QUERIES["stream_window_topn"](spark, sf_small).toPandas()
    closed = set(ranked["hour_start"])
    assert closed, "no window closed during replay"
    want = want[want["hour_start"].isin(closed)]
    a = ranked.sort_values(["hour_start", "rn"]).reset_index(drop=True)
    b = want.sort_values(["hour_start", "rn"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["hour_start", "user_id", "n_events", "rn"]],
        b[["hour_start", "user_id", "n_events", "rn"]],
        check_dtype=False,
    )


def test_custom_stream_source_checkpoint_resume(spark, sf_small, tmp_path_factory):
    """Kill the custom-source query mid-stream and restart from its
    checkpoint: the combined file-sink output must be exactly-once (no
    loss, no duplication) — this drives the readBetweenOffsets recovery
    path (the memory sink cannot recover; the parquet sink can)."""
    import time

    from sparkflow.sources.custom import EventSliceStreamSource

    ev = sparkflow.catalog.table(spark, sf_small, "events")
    lo, hi = ev.selectExpr("min(event_id)", "max(event_id)").first()
    n = ev.count()
    spark.dataSource.register(EventSliceStreamSource)
    ckpt = str(tmp_path_factory.mktemp("cs_ckpt"))
    out = str(tmp_path_factory.mktemp("cs_out"))

    def start():
        df = (
            spark.readStream.format("event_slices")
            .option("events_parquet", f"{sf_small}/events.parquet")
            .option("min_id", lo)
            .option("max_id", hi)
            .load()
        )
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def written():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q1 = start()
    deadline = time.time() + 60
    while time.time() < deadline and written() == 0:
        time.sleep(0.2)
    q1.stop()  # mid-stream kill
    assert written() < n, "first run already finished; nothing to resume"
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline and written() < n:
        time.sleep(0.5)
    q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_rocksdb_state_store_matches_default(spark, stream_dir, sf_small):
    """The RocksDB state store provider — the production backend once
    keyed state outgrows executor heap (the 100 TB answer) — must
    produce byte-identical results to the default HDFS-backed store on
    a watermarked stateful aggregation AND on an applyInPandasWithState
    twin. Provider choice is config, not semantics; this pins that."""
    ns = spark.newSession()
    ns.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # windowed agg with watermark (built-in stateful operator)
    got = (
        _collect(
            ns,
            stateful.tumbling_append_stream(ns, stream_dir, sf_small),
            "t_rocks_tumbling",
        )
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        _collect(
            spark,
            stateful.tumbling_append_stream(spark, stream_dir, sf_small),
            "t_hdfs_tumbling",
        )
        .sort_values(["hour_start", "event_type"])
        .reset_index(drop=True)
    )
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # custom keyed state machine (applyInPandasWithState) under RocksDB
    got_c = (
        _collect(
            ns,
            stateful.stateful_counter_stream(ns, stream_dir, sf_small),
            "t_rocks_counter",
        )
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want_c = (
        sparkflow.QUERIES["stream_stateful_counter"](spark, sf_small)
        .toPandas()[["event_id", "running_count", "running_sum"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_c[["event_id", "running_count", "running_sum"]], want_c, check_dtype=False
    )


def test_custom_writer_failure_leaves_no_visible_output(spark, sf_small, tmp_path):
    """Two-phase commit atomicity: if write tasks fail, abort() must
    clean the staging area and NO final docmeta-w files may be visible —
    a failed job leaves the sink exactly as it found it."""
    import os

    import pytest as _pytest

    from pyspark.sql.datasource import DataSource
    from sparkflow.sources import custom as C

    out = str(tmp_path / "sink_fail")
    os.makedirs(out)

    class FailingWriter(C._DocMetaWriter):
        def write(self, iterator):
            next(iterator)  # consume one row, then die mid-write
            raise RuntimeError("injected write failure")

    class FailingDocMeta(DataSource):
        @classmethod
        def name(cls):
            return "docmeta_failing"

        def schema(self):
            return "doc_id BIGINT, lang STRING, n_chars BIGINT"

        def writer(self, schema, overwrite):
            return FailingWriter(self.options, overwrite)

    spark.dataSource.register(FailingDocMeta)
    df = (
        sparkflow.catalog.table(spark, sf_small, "documents")
        .select("doc_id", "lang", "n_chars")
        .repartition(2)
    )
    with _pytest.raises(Exception):
        (
            df.write.format("docmeta_failing")
            .option("path", out)
            .mode("append")
            .save()
        )
    visible = [f for f in os.listdir(out) if f.startswith("docmeta-")]
    assert visible == [], visible
    assert not os.path.isdir(os.path.join(out, "_staging")), "staging not cleaned"


def test_custom_writer_append_and_overwrite_semantics(spark, sf_small, tmp_path):
    """Append jobs must never clobber a previous job's files (final
    names carry a per-job token); overwrite must replace ALL previously
    visible files only after the new tasks succeeded."""
    import os

    from sparkflow.sources import custom as C

    out = str(tmp_path / "sink_modes")
    os.makedirs(out)
    spark.dataSource.register(C.DocMetaSource)
    df = (
        sparkflow.catalog.table(spark, sf_small, "documents")
        .select("doc_id", "lang", "n_chars")
        .limit(100)
        .repartition(2)
    )
    w = df.write.format("docmeta").option("path", out)
    w.mode("append").save()
    n1 = len([f for f in os.listdir(out) if f.startswith("docmeta-")])
    w.mode("append").save()
    n2 = len([f for f in os.listdir(out) if f.startswith("docmeta-")])
    assert n2 == 2 * n1, (n1, n2)  # second append added, clobbered nothing
    back = spark.read.format("docmeta").option("path", out).load()
    assert back.count() == 200  # both appends' rows are all present
    w.mode("overwrite").save()
    back2 = spark.read.format("docmeta").option("path", out).load()
    assert back2.count() == 100  # overwrite replaced everything


def _run_counter_ckpt(spark, src_dir, ckpt, sink, schema, evolve=False,
                      state_schema="cnt BIGINT, cents BIGINT",
                      state_fn=None):
    """Checkpointed applyInPandasWithState counter over a file stream,
    foreachBatch parquet sink (one dir per batch id). `evolve=True`
    appends BENIGN stateless ops downstream of the stateful operator
    (a no-op filter and an output-column rename) — the plan shape a
    rolling upgrade produces; state_schema/state_fn overrides model an
    INCOMPATIBLE upgrade (changed state layout)."""
    import os

    from pyspark.sql import functions as F

    from sparkflow.catalog import normalize_ts
    from sparkflow.streaming.stateful import _counter_fn

    counted = (
        normalize_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            state_fn or _counter_fn,
            outputStructType=(
                "event_id BIGINT, running_count BIGINT, running_sum DOUBLE"
            ),
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=__import__(
                "pyspark.sql.streaming.state", fromlist=["GroupStateTimeout"]
            ).GroupStateTimeout.NoTimeout,
        )
    )
    if evolve:
        counted = counted.filter(F.col("running_count") >= 1).withColumnRenamed(
            "running_sum", "running_total"
        )

    def write_batch(bdf, bid):
        out = bdf
        if "running_total" in out.columns:  # normalize for the sink union
            out = out.withColumnRenamed("running_total", "running_sum")
        out.write.mode("overwrite").parquet(os.path.join(sink, f"batch_{bid}"))

    q = (
        counted.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_checkpoint_resumes_across_benign_plan_evolution(
    spark, sf_small, tmp_path_factory
):
    """Checkpoint compatibility under operator evolution (r5 verdict
    item 6, benign half): run the applyInPandasWithState counter over
    half the replay, stop, then resume from the SAME checkpoint with an
    EVOLVED plan — an added stateless filter and a renamed output column
    downstream of the stateful operator (state schema unchanged). The
    resumed query must pick up exactly where the old one stopped and the
    combined output must equal the oracle-checked batch analog row for
    row: state carried across the upgrade, nothing reprocessed, nothing
    lost."""
    import os
    import shutil

    base = str(tmp_path_factory.mktemp("evolve_ckpt"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    half_dir = os.path.join(base, "half")
    os.makedirs(half_dir)
    files = sorted(os.listdir(full))
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(full, f), os.path.join(half_dir, f))
        # mtimes must strictly INCREASE across files: the file source
        # replays in modification-time order and the counter is
        # order-sensitive (equal mtimes replayed file 1 before file 0)
        os.utime(os.path.join(half_dir, f), (1_700_000_000 + i, 1_700_000_000 + i))
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")
    schema = spark.read.parquet(full).schema

    _run_counter_ckpt(spark, half_dir, ckpt, sink, schema, evolve=False)
    for i, f in enumerate(files[2:]):
        dst = os.path.join(half_dir, f)
        shutil.copy(os.path.join(full, f), dst)
        os.utime(dst, (1_700_000_100 + i, 1_700_000_100 + i))
    _run_counter_ckpt(spark, half_dir, ckpt, sink, schema, evolve=True)

    got = (
        spark.read.parquet(os.path.join(sink, "batch_*"))
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["stream_stateful_counter"](spark, sf_small)
        .toPandas()[["event_id", "running_count", "running_sum"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "running_count", "running_sum"]], want,
        check_dtype=False,
    )


def test_checkpoint_rejects_incompatible_state_schema(
    spark, sf_small, tmp_path_factory
):
    """Incompatible half of r5 verdict item 6: resuming the SAME
    checkpoint with a WIDENED state struct (an added field) must fail
    loudly at restart — silently reinterpreting persisted state bytes
    under a new layout would corrupt every running aggregate. Pins that
    Spark's state-schema validation actually guards our upgrade path."""
    import os
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    base = str(tmp_path_factory.mktemp("incompat_ckpt"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    half_dir = os.path.join(base, "half")
    os.makedirs(half_dir)
    files = sorted(os.listdir(full))
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(full, f), os.path.join(half_dir, f))
        # mtimes must strictly INCREASE across files: the file source
        # replays in modification-time order and the counter is
        # order-sensitive (equal mtimes replayed file 1 before file 0)
        os.utime(os.path.join(half_dir, f), (1_700_000_000 + i, 1_700_000_000 + i))
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")
    schema = spark.read.parquet(full).schema

    _run_counter_ckpt(spark, half_dir, ckpt, sink, schema)

    def fn_v2(key, pdf_iter, state):
        cnt, cents0, _hi = state.get if state.exists else (0, 0, 0)
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values("event_id")
        counts = cnt + pd.RangeIndex(1, len(pdf) + 1).to_numpy()
        cents = (
            cents0
            + (pdf["value"].to_numpy() * 100).round().astype("int64").cumsum()
        )
        state.update((int(counts[-1]), int(cents[-1]), int(pdf["event_id"].max())))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "running_count": counts,
                "running_sum": cents / 100.0,
            }
        )

    for i, f in enumerate(files[2:]):
        dst = os.path.join(half_dir, f)
        shutil.copy(os.path.join(full, f), dst)
        os.utime(dst, (1_700_000_100 + i, 1_700_000_100 + i))
    with pytest.raises(StreamingQueryException) as ei:
        _run_counter_ckpt(
            spark, half_dir, ckpt, sink, schema,
            state_schema="cnt BIGINT, cents BIGINT, max_id BIGINT",
            state_fn=fn_v2,
        )
    msg = str(ei.value).lower()
    assert "state" in msg and ("schema" in msg or "incompatible" in msg), msg


def test_streaming_ewma_matches_batch_window(spark, stream_dir, sf_small):
    """The O(1)-state streaming EWMA must be BIT-identical to the batch
    window operator across micro-batch boundaries — the state carries
    exactly the last 7 cents values per key, and the dyadic arithmetic
    replays win_ewma's chain, so equality is exact, not tolerance."""
    got = (
        _collect(spark, stateful.ewma_stream(spark, stream_dir, sf_small), "t_ewma")
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["win_ewma"](spark, sf_small)
        .toPandas()[["event_id", "ewma_value"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "ewma_value"]], want, check_dtype=False
    )


def test_streaming_rolling_median_matches_batch_window(
    spark, stream_dir, sf_small
):
    """The O(1)-state streaming rolling median must be BIT-identical to
    the batch window operator across micro-batch boundaries (VERDICT r7
    item 6) — state carries exactly the last 4 cents values per key and
    the median rule replays windows._rolling_median_expr on integer
    cents, so equality is exact, not tolerance."""
    got = (
        _collect(
            spark,
            stateful.rolling_median_stream(spark, stream_dir, sf_small),
            "t_rollmed",
        )
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["win_rolling_median"](spark, sf_small)
        .toPandas()[["event_id", "rolling_median"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "rolling_median"]], want, check_dtype=False
    )


def test_streaming_sessionize_matches_batch_window(spark, stream_dir, sf_small):
    """The O(1)-state streaming session assignment must be BIT-identical
    to events_sessionize across micro-batch boundaries — state is three
    longs per key (last event-time, session counter, open-session
    position), replaying the batch is_new/running-sum semantics
    event-at-a-time."""
    got = (
        _collect(
            spark,
            stateful.sessionize_stream(spark, stream_dir, sf_small),
            "t_sess_assign",
        )
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["events_sessionize"](spark, sf_small)
        .toPandas()[["event_id", "user_id", "session_seq", "event_in_session"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id", "session_seq", "event_in_session"]],
        want,
        check_dtype=False,
    )


def test_checkpoint_resumes_across_compatible_state_schema_change(
    spark, sf_small, tmp_path_factory
):
    """Compatible half of the state-upgrade matrix (r8 verdict item 7;
    the incompatible widened-struct case above already raises loudly):
    restart the applyInPandasWithState counter from a checkpoint written
    by a PREVIOUS code version whose state struct declared its fields
    nullable, with the upgraded version declaring the same fields NOT
    NULL — the one schema change Spark 4's state-schema checker admits
    for UnsafeRow state (StateSchemaCompatibilityChecker.check:
    equalsIgnoreCompatibleNullability(evolved, stored) — tightening is
    readable because every stored value satisfies the new contract;
    RELAXING (false->true) is rejected, empirically verified, as is
    adding even a nullable FIELD, see the test above — those evolutions
    need transformWithState's Avro state encoding). The resumed
    query must carry every running aggregate: combined output equals the
    oracle-checked batch analog row for row."""
    import os
    import shutil

    from pyspark.sql.types import LongType, StructField, StructType

    base = str(tmp_path_factory.mktemp("compat_ckpt"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    half_dir = os.path.join(base, "half")
    os.makedirs(half_dir)
    files = sorted(os.listdir(full))
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(full, f), os.path.join(half_dir, f))
        # mtimes must strictly INCREASE across files (mod-time replay order)
        os.utime(os.path.join(half_dir, f), (1_700_000_000 + i, 1_700_000_000 + i))
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")
    schema = spark.read.parquet(full).schema

    def state_struct(nullable):
        return StructType([
            StructField("cnt", LongType(), nullable),
            StructField("cents", LongType(), nullable),
        ])

    _run_counter_ckpt(spark, half_dir, ckpt, sink, schema,
                      state_schema=state_struct(True))
    for i, f in enumerate(files[2:]):
        dst = os.path.join(half_dir, f)
        shutil.copy(os.path.join(full, f), dst)
        os.utime(dst, (1_700_000_100 + i, 1_700_000_100 + i))
    _run_counter_ckpt(spark, half_dir, ckpt, sink, schema,
                      state_schema=state_struct(False))

    got = (
        spark.read.parquet(os.path.join(sink, "batch_*"))
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["stream_stateful_counter"](spark, sf_small)
        .toPandas()[["event_id", "running_count", "running_sum"]]
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "running_count", "running_sum"]], want,
        check_dtype=False,
    )


@pytest.mark.skipif(
    not stateful.HAS_PROTOBUF,
    reason="transformWithStateInPandas needs google.protobuf "
           "(environment-blocked, IMPLEMENTATION.md header)",
)
def test_tws_checkpoint_resumes_with_added_nullable_state_field(
    spark, sf_small, tmp_path_factory
):
    """The add-a-field half of the compatible-upgrade matrix (r8 verdict
    item 7): transformWithStateInPandas encodes state as Avro, which —
    unlike the UnsafeRow encoding applyInPandasWithState uses (see the
    rejection test above) — admits ADDING a nullable field across a
    checkpoint restart. v1 runs the RunningCounterProcessor twin
    (state: cnt, cents) over half the replay; v2 resumes the same
    checkpoint with state (cnt, cents, max_id BIGINT nullable),
    treating a missing max_id as unknown. Values must carry: combined
    output equals the oracle-checked batch analog."""
    import os
    import shutil

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    base = str(tmp_path_factory.mktemp("tws_evolve"))
    full = stateful.split_events_to_files(spark, sf_small, base, n_files=4)
    half_dir = os.path.join(base, "half")
    os.makedirs(half_dir)
    files = sorted(os.listdir(full))
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(full, f), os.path.join(half_dir, f))
        os.utime(os.path.join(half_dir, f), (1_700_000_000 + i, 1_700_000_000 + i))
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")
    schema = spark.read.parquet(full).schema

    class V2Processor(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState(
                "acc", "cnt BIGINT, cents BIGINT, max_id BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows)).sort_values("event_id")
            if self._state.exists():
                st = self._state.get()
                cnt, cents0 = st[0], st[1]
            else:
                cnt, cents0 = 0, 0
            counts = cnt + pd.RangeIndex(1, len(pdf) + 1).to_numpy()
            cents = cents0 + np.floor(
                pdf["value"].to_numpy() * 100 + 0.5).astype("int64").cumsum()
            self._state.update(
                (int(counts[-1]), int(cents[-1]), int(pdf["event_id"].max())))
            yield pd.DataFrame({
                "event_id": pdf["event_id"].to_numpy(),
                "running_count": counts,
                "running_sum": cents / 100.0,
            })

        def close(self):
            pass

    def run(processor):
        from sparkflow.catalog import normalize_ts

        ev = normalize_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(half_dir)
        )
        counted = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=processor,
            outputStructType=(
                "event_id BIGINT, running_count BIGINT, running_sum DOUBLE"
            ),
            outputMode="append",
            timeMode="none",
        )
        q = (
            counted.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("overwrite").parquet(
                    os.path.join(sink, f"batch_{bid}"))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(stateful.RunningCounterProcessor())
    for i, f in enumerate(files[2:]):
        dst = os.path.join(half_dir, f)
        shutil.copy(os.path.join(full, f), dst)
        os.utime(dst, (1_700_000_100 + i, 1_700_000_100 + i))
    run(V2Processor())

    got = (
        spark.read.parquet(os.path.join(sink, "batch_*"))
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    want = (
        sparkflow.QUERIES["stream_stateful_counter"](spark, sf_small)
        .toPandas()[["event_id", "running_count", "running_sum"]]
        .sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "running_count", "running_sum"]], want,
        check_dtype=False,
    )


def test_streaming_cdc_apply_one_version_per_batch(
    spark, sf_small, tmp_path_factory
):
    """CDC apply as a STREAM — the Delta-streaming-MERGE shape: the
    changelog arrives in 2 seq-ordered files → 2 micro-batches;
    foreachBatch compacts each batch to net effects and commits it as
    the next table version through the SAME COW merge the batch
    operator uses (_cdc_apply_batch). Asserts the composition law —
    applying batches in sequence == applying the whole log's net in one
    shot — plus one manifest per batch and intact time travel to every
    intermediate version."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    import sparkflow
    from sparkflow.catalog import table
    from sparkflow.sources.io import (
        _cdc_apply_batch,
        _cdc_net,
        _cdc_stage_v1,
        _cdc_users_params,
        _tv_latest_version,
    )

    base = str(tmp_path_factory.mktemp("cdc_stream_table"))
    src = str(tmp_path_factory.mktemp("cdc_stream_src"))
    cut, band_hi = _cdc_users_params(spark, sf_small)
    _cdc_stage_v1(spark, sf_small, base, cut)

    chg = (
        table(spark, sf_small, "events")
        .filter((F.col("event_id") >= cut) & (F.col("user_id") < band_hi))
        .select("event_id", "user_id", "event_type", "value")
    )
    mid = chg.agg(
        (F.min("event_id") + (F.max("event_id") - F.min("event_id")) / 2)
        .cast("long")
    ).first()[0]
    for i, cond in enumerate(
        [F.col("event_id") < mid, F.col("event_id") >= mid]
    ):
        p = os.path.join(src, f"batch_{i}")
        chg.filter(cond).coalesce(1).write.mode("overwrite").parquet(p)
        # strictly increasing mtimes: file-source batch ORDER is mtime
        # order, and the composition law needs seq-ordered batches
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (time.time() + i, time.time() + i))

    last_batch = [None]

    def apply_batch(bdf, batch_id):
        if bdf.isEmpty():
            return
        # compact through the operator's OWN definition — the streaming
        # twin must not re-implement the op mapping
        net = _cdc_net(bdf)
        lo, hi = net.agg(F.min("user_id"), F.max("user_id")).first()
        # version cursor from the DURABLE manifest ledger (a python
        # counter resets on restart), commit tagged with the batch id
        # (the exactly-once transactional-id pattern)
        _cdc_apply_batch(
            spark, base, _tv_latest_version(base), net, int(lo), int(hi),
            batch_id=batch_id,
        )
        last_batch[0] = (net.localCheckpoint(), int(lo), int(hi), batch_id)

    (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("cdc_ck")))
        .start()
        .awaitTermination(120)
    )

    # one committed version per micro-batch
    assert _tv_latest_version(base) == 3
    for v in (1, 2, 3):
        assert os.path.exists(os.path.join(base, f"manifest_v{v}.json")), v

    # EXACTLY-ONCE under replay: Structured Streaming restarts re-deliver
    # the last micro-batch (at-least-once); re-applying it with the SAME
    # batch id must be a recognized no-op — no new version, manifests
    # byte-identical — instead of a concurrent-commit error
    net, lo, hi, bid = last_batch[0]
    with open(os.path.join(base, "manifest_v3.json")) as fh:
        m3 = fh.read()
    assert _cdc_apply_batch(
        spark, base, _tv_latest_version(base), net, lo, hi, batch_id=bid
    ) is False
    assert _tv_latest_version(base) == 3
    with open(os.path.join(base, "manifest_v3.json")) as fh:
        assert fh.read() == m3
    # ...while a genuinely NEW batch id still commits
    assert _cdc_apply_batch(
        spark, base, _tv_latest_version(base), net, lo, hi,
        batch_id=bid + 1000,
    ) is True
    assert _tv_latest_version(base) == 4

    def read_version(b, v):
        with open(os.path.join(b, f"manifest_v{v}.json")) as fh:
            paths = [e["path"] for e in json.load(fh)["files"]]
        return (
            spark.read.parquet(*paths)
            .toPandas()
            .sort_values("user_id")
            .reset_index(drop=True)
        )

    # time travel to every version still works
    assert len(read_version(base, 1)) > 0
    assert len(read_version(base, 2)) > 0

    # composition law: streamed final state == one-shot batch apply
    want = (
        sparkflow.QUERIES["maintenance_table_cdc_apply"](spark, sf_small)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = read_version(base, 3)[["user_id", "balance", "last_seq"]]
    import pandas as pd

    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_cdc_concurrent_disjoint_appliers_both_land(
    spark, sf_small, tmp_path_factory
):
    """Retry-with-rebase (r9 verdict item 4): two appliers whose NET
    batches touch DISJOINT file sets both land — the one that computed
    against a stale snapshot hits the optimistic-concurrency conflict,
    detects that the winner rewrote no file in its key band, and
    re-aims its commit at the new head (reuse recomputed, the winner's
    files referenced, its own merge output unchanged). Lineage stays
    linear (v1→v2→v3), the final state equals the one-shot apply of the
    combined net, and a TRUE overlap still errors loudly."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    import sparkflow
    from sparkflow.sources.io import (
        CommitConflict,
        _cdc_apply_batch,
        _cdc_net,
        _cdc_net_changelog,
        _cdc_stage_v1,
        _cdc_users_params,
        _tv_entries,
        _tv_latest_version,
    )

    base = str(tmp_path_factory.mktemp("cdc_race_table"))
    base_ref = str(tmp_path_factory.mktemp("cdc_race_ref"))
    cut, band_hi = _cdc_users_params(spark, sf_small)
    _cdc_stage_v1(spark, sf_small, base, cut)
    _cdc_stage_v1(spark, sf_small, base_ref, cut)

    net = _cdc_net_changelog(spark, sf_small, cut, band_hi)
    net_users = sorted(r[0] for r in net.select("user_id").collect())
    assert len(net_users) >= 2, "fixture too small to split"
    ents = sorted(_tv_entries(base, 1), key=lambda e: e["min_key"])
    cut_a = next(
        e["max_key"] for e in ents
        if any(u <= e["max_key"] for u in net_users)
        and any(u > e["max_key"] for u in net_users)
    )
    net_a = net.filter(F.col("user_id") <= cut_a).localCheckpoint()
    net_b = net.filter(F.col("user_id") > cut_a).localCheckpoint()
    lo_a, hi_a = (int(x) for x in net_a.agg(
        F.min("user_id"), F.max("user_id")).first())
    lo_b, hi_b = (int(x) for x in net_b.agg(
        F.min("user_id"), F.max("user_id")).first())

    # both appliers computed against v1; B commits first, A rebases
    assert _cdc_apply_batch(spark, base, 1, net_b, lo_b, hi_b) is True
    assert _cdc_apply_batch(spark, base, 1, net_a, lo_a, hi_a) is True
    assert _tv_latest_version(base) == 3
    for v in (1, 2, 3):
        assert os.path.exists(os.path.join(base, f"manifest_v{v}.json")), v
    # the rebased commit must reference the winner's files, not v1's
    v2_new = {e["path"] for e in _tv_entries(base, 2)} - {
        e["path"] for e in _tv_entries(base, 1)}
    assert v2_new <= {e["path"] for e in _tv_entries(base, 3)}

    # final state == one-shot apply of the combined net
    lo, hi = (int(x) for x in net.agg(
        F.min("user_id"), F.max("user_id")).first())
    _cdc_apply_batch(spark, base_ref, 1, net, lo, hi)
    got = sorted(map(tuple, spark.read.parquet(
        *[e["path"] for e in _tv_entries(base, 3)]).collect()))
    want = sorted(map(tuple, spark.read.parquet(
        *[e["path"] for e in _tv_entries(base_ref, 2)]).collect()))
    assert got == want

    # TRUE overlap: a stale applier whose band files the winner rewrote
    # must still fail loudly, never silently drop either commit
    with pytest.raises(CommitConflict, match="cannot rebase"):
        _cdc_apply_batch(spark, base, 1, net_b, lo_b, hi_b)


def test_cdc_ledger_scoped_per_writer(spark, sf_small, tmp_path_factory):
    """ADVICE r10: the replay ledger must be scoped PER WRITER (Delta's
    txnAppId). Two CDC streams with INDEPENDENT batch-id sequences write
    disjoint bands of one table: after stream A commits its batch 5,
    stream B's never-applied batch 0 must still LAND (the table-global
    ledger would see 0 <= 5 and silently drop it as a replay), while a
    true replay of each writer's own last batch id is still recognized.
    The carried-forward {writer: max} dict keeps the check O(1)."""
    import pytest
    from pyspark.sql import functions as F

    from sparkflow.sources.io import (
        _cdc_apply_batch,
        _cdc_max_applied_batch_ids,
        _cdc_net_changelog,
        _cdc_stage_v1,
        _cdc_users_params,
        _tv_entries,
        _tv_latest_version,
    )

    base = str(tmp_path_factory.mktemp("cdc_writers_table"))
    cut, band_hi = _cdc_users_params(spark, sf_small)
    _cdc_stage_v1(spark, sf_small, base, cut)

    net = _cdc_net_changelog(spark, sf_small, cut, band_hi)
    net_users = sorted(r[0] for r in net.select("user_id").collect())
    assert len(net_users) >= 2, "fixture too small to split"
    ents = sorted(_tv_entries(base, 1), key=lambda e: e["min_key"])
    cut_a = next(
        e["max_key"] for e in ents
        if any(u <= e["max_key"] for u in net_users)
        and any(u > e["max_key"] for u in net_users)
    )
    net_a = net.filter(F.col("user_id") <= cut_a).localCheckpoint()
    net_b = net.filter(F.col("user_id") > cut_a).localCheckpoint()
    lo_a, hi_a = (int(x) for x in net_a.agg(
        F.min("user_id"), F.max("user_id")).first())
    lo_b, hi_b = (int(x) for x in net_b.agg(
        F.min("user_id"), F.max("user_id")).first())

    # writer A is already at batch 5 when writer B's batch 0 arrives
    assert _cdc_apply_batch(
        spark, base, 1, net_a, lo_a, hi_a,
        batch_id=5, writer_id="stream-a",
    ) is True
    # the regression ADVICE flagged: under a table-global ledger this
    # returns False (0 <= 5) and B's batch is silently lost
    assert _cdc_apply_batch(
        spark, base, _tv_latest_version(base), net_b, lo_b, hi_b,
        batch_id=0, writer_id="stream-b",
    ) is True
    assert _tv_latest_version(base) == 3

    # both writers' marks carried forward in ONE manifest (O(1) read)
    marks = _cdc_max_applied_batch_ids(base, 3)
    assert marks == {"stream-a": 5, "stream-b": 0}

    # each writer's OWN replay is still recognized...
    assert _cdc_apply_batch(
        spark, base, 3, net_a, lo_a, hi_a,
        batch_id=5, writer_id="stream-a",
    ) is False
    assert _cdc_apply_batch(
        spark, base, 3, net_b, lo_b, hi_b,
        batch_id=0, writer_id="stream-b",
    ) is False
    assert _tv_latest_version(base) == 3
    # ...and each writer's next batch id still advances its own mark
    assert _cdc_apply_batch(
        spark, base, 3, net_b, lo_b, hi_b,
        batch_id=1, writer_id="stream-b",
    ) is True
    assert _cdc_max_applied_batch_ids(base, 4) == {
        "stream-a": 5, "stream-b": 1}


def test_cep_compiled_stream_matches_batch_compile(
    spark, stream_dir, sf_small
):
    """The CEP combinator's GENERIC streaming twin (r11): each
    registered pattern run through compile_stream — keyed carry state,
    matches spanning micro-batch boundaries — must equal its registered
    batch key row-for-row: the 4-step combinator pattern (view → click
    ×2 → purchase within 48h) and the paper's funnel and times(3) hand
    rungs, whose columns are renamed onto the compiled schema. The
    carry chain IS an O(1)-state machine, so ANY positive pattern the
    builder accepts streams with bounded state."""
    from sparkflow.streaming.cep import CepPattern

    view = CepPattern.begin("view", etype="view")
    cases = [
        (view.followed_by("click", etype="click").times(2)
         .followed_by("purchase", etype="purchase").within("48 hours"),
         "stream_cep_compile", {}),
        (view.followed_by("click", etype="click")
         .followed_by("purchase", etype="purchase").within("24 hours"),
         "stream_cep_funnel",
         {"purchase_id": "match_id", "purchase_ts": "match_ts",
          "funnel_open_ts": "start_ts"}),
        (CepPattern.begin("click", etype="click").times(3)
         .within("24 hours"),
         "stream_cep_times",
         {"streak_end_id": "match_id", "streak_end_ts": "match_ts",
          "streak_start_ts": "start_ts"}),
    ]
    for pat, key, renames in cases:
        got = _collect(
            spark,
            pat.compile_stream(spark, stream_dir, sf_small),
            f"t_{key}",
        ).sort_values("match_id").reset_index(drop=True)
        want = (
            sparkflow.QUERIES[key](spark, sf_small)
            .toPandas()
            .rename(columns=renames)
            .sort_values("match_id")
            .reset_index(drop=True)
        )
        assert len(want) > 0, f"degenerate fixture: {key} matched nothing"
        want_us = want.assign(
            match_us=pd.to_datetime(want["match_ts"])
            .astype("datetime64[us]").astype("int64"),
            start_us=pd.to_datetime(want["start_ts"])
            .astype("datetime64[us]").astype("int64"),
        )[["user_id", "match_id", "match_us", "start_us"]]
        pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_cep_compiled_stream_strict_transition(spark, stream_dir, sf_small):
    """Strict contiguity through the streaming compiler: begin(view)
    .next(click) — the LAG(1) carry (L state) must survive micro-batch
    boundaries, i.e. a view that is the LAST event of batch k must still
    licence a click that opens batch k+1."""
    from sparkflow.streaming.cep import CepPattern

    pat = CepPattern.begin("view", etype="view").next("click", etype="click")
    got = _collect(
        spark,
        pat.compile_stream(spark, stream_dir, sf_small),
        "t_cepstrict",
    ).sort_values("match_id").reset_index(drop=True)
    from sparkflow.catalog import table

    want = (
        pat.compile(table(spark, sf_small, "events"))
        .toPandas()
        .sort_values("match_id")
        .reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_cep_compile_stream_refuses_unstreamable(spark):
    """Column-predicate steps and negation patterns must be refused by
    the streaming compiler with actionable errors (not silently
    mis-streamed)."""
    from pyspark.sql import functions as F

    from sparkflow.streaming.cep import CepPattern

    with pytest.raises(ValueError, match="etype"):
        CepPattern.begin("a", F.col("value") > 0).followed_by(
            "b", etype="click"
        ).expanded_event_steps()
    with pytest.raises(ValueError, match="negation|interval-join"):
        CepPattern.begin("a", etype="view").not_followed_by(
            "p", F.col("event_type") == "purchase", within="1 hour"
        ).expanded_event_steps()


def test_cep_streaming_state_bounds(spark, stream_dir, sf_small):
    """r16 (r15 verdict item 6): the CEP streaming twins' STATE is
    bounded by the shapes the docstrings claim, asserted from the
    queries' own progress metrics (stateOperators numRowsTotal):

    - followedByAny = a watermarked stream-stream interval self-join,
      the riskiest state shape in the repo — held rows must be <= both
      sides' events inside the (watermark - within) horizon (Spark
      evicts rows the watermark has passed beyond the join range);
    - the until and midneg-gap twins are applyInPandasWithState
      machines with ONE state row per key — held rows <= distinct
      users, regardless of stream length (the gap machine's buffers
      live INSIDE the row as arrays bounded by one gap horizon).
    """
    import datetime as _dt

    from sparkflow.catalog import table as cat_table
    from sparkflow.streaming.cep import CepPattern

    ev = cat_table(spark, sf_small, "events")
    ev_us = [
        int(r[0]) for r in
        ev.selectExpr("unix_micros(ts)").collect()
    ]
    n_users = ev.select("user_id").distinct().count()

    def wm_us(p):
        w = (p.get("eventTime") or {}).get("watermark")
        if not w:
            return None
        w = w.replace("Z", "+00:00")
        return int(_dt.datetime.fromisoformat(w)
                   .replace(tzinfo=_dt.timezone.utc).timestamp()
                   * 1_000_000)

    # (1) followedByAny: horizon-bounded interval-join state
    within_us = 3_600_000_000
    pat_any = (
        CepPattern.begin("view", etype="view")
        .followed_by_any("purchase", etype="purchase")
        .within("1 hour")
    )
    prog = stateful.run_to_memory(
        pat_any.compile_stream(spark, stream_dir, sf_small), "t_sb_any"
    )
    assert prog, "no progress entries recorded"
    saw_state = False
    for p in prog:
        ops = p.get("stateOperators") or []
        total = sum(op.get("numRowsTotal", 0) for op in ops)
        if not ops:
            continue
        saw_state = True
        w = wm_us(p)
        if w is None or w <= 0:
            bound = 2 * len(ev_us)
        else:
            # both join sides hold only rows inside the horizon the
            # watermark has not yet closed (1s boundary slack)
            horizon = w - within_us - 1_000_000
            bound = 2 * sum(1 for t in ev_us if t >= horizon)
        assert total <= bound, (total, bound, p.get("batchId"))
    assert saw_state
    # the final watermark DID evict: the last progress entry's state
    # is far below the full pair-candidate set
    last_ops = [p for p in prog if p.get("stateOperators")][-1]
    last_total = sum(op.get("numRowsTotal", 0)
                     for op in last_ops["stateOperators"])
    assert last_total < 2 * len(ev_us)

    # (2) until twin: one state row per key
    pat_until = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click").one_or_more()
        .until("stop", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    prog = stateful.run_to_memory(
        pat_until.compile_stream(spark, stream_dir, sf_small),
        "t_sb_until",
    )
    totals = [
        sum(op.get("numRowsTotal", 0)
            for op in p.get("stateOperators") or [])
        for p in prog
    ]
    assert max(totals) <= n_users, (max(totals), n_users)
    assert max(totals) > 0

    # (3) a midneg×gap composite twin: still one state row per key
    pat_mg = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view")
        .not_followed_by("err", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    prog = stateful.run_to_memory(
        pat_mg.compile_stream(spark, stream_dir, sf_small), "t_sb_mg"
    )
    totals = [
        sum(op.get("numRowsTotal", 0)
            for op in p.get("stateOperators") or [])
        for p in prog
    ]
    assert max(totals) <= n_users, (max(totals), n_users)
    assert max(totals) > 0
