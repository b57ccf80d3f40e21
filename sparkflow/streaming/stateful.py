"""True Structured-Streaming twins of the §2.9 patterns (pytest layer).

Where analogs.py proves semantics against the SQL oracle, this module
runs the REAL streaming machinery — multi-micro-batch file streams,
watermarks, `dropDuplicatesWithinWatermark`, stream-stream interval
joins, and keyed stateful processing with event-time timeouts (the
Spark equivalent of a Flink KeyedProcessFunction with ValueState +
registerEventTimeTimer).

Two stateful APIs exist in PySpark 4.x:
- `transformWithStateInPandas` (the new StatefulProcessor API). Its
  Python state server requires google.protobuf, which is NOT installed
  in this environment (verified: ImportError crashes the tws driver
  worker) — implementations are provided and exercised only when
  protobuf is importable (HAS_PROTOBUF).
- `applyInPandasWithState` (GroupState API, Arrow-only) — used as the
  primary, tested implementation here. Same per-key state + event-time
  timeout semantics.

tests/test_streaming.py feeds events as N sequential files
(maxFilesPerTrigger=1 → N micro-batches, simulating arrival) and
asserts each twin equals its batch analog.

Scale notes: state is per-key and O(1) (a counter, a last-seen
timestamp); watermark-driven timeouts clean it up — the
unbounded-key-safe shape for 100 TB. RocksDB state store provider is
set in the test session, as it would be on a real cluster.
"""

from __future__ import annotations

import bisect
import importlib.util
import os
import shutil
from typing import Any, Callable, Iterator, NamedTuple, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import normalize_ts, table

try:  # find_spec("google.protobuf") raises if the 'google' namespace is absent
    HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    HAS_PROTOBUF = False

GAP_SECONDS = 1800  # 30-minute inactivity gap, same as the analogs


def split_events_to_files(spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 3) -> str:
    """Materialize events as n sequential parquet files (by event_id range,
    which equals arrival AND event-time order in this data) so the file
    stream source replays them as distinct micro-batches."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    ev = table(spark, sf_dir, "events")
    # Slice by the ACTUAL id range, not an assumed 0-based dense one:
    # with 1-based (or offset) ids, count-derived bounds would silently
    # drop the max-id rows from the replay and the streaming-vs-batch
    # equality tests would compare unequal populations.
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    step = (hi - lo + n_files) // n_files
    for i in range(n_files):
        (
            ev.filter(
                (F.col("event_id") >= lo + i * step)
                & (F.col("event_id") < lo + (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"stage_{i}"))
        )
    # flatten: file source needs one directory of files, arriving in name order
    final = os.path.join(out_dir, "stream")
    os.makedirs(final)
    for i in range(n_files):
        stage = os.path.join(out_dir, f"stage_{i}")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(final, f"{i:03d}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        # the file source replays in MODIFICATION-TIME order, not name
        # order — give each file a strictly increasing mtime
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return final


def _events_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """File-stream over split events, one file per micro-batch, with the
    timestamp normalization applied (staged files may carry ts as long
    ns, TIMESTAMP_NTZ, or TIMESTAMP depending on testdata generation)."""
    table(spark, sf_dir, "events")  # ensure nanosAsLong conf on this session
    schema = spark.read.parquet(files_dir).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(files_dir)
    )
    return normalize_ts(df)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Execute a streaming DataFrame to completion into a memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory_progress(stream_df: DataFrame, name: str,
                           output_mode: str = "append") -> list:
    """run_to_memory, returning each micro-batch's progress dict —
    the state-store evidence (stateOperators numRowsTotal, watermark)
    the r16 CEP state-bound pins assert against (r15 verdict item
    6)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import json as _json

    return [_json.loads(p.json) for p in q.recentProgress]


def _ts_us(series: pd.Series) -> pd.Series:
    return pd.to_datetime(series).astype("datetime64[us]").astype("int64")


# ---------------------------------------------------------------------------
# Running counter — KeyedProcessFunction + ValueState pattern
# ---------------------------------------------------------------------------


def _counter_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running count + exact running sum, one row per event.
    Sum accumulates in integer cents — associative and exact, matching
    the oracle's cents path (values are exact 2-decimal doubles)."""
    cnt, cents0 = state.get if state.exists else (0, 0)
    # Arrow chunks for a key within one micro-batch arrive unordered —
    # concat + sort by arrival id before accumulating (a Flink keyed
    # operator would see them in arrival order already).
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values("event_id")
    counts = cnt + pd.RangeIndex(1, len(pdf) + 1).to_numpy()
    # floor(x*100+0.5): replay the batch cents() half-up quantization
    # exactly — numpy .round() is half-to-even and diverges on .5 mids.
    cents = cents0 + np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").cumsum()
    state.update((int(counts[-1]), int(cents[-1])))
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "running_count": counts,
            "running_sum": cents / 100.0,
        }
    )


def stateful_counter_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_stateful_counter`."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _counter_fn,
        outputStructType="event_id BIGINT, running_count BIGINT, running_sum DOUBLE",
        stateStructType="cnt BIGINT, cents BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming EWMA — O(1) keyed state, the third giant-key answer
# ---------------------------------------------------------------------------


def _ewma_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """True-streaming depth-8 EWMA: per-key state is a COUNT plus the
    last <=7 cents values (most-recent first) — O(1) state regardless
    of stream length. This is the third answer to the giant-key window
    hazard measured in SCALE.md round-7: the plain window co-residents
    the key's history, the bounded-lookback hybrid segments it, and
    this twin never materializes it at all. The arithmetic replays
    win_ewma's exact left-to-right dyadic chain on integer cents, so
    the stream is BIT-identical to the batch operator (the equality
    test asserts exactly that, across micro-batch boundaries)."""
    vals = list(state.get) if state.exists else [0] * 8
    n_prev, lags = vals[0], vals[1:]
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    # half-up like the batch operator's cents(), not numpy half-to-even
    cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
    out = []
    for v in cents:
        acc = float(v) * 0.5
        for k in range(1, 8):
            lag = lags[k - 1] if n_prev >= k else 0
            acc = acc + float(lag) * (0.5 ** (k + 1))
        out.append(acc / 100.0)
        lags = [int(v)] + lags[:6]
        n_prev = min(n_prev + 1, 7)
    state.update(tuple([int(n_prev)] + [int(x) for x in lags]))
    yield pd.DataFrame(
        {"event_id": pdf["event_id"].to_numpy(), "ewma_value": out}
    )


def ewma_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `win_ewma` (and of the win_ewma_segmented
    hybrid, which computes the same function)."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType="event_id BIGINT, ewma_value DOUBLE",
        stateStructType=(
            "n BIGINT, l1 BIGINT, l2 BIGINT, l3 BIGINT,"
            " l4 BIGINT, l5 BIGINT, l6 BIGINT, l7 BIGINT"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming rolling median — O(1) keyed state, second bounded-lookback twin
# ---------------------------------------------------------------------------


def _rolling_median_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """True-streaming rolling median of the last 5 values: per-key state
    is a COUNT plus the last <=4 cents values (most-recent first) — the
    k=4 instantiation of the same O(1)-state shape as _ewma_fn, proving
    the streaming twin generalizes with the batch bounded-lookback
    combinator (windows._hybrid_lookback). The median rule replays
    windows._rolling_median_expr exactly on integer cents (odd frame:
    middle/100; even frame: two middles averaged via /200), so the
    stream is BIT-identical to win_rolling_median across micro-batch
    boundaries (the equality test asserts exactly that)."""
    vals = list(state.get) if state.exists else [0] * 5
    n_prev, lags = vals[0], vals[1:]
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    # half-up like the batch operator's cents(), not numpy half-to-even
    cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
    out = []
    for v in cents:
        frame = sorted([int(v)] + lags[: min(n_prev, 4)])
        n = len(frame)
        if n % 2 == 1:
            out.append(frame[(n + 1) // 2 - 1] / 100.0)
        else:
            out.append((frame[n // 2 - 1] + frame[n // 2]) / 200.0)
        lags = [int(v)] + lags[:3]
        n_prev = min(n_prev + 1, 4)
    state.update(tuple([int(n_prev)] + [int(x) for x in lags]))
    yield pd.DataFrame(
        {"event_id": pdf["event_id"].to_numpy(), "rolling_median": out}
    )


def rolling_median_stream(
    spark: SparkSession, files_dir: str, sf_dir: str
) -> DataFrame:
    """True-streaming twin of `win_rolling_median` (and of the
    win_rolling_median_segmented hybrid, which computes the same
    function)."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _rolling_median_fn,
        outputStructType="event_id BIGINT, rolling_median DOUBLE",
        stateStructType=(
            "n BIGINT, l1 BIGINT, l2 BIGINT, l3 BIGINT, l4 BIGINT"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Session-id assignment — O(1)-state twin of events_sessionize
# ---------------------------------------------------------------------------


def _sessionize_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """True-streaming session-id ASSIGNMENT under the 30-min gap rule:
    per-key state is exactly (last event-time µs, session counter,
    position within the open session) — three longs, O(1) no matter how
    long the stream runs, unlike the aggregate session forms whose open
    window carries its accumulator. Replays the batch operator's
    is_new/running-sum semantics event-at-a-time, so the stream is
    BIT-identical to events_sessionize across micro-batch boundaries
    (the equality test asserts exactly that). Events are consumed in
    (ts, event_id) order — the same total order the batch windows
    sort by."""
    if state.exists:
        last_us, seq, in_sess = state.get
    else:
        last_us, seq, in_sess = -1, 0, 0
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    ts_us = _ts_us(pdf["ts"])
    seqs, poss = [], []
    for t in ts_us:
        if last_us < 0 or t - last_us > 1800 * 1_000_000:
            seq += 1
            in_sess = 1
        else:
            in_sess += 1
        seqs.append(seq)
        poss.append(in_sess)
        last_us = int(t)
    state.update((int(last_us), int(seq), int(in_sess)))
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(),
            "session_seq": seqs,
            "event_in_session": poss,
        }
    )


def sessionize_stream(
    spark: SparkSession, files_dir: str, sf_dir: str
) -> DataFrame:
    """True-streaming twin of `events_sessionize` (assignment form)."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=(
            "event_id BIGINT, user_id BIGINT, session_seq BIGINT,"
            " event_in_session BIGINT"
        ),
        stateStructType="last_us BIGINT, seq BIGINT, in_sess BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# CEP funnel — carried-state NFA (view → click → purchase within 24h)
# ---------------------------------------------------------------------------


def _funnel_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """FlinkCEP begin('view').followedBy('click').followedBy('purchase')
    .within(24h) as O(1) keyed state: (latest view ts, latest view ts
    that a click has confirmed). A purchase matches iff the confirmed
    view is within the horizon — identical to the batch analog's two
    carried windows, incrementalized. max() updates make the state
    monotone, so a late row can never regress it."""
    last_view, best_view = state.get if state.exists else (-1, -1)
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    out_id, out_ts, out_open = [], [], []
    for eid, etype, t in zip(
        pdf["event_id"].to_numpy(),
        pdf["event_type"].to_numpy(),
        _ts_us(pdf["ts"]).to_numpy(),
    ):
        t = int(t)
        if etype == "view":
            last_view = max(last_view, t)
        elif etype == "click":
            best_view = max(best_view, last_view)
        elif etype == "purchase" and best_view >= 0:
            if t - best_view <= 86400 * 1_000_000:
                out_id.append(int(eid))
                out_ts.append(t)
                out_open.append(best_view)
    state.update((last_view, best_view))
    if out_id:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_id),
                "purchase_id": out_id,
                "purchase_us": out_ts,
                "funnel_open_us": out_open,
            }
        )


def cep_funnel_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_cep_funnel`."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=(
            "user_id BIGINT, purchase_id BIGINT,"
            " purchase_us BIGINT, funnel_open_us BIGINT"
        ),
        stateStructType="last_view BIGINT, best_view BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# CEP times(3) quantifier — bounded-buffer keyed state
# ---------------------------------------------------------------------------


def _times_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """FlinkCEP times(3).within(24h) as keyed state: keep the last TWO
    click timestamps per user (the bounded NFA buffer); each new click
    matches iff the click two-back is within the window. State is O(n-1)
    timestamps regardless of stream length."""
    t1, t2 = state.get if state.exists else (-1, -1)  # two-back, one-back
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    ids = pdf["event_id"].to_numpy()
    out_id, out_start, out_end = [], [], []
    for eid, t in zip(ids, _ts_us(pdf["ts"]).to_numpy()):
        t = int(t)
        if t2 >= 0 and t < t2:
            # late arrival behind the buffered timestamps: appending it
            # would corrupt the (two-back, one-back) order invariant —
            # drop it, the watermarked-timer formulation's semantics
            continue
        if t1 >= 0 and t - t1 <= 86400 * 1_000_000:
            out_id.append(int(eid))
            out_start.append(t1)
            out_end.append(t)
        t1, t2 = t2, t
    state.update((t1, t2))
    if out_id:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_id),
                "streak_end_id": out_id,
                "streak_start_us": out_start,
                "streak_end_us": out_end,
            }
        )


def cep_times_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_cep_times`: the quantifier's
    bounded buffer (last n-1 timestamps) as applyInPandasWithState."""
    ev = _events_stream(spark, files_dir, sf_dir).filter(
        F.col("event_type") == "click"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _times_fn,
        outputStructType=(
            "user_id BIGINT, streak_end_id BIGINT,"
            " streak_start_us BIGINT, streak_end_us BIGINT"
        ),
        stateStructType="t1 BIGINT, t2 BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Compiled CEP patterns — carry scans behind one keyed adapter (r11)
# ---------------------------------------------------------------------------


def _cep_events(pdf_iter) -> tuple | None:
    """One micro-batch of a key's events for a keyed CEP machine: the
    non-empty Arrow chunks concatenated and sorted by (ts, event_id),
    returned as (event_ids, event_types, epoch-µs times) lists; None
    when the batch holds no rows. Every machine encodes "no hit yet"
    as -1 in epoch-µs state slots, so a pre-1970 event time (negative
    µs) would be indistinguishable from no hit and silently diverge
    from the batch compile, which handles such timestamps fine —
    refuse it loudly instead."""
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return None
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    ts = _ts_us(pdf["ts"])
    tmin = ts.min()
    if tmin < 0:
        raise ValueError(
            "CepPattern.compile_stream requires event times >= "
            f"1970-01-01 (epoch µs {tmin} < 0 collides with the -1 "
            "no-hit state sentinel; the batch CepPattern.compile has no "
            "such limit)"
        )
    return (pdf["event_id"].tolist(), pdf["event_type"].tolist(),
            ts.tolist())


class CarryScan(NamedTuple):
    """One keyed CEP machine: pure carry algebra over a key's sorted
    micro-batch. `scan(vals, eids, etypes, ts)` takes the carry state in
    the `fields` layout (`init()` for a new key) and returns (new state,
    candidates). A candidate is (match_id, match_us, start_us, *riders)
    — `riders` are its output columns after start_us (n_<name> pools,
    with_<name> flags) — plus (start_pos, match_pos, anchor_pos) when
    the machine keeps an after-match skip cursor at state index
    `cursor`. cep_keyed_fn runs it."""

    fields: list
    init: Callable
    scan: Callable
    riders: tuple = ()
    cursor: int | None = None


def _pend_cols(machine: CarryScan) -> list:
    """The terminal-negation hold's pending columns: one per candidate
    field."""
    return (["mid", "mus", "sus"] + [r.split()[0] for r in machine.riders]
            + (["sp", "mp", "ap"] if machine.cursor is not None else []))


def cep_keyed_fn(machine: CarryScan, hold=None, skip=None):
    """The one keyed CEP adapter (applyInPandasWithState function): it
    unpacks or initialises the GroupState, takes the key's events in
    through _cep_events, runs the machine's carry scan, applies the two
    optional stages and builds the output frame.

    hold = (neg_etype, T), the TERMINAL-negation hold (FlinkCEP's
    watermark-delayed answer to notFollowedBy(within=T)): candidates
    wait in pending arrays (the state fields after the machine's own)
    until the event-time watermark passes match_ts + T, and a negated
    event in the open interval (match_ts, match_ts + T] kills one — a
    negated event at the match's own timestamp does not (the batch
    RANGE frame). A negated event only kills candidates found at
    earlier rows (a later row's match_ts is >= its own ts), so checking
    a batch's candidates against all its negated events at once equals
    the per-row kill. Survivors emit on the data path once the
    watermark has passed their deadline, or on the event-time timer
    re-armed at the earliest held deadline (keys that go quiet).
    Pending size is bounded by the key's matches in one T horizon, the
    negation's inherent buffering. The batch compile's next_<neg>_ts
    audit column is batch-only (unbounded lookahead): the twin contract
    is the match set.

    skip = an after-match strategy, the acceptance-cursor fold over the
    emitted candidates in row order (at flush time under a hold:
    deadlines are nondecreasing in match order, so survivors flush in
    match-row order, and the batch compile applies the negation before
    _skip_fold). The cursor never feeds back into the carries, so the
    fold after the scan equals the fold inline. skip_past_last_event
    accepts start_pos > cursor and moves it to the match row;
    skip_to_next accepts start_pos > cursor and moves it to the start;
    skip_to_first/skip_to_last accept start_pos >= cursor and move it
    to the anchor copy's row (stamped by the carry)."""
    nv = len(machine.fields)
    cols = ["match_id", "match_us", "start_us"] + [
        r.split()[0] for r in machine.riders]
    flags = [c for c, r in zip(cols[3:], machine.riders)
             if r.endswith("BOOLEAN")]
    width = len(_pend_cols(machine))
    anchored = skip in ("skip_to_first", "skip_to_last")
    past = skip == "skip_past_last_event"

    def fold(cands, vals):
        cursor = vals[machine.cursor]
        kept = []
        for c in cands:
            sp, mp, ap = c[-3:]
            if sp >= cursor if anchored else sp > cursor:
                kept.append(c)
                cursor = mp if past else (ap if anchored else sp)
        vals[machine.cursor] = cursor
        return kept

    def fn(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            got = list(state.get)
            vals, pend = got[:nv], [list(c) for c in got[nv:]]
        else:
            vals, pend = machine.init(), [[] for _ in range(width)]
        negs = []
        if hold is not None and state.hasTimedOut:
            cands = []
        else:
            ev = _cep_events(pdf_iter)
            if ev is None:
                return
            vals, cands = machine.scan(vals, *ev)
            if hold is not None:
                negs = [t for e, t in zip(ev[1], ev[2]) if e == hold[0]]
        if hold is not None:
            horizon = hold[1]
            wm_us = state.getCurrentWatermarkMs() * 1000
            ripe, held = [], []
            for c in list(zip(*pend)) + cands:
                i = bisect.bisect_right(negs, c[1])
                if i < len(negs) and negs[i] <= c[1] + horizon:
                    continue
                (ripe if c[1] + horizon < wm_us else held).append(c)
            cands = ripe
            pend = ([[int(v) for v in col] for col in zip(*held)]
                    or [[] for _ in range(width)])
        if skip is not None:
            cands = fold(cands, vals)
        state.update(tuple(vals) + (tuple(pend) if hold is not None else ()))
        if hold is not None and pend[1]:
            # fire when the watermark passes the earliest deadline (ms,
            # +1 so the timestamp is strictly beyond the watermark as
            # Spark requires)
            state.setTimeoutTimestamp((min(pend[1]) + horizon) // 1000 + 1)
        if cands:
            out = dict(zip(cols, map(list, zip(*cands))))
            for f in flags:
                out[f] = [bool(v) for v in out[f]]
            yield pd.DataFrame({"user_id": [key[0]] * len(cands), **out})

    return fn


def cep_keyed_stream(
    spark: SparkSession, files_dir: str, sf_dir: str,
    machine: CarryScan, hold=None, skip=None,
) -> DataFrame:
    """True-streaming execution of a compiled CEP pattern (reached via
    cep.CepPattern.compile_stream, which picks the machine and the
    stages): the file stream keyed by user_id through cep_keyed_fn.
    State = the machine's fields, plus the hold's pending arrays; a
    hold needs a watermark (0 s delay — the file replay is in order; a
    production deployment would set its lateness bound here) and
    event-time timers. Output timestamps are epoch µs."""
    ev = _events_stream(spark, files_dir, sf_dir)
    fields = list(machine.fields)
    if hold is not None:
        ev = ev.withWatermark("ts", "0 seconds")
        fields += [f"pend_{c} ARRAY<BIGINT>" for c in _pend_cols(machine)]
    return ev.groupBy("user_id").applyInPandasWithState(
        cep_keyed_fn(machine, hold, skip),
        outputStructType=(
            "user_id BIGINT, match_id BIGINT, match_us BIGINT, "
            "start_us BIGINT" + "".join(f", {r}" for r in machine.riders)
        ),
        stateStructType=", ".join(fields),
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout
                     if hold is not None else GroupStateTimeout.NoTimeout),
    )


def _cep_chain_hits(steps, C, L, BP, LQ, etype, t):
    """One row's hit vector for one expanded chain, evaluated against
    the PRE-row state (the batch plan's strictly-before frames). A
    step with a negated entering gap (r12) gates its relaxed carry on
    the batch compiler's latest-prefix-row dominance: connect iff no
    negated event arrived after the latest prefix-complete row —
    LQ[i-1] (latest negated position for this gap) <= BP[i-1] (latest
    position whose step-(i-1) hit was non-null); both are causal
    running maxima, so the gate is exact in keyed state."""
    m = len(steps)
    hit = [-1] * m
    for i, (et, trans, neg_et) in enumerate(steps):
        if etype != et:
            continue
        if i == 0:
            hit[0] = t
        else:
            carry_in = C[i - 1] if trans == "followed_by" else L[i - 1]
            if carry_in >= 0 and (
                neg_et is None or LQ[i - 1] <= BP[i - 1]
            ):
                hit[i] = carry_in
    return hit


def _cep_chain_hits_paired(steps, C, L, BP, LQ, Ccs, Lcs, QCs, cnt_ets,
                           etype, t):
    """Paired-carry variant of _cep_chain_hits for a chain whose carry
    transports (start_ts, count-at-start...) — the batch compiler's
    counted-step struct (r12; generalized to K counted steps r13, r12
    verdict item 8): c_k = running count of counted-step-k events up to
    AND INCLUDING the start row, carried through every hop so the
    match row can emit pool_k = count-at-match − c_k. Ccs/Lcs/QCs/
    cnt_ets are per-counted-step lists; the carry stays ONE running
    max because the count fields are all monotone in row order (the
    lexicographic tuple max still picks the greedy max-start chain)."""
    m = len(steps)
    K = len(cnt_ets)
    hh = [-1] * m
    hcs = [[-1] * m for _ in range(K)]
    for i, (et, trans, neg_et) in enumerate(steps):
        if etype != et:
            continue
        if i == 0:
            hh[0] = t
            for k in range(K):
                hcs[k][0] = QCs[k] + (1 if etype == cnt_ets[k] else 0)
        else:
            if trans == "followed_by":
                ch, ccs = C[i - 1], [Ccs[k][i - 1] for k in range(K)]
            else:
                ch, ccs = L[i - 1], [Lcs[k][i - 1] for k in range(K)]
            if ch >= 0 and (neg_et is None or LQ[i - 1] <= BP[i - 1]):
                hh[i] = ch
                for k in range(K):
                    hcs[k][i] = ccs[k]
    return hh, hcs


def compiled_scan(chains: list, within_us, counted=None, enum=None):
    """Carry scan for a compiled CEP pattern: `chains` =
    [(flag_name_or_None, expanded_steps)], the first chain GATES the
    match (cep.CepPattern's required steps), later chains annotate
    (`with_<name>` flags for optional steps). Per chain, state = C[i]
    (running max of step-i's hit over all processed rows — the MAX OVER
    UNBOUNDED..1 PRECEDING carry) and L[i] (step-i's hit at the
    immediately previous row — the LAG(1) carry for strict
    transitions), plus — for mid-pattern negated gaps (r12) — BP[i]
    (position of the latest row whose step-i hit was non-null) and
    LQ[i] (position of the latest negated event for the gap entering
    step i+1) with one per-key row counter: Σ 4·(m_c-1) + 1 BIGINTs,
    O(1) regardless of stream length. Each row's hits evaluate against
    the PRE-row state, then the state absorbs the row — so one event
    can serve step i for future rows while consuming only
    strictly-earlier events for step i+1, exactly the distinct-event
    binding the batch compiler guarantees. `counted` (r12; K counted
    steps r13) = [(name, etype, up_to), ...] — the main chain's carry
    pairs with one count-at-start and one running count PER counted
    step (2·K·(m-1) + K more longs, still O(1)).

    `enum` (r13 — strict-contiguity optional regions): instead of
    chain 0 gating and later chains annotating, EVERY chain is one of
    the batch compile's 2^k include/exclude variants; enum =
    (masks, flag_names) with masks[i] = the set of optional-step names
    variant i includes. A row matches when ANY variant completes
    within the window; start_us = the max satisfied variant's carry
    (greedy max-start ACROSS variants — the batch GREATEST) and
    with_<o> = OR over satisfied variants including o. Same per-chain
    state as the annotation mode."""
    sizes = [len(steps) - 1 for _, steps in chains]
    if enum is not None:
        enum_masks, flag_names = enum
    else:
        enum_masks = None
        flag_names = [name for name, _ in chains[1:]]
    # per chain, per carry slot j: the negated etype guarding the gap
    # that enters step j+1 (None = ungated)
    qtypes = [[st[2] for st in steps[1:]] for _, steps in chains]
    counted = list(counted) if counted else []
    cnt_ets = [c[1] for c in counted]
    up_tos = [c[2] for c in counted]
    K = len(counted)
    n0 = sizes[0]
    fields = []
    for ci, n in enumerate(sizes):
        fields += [f"{p}{ci}_{i} BIGINT"
                   for p in ("c", "l", "bp", "lq") for i in range(n)]
    for k in range(K):
        fields += [f"{p}{k}_{i} BIGINT" for p in ("cc", "lc")
                   for i in range(n0)]
    fields += [f"qc{k} BIGINT" for k in range(K)] + ["pos BIGINT"]

    def ok(v, t):
        return v >= 0 and (within_us is None or t - v <= within_us)

    def scan(vals, eids, etypes, ts):
        CL, off = [], 0
        for n in sizes:
            CL.append((
                vals[off:off + n], vals[off + n:off + 2 * n],
                vals[off + 2 * n:off + 3 * n],
                vals[off + 3 * n:off + 4 * n],
            ))
            off += 4 * n
        Ccs, Lcs = [], []
        for _k in range(K):
            Ccs.append(vals[off:off + n0])
            Lcs.append(vals[off + n0:off + 2 * n0])
            off += 2 * n0
        QCs = vals[off:off + K]
        off += K
        pos = vals[off]
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            if counted:
                C0, L0, BP0, LQ0 = CL[0]
                hh, hcs = _cep_chain_hits_paired(
                    chains[0][1], C0, L0, BP0, LQ0, Ccs, Lcs, QCs,
                    cnt_ets, etype, t,
                )
                hits = [hh] + [
                    _cep_chain_hits(steps, C, L, BP, LQ, etype, t)
                    for (C, L, BP, LQ), (_, steps)
                    in zip(CL[1:], chains[1:])
                ]
            else:
                hits = [
                    _cep_chain_hits(steps, C, L, BP, LQ, etype, t)
                    for (C, L, BP, LQ), (_, steps) in zip(CL, chains)
                ]
            if enum_masks is not None:
                oks = [ok(h[-1], t) for h in hits]
                if any(oks):
                    cands.append((
                        eid, t,
                        max(h[-1] for h, okv in zip(hits, oks) if okv),
                        *(any(okv for okv, mask in zip(oks, enum_masks)
                              if nm in mask) for nm in flag_names),
                    ))
            elif ok(hits[0][-1], t):
                pools = [QCs[k] + (1 if etype == cnt_ets[k] else 0)
                         - hcs[k][-1] for k in range(K)]
                cands.append((
                    eid, t, hits[0][-1],
                    *(p if cap is None else min(p, cap)
                      for p, cap in zip(pools, up_tos)),
                    *(ok(h[-1], t) for h in hits[1:]),
                ))
            for ci, ((C, L, BP, LQ), hit, qt) in enumerate(
                zip(CL, hits, qtypes)
            ):
                paired = counted and ci == 0
                for i in range(len(C)):
                    if paired:
                        htup = (hit[i],) + tuple(
                            hcs[k][i] for k in range(K))
                        ctup = (C[i],) + tuple(
                            Ccs[k][i] for k in range(K))
                        if htup > ctup:
                            C[i] = hit[i]
                            for k in range(K):
                                Ccs[k][i] = hcs[k][i]
                        for k in range(K):
                            Lcs[k][i] = hcs[k][i]
                    elif hit[i] > C[i]:
                        C[i] = hit[i]
                    if hit[i] >= 0:
                        BP[i] = pos
                    L[i] = hit[i]
                    if qt[i] is not None and etype == qt[i]:
                        LQ[i] = pos
            for k in range(K):
                if etype == cnt_ets[k]:
                    QCs[k] += 1
            pos += 1
        return (
            [v for C, L, BP, LQ in CL for v in C + L + BP + LQ]
            + [v for k in range(K) for v in Ccs[k] + Lcs[k]]
            + QCs + [pos]
        ), cands

    return CarryScan(
        fields,
        lambda: [-1] * (4 * sum(sizes) + 2 * K * n0) + [0] * K + [0],
        scan,
        [f"n_{c[0]} BIGINT" for c in counted]
        + [f"{nm} BOOLEAN" for nm in flag_names],
    )


def or_split_scan(chains: list, within_us, counted):
    """r14: carry scan for the OR-OF-CHAINS compile of a both-strict
    oneOrMore/times(1, m) step (see cep.CepPattern.next): every chain
    is one quantifier variant of the SAME pattern (1-rep / >=2-rep per
    split step), ALL paired with the count-at-start carries (the batch
    struct), sharing one running count per counted step. A row matches
    when ANY variant completes within the window; the winner is the
    lexicographic max (start, c0..) over satisfied variants — the batch
    struct GREATEST — and the pools are computed from the winner's
    counts. State = per chain 4·(m_c−1) causal longs + 2·K·(m_c−1)
    count carries, plus K shared running counts and the row counter:
    O(1) per key."""
    sizes = [len(steps) - 1 for _, steps in chains]
    qtypes = [[st[2] for st in steps[1:]] for _, steps in chains]
    counted = list(counted) if counted else []
    cnt_ets = [c[1] for c in counted]
    up_tos = [c[2] for c in counted]
    K = len(counted)
    fields = []
    for v, n in enumerate(sizes):
        fields += [f"{p}_{v}_{i} BIGINT"
                   for p in ("c", "l", "bp", "lq") for i in range(n)]
    for v, n in enumerate(sizes):
        for k in range(K):
            fields += [f"{p}_{v}_{k}_{i} BIGINT"
                       for p in ("ccs", "lcs") for i in range(n)]
    fields += [f"qc_{k} BIGINT" for k in range(K)] + ["pos BIGINT"]

    def ok(v, t):
        return v >= 0 and (within_us is None or t - v <= within_us)

    def scan(vals, eids, etypes, ts):
        CL, CNT, off = [], [], 0
        for n in sizes:
            CL.append((
                vals[off:off + n], vals[off + n:off + 2 * n],
                vals[off + 2 * n:off + 3 * n],
                vals[off + 3 * n:off + 4 * n],
            ))
            off += 4 * n
        for n in sizes:
            ccs = [vals[off + 2 * k * n:off + (2 * k + 1) * n]
                   for k in range(K)]
            lcs = [vals[off + (2 * k + 1) * n:off + (2 * k + 2) * n]
                   for k in range(K)]
            CNT.append((ccs, lcs))
            off += 2 * K * n
        QCs = vals[off:off + K]
        off += K
        pos = vals[off]
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            hits = []
            for (C, L, BP, LQ), (ccs, lcs), (_, steps) in zip(
                CL, CNT, chains
            ):
                hits.append(_cep_chain_hits_paired(
                    steps, C, L, BP, LQ, ccs, lcs, QCs, cnt_ets,
                    etype, t,
                ))
            oks = [ok(hh[-1], t) for hh, _ in hits]
            if any(oks):
                # lexicographic (start, c0..) max across satisfied
                # variants = the batch struct GREATEST
                win = max(
                    (hh[-1],) + tuple(hcs[k][-1] for k in range(K))
                    for (hh, hcs), okv in zip(hits, oks) if okv
                )
                pools = [QCs[k] + (1 if etype == cnt_ets[k] else 0)
                         - win[1 + k] for k in range(K)]
                cands.append((
                    eid, t, win[0],
                    *(p if cap is None else min(p, cap)
                      for p, cap in zip(pools, up_tos)),
                ))
            for (C, L, BP, LQ), (ccs, lcs), (hh, hcs), qt in zip(
                CL, CNT, hits, qtypes
            ):
                for i in range(len(C)):
                    htup = (hh[i],) + tuple(
                        hcs[k][i] for k in range(K))
                    ctup = (C[i],) + tuple(
                        ccs[k][i] for k in range(K))
                    if htup > ctup:
                        C[i] = hh[i]
                        for k in range(K):
                            ccs[k][i] = hcs[k][i]
                    for k in range(K):
                        lcs[k][i] = hcs[k][i]
                    if hh[i] >= 0:
                        BP[i] = pos
                    L[i] = hh[i]
                    if qt[i] is not None and etype == qt[i]:
                        LQ[i] = pos
            for k in range(K):
                if etype == cnt_ets[k]:
                    QCs[k] += 1
            pos += 1
        return (
            [v for C, L, BP, LQ in CL for v in C + L + BP + LQ]
            + [v for ccs, lcs in CNT
               for k in range(K) for v in ccs[k] + lcs[k]]
            + QCs + [pos]
        ), cands

    return CarryScan(
        fields,
        lambda: [-1] * (4 * sum(sizes) + 2 * K * sum(sizes))
        + [0] * K + [0],
        scan,
        [f"n_{c[0]} BIGINT" for c in counted],
    )


def skip_scan(steps, within_us, anchor_idx=None, nn_ets=None):
    """Carry scan for a compiled pattern under an after-match skip
    strategy (r12 skip_past_last_event; r13 skip_to_next /
    skip_to_first / skip_to_last): the carry values become (ts,
    start-position[, anchor-position]) tuples under the same
    lexicographic running max the batch compile's struct uses, and
    acceptance is one extra long of state — the cursor, folded by
    cep_keyed_fn; a match is accepted iff its greedy chain's start
    clears the cursor (start-maximality makes that exactly 'some chain
    clears it', the batch fold's argument). Candidates carry (start
    pos, match row pos, anchor pos); the anchor position is stamped at
    expanded step `anchor_idx` (skip_to_first/skip_to_last only),
    mirroring the batch stamp_anchor hop.

    Everything is causal, so all four strategies stream with O(1)
    state: 6·(m-1)+2 longs (8·(m-1)+2 with an anchor — ts+sp[+ap] for
    carry-max and lag, BP/LQ for negated gaps, the cursor, the row
    counter). r16: notNext gates compose — a gated level PARKS its
    (ts, sp, ap, row-pos) hit in a one-row pending slot (4·(m-1) more
    longs, present only when gated) resolved at the next event: absorb
    into the carry max / lag / BP if this event clears the gate, drop
    otherwise — the cursor fold then sees only validated binds,
    exactly the batch LEAD(1)-folded predicate under the position
    struct."""
    m = len(steps)
    n = m - 1
    anchored = anchor_idx is not None
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)
    base = (8 if anchored else 6) * n
    fields = (
        [f"{p}_{i} BIGINT" for p in ("cts", "csp", "lts", "lsp", "bp", "lq")
         + (("cap", "lap") if anchored else ()) for i in range(n)]
        + ["last_acc BIGINT", "pos BIGINT"]
        + ([f"pnn_{p}_{i} BIGINT" for p in ("ts", "sp", "ap", "pos")
            for i in range(n)] if has_nn else [])
    )

    def scan(vals, eids, etypes, ts):
        Cts, Csp = vals[0:n], vals[n:2 * n]
        Lts, Lsp = vals[2 * n:3 * n], vals[3 * n:4 * n]
        BP, LQ = vals[4 * n:5 * n], vals[5 * n:6 * n]
        if anchored:
            Cap, Lap = vals[6 * n:7 * n], vals[7 * n:8 * n]
        else:
            Cap, Lap = [0] * n, [0] * n  # unused (tie-breaks only ever
            # compare equal junk against equal junk — no-op updates)
        cursor, pos = vals[base], vals[base + 1]
        if has_nn:
            Pts = vals[base + 2:base + 2 + n]
            Psp = vals[base + 2 + n:base + 2 + 2 * n]
            Pap = vals[base + 2 + 2 * n:base + 2 + 3 * n]
            Ppos = vals[base + 2 + 3 * n:base + 2 + 4 * n]
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            if has_nn:
                # (0) resolve pendings: this event IS the gated binds'
                # direct successor — absorb (carry max + BP + lag) if
                # its type clears the gate, drop otherwise
                for i in range(n):
                    if nn_ets[i] is None:
                        continue
                    if Pts[i] >= 0 and etype != nn_ets[i]:
                        if (Pts[i], Psp[i], Pap[i]) > (
                            Cts[i], Csp[i], Cap[i]
                        ):
                            Cts[i], Csp[i] = Pts[i], Psp[i]
                            Cap[i] = Pap[i]
                        BP[i] = Ppos[i]
                        Lts[i], Lsp[i], Lap[i] = Pts[i], Psp[i], Pap[i]
                    else:
                        Lts[i], Lsp[i], Lap[i] = -1, -1, -1
                    Pts[i] = Psp[i] = Pap[i] = Ppos[i] = -1
            hts, hsp, hap = [-1] * m, [-1] * m, [-1] * m
            for i, (et, trans, neg_et) in enumerate(steps):
                if etype != et:
                    continue
                if i == 0:
                    hts[0], hsp[0] = t, pos
                else:
                    cin_ts, cin_sp, cin_ap = (
                        (Cts[i - 1], Csp[i - 1], Cap[i - 1])
                        if trans == "followed_by"
                        else (Lts[i - 1], Lsp[i - 1], Lap[i - 1])
                    )
                    if cin_ts >= 0 and (
                        neg_et is None or LQ[i - 1] <= BP[i - 1]
                    ):
                        hts[i], hsp[i] = cin_ts, cin_sp
                        hap[i] = pos if i == anchor_idx else cin_ap
            if hts[-1] >= 0 and (
                within_us is None or t - hts[-1] <= within_us
            ):
                cands.append((eid, t, hts[-1], hsp[-1], pos, hap[-1]))
            for i in range(n):
                if has_nn and nn_ets[i] is not None:
                    # PARK the gated hit; resolution above owns the
                    # carry/lag/BP updates (the lag slot keeps last
                    # row's verdict until the next resolution)
                    Pts[i], Psp[i], Pap[i] = hts[i], hsp[i], hap[i]
                    Ppos[i] = pos if hts[i] >= 0 else -1
                else:
                    if (hts[i], hsp[i], hap[i]) > (
                        Cts[i], Csp[i], Cap[i]
                    ):
                        Cts[i], Csp[i] = hts[i], hsp[i]
                        Cap[i] = hap[i]
                    if hts[i] >= 0:
                        BP[i] = pos
                    Lts[i], Lsp[i] = hts[i], hsp[i]
                    Lap[i] = hap[i]
                neg_et = steps[i + 1][2]
                if neg_et is not None and etype == neg_et:
                    LQ[i] = pos
            pos += 1
        return (
            Cts + Csp + Lts + Lsp + BP + LQ
            + (Cap + Lap if anchored else [])
            + [cursor, pos]
            + (Pts + Psp + Pap + Ppos if has_nn else [])
        ), cands

    return CarryScan(
        fields,
        lambda: [-1] * base + [-1, 0] + ([-1] * (4 * n) if has_nn else []),
        scan,
        cursor=base,
    )


def _gap_hits(steps, bts, bh, L, prev_ts, etype, t, gap_us,
              bq=None, qc=None, nn_ets=None, pn=None):
    """One event's hit vector + buffer/lag maintenance for ONE
    gap-bounded carry chain — the shared inner step of gap_scan and
    gap_enum_scan. Mutates bts/bh/L in place (element rebinding
    on the caller's lists); the caller advances prev_ts once per
    event, AFTER every chain sharing the stream has consumed it.

    bq/qc (r14, mid-pattern negation under the gap bound — the batch
    count-gated bounded max): bq[i] carries each buffered entry's
    INCLUSIVE negated-prefix-count for the gap entering step i+1,
    qc[i] the key's current strictly-before count of that type; a
    buffered row is feasible iff its count equals the current one
    ("no negated event since b"). Callers whose steps carry negated
    gaps MUST pass both; qc is maintained here (incremented after the
    row is consumed, so reads see strictly-before counts).

    nn_ets/pn (r16, notNext under the gap bound — r15 verdict item
    1): nn_ets[i] = the notNext type gating level i's bind (None =
    ungated), pn = [pts, ph, pq] one-row pending slots per level. A
    gated bind's validity ("the directly following event does not
    match") is only known at the NEXT event, so the gated level PARKS
    its hit (with its inclusive q computed at park time — qc
    increments the same event) instead of buffering it; this event
    first RESOLVES last row's pendings — absorb into the buffer (and
    the lag slot) if this event's type clears the gate, drop
    otherwise. The parked row_ts <= t keeps the buffer ascending, so
    the head-check prune stays complete. Callers with notNext steps
    MUST pass both."""
    m = len(steps)
    if bq is None and any(st[2] is not None for st in steps):
        raise ValueError(
            "gap chain has negated gaps but the caller passed no "
            "count buffers — this state machine would ignore the "
            "negation"
        )
    if nn_ets is not None:
        # (0) resolve: this event IS last row's gated binds' direct
        # successor — absorb or drop BEFORE computing this row's hits
        # (a just-validated bind is reachable by this row, exactly the
        # batch LEAD(1) fold)
        pts, ph, pq = pn
        for i in range(m - 1):
            if nn_ets[i] is None:
                continue
            if pts[i] >= 0 and etype != nn_ets[i]:
                bts[i].append(pts[i])
                bh[i].append(ph[i])
                if bq is not None:
                    bq[i].append(pq[i])
                L[i] = ph[i]
            else:
                L[i] = -1
            pts[i] = ph[i] = -1
            pq[i] = -1
    hit = [-1] * m
    for i, (et, trans, neg_et) in enumerate(steps):
        if etype != et:
            continue
        if i == 0:
            hit[0] = t
        elif trans == "followed_by":
            lo = t - gap_us
            best = -1
            if neg_et is None:
                for rts, h in zip(bts[i - 1], bh[i - 1]):
                    if rts >= lo and h > best:
                        best = h
            else:
                cur_q = qc[i - 1]
                for rts, h, q in zip(bts[i - 1], bh[i - 1],
                                     bq[i - 1]):
                    if rts >= lo and q == cur_q and h > best:
                        best = h
            if best >= 0:
                hit[i] = best
        else:
            if (L[i - 1] >= 0 and prev_ts >= 0
                    and t - prev_ts <= gap_us):
                hit[i] = L[i - 1]
    lo = t - gap_us
    for i in range(m - 1):
        gated = nn_ets is not None and nn_ets[i] is not None
        if gated:
            # PARK instead of buffering: validity is known at the
            # next event (resolution above); the inclusive q is
            # computed NOW — qc increments below for this same event
            if hit[i] >= 0:
                pts, ph, pq = pn
                pts[i] = t
                ph[i] = hit[i]
                if bq is not None:
                    qt = steps[i + 1][2]
                    pq[i] = (
                        -1 if qt is None
                        else qc[i] + (1 if etype == qt else 0)
                    )
        elif hit[i] >= 0:
            bts[i].append(t)
            bh[i].append(hit[i])
            if bq is not None:
                qt = steps[i + 1][2]
                bq[i].append(
                    -1 if qt is None
                    else qc[i] + (1 if etype == qt else 0)
                )
        # causal prune: a future event at t' >= t can only reach
        # buffered rows with row_ts >= t' - G >= t - G
        if bts[i] and bts[i][0] < lo:
            keep = [k for k, rts in enumerate(bts[i]) if rts >= lo]
            bts[i] = [bts[i][k] for k in keep]
            bh[i] = [bh[i][k] for k in keep]
            if bq is not None:
                bq[i] = [bq[i][k] for k in keep]
        if not gated:
            # a gated level's lag is owned by the resolution step —
            # between rows it holds the PREVIOUS row's verdict
            L[i] = hit[i]
        if bq is not None:
            qt = steps[i + 1][2]
            if qt is not None and etype == qt:
                qc[i] += 1
    return hit


def _gap_skip_hits(steps, bts, bh, bsp, bap, L, prev_ts, etype, t,
                   pos, gap_us, anchored, anchor_idx,
                   bq=None, qc=None, nn_ets=None, pn=None):
    """One event's position-struct hit vector + buffer/lag maintenance
    for a gap-bounded SKIP chain — the inner step of gap_skip_scan.
    Carried values are (h, sp, ap) structs; the relaxed hop is the
    lexicographic max over gap-feasible buffered predecessors (= the
    batch struct GREATEST), the strict hop reads the previous row's
    struct gated on its time gap, and the anchor hop stamps the
    current row position into ap.

    bq/qc (r15, mid-pattern negation under gap + skip): buffered
    entries additionally carry the inclusive negated-prefix-count q
    for the gap they feed, and the bounded max runs over
    (q, h, sp, ap) — feasibility of entry b ("no negated event in
    (b, current)") is exactly q(b) == the current strictly-before
    count, which is the maximum q any entry holds, so one
    lexicographic max decides feasibility AND picks the greedy struct
    among feasible rows (the batch (q, v) gate with v the position
    struct). Callers whose steps carry negated gaps MUST pass both;
    qc increments after the row is consumed (reads see
    strictly-before counts), exactly _gap_hits' discipline.

    nn_ets/pn (r16, notNext × gap × skip): pn = [pts, ph, psp, pap,
    pq] one-row pending slots per level — a gated level PARKS its
    (h, sp, ap) struct (q computed at park time) and this event
    resolves last row's pendings before computing hits, exactly
    _gap_hits' delayed absorption with the position struct riding
    along."""
    m = len(steps)
    if bq is None and any(st[2] is not None for st in steps):
        raise ValueError(
            "gap chain has negated gaps but the caller passed no "
            "count buffers — this state machine would ignore the "
            "negation"
        )
    if nn_ets is not None:
        pts, ph, psp, pap, pq = pn
        for i in range(m - 1):
            if nn_ets[i] is None:
                continue
            if pts[i] >= 0 and etype != nn_ets[i]:
                bts[i].append(pts[i])
                bh[i].append(ph[i])
                bsp[i].append(psp[i])
                bap[i].append(pap[i])
                if bq is not None:
                    bq[i].append(pq[i])
                L[0][i], L[1][i], L[2][i] = ph[i], psp[i], pap[i]
            else:
                L[0][i], L[1][i], L[2][i] = -1, -1, -1
            pts[i] = ph[i] = psp[i] = pap[i] = -1
            pq[i] = -1
    hit = [(-1, -1, -1)] * m
    for i, (et, trans, neg_et) in enumerate(steps):
        if etype != et:
            continue
        if i == 0:
            hit[0] = (t, pos, -1)
        elif trans == "followed_by":
            lo = t - gap_us
            if neg_et is None:
                best = (-1, -1, -1)
                for rts, h, sp, ap in zip(
                    bts[i - 1], bh[i - 1], bsp[i - 1], bap[i - 1]
                ):
                    if rts >= lo and (h, sp, ap) > best:
                        best = (h, sp, ap)
                if best[0] >= 0:
                    hit[i] = best
            else:
                cur_q = qc[i - 1]
                best = (-1, -1, -1, -1)
                for rts, h, sp, ap, q in zip(
                    bts[i - 1], bh[i - 1], bsp[i - 1], bap[i - 1],
                    bq[i - 1]
                ):
                    if rts >= lo and (q, h, sp, ap) > best:
                        best = (q, h, sp, ap)
                if best[0] == cur_q and best[1] >= 0:
                    hit[i] = best[1:]
        else:
            if (L[0][i - 1] >= 0 and prev_ts >= 0
                    and t - prev_ts <= gap_us):
                hit[i] = (L[0][i - 1], L[1][i - 1], L[2][i - 1])
        if hit[i][0] >= 0 and anchored and i == anchor_idx:
            hit[i] = (hit[i][0], hit[i][1], pos)
    lo = t - gap_us
    for i in range(m - 1):
        gated = nn_ets is not None and nn_ets[i] is not None
        if gated:
            if hit[i][0] >= 0:
                pts, ph, psp, pap, pq = pn
                pts[i] = t
                ph[i], psp[i], pap[i] = hit[i]
                if bq is not None:
                    qt = steps[i + 1][2]
                    pq[i] = (
                        -1 if qt is None
                        else qc[i] + (1 if etype == qt else 0)
                    )
        elif hit[i][0] >= 0:
            bts[i].append(t)
            bh[i].append(hit[i][0])
            bsp[i].append(hit[i][1])
            bap[i].append(hit[i][2])
            if bq is not None:
                qt = steps[i + 1][2]
                bq[i].append(
                    -1 if qt is None
                    else qc[i] + (1 if etype == qt else 0)
                )
        if bts[i] and bts[i][0] < lo:
            keep = [k for k, rts in enumerate(bts[i]) if rts >= lo]
            bts[i] = [bts[i][k] for k in keep]
            bh[i] = [bh[i][k] for k in keep]
            bsp[i] = [bsp[i][k] for k in keep]
            bap[i] = [bap[i][k] for k in keep]
            if bq is not None:
                bq[i] = [bq[i][k] for k in keep]
        if not gated:
            L[0][i], L[1][i], L[2][i] = hit[i]
        if bq is not None:
            qt = steps[i + 1][2]
            if qt is not None and etype == qt:
                qc[i] += 1
    return hit


def _gap_skip_state_fields(steps, nn_ets=None) -> list:
    """State fields of gap_skip_scan — bq_*/qc exist only when some
    step carries a negated gap (pre-r15 checkpoints of plain gap-skip
    queries restart cleanly); pnn_* notNext pending slots (r16) exist
    only when some level is notNext-gated."""
    n = len(steps) - 1
    has_mneg = any(st[2] is not None for st in steps)
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)
    return (
        [f"bts_{i} ARRAY<BIGINT>" for i in range(n)]
        + [f"bh_{i} ARRAY<BIGINT>" for i in range(n)]
        + [f"bsp_{i} ARRAY<BIGINT>" for i in range(n)]
        + [f"bap_{i} ARRAY<BIGINT>" for i in range(n)]
        + ([f"bq_{i} ARRAY<BIGINT>" for i in range(n)] if has_mneg
           else [])
        + ["lh ARRAY<BIGINT>", "lsp ARRAY<BIGINT>", "lap ARRAY<BIGINT>"]
        + (["qc ARRAY<BIGINT>"] if has_mneg else [])
        + ["prev_ts BIGINT", "pos BIGINT", "cursor BIGINT"]
        + (["pnn_ts ARRAY<BIGINT>", "pnn_h ARRAY<BIGINT>",
            "pnn_sp ARRAY<BIGINT>", "pnn_ap ARRAY<BIGINT>",
            "pnn_q ARRAY<BIGINT>"] if has_nn else [])
    )


def gap_scan(steps, within_us, gap_us, nn_ets=None):
    """Carry scan for a pattern under a per-transition gap bound
    (within previous_and_current, r13): the O(1) running-max carry
    cannot expire old starts, so each chain level carries a BUFFER of
    (row_ts, start) pairs still inside the gap horizon — state ∝
    events in ONE gap window per key, the bound's inherent memory
    (Flink's NFA holds the same partial matches). Per row at time t, a
    relaxed bounded hop reads max{start : (row_ts, start) ∈
    buffer_{i-1}, row_ts >= t − G} — for a NEGATED gap additionally
    count-gated (r14, see _gap_hits) — (rows processed earlier in
    (ts, id) order — same-µs earlier-tiebreak rows are already
    buffered, matching the batch RANGE+tie-frame split); a strict hop
    reads the previous row's hit gated on its time gap. Buffers prune
    causally (event time is non-decreasing within a key's sorted
    batch, and state carries only what the NEXT event might still
    reach). notNext gates (nn_ets, r16) park in one-row pending slots
    (see _gap_hits)."""
    n = len(steps) - 1
    # r14 advice: the bq/qc count buffers exist ONLY when some step
    # carries a negated gap — plain gap patterns keep the r13 state
    # schema (no widened stateStructType breaking existing checkpoints,
    # no state columns the machine never reads). Same rule for the r16
    # notNext pending slots (gated on nn_ets).
    has_neg = any(st[2] is not None for st in steps)
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)

    def scan(vals, eids, etypes, ts):
        bts = [list(vals[i]) for i in range(n)]
        bh = [list(vals[n + i]) for i in range(n)]
        if has_neg:
            bq = [list(vals[2 * n + i]) for i in range(n)]
            L = list(vals[3 * n])
            qc = list(vals[3 * n + 1])
            prev_ts = vals[3 * n + 2]
            rest = vals[3 * n + 3:]
        else:
            bq, qc = None, None
            L = list(vals[2 * n])
            prev_ts = vals[2 * n + 1]
            rest = vals[2 * n + 2:]
        pn = [list(r) for r in rest] if has_nn else None
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            hit = _gap_hits(steps, bts, bh, L, prev_ts, etype, t,
                            gap_us, bq, qc,
                            nn_ets if has_nn else None, pn)
            if hit[-1] >= 0 and (
                within_us is None or t - hit[-1] <= within_us
            ):
                cands.append((eid, t, hit[-1]))
            prev_ts = t
        return (
            bts + bh + (bq + [L, qc] if has_neg else [L]) + [prev_ts]
            + (pn if has_nn else [])
        ), cands

    return CarryScan(
        _gap_state_fields(steps, nn_ets),
        lambda: ([[] for _ in range(2 * n)]
                 + ([[] for _ in range(n)] + [[-1] * n, [0] * n]
                    if has_neg else [[-1] * n])
                 + [-1] + ([[-1] * n for _ in range(3)] if has_nn else [])),
        scan,
    )


def _gap_state_fields(steps, nn_ets=None) -> list:
    """State fields of gap_scan. bq_*/qc count buffers exist ONLY
    when some step carries a negated gap (r14 advice): plain gap
    patterns keep the r13 schema, so a pre-r14 streaming query
    restarted from an existing checkpoint sees an unchanged
    stateStructType and pays no state columns it never reads. Same
    rule for the r16 notNext pending slots (pnn_*)."""
    n = len(steps) - 1
    has_neg = any(st[2] is not None for st in steps)
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)
    return (
        [f"bts_{i} ARRAY<BIGINT>" for i in range(n)]
        + [f"bh_{i} ARRAY<BIGINT>" for i in range(n)]
        + ([f"bq_{i} ARRAY<BIGINT>" for i in range(n)] if has_neg else [])
        + ["l ARRAY<BIGINT>"]
        + (["qc ARRAY<BIGINT>"] if has_neg else [])
        + ["prev_ts BIGINT"]
        + (["pnn_ts ARRAY<BIGINT>", "pnn_h ARRAY<BIGINT>",
            "pnn_q ARRAY<BIGINT>"] if has_nn else [])
    )


def gap_skip_scan(steps, within_us, gap_us, anchor_idx=None,
                   nn_ets=None):
    """r14 continuation: AfterMatchSkip over a GAP-BOUNDED chain — the
    buffered carry generalized to (h, sp[, ap]) position structs
    (parallel arrays per level, lexicographic max over gap-feasible
    predecessors = the batch struct GREATEST, see _gap_skip_hits), with
    the acceptance cursor of skip_scan one more long of keyed state
    (matches arrive in row order within a key, so cep_keyed_fn's fold
    is causal). r15: MID-PATTERN negated gaps compose (count-gated
    position-struct buffers); bq/qc state exists only when some step
    carries a negated gap. r16: notNext gates compose (one-row delayed
    absorption in _gap_skip_hits); pnn_* state exists only when some
    level is gated."""
    n = len(steps) - 1
    anchored = anchor_idx is not None
    has_mneg = any(st[2] is not None for st in steps)
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)
    fields = _gap_skip_state_fields(steps, nn_ets)

    def scan(vals, eids, etypes, ts):
        bts = [list(vals[i]) for i in range(n)]
        bh = [list(vals[n + i]) for i in range(n)]
        bsp = [list(vals[2 * n + i]) for i in range(n)]
        bap = [list(vals[3 * n + i]) for i in range(n)]
        if has_mneg:
            bq = [list(vals[4 * n + i]) for i in range(n)]
            L = [list(vals[5 * n]), list(vals[5 * n + 1]),
                 list(vals[5 * n + 2])]
            qc = list(vals[5 * n + 3])
            prev_ts, pos, cursor = vals[5 * n + 4:5 * n + 7]
            rest = vals[5 * n + 7:]
        else:
            bq, qc = None, None
            L = [list(vals[4 * n]), list(vals[4 * n + 1]),
                 list(vals[4 * n + 2])]
            prev_ts, pos, cursor = vals[4 * n + 3:4 * n + 6]
            rest = vals[4 * n + 6:]
        pn = [list(r) for r in rest] if has_nn else None
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            hit = _gap_skip_hits(steps, bts, bh, bsp, bap, L, prev_ts,
                                 etype, t, pos, gap_us, anchored,
                                 anchor_idx, bq, qc,
                                 nn_ets if has_nn else None, pn)
            if hit[-1][0] >= 0 and (
                within_us is None or t - hit[-1][0] <= within_us
            ):
                h, sp, ap = hit[-1]
                cands.append((eid, t, h, sp, pos, ap))
            prev_ts = t
            pos += 1
        return (
            bts + bh + bsp + bap + (bq if has_mneg else []) + L
            + ([qc] if has_mneg else []) + [prev_ts, pos, cursor]
            + (pn if has_nn else [])
        ), cands

    return CarryScan(
        fields,
        lambda: ([[] for _ in range((5 if has_mneg else 4) * n)]
                 + [[-1] * n for _ in range(3)]
                 + ([[0] * n] if has_mneg else []) + [-1, 0, -1]
                 + ([[-1] * n for _ in range(5)] if has_nn else [])),
        scan,
        cursor=fields.index("cursor BIGINT"),
    )


def gap_enum_scan(variant_steps, within_us, gap_us, incl_flags,
                   flag_names):
    """r14 (r13 verdict item 4b): OPTIONAL steps under a per-gap bound
    — the streaming form of the batch 2^k variant enumeration (the
    skip-variant dominance is unsound under a gap bound, so EVERY
    include/exclude variant runs as its own gap-buffered chain in the
    same keyed state; compile() builds the identical chain set). Per
    event each variant advances independently (prev_ts is shared —
    one event stream); emission OR-gates: match when ANY variant
    completes within the window, start_us = the max satisfied start
    (batch F.greatest), with_<name> = any satisfied variant INCLUDES
    that optional step. 2^k is capped at 64 chains by the same k <= 6
    builder cap the batch compile enforces. r15: MID-PATTERN negated
    gaps compose — the step carrying the negation is required
    (optional() refuses to close a negated gap), so EVERY variant
    carries the count-gated buffers of _gap_hits; bq/qc state exists
    only when the pattern has a negated gap."""
    nvar = len(variant_steps)
    ns = [len(s) - 1 for s in variant_steps]
    has_mneg = any(st[2] is not None
                   for s in variant_steps for st in s)
    fields = []
    for p in ("bts", "bh") + (("bq",) if has_mneg else ()):
        for v in range(nvar):
            fields += [f"{p}_{v}_{i} ARRAY<BIGINT>" for i in range(ns[v])]
    fields += [f"l_{v} ARRAY<BIGINT>" for v in range(nvar)]
    if has_mneg:
        fields += [f"qc_{v} ARRAY<BIGINT>" for v in range(nvar)]
    fields.append("prev_ts BIGINT")

    def scan(vals, eids, etypes, ts):
        idx = 0
        bts, bh, bq = [], [], []
        for buf in (bts, bh) + ((bq,) if has_mneg else ()):
            for v in range(nvar):
                buf.append([list(vals[idx + i]) for i in range(ns[v])])
                idx += ns[v]
        L = [list(x) for x in vals[idx:idx + nvar]]
        idx += nvar
        qc = []
        if has_mneg:
            qc = [list(x) for x in vals[idx:idx + nvar]]
            idx += nvar
        prev_ts = vals[idx]
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            starts = []
            for v in range(nvar):
                hit = _gap_hits(variant_steps[v], bts[v], bh[v], L[v],
                                prev_ts, etype, t, gap_us,
                                bq[v] if has_mneg else None,
                                qc[v] if has_mneg else None)
                ok = hit[-1] >= 0 and (
                    within_us is None or t - hit[-1] <= within_us
                )
                starts.append(hit[-1] if ok else -1)
            best = max(starts)
            if best >= 0:
                cands.append((eid, t, best, *(
                    any(starts[v] >= 0 for v in range(nvar)
                        if f in incl_flags[v])
                    for f in flag_names)))
            prev_ts = t
        return (
            [b for buf in bts + bh + bq for b in buf] + L + qc + [prev_ts]
        ), cands

    return CarryScan(
        fields,
        lambda: ([[] for _ in range((3 if has_mneg else 2) * sum(ns))]
                 + [[-1] * n for n in ns]
                 + ([[0] * n for n in ns] if has_mneg else []) + [-1]),
        scan,
        [f"{f} BOOLEAN" for f in flag_names],
    )


def until_scan(steps, within_us, counted, entry_idx=None, nn_ets=None):
    """r15: carry scan for a pattern with `until(condition)`
    stop-gated loops (FlinkCEP's loop stop condition, compiled batch-
    side as per-copy mid-negation gates + a carried freeze value).
    `steps` = [(etype, trans, gate_et)] with gate_et on EVERY copy of
    an until step (and on first copies of ordinary mid-negations);
    `counted` = [(name, etype, up_to, u_et_or_None)].

    The carry machinery is compiled_scan's paired form (C/L +
    BP/LQ gates + count-at-start pairs + shared running counts) plus
    ONE RIDER per counted-with-until step per level: u_k = the
    repeated-step count just before the FIRST stop event after the
    carried chain's start (-1 = none yet). The rider IS part of the
    lexicographic comparison, AFTER the counts and with -1 (unknown)
    ordered as +infinity — exactly the batch struct (h, c.., u..)
    whose u field carries the forward-window NB value: two same-ts
    same-count starts tie on (h, c..) and the batch max picks the
    larger NB; stream-side the not-yet-frozen rider is always >= any
    frozen one (NB is nondecreasing in start position and freezes
    only grow with time), so unknown-as-infinity reproduces the batch
    order without knowing the future. Riders FREEZE when a stop event
    arrives: a stop at row t applies to every value in state (all
    started strictly before t) and not to starts made at t, so
    freezing BEFORE the row's hits are computed is exactly the batch
    nbu(A) = min over stops strictly after A. The pool at a match row
    is then min(incl-count, frozen u) - count-at-start — causal,
    matching the batch LEAST() arithmetic (brute-force fuzz:
    tests/test_properties.py::test_cep_until_*).

    entry_idx (r16): per counted step, the expanded LEVEL of the
    loop's entry event (the copy directly before the until step's
    first copy; None/0 for non-until or loop-adjacent-to-begin). The
    rider pair (c, u) is stamped there, not at the chain start —
    entry-relative freezes (the latent r15 bug: a stop in an
    unguarded prefix gap clamped the pool from the start, below the
    loop's lower bound). Pre-entry levels carry sentinels (c = -1,
    u = -2 'not entered'); -2 never freezes and encodes as +inf in
    the compare exactly like the live -1 (levels are uniformly
    pre/post entry, so the encodings never mix at one level).

    nn_ets (r16): notNext gates compose — a gated level PARKS its
    (h, counts, riders) hit in a one-row pending slot resolved at the
    next event (the delayed absorption of not_next_scan), and
    resolution runs BEFORE the stop-freeze step so a stop event that
    also validates a parked bind freezes the just-absorbed rider
    (the stop is strictly after the bind's entry row, exactly the
    batch forward-MIN)."""
    m = len(steps)
    n = m - 1
    qtypes = [st[2] for st in steps[1:]]
    cnt_ets = [c[1] for c in counted]
    up_tos = [c[2] for c in counted]
    u_ets = [c[3] for c in counted]
    K = len(counted)
    E = list(entry_idx) if entry_idx is not None else [0] * K
    E = [e or 0 for e in E]
    has_nn = nn_ets is not None and any(e is not None for e in nn_ets)
    NO_STOP = 1 << 62
    # flat layout: C(n) L(n) BP(n) LQ(n) then per counted k:
    # Ccs(n) Lcs(n), then per counted k with until: Cu(n) Lu(n),
    # then (nn only) the pending block: Ph(n) Ppos(n), per k
    # Pcs(n), per until-k Pu(n)
    nu = sum(1 for u in u_ets if u is not None)
    base = 4 * n + 2 * K * n + 2 * nu * n
    if has_nn:
        base += 2 * n + K * n + nu * n

    def ok(v, t):
        return v >= 0 and (within_us is None or t - v <= within_us)

    def scan(vals, eids, etypes, ts):
        flat = list(vals[0])
        QCs = list(vals[1])
        pos = vals[2]
        off = 0
        C = flat[off:off + n]; off += n
        L = flat[off:off + n]; off += n
        BP = flat[off:off + n]; off += n
        LQ = flat[off:off + n]; off += n
        Ccs, Lcs = [], []
        for _k in range(K):
            Ccs.append(flat[off:off + n]); off += n
            Lcs.append(flat[off:off + n]); off += n
        Cu, Lu = {}, {}
        for k in range(K):
            if u_ets[k] is not None:
                Cu[k] = flat[off:off + n]; off += n
                Lu[k] = flat[off:off + n]; off += n
        Ph = Ppos = None
        Pcs, Pu = [], {}
        if has_nn:
            Ph = flat[off:off + n]; off += n
            Ppos = flat[off:off + n]; off += n
            for _k in range(K):
                Pcs.append(flat[off:off + n]); off += n
            for k in range(K):
                if u_ets[k] is not None:
                    Pu[k] = flat[off:off + n]; off += n
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            # (0) resolve notNext pendings (r16) BEFORE the stop
            # freeze: a just-validated bind's rider must see a stop
            # arriving on the SAME row (it is strictly after the
            # bind's entry row)
            if has_nn:
                for i in range(n):
                    if nn_ets[i] is None:
                        continue
                    if Ph[i] >= 0 and etype != nn_ets[i]:
                        ptup = (
                            (Ph[i],)
                            + tuple(Pcs[k][i] for k in range(K))
                            + tuple(
                                (Pu[k][i] if Pu[k][i] >= 0
                                 else NO_STOP) for k in range(K)
                                if k in Cu
                            )
                        )
                        ctup = (
                            (C[i],)
                            + tuple(Ccs[k][i] for k in range(K))
                            + tuple(
                                (Cu[k][i] if Cu[k][i] >= 0
                                 else NO_STOP) for k in range(K)
                                if k in Cu
                            )
                        )
                        if ptup > ctup:
                            C[i] = Ph[i]
                            for k in range(K):
                                Ccs[k][i] = Pcs[k][i]
                                if k in Cu:
                                    Cu[k][i] = Pu[k][i]
                        BP[i] = Ppos[i]
                        L[i] = Ph[i]
                        for k in range(K):
                            Lcs[k][i] = Pcs[k][i]
                            if k in Lu:
                                Lu[k][i] = Pu[k][i]
                    else:
                        L[i] = -1
                        for k in range(K):
                            Lcs[k][i] = -1
                            if k in Lu:
                                Lu[k][i] = -1
                    Ph[i] = -1
                    Ppos[i] = -1
                    for k in range(K):
                        Pcs[k][i] = -1
                        if k in Pu:
                            Pu[k][i] = -1
            # (1) stop events freeze riders FIRST: every value in
            # state started strictly before this row, and the hits
            # computed below inherit the frozen rider
            for k in range(K):
                if u_ets[k] is not None and etype == u_ets[k]:
                    for i in range(n):
                        if C[i] >= 0 and Cu[k][i] == -1:
                            Cu[k][i] = QCs[k]
                        if L[i] >= 0 and Lu[k][i] == -1:
                            Lu[k][i] = QCs[k]
            # (2) hits against the pre-row carries
            hh = [-1] * m
            hcs = [[-1] * m for _ in range(K)]
            hu = [[-1] * m for _ in range(K)]
            for i, (et, trans, _gate) in enumerate(steps):
                if etype != et:
                    continue
                if i == 0:
                    hh[0] = t
                    for k in range(K):
                        if u_ets[k] is not None and E[k] > 0:
                            # entry-relative rider, stamped later
                            hcs[k][0] = -1
                            hu[k][0] = -2
                        else:
                            hcs[k][0] = QCs[k] + (
                                1 if etype == cnt_ets[k] else 0)
                            hu[k][0] = -1
                else:
                    if trans == "followed_by":
                        ch = C[i - 1]
                        ccs = [Ccs[k][i - 1] for k in range(K)]
                        cus = {k: Cu[k][i - 1] for k in Cu}
                    else:
                        ch = L[i - 1]
                        ccs = [Lcs[k][i - 1] for k in range(K)]
                        cus = {k: Lu[k][i - 1] for k in Lu}
                    if ch >= 0 and (
                        qtypes[i - 1] is None or LQ[i - 1] <= BP[i - 1]
                    ):
                        hh[i] = ch
                        for k in range(K):
                            hcs[k][i] = ccs[k]
                            if k in cus:
                                hu[k][i] = cus[k]
                        for k in range(K):
                            if u_ets[k] is not None and E[k] == i:
                                # the loop-entry hop: stamp the rider
                                # with this row's values
                                hcs[k][i] = QCs[k] + (
                                    1 if etype == cnt_ets[k] else 0)
                                hu[k][i] = -1
            # (3) emission — pool clamped at the chain's freeze
            if ok(hh[-1], t):
                row = [eid, t, hh[-1]]
                for k in range(K):
                    incl = QCs[k] + (1 if etype == cnt_ets[k] else 0)
                    if u_ets[k] is not None:
                        fz = hu[k][-1]
                        incl = min(incl,
                                   fz if fz >= 0 else NO_STOP)
                    pool = incl - hcs[k][-1]
                    row.append(
                        pool if up_tos[k] is None
                        else min(pool, up_tos[k])
                    )
                cands.append(tuple(row))
            # (4) absorb hits — the lexicographic compare INCLUDES
            # the riders after the counts (unknown -1 ordered as
            # +inf), matching the batch (h, c.., u..) struct max on
            # same-ts same-count start ties; a notNext-gated level
            # PARKS instead (resolution above owns its carry/lag/BP)
            for i in range(n):
                if has_nn and nn_ets[i] is not None:
                    Ph[i] = hh[i]
                    Ppos[i] = pos if hh[i] >= 0 else -1
                    for k in range(K):
                        Pcs[k][i] = hcs[k][i]
                        if k in Pu:
                            Pu[k][i] = hu[k][i]
                    if qtypes[i] is not None and etype == qtypes[i]:
                        LQ[i] = pos
                    continue
                htup = (
                    (hh[i],)
                    + tuple(hcs[k][i] for k in range(K))
                    + tuple(
                        (hu[k][i] if hu[k][i] >= 0 else NO_STOP)
                        for k in range(K) if k in Cu
                    )
                )
                ctup = (
                    (C[i],)
                    + tuple(Ccs[k][i] for k in range(K))
                    + tuple(
                        (Cu[k][i] if Cu[k][i] >= 0 else NO_STOP)
                        for k in range(K) if k in Cu
                    )
                )
                if htup > ctup:
                    C[i] = hh[i]
                    for k in range(K):
                        Ccs[k][i] = hcs[k][i]
                        if k in Cu:
                            Cu[k][i] = hu[k][i]
                L[i] = hh[i]
                for k in range(K):
                    Lcs[k][i] = hcs[k][i]
                    if k in Lu:
                        Lu[k][i] = hu[k][i]
                if hh[i] >= 0:
                    BP[i] = pos
                if qtypes[i] is not None and etype == qtypes[i]:
                    LQ[i] = pos
            # (5) shared running counts + row counter
            for k in range(K):
                if etype == cnt_ets[k]:
                    QCs[k] += 1
            pos += 1
        new_flat = C + L + BP + LQ
        for k in range(K):
            new_flat += Ccs[k] + Lcs[k]
        for k in range(K):
            if k in Cu:
                new_flat += Cu[k] + Lu[k]
        if has_nn:
            new_flat += Ph + Ppos
            for k in range(K):
                new_flat += Pcs[k]
            for k in range(K):
                if k in Pu:
                    new_flat += Pu[k]
        return [new_flat, QCs, pos], cands

    return CarryScan(
        ["flat ARRAY<BIGINT>", "qcs ARRAY<BIGINT>", "pos BIGINT"],
        lambda: [[-1] * base, [0] * K, 0],
        scan,
        [f"n_{c[0]} BIGINT" for c in counted],
    )


def cep_any_pairs_stream(
    spark: SparkSession, files_dir: str, sf_dir: str,
    a_et: str, b_et: str, within_us: int,
) -> DataFrame:
    """r15: followedByAny's two-step enumeration class as a TRUE
    streaming query — a watermarked stream-stream interval SELF-JOIN
    (the streaming-native form of the batch binned range join): both
    sides carry a watermark and the join's time-range condition, so
    Spark retains each start only one horizon past the watermark —
    state ∝ starts in one `within` window per key, the enumeration's
    inherent memory. The strictly-earlier (ts, tiebreak) refinement
    rides as an extra boolean predicate on top of the state-bounding
    range condition."""
    s = (
        _events_stream(spark, files_dir, sf_dir)
        .filter(F.col("event_type") == a_et)
        .withWatermark("ts", "0 seconds")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("start_id"),
            F.col("ts").alias("s_ts"),
        )
    )
    e = (
        _events_stream(spark, files_dir, sf_dir)
        .filter(F.col("event_type") == b_et)
        .withWatermark("ts", "0 seconds")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("match_id"),
            F.col("ts").alias("e_ts"),
        )
    )
    cond = (
        (F.col("s_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("s_ts"))
        & (F.col("e_ts")
           <= F.col("s_ts") + F.expr(f"INTERVAL {within_us} MICROSECOND"))
        & (
            (F.col("s_ts") < F.col("e_ts"))
            | ((F.col("s_ts") == F.col("e_ts"))
               & (F.col("start_id") < F.col("match_id")))
        )
    )
    return e.join(s, cond, "inner").select(
        F.col("e_user").alias("user_id"),
        "match_id",
        F.unix_micros("e_ts").alias("match_us"),
        "start_id",
        F.unix_micros("s_ts").alias("start_us"),
    )


def not_next_scan(steps, within_us, counted, nn_ets):
    """r15: carry scan for patterns with notNext gates (FlinkCEP's
    strict-contiguity negation, compiled batch-side as a LEAD(1) flag
    folded into the step predicate). A bind's validity ("the directly
    following event does not match") is only known at the NEXT event,
    so gated levels use ONE-ROW DELAYED ABSORPTION: the row's hit parks
    in a pending slot instead of the carry; the next event either
    absorbs it (its type clears the gate) or drops it — the lag value
    L and the gate watermark BP follow the same delayed rule, so strict
    hops and downstream mid-negation gates read only VALID binds,
    exactly the batch's gated hit column. `steps` = [(etype, trans,
    neg_et)] (mid-negation first-copy gates as usual), `counted` =
    [(name, etype, up_to)], `nn_ets[i]` = the notNext type gating
    expanded copy i (None = ungated; the final copy is never gated — a
    pattern cannot end in notNext)."""
    m = len(steps)
    n = m - 1
    qtypes = [st[2] for st in steps[1:]]
    cnt_ets = [c[1] for c in counted]
    up_tos = [c[2] for c in counted]
    K = len(counted)

    def ok(v, t):
        return v >= 0 and (within_us is None or t - v <= within_us)

    def scan(vals, eids, etypes, ts):
        # flat: C(n) L(n) BP(n) LQ(n) + per k: Ccs(n) Lcs(n)
        #       + P(n) Ppos(n) + per k: Pcs(n)
        flat = list(vals[0])
        QCs = list(vals[1])
        pos = vals[2]
        off = 0
        C = flat[off:off + n]; off += n
        L = flat[off:off + n]; off += n
        BP = flat[off:off + n]; off += n
        LQ = flat[off:off + n]; off += n
        Ccs, Lcs = [], []
        for _k in range(K):
            Ccs.append(flat[off:off + n]); off += n
            Lcs.append(flat[off:off + n]); off += n
        P = flat[off:off + n]; off += n
        Ppos = flat[off:off + n]; off += n
        Pcs = []
        for _k in range(K):
            Pcs.append(flat[off:off + n]); off += n
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            # (0) resolve pendings: this event IS the gated binds'
            # direct successor — absorb if it clears the gate, drop
            # otherwise; either way the lag slot reflects the verdict
            for i in range(n):
                if nn_ets[i] is None:
                    continue
                if P[i] >= 0 and etype != nn_ets[i]:
                    ptup = (P[i],) + tuple(Pcs[k][i] for k in range(K))
                    ctup = (C[i],) + tuple(Ccs[k][i] for k in range(K))
                    if ptup > ctup:
                        C[i] = P[i]
                        for k in range(K):
                            Ccs[k][i] = Pcs[k][i]
                    BP[i] = Ppos[i]
                    L[i] = P[i]
                    for k in range(K):
                        Lcs[k][i] = Pcs[k][i]
                else:
                    L[i] = -1
                    for k in range(K):
                        Lcs[k][i] = -1
                P[i] = -1
                Ppos[i] = -1
                for k in range(K):
                    Pcs[k][i] = -1
            # (1) hits against the (resolved) carries
            hh = [-1] * m
            hcs = [[-1] * m for _ in range(K)]
            for i, (et, trans, _neg) in enumerate(steps):
                if etype != et:
                    continue
                if i == 0:
                    hh[0] = t
                    for k in range(K):
                        hcs[k][0] = QCs[k] + (
                            1 if etype == cnt_ets[k] else 0)
                else:
                    if trans == "followed_by":
                        ch = C[i - 1]
                        ccs = [Ccs[k][i - 1] for k in range(K)]
                    else:
                        ch = L[i - 1]
                        ccs = [Lcs[k][i - 1] for k in range(K)]
                    if ch >= 0 and (
                        qtypes[i - 1] is None or LQ[i - 1] <= BP[i - 1]
                    ):
                        hh[i] = ch
                        for k in range(K):
                            hcs[k][i] = ccs[k]
            # (2) emission (the final step is never notNext-gated)
            if ok(hh[-1], t):
                pools = [QCs[k] + (1 if etype == cnt_ets[k] else 0)
                         - hcs[k][-1] for k in range(K)]
                cands.append((
                    eid, t, hh[-1],
                    *(p if cap is None else min(p, cap)
                      for p, cap in zip(pools, up_tos)),
                ))
            # (3) absorb — gated levels PARK the hit instead
            for i in range(n):
                if nn_ets[i] is not None:
                    P[i] = hh[i]
                    Ppos[i] = pos if hh[i] >= 0 else -1
                    for k in range(K):
                        Pcs[k][i] = hcs[k][i]
                else:
                    htup = (hh[i],) + tuple(
                        hcs[k][i] for k in range(K))
                    ctup = (C[i],) + tuple(
                        Ccs[k][i] for k in range(K))
                    if htup > ctup:
                        C[i] = hh[i]
                        for k in range(K):
                            Ccs[k][i] = hcs[k][i]
                    L[i] = hh[i]
                    for k in range(K):
                        Lcs[k][i] = hcs[k][i]
                    if hh[i] >= 0:
                        BP[i] = pos
                if qtypes[i] is not None and etype == qtypes[i]:
                    LQ[i] = pos
            for k in range(K):
                if etype == cnt_ets[k]:
                    QCs[k] += 1
            pos += 1
        new_flat = C + L + BP + LQ
        for k in range(K):
            new_flat += Ccs[k] + Lcs[k]
        new_flat += P + Ppos
        for k in range(K):
            new_flat += Pcs[k]
        return [new_flat, QCs, pos], cands

    return CarryScan(
        ["flat ARRAY<BIGINT>", "qcs ARRAY<BIGINT>", "pos BIGINT"],
        lambda: [[-1] * (4 * n + 2 * K * n + 2 * n + K * n), [0] * K, 0],
        scan,
        [f"n_{c[0]} BIGINT" for c in counted],
    )


def until_split_scan(variant_steps, within_us, counted,
                      incl_flags=None, flag_names=None, entry_idx=None):
    """r16 (r15 verdict item 2): until()-gated loops COMPOSED with a
    both-strict oneOrMore/times(1, m) split elsewhere in the pattern —
    the freeze-rider machinery of until_scan run over the
    OR-of-variant-chains of or_split_scan. Each variant is one
    quantifier expansion of the same pattern (1-rep / >=2-rep per
    split step), each carrying its own C/L/BP/LQ gates, count-at-start
    pairs AND freeze riders; running counts and the row counter are
    shared. Emission is EXISTS-any with the lexicographic
    (h, c.., u-as-inf..) max across satisfied variants — the same
    batch struct GREATEST, riders joining the compare after the counts
    with unknown encoded as +inf (the f994a3d rule: a not-yet-frozen
    rider is always >= any frozen one because NB is nondecreasing in
    start position). Stop events freeze every variant's riders BEFORE
    the row's hits, exactly until_scan's discipline.

    incl_flags/flag_names (r16, until × optional — r15 verdict item
    8): when the variants are the 2^k include/exclude expansions of
    optional steps, incl_flags[v] is the set of with_<name> flags
    variant v includes and the output gains one BOOLEAN per optional
    step — true iff any including variant completed (causal at the
    match row).

    entry_idx (r16): per variant, per counted step, the expanded
    LEVEL of the loop's entry event — riders stamp there
    (entry-relative freezes, see until_scan; the optional variants
    have DIFFERENT entry levels, which is exactly why the freeze must
    be entry-relative for this composition)."""
    sizes = [len(steps) - 1 for steps in variant_steps]
    qtypes = [[st[2] for st in steps[1:]] for steps in variant_steps]
    nvar = len(variant_steps)
    cnt_ets = [c[1] for c in counted]
    up_tos = [c[2] for c in counted]
    u_ets = [c[3] for c in counted]
    K = len(counted)
    uks = [k for k in range(K) if u_ets[k] is not None]
    E = (entry_idx if entry_idx is not None
         else [[0] * K for _ in range(nvar)])
    E = [[e or 0 for e in ev] for ev in E]
    flag_names = list(flag_names or [])
    NO_STOP = 1 << 62
    # flat layout per variant v (size n): C L BP LQ, per k:
    # Ccs Lcs, per k-with-until: Cu Lu — variants concatenated
    base = sum(4 * n + 2 * K * n + 2 * len(uks) * n for n in sizes)

    def ok(vv, t):
        return vv >= 0 and (within_us is None or t - vv <= within_us)

    def scan(vals, eids, etypes, ts):
        flat = list(vals[0])
        QCs = list(vals[1])
        pos = vals[2]
        V = []  # per variant: (C, L, BP, LQ, Ccs, Lcs, Cu, Lu)
        off = 0
        for n in sizes:
            C = flat[off:off + n]; off += n
            L = flat[off:off + n]; off += n
            BP = flat[off:off + n]; off += n
            LQ = flat[off:off + n]; off += n
            Ccs, Lcs = [], []
            for _k in range(K):
                Ccs.append(flat[off:off + n]); off += n
                Lcs.append(flat[off:off + n]); off += n
            Cu, Lu = {}, {}
            for k in uks:
                Cu[k] = flat[off:off + n]; off += n
                Lu[k] = flat[off:off + n]; off += n
            V.append((C, L, BP, LQ, Ccs, Lcs, Cu, Lu))
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            # (1) stop events freeze EVERY variant's riders first
            for k in uks:
                if etype == u_ets[k]:
                    for (C, L, _BP, _LQ, _Ccs, _Lcs, Cu, Lu) in V:
                        for i in range(len(C)):
                            if C[i] >= 0 and Cu[k][i] == -1:
                                Cu[k][i] = QCs[k]
                            if L[i] >= 0 and Lu[k][i] == -1:
                                Lu[k][i] = QCs[k]
            # (2) hits per variant against the pre-row carries
            hits = []
            for v, ((C, L, BP, LQ, Ccs, Lcs, Cu, Lu), steps) in \
                    enumerate(zip(V, variant_steps)):
                m = len(steps)
                hh = [-1] * m
                hcs = [[-1] * m for _ in range(K)]
                hu = {k: [-1] * m for k in uks}
                for i, (et, trans, _gate) in enumerate(steps):
                    if etype != et:
                        continue
                    if i == 0:
                        hh[0] = t
                        for k in range(K):
                            if k in uks and E[v][k] > 0:
                                hcs[k][0] = -1
                                hu[k][0] = -2
                            else:
                                hcs[k][0] = QCs[k] + (
                                    1 if etype == cnt_ets[k] else 0)
                    else:
                        if trans == "followed_by":
                            ch = C[i - 1]
                            ccs = [Ccs[k][i - 1] for k in range(K)]
                            cus = {k: Cu[k][i - 1] for k in uks}
                        else:
                            ch = L[i - 1]
                            ccs = [Lcs[k][i - 1] for k in range(K)]
                            cus = {k: Lu[k][i - 1] for k in uks}
                        if ch >= 0 and (
                            qtypes[v][i - 1] is None
                            or LQ[i - 1] <= BP[i - 1]
                        ):
                            hh[i] = ch
                            for k in range(K):
                                hcs[k][i] = ccs[k]
                            for k in uks:
                                hu[k][i] = cus[k]
                            for k in uks:
                                if E[v][k] == i:
                                    # loop-entry hop: stamp the rider
                                    hcs[k][i] = QCs[k] + (
                                        1 if etype == cnt_ets[k]
                                        else 0)
                                    hu[k][i] = -1
                hits.append((hh, hcs, hu))
            # (3) emission — lexicographic (h, c.., u-as-inf..) winner
            # across satisfied variants, pools from the winner
            oks = [ok(hh[-1], t) for hh, _hcs, _hu in hits]
            if any(oks):
                win = max(
                    (hh[-1],)
                    + tuple(hcs[k][-1] for k in range(K))
                    + tuple(
                        (hu[k][-1] if hu[k][-1] >= 0 else NO_STOP)
                        for k in uks
                    )
                    for (hh, hcs, hu), okv in zip(hits, oks) if okv
                )
                row = [eid, t, win[0]]
                for k in range(K):
                    incl = QCs[k] + (1 if etype == cnt_ets[k] else 0)
                    if k in uks:
                        incl = min(incl, win[1 + K + uks.index(k)])
                    pool = incl - win[1 + k]
                    row.append(
                        pool if up_tos[k] is None
                        else min(pool, up_tos[k])
                    )
                for f in flag_names:
                    row.append(any(
                        okv for v, okv in enumerate(oks)
                        if okv and f in incl_flags[v]
                    ))
                cands.append(tuple(row))
            # (4) absorb per variant — riders join the compare
            for v, ((C, L, BP, LQ, Ccs, Lcs, Cu, Lu),
                    (hh, hcs, hu)) in enumerate(zip(V, hits)):
                for i in range(len(C)):
                    htup = (
                        (hh[i],)
                        + tuple(hcs[k][i] for k in range(K))
                        + tuple(
                            (hu[k][i] if hu[k][i] >= 0 else NO_STOP)
                            for k in uks
                        )
                    )
                    ctup = (
                        (C[i],)
                        + tuple(Ccs[k][i] for k in range(K))
                        + tuple(
                            (Cu[k][i] if Cu[k][i] >= 0 else NO_STOP)
                            for k in uks
                        )
                    )
                    if htup > ctup:
                        C[i] = hh[i]
                        for k in range(K):
                            Ccs[k][i] = hcs[k][i]
                        for k in uks:
                            Cu[k][i] = hu[k][i]
                    L[i] = hh[i]
                    for k in range(K):
                        Lcs[k][i] = hcs[k][i]
                    for k in uks:
                        Lu[k][i] = hu[k][i]
                    if hh[i] >= 0:
                        BP[i] = pos
                    if qtypes[v][i] is not None \
                            and etype == qtypes[v][i]:
                        LQ[i] = pos
            # (5) shared running counts + row counter
            for k in range(K):
                if etype == cnt_ets[k]:
                    QCs[k] += 1
            pos += 1
        new_flat = []
        for C, L, BP, LQ, Ccs, Lcs, Cu, Lu in V:
            new_flat += C + L + BP + LQ
            for k in range(K):
                new_flat += Ccs[k] + Lcs[k]
            for k in uks:
                new_flat += Cu[k] + Lu[k]
        return [new_flat, QCs, pos], cands

    return CarryScan(
        ["flat ARRAY<BIGINT>", "qcs ARRAY<BIGINT>", "pos BIGINT"],
        lambda: [[-1] * base, [0] * K, 0],
        scan,
        [f"n_{c[0]} BIGINT" for c in counted]
        + [f"{f} BOOLEAN" for f in flag_names],
    )


# ---------------------------------------------------------------------------
# Quiet-user timeout — registerEventTimeTimer pattern
# ---------------------------------------------------------------------------


def _quiet_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit (user went quiet) rows. In-batch gaps are detected inline (a
    Flink processor sees them as timer-fire-then-event, in order); the
    trailing silence is a real event-time timeout that fires when the
    watermark passes last_ts + gap. silence_seconds = -1 marks a
    timeout-emitted trailing silence."""
    if state.hasTimedOut:
        (last_us,) = state.get
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "quiet_since_us": [last_us],
                "silence_seconds": [-1],
            }
        )
        # keep state: a later event for this user would re-open the session
        return
    prev = state.get[0] if state.exists else None
    quiet_since, silence = [], []
    chunks = [p for p in pdf_iter if len(p)]
    if chunks:
        pdf = pd.concat(chunks).sort_values("event_id")
        for t in _ts_us(pdf["ts"]).to_numpy():
            if prev is not None and t - prev > GAP_SECONDS * 1_000_000:
                quiet_since.append(prev)
                silence.append(int((t - prev) // 1_000_000))
            prev = int(t)
    if prev is not None:
        state.update((prev,))
        state.setTimeoutTimestamp(prev // 1000 + GAP_SECONDS * 1000)
    if quiet_since:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(quiet_since),
                "quiet_since_us": quiet_since,
                "silence_seconds": silence,
            }
        )


def timeout_session_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_timeout_session` with real
    event-time timeouts (requires a watermark on ts)."""
    ev = _events_stream(spark, files_dir, sf_dir).withWatermark("ts", "0 seconds")
    return ev.groupBy("user_id").applyInPandasWithState(
        _quiet_fn,
        outputStructType="user_id BIGINT, quiet_since_us BIGINT, silence_seconds BIGINT",
        stateStructType="last_us BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas variant (PySpark 4.x StatefulProcessor API).
# Gated: its Python state-server worker imports google.protobuf, which is
# not installed in this environment (HAS_PROTOBUF False → callers skip).
# ---------------------------------------------------------------------------

if HAS_PROTOBUF:  # pragma: no cover - environment lacks protobuf
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCounterProcessor(StatefulProcessor):
        """StatefulProcessor twin of _counter_fn (ValueState handle API)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("acc", "cnt BIGINT, cents BIGINT")

        def handleInputRows(
            self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
        ) -> Iterator[pd.DataFrame]:
            pdf = pd.concat(list(rows)).sort_values("event_id")
            cnt, cents0 = self._state.get() if self._state.exists() else (0, 0)
            counts = cnt + pd.RangeIndex(1, len(pdf) + 1).to_numpy()
            # floor(x*100+0.5): replay the batch cents() half-up
            # quantization exactly (numpy .round() is half-to-even)
            cents = cents0 + np.floor(
                pdf["value"].to_numpy() * 100 + 0.5
            ).astype("int64").cumsum()
            self._state.update((int(counts[-1]), int(cents[-1])))
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "running_count": counts,
                    "running_sum": cents / 100.0,
                }
            )

        def close(self) -> None:
            pass

    def stateful_counter_stream_tws(
        spark: SparkSession, files_dir: str, sf_dir: str
    ) -> DataFrame:
        ev = _events_stream(spark, files_dir, sf_dir)
        return ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningCounterProcessor(),
            outputStructType="event_id BIGINT, running_count BIGINT, running_sum DOUBLE",
            outputMode="append",
            timeMode="none",
        )


# ---------------------------------------------------------------------------
# Watermark-based built-ins
# ---------------------------------------------------------------------------


def dedup_within_watermark_stream(
    spark: SparkSession, files_dir: str, sf_dir: str, delay: str = "30 days"
) -> DataFrame:
    """True-streaming twin of `stream_dedup`: dropDuplicatesWithinWatermark
    keeps the first arrival per (user_id, event_type); the delay bounds
    dedup state — the TTL that makes this safe on unbounded keys."""
    ev = _events_stream(spark, files_dir, sf_dir).withWatermark("ts", delay)
    return ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.col("ts").alias("first_ts"),
    )


def interval_join_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `join_interval`: stream-stream inner join
    with watermarks on both sides + the time-range condition. Watermarks
    let Spark evict buffered rows — the bounded-state requirement."""
    ev = _events_stream(spark, files_dir, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    return clicks.join(purchases, cond).select("click_id", "purchase_id", "user_id")


def tumbling_append_stream(
    spark: SparkSession, files_dir: str, sf_dir: str, delay: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling windows in APPEND mode: only windows the
    watermark has closed are emitted — Flink's on-watermark window firing.
    (analogs' stream_tumbling uses complete mode; this is the
    production-shaped variant.)"""
    ev = _events_stream(spark, files_dir, sf_dir).withWatermark("ts", delay)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )


def split_events_out_of_order(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 3
) -> str:
    """Replay variant for late-data tests: files are interleaved slices
    (event_id % n), so every micro-batch spans the full time range and
    each batch after the first delivers events far behind the watermark."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    ev = table(spark, sf_dir, "events")
    final = os.path.join(out_dir, "stream")
    os.makedirs(final)
    for i in range(n_files):
        stage = os.path.join(out_dir, f"stage_{i}")
        (
            ev.filter(F.col("event_id") % n_files == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(final, f"{i:03d}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return final


def stream_static_join_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `join_stream_static`: streaming events
    enriched against the static customer dim (the 'full cache join').
    The static side is re-planned per micro-batch — dim updates between
    batches are picked up, same semantics as Flink's periodically
    reloaded broadcast cache."""
    ev = _events_stream(spark, files_dir, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    customer = table(spark, sf_dir, "customer")
    return ev.join(customer, ev.user_id == customer.c_custkey).select(
        "event_id", "event_type", "value", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Incremental gap-fill — the time-series carry-forward signature pattern
# ---------------------------------------------------------------------------

_HOUR_US = 3600 * 1_000_000


def _gap_fill_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental per-user hourly gap fill: maintains (current hour,
    latest value in it); when an event lands in a later hour, emits the
    completed hour plus one carried row per empty hour between. The
    user's final (never-completed) hour is not emitted — exactly the
    watermark semantics of the timer formulation."""
    if not state.exists:
        cur_hour, cur_val_cents = None, None
    else:
        cur_hour, cur_val_cents = state.get
    out_hours, out_vals = [], []
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    # sort by event TIME (event_id only as tiebreaker): the carry-forward
    # recurrence below assumes non-decreasing hours; feeding it an
    # out-of-order replay sorted by id alone would silently regress
    # cur_hour and drop fills. Within one micro-batch we can restore
    # time order ourselves; ACROSS batches a row in an hour the state
    # has already passed is late data — skip it (same drop semantics as
    # the watermarked timer formulation).
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    ts = _ts_us(pdf["ts"]).to_numpy()
    # half-up like the batch operator's cents(), not numpy half-to-even
    vals = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
    for t, v in zip(ts, vals):
        h = (t // _HOUR_US) * _HOUR_US
        if cur_hour is not None and h < cur_hour:
            continue  # late arrival below state's hour: already closed
        if cur_hour is None or h == cur_hour:
            cur_hour, cur_val_cents = int(h), int(v)
            continue
        # close the current hour, carry through any empty hours
        for hh in range(cur_hour, h, _HOUR_US):
            out_hours.append(hh)
            out_vals.append(cur_val_cents)
        cur_hour, cur_val_cents = int(h), int(v)
    state.update((cur_hour, cur_val_cents))
    if out_hours:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_hours),
                "hour_us": out_hours,
                "filled_value": [c / 100.0 for c in out_vals],
            }
        )


def gap_fill_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_gap_fill` (this author's signature
    time-series pattern): one output row per (user, hour) with the last
    observed value carried through empty hours, emitted incrementally as
    later events close each hour."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _gap_fill_fn,
        outputStructType="user_id BIGINT, hour_us BIGINT, filled_value DOUBLE",
        stateStructType="cur_hour BIGINT, cur_val_cents BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_window_stream(
    spark: SparkSession, files_dir: str, sf_dir: str, delay: str = "10 minutes"
) -> DataFrame:
    """True-streaming twin of `stream_sliding`
    (SlidingEventTimeWindows): watermarked append-mode F.window(1h, 15m)
    — each event fans out to 4 overlapping windows; a window emits
    exactly once, when the watermark passes its end."""
    ev = _events_stream(spark, files_dir, sf_dir).withWatermark("ts", delay)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).cast(
                    "double"
                )
                / 100.0
            ).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "value_sum")
    )


def session_window_stream(
    spark: SparkSession, files_dir: str, sf_dir: str, delay: str = "10 minutes"
) -> DataFrame:
    """True-streaming session windows (EventTimeSessionWindows.withGap):
    watermarked append-mode F.session_window — sessions emit when the
    watermark passes their close. Merge semantics are identical to the
    batch form (asserted: emitted sessions ⊆ batch sessions, exact)."""
    ev = _events_stream(spark, files_dir, sf_dir).withWatermark("ts", delay)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dynamic_rules_stream(
    spark: SparkSession, files_dir: str, sf_dir: str, rules_dir: str
) -> DataFrame:
    """True-streaming twin of `stream_dynamic_rules`: the rules live in a
    csv directory that foreachBatch-free stream-static joins re-read
    EVERY micro-batch — editing the rules files between batches changes
    behavior mid-query (Flink broadcast-state updates, Spark-style)."""
    ev = _events_stream(spark, files_dir, sf_dir)
    rules = (
        spark.read.schema("rule_type STRING, threshold DOUBLE")
        .option("header", False)
        .csv(rules_dir)
    )
    return ev.join(F.broadcast(rules), ev.event_type == rules.rule_type).select(
        "event_id",
        "event_type",
        "value",
        "threshold",
        F.when(F.col("value") > F.col("threshold"), 1).otherwise(0).alias("alert"),
    )


def interval_left_join_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: clicks keep waiting for a
    purchase within [0, +10min]; the null-extended row is emitted only
    once the watermark passes the click's join window (proof no match
    can still arrive) — the streaming-correct outer join semantics
    watermarks exist for."""
    ev = _events_stream(spark, files_dir, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 seconds")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 seconds")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.p_ts >= clicks.click_ts)
        & (purchases.p_ts <= clicks.click_ts + F.expr("INTERVAL 10 MINUTES"))
    )
    return clicks.join(purchases, cond, "leftOuter").select(
        "click_id", "user_id", "purchase_id"
    )


def cep_negation_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_cep_negation` (FlinkCEP
    notFollowedBy + within(1h)): a watermarked LEFT OUTER interval join
    views⟕purchases; a view with no purchase in (view_ts, view_ts+1h]
    is emitted null-extended exactly when the watermark passes the end
    of its join window — the same moment FlinkCEP's `within` timer would
    fire and declare the negation matched."""
    ev = _events_stream(spark, files_dir, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 seconds")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 seconds")
    )
    cond = (
        (views.user_id == purchases.p_user_id)
        & (purchases.p_ts >= views.view_ts)
        & (purchases.p_ts <= views.view_ts + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        views.join(purchases, cond, "leftOuter")
        .filter(F.col("purchase_id").isNull())
        .select("user_id", "view_id", "view_ts")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply — retract-stream materialization twin
# ---------------------------------------------------------------------------


def _cdc_fn(
    key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user changelog state machine (INSERT/UPSERT on signup/click/
    view/purchase, DELETE on error), last-writer-wins by (ts, event_id).
    Emits one snapshot row per key per micro-batch; the final snapshot is
    the materialized table row (alive=0 means retracted). Ops behind the
    stored (ts, event_id) high-water mark are ignored — an out-of-order
    replay must not let an older op overwrite a newer one."""
    if state.exists:
        ts_us, eid, val_c, alive = state.get
    else:
        ts_us, eid, val_c, alive = -1, -1, 0, 0
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
    for t, e, typ, v in zip(
        _ts_us(pdf["ts"]).to_numpy(),
        pdf["event_id"].to_numpy(),
        pdf["event_type"].to_numpy(),
        pdf["value"].to_numpy(),
    ):
        t = int(t)
        if (t, int(e)) <= (ts_us, eid):
            continue
        ts_us, eid = t, int(e)
        if typ == "error":
            alive, val_c = 0, 0
        else:
            alive, val_c = 1, int(round(v * 100))
    state.update((ts_us, eid, val_c, alive))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "ts_us": [ts_us],
            "last_event_id": [eid],
            "final_value": [val_c / 100.0],
            "alive": [alive],
        }
    )


def changelog_cdc_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming twin of `stream_changelog_cdc`: the upsert/delete
    state machine as applyInPandasWithState — O(1) state per key (the
    high-water mark and current value), exactly Flink's changelog-state
    size. The batch analog's window degenerates to the same per-key
    max."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _cdc_fn,
        outputStructType=(
            "user_id BIGINT, ts_us BIGINT, last_event_id BIGINT,"
            " final_value DOUBLE, alive INT"
        ),
        stateStructType="ts_us BIGINT, event_id BIGINT, val_c BIGINT, alive INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def window_topn_stream(spark: SparkSession, files_dir: str, sf_dir: str) -> DataFrame:
    """True-streaming half of `stream_window_topn`: a watermarked hourly
    (window, user) count in APPEND mode — rows emit only when the
    watermark closes the window, so every emitted (hour, user, n) is
    final and the consumer can rank within each closed hour knowing no
    revision will follow (the per-window-heap contract of Flink's
    windowed Top-N; the rank itself runs on the emitted window, which is
    already aggregate-sized)."""
    ev = _events_stream(spark, files_dir, sf_dir)
    return (
        ev.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "user_id", "n_events")
    )
