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
import json
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


def _write_replay_files(out_dir: str, slices: list) -> str:
    """Write each slice (a DataFrame) as one parquet file of a replay
    directory, `out_dir/stream`, in list order: stage the slice, copy
    its part file to `NNN.parquet`, and give the files strictly
    increasing mtimes — the file source replays in MODIFICATION-TIME
    order, not name order."""
    shutil.rmtree(out_dir, ignore_errors=True)
    final = os.path.join(out_dir, "stream")
    os.makedirs(final)
    for i, df in enumerate(slices):
        stage = os.path.join(out_dir, f"stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(final, f"{i:03d}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return final


def split_events_to_files(spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 3) -> str:
    """Materialize events as n sequential parquet files (by event_id range,
    which equals arrival AND event-time order in this data) so the file
    stream source replays them as distinct micro-batches."""
    ev = table(spark, sf_dir, "events")
    # Slice by the ACTUAL id range, not an assumed 0-based dense one:
    # with 1-based (or offset) ids, count-derived bounds would silently
    # drop the max-id rows from the replay and the streaming-vs-batch
    # equality tests would compare unequal populations.
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    step = (hi - lo + n_files) // n_files
    return _write_replay_files(out_dir, [
        ev.filter((F.col("event_id") >= lo + i * step)
                  & (F.col("event_id") < lo + (i + 1) * step))
        for i in range(n_files)
    ])


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


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append") -> list:
    """Execute a streaming DataFrame to completion into a memory sink;
    returns each micro-batch's progress dict (stateOperators
    numRowsTotal, eventTime watermark, ...)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [json.loads(p.json) for p in q.recentProgress]


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
    # concat + sort by (ts, event_id), the batch analog's window order,
    # before accumulating.
    chunks = [p for p in pdf_iter if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
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
        # Spark drops a row with ts <= the watermark in force as late,
        # and the first micro-batch runs at watermark 0: refuse such a
        # row here instead of losing it silently
        ev = ev.withColumn("ts", F.when(
            F.unix_micros("ts") <= 0,
            F.raise_error(F.lit(
                "CepPattern.compile_stream with a terminal negation "
                "requires event times after 1970-01-01 00:00:00 (a row "
                "at epoch µs <= 0 is late under the first micro-batch's "
                "watermark 0 and would be dropped; the batch "
                "CepPattern.compile has no such limit)")),
        ).otherwise(F.col("ts"))).withWatermark("ts", "0 seconds")
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


NO_STOP = 1 << 62  # an until() rider that has not frozen: compares as +inf


def _swap_unknown(u: int) -> int:
    """Between the stored and the compared form of an until() rider:
    the stored -1 (loop entered, no stop yet) and -2 (loop not yet
    entered) become NO_STOP and NO_STOP + 1, so both order above every
    frozen count in the lexicographic carry max; applied again it maps
    back. The two never meet at one level (a level is uniformly before
    or after the loop entry)."""
    return u if 0 <= u < NO_STOP else NO_STOP - 1 - u


class Carry:
    """What a keyed CEP machine carries and emits — the front end's
    chain set lowered by cep.CepPattern._keyed_stages. carry_scan and
    gap_scan run it.

    chains: the expanded step lists [(etype, transition, gate_etype)]
    (gate_etype = the negated or until() stop type guarding the gap
    that enters the step; None = ungated).

    The carried value at every level is ONE lexicographic tuple
    (h, c_1..c_K, u_1..u_U, sp, ap), compared as the batch compile's
    struct max compares it:
    - h: the chain's start time;
    - c_k: per counted step (`counted` = [(name, etype, up_to,
      until_etype or None)]), the running count of its events up to
      AND INCLUDING the start row — the match row emits
      n_<name> = count-at-match − c_k. The counts are monotone in row
      order, so one running max still picks the greedy max-start chain;
    - u_k: per counted step with an until() stop, the freeze rider —
      the repeated-step count just before the FIRST stop event after
      the loop entry; stored -1 while no stop has arrived and -2 before
      the loop is entered, both compared as +inf (_swap_unknown). A
      not-yet-frozen rider is always >= any frozen one (the batch NB
      is nondecreasing in start position and freezes only grow with
      time), so unknown-as-infinity reproduces the batch order without
      knowing the future. `entry[ci][k]` is the expanded level of the
      loop's entry event (the copy before the loop's first copy; 0 =
      the chain start): the pair (c_k, u_k) is stamped there, so a stop
      in an unguarded prefix gap cannot clamp the pool;
    - (sp, ap): only with `skip`, the start row position and the
      anchor copy's row position (stamped at expanded step
      `anchor_idx`, skip_to_first/skip_to_last) — cep_keyed_fn's
      acceptance cursor reads them.

    Emission, with `gate`: chains[0] gates the match and chain ci
    reports the with_<name> flags in incl[ci] (one annotation chain per
    optional step). Without it any chain may match (the 2^k enum and
    OR-split variants): the winner is the lexicographic max of the
    satisfied chains' carries — the batch struct GREATEST — the counts
    come from the winner and each flag is the OR over the satisfied
    chains that include it.

    nn_ets[i] (notNext): the type that must not directly follow copy
    i's bound event (None = ungated; the final copy never is). Its
    validity is only known at the NEXT event, so a gated level PARKS
    its hit in a one-row pending slot that the next event absorbs (its
    type clears the gate) or drops — strict hops and downstream gates
    read only valid binds, exactly the batch LEAD(1)-folded predicate."""

    def __init__(self, chains, within_us, counted=(), incl=(),
                 flag_names=(), gate=True, entry=None, nn_ets=None,
                 skip=False, anchor_idx=None):
        self.chains = [list(s) for s in chains]
        self.within_us = within_us
        self.incl = list(incl)
        self.flag_names = list(flag_names)
        self.gate = gate
        self.skip = skip
        self.K = K = len(counted)
        self.cnt_ets = [c[1] for c in counted]
        self.up_tos = [c[2] for c in counted]
        uks = [k for k, c in enumerate(counted) if c[3] is not None]
        # tuple index of each until rider
        self.uslot = {k: 1 + K + j for j, k in enumerate(uks)}
        self.stops = {}  # stop etype -> [(k, tuple index)]
        for k in uks:
            self.stops.setdefault(counted[k][3], []).append(
                (k, self.uslot[k]))
        self.names = ([f"n{k}" for k in range(K)]
                      + [f"u{k}" for k in uks]
                      + (["sp", "ap"] if skip else []))
        self.width = 1 + len(self.names)
        self.uidx = set(self.uslot.values())
        self.none = tuple(NO_STOP if j in self.uidx else -1
                          for j in range(self.width))
        entry = entry or [[0] * K for _ in self.chains]
        # per chain: the until riders entered after the start, and the
        # levels whose hop stamps a rider pair or the anchor position
        self.late = [[k for k in uks if e[k]] for e in entry]
        self.entry_at = [{} for _ in self.chains]
        for ci, e in enumerate(entry):
            for k in self.late[ci]:
                self.entry_at[ci].setdefault(e[k], []).append(k)
        anchor = {anchor_idx} if skip and anchor_idx is not None else set()
        self.stamp_at = [set(ea) | anchor for ea in self.entry_at]
        self.anchor_idx = anchor_idx
        self.riders = ([f"n_{c[0]} BIGINT" for c in counted]
                       + [f"{f} BOOLEAN" for f in self.flag_names])
        self.gated = {i for i, e in enumerate(nn_ets or ()) if e is not None}
        self.nn_ets = nn_ets

    def start(self, ci, etype, t, pos, qcs) -> tuple:
        """The carried value a begin-step hit at row `pos` starts."""
        if self.width == 1:
            return (t,)
        late = self.late[ci]
        return (
            t,
            *(-1 if k in late else qcs[k] + (etype == self.cnt_ets[k])
              for k in range(self.K)),
            *(NO_STOP + 1 if k in late else NO_STOP for k in self.uslot),
            *((pos, -1) if self.skip else ()),
        )

    def stamp(self, v, ci, i, etype, qcs, pos) -> tuple:
        """A hop's value at level `i` of chain `ci` after the loop-entry
        and anchor stamps: the entered riders restart at this row."""
        v = list(v)
        for k in self.entry_at[ci].get(i, ()):
            v[1 + k] = qcs[k] + (etype == self.cnt_ets[k])
            v[self.uslot[k]] = NO_STOP
        if self.skip and i == self.anchor_idx:
            v[-1] = pos
        return tuple(v)

    def candidate(self, finals, eid, t, etype, qcs, pos):
        """The row's candidate from each chain's final-level hit, or
        None: (match_id, match_us, start_us, n_<name>.., with_<name>..
        [, start_pos, match_pos, anchor_pos])."""
        W = self.within_us
        if self.gate:
            win = finals[0]
            if win[0] < 0 or (W is not None and t - win[0] > W):
                return None
        oks = [v[0] >= 0 and (W is None or t - v[0] <= W) for v in finals]
        if not self.gate:
            if not any(oks):
                return None
            win = max(v for v, ok in zip(finals, oks) if ok)
        row = [eid, t, win[0]]
        for k in range(self.K):
            incl = qcs[k] + (etype == self.cnt_ets[k])
            if k in self.uslot:
                incl = min(incl, win[self.uslot[k]])
            pool = incl - win[1 + k]
            cap = self.up_tos[k]
            row.append(pool if cap is None else min(pool, cap))
        row += [any(ok for ok, inc in zip(oks, self.incl) if f in inc)
                for f in self.flag_names]
        if self.skip:
            row += [win[-2], pos, win[-1]]
        return tuple(row)

    def tuples(self, vals, off, n) -> list:
        """n carried tuples from `width` stored blocks of n values."""
        cols = [vals[off + j * n:off + (j + 1) * n]
                for j in range(self.width)]
        for j in self.uidx:
            cols[j] = [_swap_unknown(u) for u in cols[j]]
        return list(zip(*cols))

    def blocks(self, vs) -> list:
        """The stored form of carried tuples: `width` blocks."""
        return [_swap_unknown(v[j]) if j in self.uidx else v[j]
                for j in range(self.width) for v in vs]


def carry_scan(carry: Carry) -> CarryScan:
    """The ungapped keyed CEP machine: per chain and level, state =
    C (running max of the level's hit over all processed rows — the
    MAX OVER UNBOUNDED..1 PRECEDING carry), L (the level's hit at the
    previous row — the LAG(1) carry of strict transitions), BP (the
    position of the latest row whose hit was non-null) and LQ (the
    position of the latest negated or stop event for the gap entering
    the next step), plus the notNext pending slot of gated levels, one
    running count per counted step and the row counter: O(1) per key
    regardless of stream length.

    Per row: (0) last row's parked notNext hits resolve; (1) an until()
    stop event freezes every live rider in state (every carried chain
    started strictly before this row; starts made at it are not
    frozen); (2) each level's hit is evaluated against the PRE-row
    state — a relaxed hop reads C, a strict hop reads L, and a gated
    gap connects iff LQ <= BP (no negated event after the latest
    prefix-complete row; both causal running maxima, so the gate is
    exact in keyed state); (3) the state absorbs the hits; (4) the
    candidate is emitted from this row's hits (Carry's gate/any rule).
    So one event can serve step i for future rows while consuming only
    strictly-earlier events for step i+1 — the batch compiler's
    distinct-event binding."""
    chains, K, NONE = carry.chains, carry.K, carry.none
    gated, nn_ets, w = carry.gated, carry.nn_ets, carry.width
    sizes = [len(s) - 1 for s in chains]
    # per chain: its steps, the negated type of each level's outgoing
    # gap, its levels and the levels whose hop stamps
    shapes = [(s, [st[2] for st in s[1:]], range(len(s) - 1), sa)
              for s, sa in zip(chains, carry.stamp_at)]
    sfx = [""] + [f"_{x}" for x in carry.names]
    fields = []
    for ci, n in enumerate(sizes):
        def block(p, ss=("",)):
            return [f"{p}{ci}_{i}{s} BIGINT" for s in ss for i in range(n)]
        fields += block("c", sfx) + block("l", sfx) + block("bp") + block("lq")
        if gated:
            fields += block("p", sfx) + block("ppos")
    fields += ([f"qc{k} BIGINT" for k in range(K)] + ["pos BIGINT"]
               + (["cursor BIGINT"] if carry.skip else []))
    per_chain = 2 * w + 2 + (w + 1 if gated else 0)

    def scan(vals, eids, etypes, ts):
        st, off = [], 0
        for n in sizes:
            C = carry.tuples(vals, off, n)
            L = carry.tuples(vals, off + w * n, n)
            off += 2 * w * n
            BP, LQ = vals[off:off + n], vals[off + n:off + 2 * n]
            off += 2 * n
            P = Ppos = None
            if gated:
                P = carry.tuples(vals, off, n)
                off += w * n
                Ppos = vals[off:off + n]
                off += n
            st.append((C, L, BP, LQ, P, Ppos))
        qcs, pos = vals[off:off + K], vals[off + K]
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            for C, L, BP, LQ, P, Ppos in (st if gated else ()):
                # (0) this event IS the parked binds' direct successor
                for i in gated:
                    p = P[i]
                    if p[0] >= 0 and etype != nn_ets[i]:
                        if p > C[i]:
                            C[i] = p
                        BP[i] = Ppos[i]
                        L[i] = p
                    else:
                        L[i] = NONE
                    P[i], Ppos[i] = NONE, -1
            for k, j in carry.stops.get(etype, ()):
                # (1) freeze the live riders
                for C, L, *_ in st:
                    for V in (C, L):
                        for i, v in enumerate(V):
                            if v[0] >= 0 and v[j] == NO_STOP:
                                V[i] = v[:j] + (qcs[k],) + v[j + 1:]
            finals = []
            for ci, ((C, L, BP, LQ, P, Ppos), (steps, qt, levels, stamp_at)
                     ) in enumerate(zip(st, shapes)):
                # (2) hits against the pre-row state
                hit = [NONE] * len(steps)
                for i, (et, trans, neg_et) in enumerate(steps):
                    if etype != et:
                        continue
                    if i == 0:
                        hit[0] = carry.start(ci, etype, t, pos, qcs)
                        continue
                    v = C[i - 1] if trans == "followed_by" else L[i - 1]
                    if v[0] >= 0 and (neg_et is None
                                      or LQ[i - 1] <= BP[i - 1]):
                        hit[i] = (carry.stamp(v, ci, i, etype, qcs, pos)
                                  if i in stamp_at else v)
                # (3) absorb — a gated level parks its hit instead
                for i in levels:
                    h = hit[i]
                    if i in gated:
                        P[i], Ppos[i] = h, (pos if h[0] >= 0 else -1)
                    else:
                        if h > C[i]:
                            C[i] = h
                        if h[0] >= 0:
                            BP[i] = pos
                        L[i] = h
                    if qt[i] is not None and etype == qt[i]:
                        LQ[i] = pos
                finals.append(hit[-1])
            # (4) emission
            cand = carry.candidate(finals, eid, t, etype, qcs, pos)
            if cand is not None:
                cands.append(cand)
            for k in range(K):
                if etype == carry.cnt_ets[k]:
                    qcs[k] += 1
            pos += 1
        out = []
        for C, L, BP, LQ, P, Ppos in st:
            out += carry.blocks(C) + carry.blocks(L) + BP + LQ
            if gated:
                out += carry.blocks(P) + Ppos
        return out + qcs + [pos] + vals[off + K + 1:], cands

    return CarryScan(
        fields,
        lambda: ([-1] * (per_chain * sum(sizes)) + [0] * K + [0]
                 + ([-1] if carry.skip else [])),
        scan,
        carry.riders,
        fields.index("cursor BIGINT") if carry.skip else None,
    )


def _gap_state_fields(*chains, nn_ets=None, skip=False) -> list:
    """State fields of gap_scan: per chain and level the buffers of
    (row_ts, carried value[, negated-prefix count]) entries as parallel
    arrays, the lag value, the per-level negated counts and the
    notNext pending slots; then the previous event time (and the row
    counter and the skip cursor). The count buffers exist only for a
    chain with a negated gap and the pending slots only under notNext,
    so a plain gap pattern keeps the r13 schema (a pre-r14 checkpoint
    restarts); a lone chain's fields carry no variant suffix."""
    comps = ["h"] + (["sp", "ap"] if skip else [])
    has_nn = any(e is not None for e in nn_ets or ())
    fields = []
    for v, steps in enumerate(chains):
        n = len(steps) - 1
        s = f"_{v}" if len(chains) > 1 else ""
        mneg = any(st[2] is not None for st in steps)
        fields += [f"{p}{s}_{i} ARRAY<BIGINT>"
                   for p in ["bts"] + [f"b{c}" for c in comps]
                   + (["bq"] if mneg else []) for i in range(n)]
        fields += [f"l{c if c != 'h' else ''}{s} ARRAY<BIGINT>"
                   for c in comps]
        fields += [f"qc{s} ARRAY<BIGINT>"] if mneg else []
        if has_nn:
            fields += [f"pnn{s}_{c} ARRAY<BIGINT>"
                       for c in ["ts"] + comps + ["q"]]
    return (fields + ["prev_ts BIGINT"]
            + (["pos BIGINT", "cursor BIGINT"] if skip else []))


def gap_scan(carry: Carry, gap_us: int) -> CarryScan:
    """The gap-buffered keyed CEP machine, for a per-transition bound
    (within previous_and_current, r13): the O(1) running max cannot
    expire old starts, so each level keeps a BUFFER of (row_ts, carried
    value, q) entries still inside the gap horizon — state ∝ events in
    ONE gap window per key, the bound's inherent memory (Flink's NFA
    holds the same partial matches). The carried value is Carry's tuple
    ((h) or (h, sp, ap); the front end refuses counted steps under a gap
    bound).

    Per row at time t: a relaxed hop reads the lexicographic max over
    buffered predecessors with row_ts >= t − G (rows processed earlier
    in (ts, id) order — same-µs earlier-tiebreak rows are already
    buffered, matching the batch RANGE+tie-frame split); under a
    NEGATED gap only entries whose inclusive negated-prefix count q
    equals the key's current strictly-before count are feasible ("no
    negated event since b" — the batch count-gated bounded max). A
    strict hop reads the previous row's hit gated on its time gap.
    Buffers prune causally (event time is non-decreasing within a
    key's sorted batch, and state carries only what the NEXT event
    might still reach). A notNext-gated level parks its hit (q computed
    at park time) and the next event absorbs it into the buffer and
    the lag slot or drops it; the parked row_ts <= t keeps the buffer
    ascending. Emission is Carry's gate/any rule."""
    chains, NONE, w = carry.chains, carry.none, carry.width
    gated, nn_ets = carry.gated, carry.nn_ets
    mneg = [any(st[2] is not None for st in s) for s in chains]
    qtypes = [[st[2] for st in s[1:]] for s in chains]
    fields = _gap_state_fields(*chains, nn_ets=nn_ets, skip=carry.skip)

    def scan(vals, eids, etypes, ts):
        st, off = [], 0
        for steps, neg in zip(chains, mneg):
            n = len(steps) - 1
            bts = vals[off:off + n]
            cols = [vals[off + (1 + j) * n:off + (2 + j) * n]
                    for j in range(w)]
            off += (1 + w) * n
            bq = vals[off:off + n] if neg else [[-1] * len(b) for b in bts]
            off += n if neg else 0
            B = [list(zip(bts[i], zip(*(c[i] for c in cols)), bq[i]))
                 for i in range(n)]
            L = list(zip(*vals[off:off + w]))
            off += w
            qc = list(vals[off]) if neg else [0] * n
            off += 1 if neg else 0
            pts = P = pq = None
            if gated:
                pts, pq = list(vals[off]), list(vals[off + 1 + w])
                P = list(zip(*vals[off + 1:off + 1 + w]))
                off += w + 2
            st.append((B, L, qc, pts, P, pq))
        prev_ts = vals[off]
        pos = vals[off + 1] if carry.skip else 0
        cands = []
        for eid, etype, t in zip(eids, etypes, ts):
            lo = t - gap_us
            finals = []
            for ci, ((B, L, qc, pts, P, pq), steps, qt) in enumerate(
                zip(st, chains, qtypes)
            ):
                for i in gated:
                    # this event IS the parked binds' direct successor
                    if pts[i] >= 0 and etype != nn_ets[i]:
                        B[i].append((pts[i], P[i], pq[i]))
                        L[i] = P[i]
                    else:
                        L[i] = NONE
                    pts[i], P[i], pq[i] = -1, NONE, -1
                hit = [NONE] * len(steps)
                for i, (et, trans, neg_et) in enumerate(steps):
                    if etype != et:
                        continue
                    if i == 0:
                        hit[0] = carry.start(ci, etype, t, pos, ())
                        continue
                    if trans == "followed_by":
                        cur = qc[i - 1]
                        hit[i] = max(
                            (v for rts, v, q in B[i - 1]
                             if rts >= lo and (neg_et is None or q == cur)),
                            default=NONE)
                    elif (L[i - 1][0] >= 0 and prev_ts >= 0
                          and t - prev_ts <= gap_us):
                        hit[i] = L[i - 1]
                    if hit[i][0] >= 0 and i in carry.stamp_at[ci]:
                        hit[i] = carry.stamp(hit[i], ci, i, etype, (), pos)
                for i in range(len(B)):
                    h, q_et = hit[i], qt[i]
                    if h[0] >= 0:
                        # the entry's INCLUSIVE negated-prefix count
                        q = -1 if q_et is None else qc[i] + (etype == q_et)
                        if i in gated:
                            pts[i], P[i], pq[i] = t, h, q
                        else:
                            B[i].append((t, h, q))
                    # a future event at t' >= t reaches only rows with
                    # row_ts >= t' - G >= t - G
                    if B[i] and B[i][0][0] < lo:
                        B[i] = [e for e in B[i] if e[0] >= lo]
                    if i not in gated:
                        L[i] = h
                    if q_et is not None and etype == q_et:
                        qc[i] += 1
                finals.append(hit[-1])
            cand = carry.candidate(finals, eid, t, etype, (), pos)
            if cand is not None:
                cands.append(cand)
            prev_ts = t
            pos += 1
        out = []
        for (B, L, qc, pts, P, pq), neg in zip(st, mneg):
            out += [[e[0] for e in b] for b in B]
            out += [[e[1][j] for e in b] for j in range(w) for b in B]
            out += [[e[2] for e in b] for b in B] if neg else []
            out += [[v[j] for v in L] for j in range(w)]
            out += [qc] if neg else []
            if gated:
                out += [pts] + [[v[j] for v in P] for j in range(w)] + [pq]
        return (out + [prev_ts]
                + ([pos] + vals[off + 2:] if carry.skip else [])), cands

    def init():
        out = []
        for steps, neg in zip(chains, mneg):
            n = len(steps) - 1
            out += [[] for _ in range((1 + w + neg) * n)]
            out += [[-1] * n for _ in range(w)]
            out += [[0] * n] if neg else []
            out += [[-1] * n for _ in range(w + 2)] if gated else []
        return out + [-1] + ([0, -1] if carry.skip else [])

    return CarryScan(
        fields, init, scan, carry.riders,
        fields.index("cursor BIGINT") if carry.skip else None,
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
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
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
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
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
    ev = table(spark, sf_dir, "events")
    return _write_replay_files(out_dir, [
        ev.filter(F.col("event_id") % n_files == i) for i in range(n_files)
    ])


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
