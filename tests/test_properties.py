"""Property-based invariants (hypothesis) — SURVEY §5.4.

Each example runs real Spark jobs, so example counts are kept small;
deadline disabled (JVM warm-up noise)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sparkflow.catalog import table
from sparkflow.oracle_compat import cents

from conftest import FakeTimerState

SF = "/root/testdata/sf0.001"
_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from sparkflow.session import get_spark

        _spark = get_spark("sparkflow-props", shuffle_partitions=4)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


@settings(max_examples=5, deadline=None)
@given(st.floats(min_value=0, max_value=600000, allow_nan=False))
def test_filter_partition_invariant(threshold):
    """filter(p) and filter(NOT p) partition the table for any predicate."""
    spark = _get_spark()
    o = table(spark, SF, "orders")
    total = o.count()
    above = o.filter(F.col("o_totalprice") > threshold).count()
    below = o.filter(~(F.col("o_totalprice") > threshold)).count()
    assert above + below == total


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=1, max_value=48))
def test_tumbling_buckets_partition_events(hours):
    """Any tumbling bucket width partitions events: bucket counts sum to
    the table count (no row lost or double-bucketed)."""
    spark = _get_spark()
    ev = table(spark, SF, "events")
    total = ev.count()
    secs = hours * 3600
    bucketed = (
        ev.groupBy(
            F.expr(
                f"timestamp_micros(((unix_micros(ts) div 1000000) div {secs})"
                f" * {secs} * 1000000)"
            ).alias("bucket")
        )
        .count()
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    assert bucketed == total


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=2, max_value=10))
def test_cents_sum_scale_consistency(divisor):
    """Exact-cents sums are linear: sum(x)/d == sum over pre-divided
    partitions recombined — i.e. splitting the data arbitrarily and
    summing cents per split always recombines to the global sum."""
    spark = _get_spark()
    li = table(spark, SF, "lineitem")
    total = li.agg(F.sum(cents("l_extendedprice"))).collect()[0][0]
    per_split = (
        li.groupBy(F.col("l_orderkey") % divisor)
        .agg(F.sum(cents("l_extendedprice")).alias("s"))
        .agg(F.sum("s"))
        .collect()[0][0]
    )
    assert total == per_split


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.sampled_from(["join", "filter", "scan", "merge", "window", "index"]),
        min_size=1,
        max_size=4,
        unique=True,
    )
)
def test_keyword_score_bounded(keywords):
    spark = _get_spark()
    d = table(spark, SF, "documents")
    score = sum(
        F.when(F.col("text").contains(kw), 1).otherwise(0) for kw in keywords
    )
    mx = d.select(score.alias("s")).agg(F.max("s")).collect()[0][0]
    assert 0 <= mx <= len(keywords)


@given(
    st.lists(
        st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
        min_size=4,
        max_size=64,
    ),
    st.lists(
        st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
        min_size=4,
        max_size=64,
    ),
)
@settings(max_examples=200, deadline=None)
def test_fixed_point_cosine_error_bound(a, b):
    """The fixed-point (1e-6 quantized) cosine used by the similarity
    ops must stay within ~1e-4 of the float cosine for unit-scale
    vectors (no Spark needed — pure numpy, same code path as the UDF)."""
    import numpy as np

    n = min(len(a), len(b))
    A = np.array(a[:n], dtype=np.float64)
    B = np.array(b[:n], dtype=np.float64)
    na, nb = np.linalg.norm(A), np.linalg.norm(B)
    if na < 1e-3 or nb < 1e-3:
        return  # degenerate: quantization noise dominates near zero
    Ai = np.floor(A * 1_000_000 + 0.5).astype(np.int64)
    Bi = np.floor(B * 1_000_000 + 0.5).astype(np.int64)
    fxp = (Ai @ Bi) / (np.sqrt(float(Ai @ Ai)) * np.sqrt(float(Bi @ Bi)))
    ref = (A @ B) / (na * nb)
    assert abs(fxp - ref) < 1e-4


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=10, max_value=900))
def test_binned_band_join_equals_naive(band_secs):
    """For any band width, the bin-bucketed band join must return exactly
    the naive theta-join counts (bins are an optimization, not a
    semantics change)."""
    spark = _get_spark()
    ev = table(spark, SF, "events")
    band_us = band_secs * 1_000_000
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.unix_micros("ts").alias("cu")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.unix_micros("ts").alias("pu")
    )
    naive = (
        c.join(p, (F.col("pu") >= F.col("cu")) & (F.col("pu") < F.col("cu") + band_us), "left")
        .groupBy("cid")
        .agg(F.count("pid").alias("n"))
        .toPandas()
        .set_index("cid")["n"]
        .sort_index()
    )
    cb = c.withColumn(
        "bin_id", F.explode(F.array(F.floor(F.col("cu") / band_us), F.floor(F.col("cu") / band_us) + 1))
    )
    pb = p.withColumn("bin_id", F.floor(F.col("pu") / band_us))
    binned = (
        cb.join(pb, "bin_id", "left")
        .groupBy("cid")
        .agg(
            F.count_if(
                F.coalesce(
                    (F.col("pu") >= F.col("cu")) & (F.col("pu") < F.col("cu") + band_us),
                    F.lit(False),
                )
            ).alias("n")
        )
        .toPandas()
        .set_index("cid")["n"]
        .sort_index()
    )
    assert (naive == binned).all()


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # user
            st.integers(min_value=0, max_value=3_000_000),  # ts offset (s)
            st.integers(min_value=0, max_value=1_000_000),  # cents value
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=20),                 # hot threshold
    st.sampled_from([60, 3600, 86400]),                     # segment width
)
def test_ewma_hybrid_equals_plain_any_segmentation(rows, hot_rows, seg_seconds):
    """win_ewma_segmented's hybrid must be BIT-identical to the plain
    single-partition window for any event layout, any hot-key
    threshold (so any hot/cold split), and any segment width — minute
    segments force deep multi-segment carries, day segments force the
    dense in-segment path; the threshold sweep moves whole users
    between the two code paths. This is the fuzzed generalization of
    the hand-built sparse-frame case in test_relational."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import Window

    from sparkflow.operators.windows import _ewma_hybrid, _ewma_lag_expr

    spark = _get_spark()
    base_ts = dt.datetime(2024, 1, 1)
    data = [
        (u, i, base_ts + dt.timedelta(seconds=off), c / 100.0)
        for i, (u, off, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "user_id long, event_id long, ts timestamp, value double"
    )
    got = (
        _ewma_hybrid(ev, hot_rows=hot_rows, seg_seconds=seg_seconds)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        ev.select(
            "user_id",
            "event_id",
            (_ewma_lag_expr(cents("value"), w) / 100.0).alias("ewma_value"),
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # second combinator instantiation (k=4 rolling median), same frames
    from sparkflow.operators.windows import (
        _hybrid_lookback,
        _rolling_median_expr,
    )

    got_m = (
        _hybrid_lookback(
            ev, 4, _rolling_median_expr, "rolling_median",
            hot_rows=hot_rows, seg_seconds=seg_seconds,
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want_m = (
        ev.select("user_id", "event_id", "ts", cents("value").alias("v"))
        .select(
            "user_id",
            "event_id",
            _rolling_median_expr(w).alias("rolling_median"),
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_m, want_m)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=12,
    )
)
def test_containment_matches_set_reference(texts):
    """_containment_pairs must equal a transparent set-algebra reference
    implementing the same contract (8-gram sets, df<=cap rare-gram
    blocking, smaller-set-as-inner with lower-id tie-break, containment
    >= threshold) on arbitrary tiny corpora — the 3-char alphabet makes
    gram collisions, duplicate docs, sub-gram-length docs, and boundary
    containments all reachable. (Rounding note: ni/n for n<=33 can
    never land exactly on a 5e-7 boundary as a double, so half-up
    F.round and Python round agree.)"""
    import collections

    from sparkflow.llm.dedup import (
        _CONTAIN_DF_CAP,
        _CONTAIN_GRAM,
        _CONTAIN_MIN,
        _containment_pairs,
    )

    spark = _get_spark()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["inner_id"], r["outer_id"]): (
            r["n_inner"],
            r["n_outer"],
            r["containment"],
        )
        for r in _containment_pairs(docs).collect()
    }

    k = _CONTAIN_GRAM
    grams = {
        i: {t[j : j + k] for j in range(len(t) - k + 1)}
        for i, t in enumerate(texts)
        if len(t) >= k
    }
    df = collections.Counter(g for s in grams.values() for g in s)
    rare = {g for g, c in df.items() if c <= _CONTAIN_DF_CAP}
    want = {}
    for a in grams:
        for b in grams:
            if a < b and (grams[a] & grams[b] & rare):
                ia, ib = (a, b) if len(grams[a]) <= len(grams[b]) else (b, a)
                ni = len(grams[ia] & grams[ib])
                c = ni / len(grams[ia])
                if c >= _CONTAIN_MIN:
                    want[(ia, ib)] = (
                        len(grams[ia]),
                        len(grams[ib]),
                        round(c, 6),
                    )
    assert got == want


# ---------------------------------------------------------------------------
# CEP combinator dominance fuzz (r11): the compiler's one theorem,
# property-tested over RANDOM streams and RANDOM positive patterns.
# ---------------------------------------------------------------------------

_cep_event = st.tuples(
    st.sampled_from(["A", "B", "C"]),      # event type
    st.integers(min_value=0, max_value=30)  # second offset (ties likely)
)


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=2, max_size=4
    ),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_greedy_dominance_fuzz(streams, pattern_types, within_s):
    """For ANY relaxed positive pattern under within(T), the compiled
    max-start carry chain must emit exactly the rows where ANY strictly
    ordered distinct-event chain exists — checked against brute-force
    enumeration (itertools.combinations respects the (ts, id) order the
    compiler sorts by). Random streams include same-ts ties, repeated
    types, empty users, and patterns with repeated steps (the
    distinct-event binding's hard case)."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    spark = _get_spark()
    rows = []
    eid = 0
    for uid, evs in enumerate(streams):
        # stable order within a user: sort by (sec, arrival) like the
        # compiler's (ts, event_id); assign ids in that order so the
        # brute force's combination order equals the compiler's
        for typ, sec in sorted(evs, key=lambda e: e[1]):
            rows.append((uid, eid, typ, sec))
            eid += 1
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    for i, t in enumerate(pattern_types[1:], 1):
        pat = pat.followed_by(f"s{i}", etype=t)
    pat = pat.within(within_s)
    got = {(r.user_id, r.match_id) for r in pat.compile(df).collect()}

    want = set()
    m = len(pattern_types)
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    for uid, seq in by_user.items():
        for chain in itertools.combinations(seq, m):
            if [c[0] for c in chain] == pattern_types and \
                    chain[-1][1] - chain[0][1] <= within_s:
                want.add((uid, chain[-1][2]))
    assert got == want


def _cep_df(spark, streams):
    """(rows, df) in the compiler's (ts, event_id) order — shared by the
    CEP fuzz tests; ids assigned in sorted order so brute-force row
    positions equal the compiler's."""
    rows = []
    eid = 0
    for uid, evs in enumerate(streams):
        for typ, sec in sorted(evs, key=lambda e: e[1]):
            rows.append((uid, eid, typ, sec))
            eid += 1
    if not rows:
        return rows, None
    df = _get_spark().createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    return rows, df


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=2, max_size=3
    ),
    neg_type=st.sampled_from(["A", "B", "C"]),
    neg_gap=st.integers(min_value=1, max_value=2),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_mid_negation_fuzz(streams, pattern_types, neg_type, neg_gap,
                               within_s):
    """Mid-pattern negation (r12): the latest-prefix-row dominance must
    emit exactly the (match, max-start) pairs that brute-force chain
    enumeration finds under "no negated event strictly between the gap's
    endpoints" — including the hard cases where the negated type EQUALS
    a positive step's type (an event can be a chain member or a killer
    depending on binding) and same-second ties."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    gap = min(neg_gap, len(pattern_types) - 1)  # before step index `gap`
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    for i, t in enumerate(pattern_types[1:], 1):
        if i == gap:
            pat = pat.not_followed_by("q", etype=neg_type)
        pat = pat.followed_by(f"s{i}", etype=t)
    pat = pat.within(within_s)
    got = {
        (r.user_id, r.match_id, r.start_sec)
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    m = len(pattern_types)
    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want: dict = {}
    for uid, seq in by_user.items():
        pos_of = {e[3]: k for k, e in enumerate(seq)}
        for chain in itertools.combinations(seq, m):
            if [c[0] for c in chain] != pattern_types:
                continue
            if chain[-1][1] - chain[0][1] > within_s:
                continue
            lo, hi = pos_of[chain[gap - 1][3]], pos_of[chain[gap][3]]
            if any(
                seq[k][0] == neg_type for k in range(lo + 1, hi)
            ):
                continue
            k = (uid, chain[-1][2])
            want[k] = max(want.get(k, -1), chain[0][1])
    assert got == {(u, mid, s) for (u, mid), s in want.items()}


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_one_or_more_count_fuzz(streams, types, within_s):
    """oneOrMore repetition counts (r12): for the A B+ C class,
    n_<step> must equal the documented pool — step-typed events in
    (greedy start row, match row] — computed here by brute force:
    greedy start = max start second over single-repetition chains, and
    within it the LATEST such row (the struct-max tie rule); the pool
    count follows by position arithmetic. When the three types are
    pairwise distinct the pool is also the exact maximum repetition
    count (every pool event can join the chain under relaxed
    contiguity), which is the semantic claim the key's docstring
    makes."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .one_or_more()
        .followed_by("c", etype=c_t)
        .within(within_s)
    )
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want: dict = {}
    for uid, seq in by_user.items():
        for pa, pb, pc in itertools.combinations(range(len(seq)), 3):
            ea, eb, ec = seq[pa], seq[pb], seq[pc]
            if (ea[0], eb[0], ec[0]) != (a_t, b_t, c_t):
                continue
            if ec[1] - ea[1] > within_s:
                continue
            key = (uid, ec[2])
            prev = want.get(key)
            # greedy = max start ts, ties to the LATEST start row
            if prev is None or (ea[1], pa) > prev[:2]:
                want[key] = (ea[1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(
            1 for k in range(pa + 1, pc + 1) if seq[k][0] == b_t
        )
        expect[(uid, mid)] = (sec, pool)
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.integers(min_value=2, max_value=4),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_times_range_count_fuzz(streams, types, cap, within_s):
    """times(2, m) (r12): matching must equal the times(2) brute-force
    enumeration (existence collapse — the range's lower bound is the
    only gate) and n_<step> must equal min(pool, m) where pool is the
    greedy chain's absorbable-repetition count, exactly as oneOrMore's
    fuzz defines it — over random streams including same-second ties
    and patterns whose repeated type collides with its neighbours."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .times(2, cap)
        .followed_by("c", etype=c_t)
        .within(within_s)
    )
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want: dict = {}
    for uid, seq in by_user.items():
        for pa, pb1, pb2, pc in itertools.combinations(range(len(seq)), 4):
            ea, eb1, eb2, ec = seq[pa], seq[pb1], seq[pb2], seq[pc]
            if (ea[0], eb1[0], eb2[0], ec[0]) != (a_t, b_t, b_t, c_t):
                continue
            if ec[1] - ea[1] > within_s:
                continue
            key = (uid, ec[2])
            prev = want.get(key)
            if prev is None or (ea[1], pa) > prev[:2]:
                want[key] = (ea[1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(
            1 for k in range(pa + 1, pc + 1) if seq[k][0] == b_t
        )
        expect[(uid, mid)] = (sec, min(pool, cap))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    pattern_types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    neg_types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_multi_negation_fuzz(streams, pattern_types, neg_types,
                                 within_s):
    """MULTIPLE mid-pattern negations (r12): the latest-prefix-row
    dominance chains level by level, so a pattern with BOTH gaps
    negated must emit exactly the (match, max-start) pairs brute-force
    chain enumeration finds — including adjacent negated gaps, negated
    types equal to positive step types, and same-second ties (the
    cases where a wrong dominance argument would first crack)."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("s0", etype=pattern_types[0])
        .not_followed_by("q1", etype=neg_types[0])
        .followed_by("s1", etype=pattern_types[1])
        .not_followed_by("q2", etype=neg_types[1])
        .followed_by("s2", etype=pattern_types[2])
        .within(within_s)
    )
    got = {
        (r.user_id, r.match_id, r.start_sec)
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want: dict = {}
    for uid, seq in by_user.items():
        for pa, pb, pc in itertools.combinations(range(len(seq)), 3):
            ea, eb, ec = seq[pa], seq[pb], seq[pc]
            if (ea[0], eb[0], ec[0]) != tuple(pattern_types):
                continue
            if ec[1] - ea[1] > within_s:
                continue
            if any(seq[k][0] == neg_types[0] for k in range(pa + 1, pb)):
                continue
            if any(seq[k][0] == neg_types[1] for k in range(pb + 1, pc)):
                continue
            k = (uid, ec[2])
            want[k] = max(want.get(k, -1), ea[1])
    assert got == {(u, mid, s) for (u, mid), s in want.items()}


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_skip_past_fuzz(streams, types, within_s):
    """after_match_skip('skip_past_last_event') (r12): accepted matches
    must equal the greedy interval-scheduling scan over brute-force
    candidates — scan match rows in row order, accept iff SOME chain
    lies entirely after the previously accepted match row, report the
    max-start chain. Repeated/overlapping types and same-second ties
    included (the cases where row-order vs ts-order divergence would
    show)."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .within(within_s)
        .after_match_skip("skip_past_last_event")
    )
    got = {
        (r.user_id, r.match_id, r.start_sec)
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want = set()
    for uid, seq in by_user.items():
        # candidates: match row -> all chain start positions
        cands: dict = {}
        for pa, pb in itertools.combinations(range(len(seq)), 2):
            ea, eb = seq[pa], seq[pb]
            if (ea[0], eb[0]) != (a_t, b_t):
                continue
            if eb[1] - ea[1] > within_s:
                continue
            cands.setdefault(pb, []).append(pa)
        last = -1
        for pb in sorted(cands):
            starts = [pa for pa in cands[pb] if pa > last]
            if not starts:
                continue
            # greedy chain = max start ts, ties to latest row
            best = max(starts, key=lambda pa: (seq[pa][1], pa))
            want.add((uid, seq[pb][2], seq[best][1]))
            last = pb
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    neg_type=st.sampled_from(["A", "B", "C"]),
    neg_gap=st.sampled_from([1, 2]),  # before the B+ step, or after it
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_one_or_more_with_negation_fuzz(streams, neg_type, neg_gap,
                                            within_s):
    """Composition pin (r12): oneOrMore counts REMAIN the exact max
    repetition count when one of the quantified step's gaps is negated
    — the subset property rescues exactness (if any match exists, the
    greedy start's gap is clean, so every pool event is absorbable:
    leading negation — feasible-as-first is downward-closed; trailing
    negation — a q after the last rep would kill the match itself).
    Pattern A (!q) B+ (!q) C over random streams; brute force
    enumerates rep GROUPS: first rep bound by the leading gap, last rep
    bound by the trailing gap, and reports the max group size at the
    greedy start."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype="A")
    if neg_gap == 1:
        pat = pat.not_followed_by("q", etype=neg_type)
    pat = pat.followed_by("b", etype="B").one_or_more()
    if neg_gap == 2:
        pat = pat.not_followed_by("q", etype=neg_type)
    pat = pat.followed_by("c", etype="C").within(within_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))

    def q_in(seq, lo, hi):
        return any(seq[k][0] == neg_type for k in range(lo + 1, hi))

    # brute force over (a, rep-group, c): a group is ANY nonempty set of
    # B-rows between a and c; leading negation constrains (a, first
    # rep); trailing negation constrains (last rep, c)
    want: dict = {}
    for uid, seq in by_user.items():
        bs = [k for k in range(len(seq)) if seq[k][0] == "B"]
        for pa, pc in itertools.product(range(len(seq)), repeat=2):
            if seq[pa][0] != "A" or seq[pc][0] != "C" or pa >= pc:
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            group = [k for k in bs if pa < k < pc]
            best = 0
            # choose first/last rep to satisfy the negated gap; middle
            # reps are unconstrained, so the best group is contiguous
            # in the candidate list from a feasible first to a feasible
            # last
            for i, first in enumerate(group):
                if neg_gap == 1 and q_in(seq, pa, first):
                    continue
                for j in range(len(group) - 1, i - 1, -1):
                    last = group[j]
                    if neg_gap == 2 and q_in(seq, last, pc):
                        continue
                    best = max(best, j - i + 1)
                    break
            if best == 0:
                continue
            key = (uid, seq[pc][2])
            prev = want.get(key)
            cand = (seq[pa][1], pa, best)
            # greedy start first (ts, then row), THEN the count at that
            # start (the compiled n_b is computed at the greedy chain)
            if prev is None or (cand[0], cand[1]) > (prev[0], prev[1]):
                want[key] = cand
    expect = {k: (v[0], v[2]) for k, v in want.items()}
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=2, max_size=4
    ),
    strict_mask=st.integers(min_value=0, max_value=7),
    opt_mask=st.integers(min_value=1, max_value=7),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_strict_optional_variant_fuzz(streams, pattern_types,
                                          strict_mask, opt_mask, within_s):
    """optional() under ARBITRARY contiguity (r13, r12 verdict item 3):
    random patterns mixing next()/followed_by() transitions with 1-3
    optional steps, checked against brute-force variant enumeration —
    match rows = any include/exclude variant has a chain (strict
    transitions bind ADJACENT positions), start = the max chain start
    over ALL variants, with_<o> flags = some chain in a variant
    containing o completes. Exercises BOTH compile paths: patterns with
    no next() after the first optional take the k+1 dominance shortcut,
    strict-region patterns take the 2^k enumeration — the brute force
    is path-blind, so the two paths' agreement on the relaxed class is
    pinned too."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    m = len(pattern_types)
    strict = [False] + [bool(strict_mask >> (i - 1) & 1)
                        for i in range(1, m)]
    optional = [bool(opt_mask >> i & 1) and i < m - 1 for i in range(m)]
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    if optional[0]:
        pat = pat.optional()
    for i in range(1, m):
        if strict[i]:
            pat = pat.next(f"s{i}", etype=pattern_types[i])
        else:
            pat = pat.followed_by(f"s{i}", etype=pattern_types[i])
        if optional[i]:
            pat = pat.optional()
    pat = pat.within(within_s)
    opt_steps = [i for i in range(m) if optional[i]]
    flag_cols = [f"with_s{i}" for i in opt_steps]
    got = {
        (r.user_id, r.match_id): (
            r.start_sec, tuple(bool(r[c]) for c in flag_cols)
        )
        for r in pat.compile(df).select(
            "user_id", "match_id", *flag_cols,
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        for mask in range(1 << len(opt_steps)):
            inc = {opt_steps[j] for j in range(len(opt_steps))
                   if mask >> j & 1}
            kept = [i for i in range(m) if not optional[i] or i in inc]
            for combo in itertools.combinations(range(len(seq)), len(kept)):
                if any(seq[p][0] != pattern_types[i]
                       for p, i in zip(combo, kept)):
                    continue
                # a kept step declared next() binds the IMMEDIATELY
                # following event of its effective predecessor
                if any(strict[i] and combo[j] != combo[j - 1] + 1
                       for j, i in enumerate(kept) if j):
                    continue
                if seq[combo[-1]][1] - seq[combo[0]][1] > within_s:
                    continue
                k = (uid, seq[combo[-1]][2])
                start = seq[combo[0]][1]
                prev = want.get(k)
                fl = tuple(i in inc for i in opt_steps)
                if prev is None:
                    want[k] = (start, list(fl))
                else:
                    want[k] = (
                        max(prev[0], start),
                        [a or b for a, b in zip(prev[1], fl)],
                    )
    expect = {k: (v[0], tuple(v[1])) for k, v in want.items()}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strategy=st.sampled_from(["skip_to_next", "skip_to_first"]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_skip_to_next_first_fuzz(streams, types, strategy, within_s):
    """skip_to_next / skip_to_first (r13, r12 verdict item 7): accepted
    matches must equal the greedy cursor fold over brute-force
    candidates — scan match rows in row order; skip_to_next accepts iff
    some chain STARTS strictly after the previous accepted START
    (cursor := accepted greedy start), skip_to_first('s1') accepts iff
    some chain starts AT or after the previous accepted match's ANCHOR
    (the s1-event of the reported greedy chain, ties to the latest
    anchor; cursor := that anchor). Start-maximality reduces both tests
    to the greedy chain. Repeated/overlapping types and same-second
    ties included."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(within_s)
    )
    pat = (pat.after_match_skip("skip_to_next") if strategy == "skip_to_next"
           else pat.after_match_skip("skip_to_first", "b"))
    got = {
        (r.user_id, r.match_id, r.start_sec)
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want = set()
    for uid, seq in by_user.items():
        # match row -> all (start_pos, anchor_pos) chains
        cands: dict = {}
        for pa, pb, pc in itertools.combinations(range(len(seq)), 3):
            ea, eb, ec = seq[pa], seq[pb], seq[pc]
            if (ea[0], eb[0], ec[0]) != (a_t, b_t, c_t):
                continue
            if ec[1] - ea[1] > within_s:
                continue
            cands.setdefault(pc, []).append((pa, pb))
        cursor = -1
        for pc in sorted(cands):
            # greedy chain: max start (ts, then row), ties -> max anchor
            gsp = max(pa for pa, _pb in cands[pc])
            gap = max(pb for pa, pb in cands[pc] if pa == gsp)
            ok = gsp >= cursor if strategy == "skip_to_first" else gsp > cursor
            if not ok:
                continue
            want.add((uid, seq[pc][2], seq[gsp][1]))
            cursor = gap if strategy == "skip_to_first" else gsp
        # (positions order == (sec, id) order by _cep_df construction,
        # so max row position IS the greedy (ts, row) max)
    assert got == want


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in — lets the
    hypothesis fuzz drive the keyed-state CEP executor directly over
    random micro-batch splits without paying a streaming query per
    example."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cut=st.integers(min_value=1, max_value=10),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_two_counted_streaming_state_fuzz(streams, types, cut,
                                              within_s):
    """K=2 counted steps in the STREAMING state machine (r13, r12
    verdict item 8): for random streams and random type assignments,
    driving carry_scan through a fake GroupState with a random
    micro-batch split must emit exactly the batch compile's rows —
    BOTH n_ outputs included (each counted step's count-at-start pair
    and running count live in the state and must survive the batch
    boundary)."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    t0, t1, t2, t3 = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("s0", etype=t0)
        .followed_by("s1", etype=t1).one_or_more()
        .followed_by("s2", etype=t2).times(1, 3)
        .followed_by("s3", etype=t3)
        .within(within_s)
    )
    want = {
        (r.user_id, r.match_id,
         int(r.start_sec), int(r.n_s1), int(r.n_s2))
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_s1", "n_s2",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             int(r.n_s1), int(r.n_s2)))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    edge=st.sampled_from(["enter", "exit"]),
    quant=st.sampled_from(["oom", "range"]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_strict_edge_quantifier_fuzz(streams, types, edge, quant,
                                         within_s):
    """Quantifiers with ONE strict edge (r13 — previously refused at
    construction): A next B+/B{n,m} fb C (strict ENTER — the first
    repetition binds the event immediately after A) and
    A fb B+/B{n,m} next C (strict EXIT — the last absorbed repetition
    is the event immediately before C), checked against brute-force
    chain enumeration with adjacency on the strict edge; n_<b> must
    equal the documented pool (B-typed events in (greedy start,
    match]), capped for ranges. Type collisions and same-second ties
    included."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if edge == "enter":
        pat = pat.next("b", etype=b_t)
    else:
        pat = pat.followed_by("b", etype=b_t)
    n_req = 1 if quant == "oom" else 2
    pat = pat.one_or_more() if quant == "oom" else pat.times(2, 3)
    if edge == "enter":
        pat = pat.followed_by("c", etype=c_t)
    else:
        pat = pat.next("c", etype=c_t)
    pat = pat.within(within_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id, idx))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for combo in itertools.combinations(range(n), n_req + 2):
            pa, pbs, pc = combo[0], combo[1:-1], combo[-1]
            if seq[pa][0] != a_t or seq[pc][0] != c_t:
                continue
            if any(seq[pb][0] != b_t for pb in pbs):
                continue
            if edge == "enter" and pbs[0] != pa + 1:
                continue
            if edge == "exit" and pc != pbs[-1] + 1:
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            key = (uid, seq[pc][2])
            prev = want.get(key)
            if prev is None or (seq[pa][1], pa) > prev[:2]:
                want[key] = (seq[pa][1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(1 for k in range(pa + 1, pc + 1) if seq[k][0] == b_t)
        expect[(uid, mid)] = (sec, pool if quant == "oom"
                              else min(pool, 3))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=3, max_size=4
    ),
    strict_mask=st.integers(min_value=1, max_value=7),
    opt_idx=st.integers(min_value=0, max_value=2),
    cut=st.integers(min_value=1, max_value=10),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_enum_streaming_state_fuzz(streams, pattern_types,
                                       strict_mask, opt_idx, cut,
                                       within_s):
    """The enum-gated streaming state machine (r13): for random
    patterns with one optional step in a strict-contiguity region,
    driving carry_scan's any-chain mode through a fake GroupState
    with a random micro-batch split must emit exactly the batch
    compile's rows — match set, greedy-across-variants start, and the
    with_<o> flag (the 2^k variant carries and their OR-gate live in
    keyed state and must survive the batch boundary)."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    m = len(pattern_types)
    opt = min(opt_idx, m - 2)
    strict = [False] + [bool(strict_mask >> (i - 1) & 1)
                        for i in range(1, m)]
    if not any(strict[opt + 1:]):
        strict[opt + 1] = True  # force the enum region
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    if opt == 0:
        pat = pat.optional()
    for i in range(1, m):
        if strict[i]:
            pat = pat.next(f"s{i}", etype=pattern_types[i])
        else:
            pat = pat.followed_by(f"s{i}", etype=pattern_types[i])
        if i == opt:
            pat = pat.optional()
    pat = pat.within(within_s)
    assert pat._needs_variant_enum()
    flag = f"with_s{opt}"
    want = {
        (r.user_id, r.match_id, int(r.start_sec), bool(r[flag]))
        for r in pat.compile(df).select(
            "user_id", "match_id", flag,
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    # build the enum chain set exactly as compile_stream does
    opts = [(i, s) for i, s in enumerate(pat.steps) if s.optional]
    masks, variant_steps = [], []
    for mask in range(1 << len(opts)):
        inc = {i for j, (i, _s) in enumerate(opts) if mask >> j & 1}
        chain = [s for i, s in enumerate(pat.steps)
                 if not s.optional or i in inc]
        variant_steps.append(pat._event_expansion(chain))
        masks.append(frozenset(
            f"with_{s.name}" for i, s in opts if i in inc))
    fn = sf.cep_keyed_fn(sf.carry_scan(sf.Carry(
        variant_steps, within_s * 1_000_000, incl=masks,
        flag_names=[flag], gate=False,
    )))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             bool(getattr(r, flag))))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    neg_type=st.sampled_from(["A", "B", "C"]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_enum_with_negated_gap_fuzz(streams, types, neg_type,
                                        within_s):
    """Composition (r13): a mid-pattern negated gap INSIDE a
    strict-optional enum region — begin(a).notFollowedBy(q)
    .followedBy(b).followedBy(c).optional().next(d) — every variant
    chain carries the gated a→b hop, the skip variant binds d's LAG(1)
    to b, the include variant to c. Brute force enumerates both
    variants with the gap constraint and strict adjacency, reporting
    max start across variants and the with_c flag."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t, d_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("q", etype=neg_type)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .optional()
        .next("d", etype=d_t)
        .within(within_s)
    )
    assert pat._needs_variant_enum()
    got = {
        (r.user_id, r.match_id): (r.start_sec, bool(r.with_c))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_c",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for idx, (uid, ev_id, typ, sec) in enumerate(rows):
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        def gap_clean(lo, hi):
            return not any(seq[k][0] == neg_type for k in range(lo + 1, hi))

        for inc_c in (False, True):
            klen = 4 if inc_c else 3
            for combo in itertools.combinations(range(len(seq)), klen):
                ts_ok = seq[combo[-1]][1] - seq[combo[0]][1] <= within_s
                if not ts_ok:
                    continue
                if inc_c:
                    pa, pb, pc, pd_ = combo
                    shape = (seq[pa][0] == a_t and seq[pb][0] == b_t
                             and seq[pc][0] == c_t and seq[pd_][0] == d_t
                             and pd_ == pc + 1)
                else:
                    pa, pb, pd_ = combo
                    shape = (seq[pa][0] == a_t and seq[pb][0] == b_t
                             and seq[pd_][0] == d_t and pd_ == pb + 1)
                if not shape or not gap_clean(pa, pb):
                    continue
                key = (uid, seq[pd_][2])
                start = seq[pa][1]
                prev = want.get(key)
                if prev is None:
                    want[key] = [start, inc_c]
                else:
                    want[key] = [max(prev[0], start),
                                 prev[1] or inc_c]
    assert got == {k: (v[0], v[1]) for k, v in want.items()}


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=2, max_size=4
    ),
    strict_mask=st.integers(min_value=0, max_value=7),
    gap_s=st.integers(min_value=1, max_value=15),
    whole_s=st.sampled_from([None, 20, 40]),
    with_opt=st.booleans(),
    within_s_unused=st.just(0),
)
def test_cep_gap_bound_fuzz(streams, pattern_types, strict_mask, gap_s,
                            whole_s, with_opt, within_s_unused):
    """within(..., 'previous_and_current') (r13): every consecutive
    pair of matched events must lie within the gap bound — checked
    against brute-force chain enumeration with per-gap time checks,
    over random mixed strict/relaxed transitions, optionally composed
    with the whole-span FIRST_AND_LAST bound and with an optional step
    (which must route through the 2^k enumeration — skipping a step
    merges two short gaps into a long one). Same-second ties
    included (zero-gap pairs are always inside the bound)."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    m = len(pattern_types)
    strict = [False] + [bool(strict_mask >> (i - 1) & 1)
                        for i in range(1, m)]
    opt = 1 if (with_opt and m >= 3) else None
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    for i in range(1, m):
        if strict[i]:
            pat = pat.next(f"s{i}", etype=pattern_types[i])
        else:
            pat = pat.followed_by(f"s{i}", etype=pattern_types[i])
        if i == opt:
            pat = pat.optional()
    pat = pat.within(gap_s, "previous_and_current")
    if whole_s is not None:
        pat = pat.within(whole_s)
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    variants = [[i for i in range(m) if i != opt]]
    if opt is not None:
        variants.append(list(range(m)))
    for uid, seq in by_user.items():
        for kept in variants:
            for combo in itertools.combinations(range(len(seq)),
                                                len(kept)):
                if any(seq[p][0] != pattern_types[i]
                       for p, i in zip(combo, kept)):
                    continue
                if any(strict[i] and combo[j] != combo[j - 1] + 1
                       for j, i in enumerate(kept) if j):
                    continue
                # the gap bound applies between CONSECUTIVE matched
                # events of the (variant) chain
                if any(seq[combo[j]][1] - seq[combo[j - 1]][1] > gap_s
                       for j in range(1, len(kept))):
                    continue
                if whole_s is not None and \
                        seq[combo[-1]][1] - seq[combo[0]][1] > whole_s:
                    continue
                k = (uid, seq[combo[-1]][2])
                want[k] = max(want.get(k, -1), seq[combo[0]][1])
    assert got == {(u, mid, s) for (u, mid), s in want.items()}


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    pattern_types=st.lists(
        st.sampled_from(["A", "B", "C"]), min_size=2, max_size=4
    ),
    strict_mask=st.integers(min_value=0, max_value=7),
    gap_s=st.integers(min_value=1, max_value=15),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_gap_streaming_state_fuzz(streams, pattern_types,
                                      strict_mask, gap_s, cut):
    """The gap-bounded streaming state machine (r13): driving
    gap_scan through a fake GroupState with a random micro-batch
    split must emit exactly the batch compile's rows for random mixed
    strict/relaxed patterns — the per-level (ts, start) buffers and
    the strict-hop lag must survive the batch boundary, and the causal
    prune must never drop a start a later event could still reach."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    m = len(pattern_types)
    strict = [False] + [bool(strict_mask >> (i - 1) & 1)
                        for i in range(1, m)]
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("s0", etype=pattern_types[0])
    for i in range(1, m):
        if strict[i]:
            pat = pat.next(f"s{i}", etype=pattern_types[i])
        else:
            pat = pat.followed_by(f"s{i}", etype=pattern_types[i])
    pat = pat.within(gap_s, "previous_and_current")
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.integers(min_value=2, max_value=4),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_both_strict_range_fuzz(streams, types, cap, within_s):
    """times(2, m) with strict contiguity on BOTH sides (r13 — the
    n>=2 lift): A next B{2,m} next C — the first repetition is the
    event immediately after A, the LAST repetition is the event
    immediately before C, middle repetitions relaxed. Brute force:
    chains with >= 2 B's anchored at pa+1 and pc-1 (k > 2 matches
    reduce to the 2-copy expansion by dropping middles); n_b = the
    documented pool (B-typed in (greedy start, match]) capped at m."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .next("b", etype=b_t)
        .times(2, cap)
        .next("c", etype=c_t)
        .within(within_s)
    )
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pa, pb1, pb2, pc in itertools.combinations(range(n), 4):
            if (seq[pa][0], seq[pb1][0], seq[pb2][0], seq[pc][0]) \
                    != (a_t, b_t, b_t, c_t):
                continue
            if pb1 != pa + 1 or pc != pb2 + 1:
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            k = (uid, seq[pc][2])
            prev = want.get(k)
            if prev is None or (seq[pa][1], pa) > prev[:2]:
                want[k] = (seq[pa][1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(1 for j in range(pa + 1, pc + 1) if seq[j][0] == b_t)
        expect[(uid, mid)] = (sec, min(pool, cap))
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_both_strict_one_or_more_fuzz(streams, types, cap, within_s):
    """oneOrMore / times(1, m) with strict contiguity on BOTH sides
    (r14 — the OR-of-two-chains lift): A next B+ next C. A match at C
    exists iff the event right after some A is a B AND the event right
    before C is a B (the SAME single event when C = A+2 — the 1-rep
    variant — two distinct anchors otherwise, middles relaxed). Brute
    force enumerates (pa, pc) directly from that characterization;
    greedy start = max (ts, pos) over valid pa, n_b = the documented
    pool (B-typed in (greedy start, match]), capped at m for the range
    form. cap=None exercises one_or_more(), else times(1, cap)."""
    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).next("b", etype=b_t)
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = pat.next("c", etype=c_t).within(within_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pc in range(2, n):
            if seq[pc][0] != c_t or seq[pc - 1][0] != b_t:
                continue
            for pa in range(pc - 1):
                if seq[pa][0] != a_t or seq[pa + 1][0] != b_t:
                    continue
                if seq[pc][1] - seq[pa][1] > within_s:
                    continue
                k = (uid, seq[pc][2])
                prev = want.get(k)
                if prev is None or (seq[pa][1], pa) > prev[:2]:
                    want[k] = (seq[pa][1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(1 for j in range(pa + 1, pc + 1) if seq[j][0] == b_t)
        expect[(uid, mid)] = (sec, pool if cap is None else min(pool, cap))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_gap_enum_state_fuzz(streams, types, gap_s, cut):
    """Optional-under-gap STREAMS (r14, r13 verdict item 4b): driving
    gap_scan (one gap-buffered chain per include/exclude
    variant, shared prev_ts) through a fake GroupState with a random
    micro-batch split must emit exactly the batch 2^k-enumeration's
    rows — matches, greedy max-start ACROSS variants, and the
    with_<name> flag."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("s0", etype=a_t)
        .followed_by("s1", etype=b_t).optional()
        .followed_by("s2", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec), bool(r.with_s1))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_s1",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    # the same variant set compile_stream builds (mask order: exclude
    # first, include second)
    chains = [
        pat._event_expansion([s for s in pat.steps if not s.optional]),
        pat._event_expansion(list(pat.steps)),
    ]
    incl = [frozenset(), frozenset({"with_s1"})]
    fn = sf.cep_keyed_fn(sf.gap_scan(
        sf.Carry(chains, None, incl=incl, flag_names=["with_s1"],
                 gate=False), gap_s * 1_000_000))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             bool(r.with_s1)))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_gap_negation_state_fuzz(streams, types, gap_s, neg_s, cut):
    """Terminal negation + gap bound STREAMS (r14, r13 verdict item
    4a): driving gap_scan (horizon-pruned buffers) under the watermark-
    delayed hold through a fake timer GroupState with a random
    micro-batch split — watermark advancing to each batch's max event
    time, final survivors flushed by an event-time timer — must emit
    exactly the batch compile's match set, including kills across the
    batch boundary and the open-interval same-timestamp survival. The
    negated type deliberately collides with positive step types."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, x_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("s0", etype=a_t)
        .followed_by("s1", etype=b_t)
        .within(gap_s, "previous_and_current")
        .not_followed_by("x", etype=x_t, within=neg_s)
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
        # stream end: the watermark passes every horizon, survivors
        # emit on the timer path
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_or_split_streaming_state_fuzz(streams, types, cap,
                                           within_s, cut):
    """The both-strict OR-split STREAMS (r14): driving
    carry_scan (one paired carry chain per quantifier variant,
    shared running counts, lexicographic winner) through a fake
    GroupState with a random micro-batch split must emit exactly the
    batch OR-of-chains compile's rows — matches, greedy max-start
    ACROSS variants, and the repetition pool."""
    import pandas as pd

    from dataclasses import replace as dc_replace

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).next("b", etype=b_t)
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = pat.next("c", etype=c_t).within(within_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    sp = pat.steps[1]
    lo = [pat.steps[0],
          dc_replace(sp, one_or_more=False, times=1, up_to=None),
          pat.steps[2]]
    hi = [pat.steps[0], dc_replace(sp, times=2), pat.steps[2]]
    fn = sf.cep_keyed_fn(sf.carry_scan(sf.Carry(
        [pat._event_expansion(lo), pat._event_expansion(hi)],
        within_s * 1_000_000,
        [("b", b_t, cap, None)], gate=False,
    )))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_gap_enum_neg_state_fuzz(streams, types, gap_s, neg_s, cut):
    """The TRIPLE composition — optional + gap bound + terminal
    negation — STREAMS (r14): gap_scan (2^k gap chains)
    feeding the watermark hold driven through a fake timer GroupState
    with a random micro-batch split must emit exactly the batch
    enum+negation compile's rows incl. flags; negated/positive type
    collisions included."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, x_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("s0", etype=a_t)
        .followed_by("s1", etype=b_t).optional()
        .followed_by("s2", etype=c_t)
        .within(gap_s, "previous_and_current")
        .not_followed_by("x", etype=x_t, within=neg_s)
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec), bool(r.with_s1))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_s1",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    chains = [
        pat._event_expansion([s for s in pat.steps if not s.optional]),
        pat._event_expansion(list(pat.steps)),
    ]
    incl = [frozenset(), frozenset({"with_s1"})]
    fn = sf.cep_keyed_fn(
        sf.gap_scan(sf.Carry(chains, None, incl=incl,
                             flag_names=["with_s1"], gate=False),
                    gap_s * 1_000_000),
        hold=(x_t, neg_s * 1_000_000),
    )
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             bool(r.with_s1)))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000,
                         bool(r.with_s1)))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
)
def test_cep_skip_gap_fuzz(streams, types, gap_s):
    """after_match_skip('skip_past_last_event') × per-gap bound (r14 —
    was a batch refusal): the position struct rides the bounded
    GREATEST, so the compiled greedy interval scheduling over
    GAP-BOUNDED chains must equal brute force — enumerate all chains
    with every hop inside the gap, take the greedy (max ts, max pos)
    start per match row, then replay the cursor fold (accept iff
    start_pos > cursor; cursor = accepted match's row position)."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want = set()
    for uid, seq in by_user.items():
        n = len(seq)
        greedy: dict = {}  # match pos -> (start_sec, start_pos, ev_id)
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if seq[pb][1] - seq[pa][1] > gap_s or \
                    seq[pc][1] - seq[pb][1] > gap_s:
                continue
            prev = greedy.get(pc)
            if prev is None or (seq[pa][1], pa) > prev[:2]:
                greedy[pc] = (seq[pa][1], pa, seq[pc][2])
        cursor = -1
        for pc in sorted(greedy):
            sec, pa, mid = greedy[pc]
            if pa > cursor:
                want.add((uid, mid, sec))
                cursor = pc
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    strategy=st.sampled_from(
        ["skip_past_last_event", "skip_to_next", "skip_to_first"]
    ),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_gap_skip_state_fuzz(streams, types, gap_s, strategy, cut):
    """skip+gap STREAMS (r14): gap_scan (position-struct
    buffers) + the causal cursor fold driven through a fake GroupState with a
    random micro-batch split must emit exactly the batch skip+gap
    compile's accepted rows, for all three cursor rules incl. the
    anchored one."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    if strategy == "skip_to_first":
        pat = pat.after_match_skip(strategy, "b")
    else:
        pat = pat.after_match_skip(strategy)
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    neg_s=st.integers(min_value=1, max_value=20),
    strategy=st.sampled_from(
        ["skip_past_last_event", "skip_to_next", "skip_to_first"]
    ),
    gapped=st.booleans(),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_skip_neg_state_fuzz(streams, types, neg_s, strategy,
                                 gapped, cut):
    """skip × terminal negation STREAMS (r14), with and without the
    gap bound: the watermark hold's flush-time cursor driven through a
    fake timer GroupState with a random micro-batch split must emit
    exactly the batch compile's accepted survivors — kills across the
    boundary, open-interval same-timestamp survival, and all three
    cursor rules incl. the anchored one; the negated type collides
    with positive step types."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, x_t = types
    gap_s = 12
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).followed_by("b", etype=b_t)
    if gapped:
        pat = pat.within(gap_s, "previous_and_current")
    pat = pat.not_followed_by("x", etype=x_t, within=neg_s)
    if strategy == "skip_to_first":
        pat = pat.after_match_skip(strategy, "b")
    else:
        pat = pat.after_match_skip(strategy)
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    neg_s=st.integers(min_value=1, max_value=20),
    within_s=st.integers(min_value=1, max_value=40),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_counted_neg_state_fuzz(streams, types, neg_s, within_s,
                                    cut):
    """oneOrMore counts × terminal negation STREAM (r14): the paired
    count carries feed the watermark hold (pools ride the candidate),
    driven through a fake timer GroupState with a random micro-batch
    split — must emit exactly the batch compile's surviving rows WITH
    their n_b pools; negated/positive type collisions included."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, x_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t)
        .one_or_more()
        .followed_by("c", etype=c_t)
        .within(within_s)
        .not_followed_by("x", etype=x_t, within=neg_s)
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000,
                         r.n_b))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
)
def test_cep_midneg_gap_fuzz(streams, types, gap_s):
    """Mid-pattern negation × per-gap bound (r14 — was a batch
    refusal): the count-gated bounded max must equal brute force —
    enumerate chains a < b < c with every hop's event-time difference
    inside the gap AND no negated event strictly between a and b in
    row order, greedy (max ts, max pos) start per match row. The
    negated type deliberately collides with positive step types."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want_map: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if seq[pb][1] - seq[pa][1] > gap_s or \
                    seq[pc][1] - seq[pb][1] > gap_s:
                continue
            if any(seq[j][0] == x_t for j in range(pa + 1, pb)):
                continue
            k = (uid, seq[pc][2])
            prev = want_map.get(k)
            if prev is None or (seq[pa][1], pa) > prev:
                want_map[k] = (seq[pa][1], pa)
    want = {(uid, mid, sec) for (uid, mid), (sec, _pa)
            in want_map.items()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_midneg_gap_streaming_state_fuzz(streams, types, gap_s,
                                             cut):
    """Mid-pattern negation × gap bound STREAMS (r14): gap_scan
    with count-gated buffers driven through a fake GroupState with a
    random micro-batch split must emit exactly the batch count-gated
    compile's rows — gate state (running counts + per-entry counts)
    must survive the batch boundary; negated/positive type collisions
    included."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .within(gap_s, "previous_and_current")
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


# ---------------------------------------------------------------------------
# r15 (r14 verdict items 3/4): the remaining CEP composition lifts —
# mid-negation×gap composed with skip / terminal negation / optionals,
# the both-strict OR-split × terminal negation, and strict-contiguity
# optional enum × terminal negation. Batch vs brute force first, then
# the keyed state machines vs batch across micro-batch splits.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    with_neg=st.booleans(),
)
def test_cep_midneg_gap_skip_fuzz(streams, types, gap_s, neg_s,
                                  with_neg):
    """Mid-pattern negation × gap bound × after-match skip (r15 — was
    a streaming-only refusal; the BATCH composition existed but was
    never brute-forced): the count-gated bounded max carries the
    (h, sp) position struct, so the greedy chain per match row is the
    feasible (max sec, max pos) one, and the acceptance fold replays
    over the (optionally terminal-negation-filtered) match frame.
    with_neg=True stacks the QUADRUPLE midneg+gap+skip+terminal-neg:
    the batch folds AFTER the negation filter, so the brute replay
    kills candidates first, then runs the cursor."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want = set()
    for uid, seq in by_user.items():
        n = len(seq)
        greedy: dict = {}
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if seq[pb][1] - seq[pa][1] > gap_s or \
                    seq[pc][1] - seq[pb][1] > gap_s:
                continue
            if any(seq[j][0] == x_t for j in range(pa + 1, pb)):
                continue
            prev = greedy.get(pc)
            if prev is None or (seq[pa][1], pa) > prev[:2]:
                greedy[pc] = (seq[pa][1], pa, seq[pc][2])
        cursor = -1
        for pc in sorted(greedy):
            sec, pa, mid = greedy[pc]
            if with_neg and any(
                typ == "A" and seq[pc][1] < s <= seq[pc][1] + neg_s
                for typ, s, _eid in seq
            ):
                continue
            if pa > cursor:
                want.add((uid, mid, sec))
                cursor = pc
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    strategy=st.sampled_from(
        ["skip_past_last_event", "skip_to_next", "skip_to_first"]
    ),
    with_neg=st.booleans(),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_midneg_gap_skip_state_fuzz(streams, types, gap_s, neg_s,
                                        strategy, with_neg, cut):
    """midneg+gap+skip STREAMS (r15): gap_scan (with or without
    the hold) with count-gated position-struct buffers
    driven through a fake (timer) GroupState with a random micro-batch
    split must emit exactly the batch rows, for all three cursor rules
    and with/without the terminal-negation hold."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    if strategy == "skip_to_first":
        pat = pat.after_match_skip(strategy, "b")
    else:
        pat = pat.after_match_skip(strategy)
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
)
def test_cep_midneg_gap_neg_fuzz(streams, types, gap_s, neg_s):
    """Mid-pattern negation × gap bound × TERMINAL negation (r15):
    count-gated bounded chains, then the terminal kill — no Y-event
    with event time strictly inside (match_ts, match_ts + T]. The
    negated types deliberately collide with the positive steps."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .within(gap_s, "previous_and_current")
        .not_followed_by("y", etype=y_t, within=neg_s)
    )
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want_map: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pa, pb in itertools.combinations(range(n), 2):
            if (seq[pa][0], seq[pb][0]) != (a_t, b_t):
                continue
            if seq[pb][1] - seq[pa][1] > gap_s:
                continue
            if any(seq[j][0] == x_t for j in range(pa + 1, pb)):
                continue
            if any(t == y_t and seq[pb][1] < s <= seq[pb][1] + neg_s
                   for t, s, _e in seq):
                continue
            k = (uid, seq[pb][2])
            prev = want_map.get(k)
            if prev is None or (seq[pa][1], pa) > prev:
                want_map[k] = (seq[pa][1], pa)
    want = {(uid, mid, sec) for (uid, mid), (sec, _pa)
            in want_map.items()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_midneg_gap_neg_state_fuzz(streams, types, gap_s, neg_s,
                                       cut):
    """midneg+gap+terminal-neg STREAMS (r15): gap_scan + the hold, with
    the count-gated buffers (bq/qc) driven through a fake timer GroupState
    with a random micro-batch split must emit exactly the batch match
    set — count gates, kills, and open-interval same-timestamp
    survival all across the batch boundary."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .not_followed_by("x", etype=x_t)
        .followed_by("b", etype=b_t)
        .within(gap_s, "previous_and_current")
        .not_followed_by("y", etype=y_t, within=neg_s)
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    with_neg=st.booleans(),
)
def test_cep_opt_midneg_gap_fuzz(streams, types, gap_s, neg_s,
                                 with_neg):
    """The optional × mid-negation × gap TRIPLE (r15, r14 verdict item
    4 — constructed, not refused): `A .followedBy(B).optional()
    .notFollowedBy(X) .followedBy(C) .within(gap, p_and_c)` — the 2^k
    enumeration where EVERY variant is a count-gated gap chain (the
    negation guards the gap between C's bound event and its
    predecessor IN THAT VARIANT: B when included, A when skipped).
    Brute force enumerates both variants directly; start = max sec
    over satisfied chains, with_b = any including chain satisfied.
    with_neg stacks the QUADRUPLE with a terminal negation kill."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, x_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).optional()
        .not_followed_by("x", etype=x_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    if with_neg:
        pat = pat.not_followed_by("y", etype="B", within=neg_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, bool(r.with_b))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        if with_neg:
            killed = {
                pc for pc in range(n)
                if any(t == "B" and seq[pc][1] < s <= seq[pc][1] + neg_s
                       for t, s, _e in seq)
            }
        else:
            killed = set()
        # excluding variant: a -> c, negation guards (a, c)
        for pa, pc in itertools.combinations(range(n), 2):
            if (seq[pa][0], seq[pc][0]) != (a_t, c_t) or pc in killed:
                continue
            if seq[pc][1] - seq[pa][1] > gap_s:
                continue
            if any(seq[j][0] == x_t for j in range(pa + 1, pc)):
                continue
            k = (uid, seq[pc][2])
            prev = want.get(k)
            if prev is None:
                want[k] = [seq[pa][1], False]
            else:
                want[k][0] = max(want[k][0], seq[pa][1])
        # including variant: a -> b -> c, negation guards (b, c)
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t) \
                    or pc in killed:
                continue
            if seq[pb][1] - seq[pa][1] > gap_s or \
                    seq[pc][1] - seq[pb][1] > gap_s:
                continue
            if any(seq[j][0] == x_t for j in range(pb + 1, pc)):
                continue
            k = (uid, seq[pc][2])
            prev = want.get(k)
            if prev is None:
                want[k] = [seq[pa][1], True]
            else:
                want[k][0] = max(want[k][0], seq[pa][1])
                want[k][1] = True
    expect = {k: (v[0], v[1]) for k, v in want.items()}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    gap_s=st.integers(min_value=1, max_value=15),
    neg_s=st.integers(min_value=1, max_value=20),
    with_neg=st.booleans(),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_opt_midneg_gap_state_fuzz(streams, types, gap_s, neg_s,
                                       with_neg, cut):
    """The optional×midneg×gap triple (and its terminal-negation
    quadruple) STREAMS (r15): gap_scan (with or without the hold)
    with per-variant count-gated buffers driven through a fake (timer)
    GroupState with a random micro-batch split must emit exactly the
    batch rows — matches, greedy max-start across variants, the
    with_b flag, and (quadruple) the watermark kills."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, x_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).optional()
        .not_followed_by("x", etype=x_t)
        .followed_by("c", etype=c_t)
        .within(gap_s, "previous_and_current")
    )
    if with_neg:
        pat = pat.not_followed_by("y", etype="B", within=neg_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec), bool(r.with_b))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    # the same variant set compile_stream builds (exclude first)
    chains = [
        pat._event_expansion([s for s in pat.steps if not s.optional]),
        pat._event_expansion(list(pat.steps)),
    ]
    incl = [frozenset(), frozenset({"with_b"})]
    scan = sf.gap_scan(sf.Carry(chains, None, incl=incl,
                                flag_names=["with_b"], gate=False),
                       gap_s * 1_000_000)
    if with_neg:
        fn = sf.cep_keyed_fn(scan, hold=("B", neg_s * 1_000_000))
    else:
        fn = sf.cep_keyed_fn(scan)
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             bool(r.with_b)))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id,
                             r.start_us // 1_000_000, bool(r.with_b)))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
    neg_s=st.integers(min_value=1, max_value=20),
)
def test_cep_or_split_neg_fuzz(streams, types, cap, within_s, neg_s):
    """The both-strict OR-split × TERMINAL negation (r15, r14 verdict
    item 3): A next B+ next C within(w) notFollowedBy(Y, within=T) —
    the OR-of-two-chains match set, then the terminal kill. Brute
    force from the both-strict characterization (event after A is a
    B, event before C is a B) plus the open-interval kill; n_b from
    the greedy surviving chain."""
    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).next("b", etype=b_t)
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = (pat.next("c", etype=c_t).within(within_s)
           .not_followed_by("y", etype=y_t, within=neg_s))
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pc in range(2, n):
            if seq[pc][0] != c_t or seq[pc - 1][0] != b_t:
                continue
            if any(t == y_t and seq[pc][1] < s <= seq[pc][1] + neg_s
                   for t, s, _e in seq):
                continue
            for pa in range(pc - 1):
                if seq[pa][0] != a_t or seq[pa + 1][0] != b_t:
                    continue
                if seq[pc][1] - seq[pa][1] > within_s:
                    continue
                k = (uid, seq[pc][2])
                prev = want.get(k)
                if prev is None or (seq[pa][1], pa) > prev[:2]:
                    want[k] = (seq[pa][1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        seq = by_user[uid]
        pool = sum(1 for j in range(pa + 1, pc + 1) if seq[j][0] == b_t)
        expect[(uid, mid)] = (sec, pool if cap is None
                              else min(pool, cap))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_or_split_neg_state_fuzz(streams, types, cap, within_s,
                                     neg_s, cut):
    """The OR-split × terminal negation STREAMS (r15):
    carry_scan (paired variant chains) + the watermark hold
    driven through a fake timer GroupState with a random micro-batch
    split must emit exactly the batch rows — lexicographic winner,
    pools, kills across the boundary, and the timer-path flush."""
    import pandas as pd

    from dataclasses import replace as dc_replace

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).next("b", etype=b_t)
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = (pat.next("c", etype=c_t).within(within_s)
           .not_followed_by("y", etype=y_t, within=neg_s))
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    sp = pat.steps[1]
    lo = [pat.steps[0],
          dc_replace(sp, one_or_more=False, times=1, up_to=None),
          pat.steps[2]]
    hi = [pat.steps[0], dc_replace(sp, times=2), pat.steps[2]]
    fn = sf.cep_keyed_fn(
        sf.carry_scan(sf.Carry(
            [pat._event_expansion(lo), pat._event_expansion(hi)],
            within_s * 1_000_000, [("b", b_t, cap, None)], gate=False)),
        hold=(y_t, neg_s * 1_000_000),
    )
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000,
                         r.n_b))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
    neg_s=st.integers(min_value=1, max_value=20),
)
def test_cep_enum_neg_fuzz(streams, types, within_s, neg_s):
    """Strict-contiguity optional region × TERMINAL negation (r15):
    A .followedBy(B).optional() .next(C) within(w)
    .notFollowedBy(Y, T) — the 2^k variant enumeration (C's LAG(1)
    rebinds when B is skipped), then the open-interval kill. Brute
    force enumerates both variants (include: c = b+1; exclude:
    c = a+1), start = max sec across satisfied chains, with_b = any
    including chain."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).optional()
        .next("c", etype=c_t)
        .within(within_s)
        .not_followed_by("y", etype=y_t, within=neg_s)
    )
    got = {
        (r.user_id, r.match_id): (r.start_sec, bool(r.with_b))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        killed = {
            pc for pc in range(n)
            if any(t == y_t and seq[pc][1] < s <= seq[pc][1] + neg_s
                   for t, s, _e in seq)
        }
        # excluding variant: c immediately after a
        for pa in range(n - 1):
            pc = pa + 1
            if (seq[pa][0], seq[pc][0]) != (a_t, c_t) or pc in killed:
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            k = (uid, seq[pc][2])
            if k not in want:
                want[k] = [seq[pa][1], False]
            else:
                want[k][0] = max(want[k][0], seq[pa][1])
        # including variant: c immediately after b, b anywhere after a
        for pa, pb in itertools.combinations(range(n - 1), 2):
            pc = pb + 1
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != \
                    (a_t, b_t, c_t) or pc in killed:
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            k = (uid, seq[pc][2])
            if k not in want:
                want[k] = [seq[pa][1], True]
            else:
                want[k][0] = max(want[k][0], seq[pa][1])
                want[k][1] = True
    expect = {k: (v[0], v[1]) for k, v in want.items()}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=10),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_enum_neg_state_fuzz(streams, types, within_s, neg_s, cut):
    """Strict-optional enum × terminal negation STREAMS (r15):
    carry_scan's any-chain mode (2^k variant chains) + the hold, driven
    through a fake timer GroupState with a random micro-batch split
    must emit exactly the batch rows — OR-gated matches, greedy
    max-start across variants, flags riding the hold, kills and the
    timer-path flush."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, y_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).optional()
        .next("c", etype=c_t)
        .within(within_s)
        .not_followed_by("y", etype=y_t, within=neg_s)
    )
    want = {
        (r.user_id, r.match_id, int(r.start_sec), bool(r.with_b))
        for r in pat.compile(df).select(
            "user_id", "match_id", "with_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    chains = [
        pat._event_expansion([s for s in pat.steps if not s.optional]),
        pat._event_expansion(list(pat.steps)),
    ]
    masks = [frozenset(), frozenset({"with_b"})]
    fn = sf.cep_keyed_fn(
        sf.carry_scan(sf.Carry(chains, within_s * 1_000_000, incl=masks,
                               flag_names=["with_b"], gate=False)),
        hold=(y_t, neg_s * 1_000_000),
    )
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             bool(r.with_b)))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000,
                         bool(r.with_b)))
    assert got == want


# ---------------------------------------------------------------------------
# r15: FlinkCEP until() — stop-gated loops. Batch vs brute force, then
# the keyed freeze-rider machine vs batch across micro-batch splits.
# ---------------------------------------------------------------------------

_NO_STOP = 1 << 62


def _until_brute(rows, types, quant, cap, within_s, neg_s=None,
                 nn_t=None):
    """Reference semantics of until() (the documented contract): per
    match row, feasible chains need every bound repetition's entering
    gap clean of stop events; the greedy start is the lexicographic
    (sec, count-at-start, freeze-at-start) max over feasible starts;
    the pool is min(incl-count-at-match, freeze) - count-at-start.
    nn_t (r16): a notNext gate on the begin step — a start whose
    direct successor matches the type is infeasible."""
    a_t, b_t, c_t, u_t = types
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        cntb = [0] * (n + 1)  # cntb[x] = #B at positions < x
        for j in range(n):
            cntb[j + 1] = cntb[j] + (1 if seq[j][0] == b_t else 0)

        def u0(p):
            for j in range(p + 1, n):
                if seq[j][0] == u_t:
                    return cntb[j]
            return _NO_STOP

        def clean(lo, hi):  # no stop strictly between positions
            return all(seq[j][0] != u_t for j in range(lo + 1, hi))

        for pc in range(n):
            if seq[pc][0] != c_t:
                continue
            if neg_s is not None and any(
                typ == "A" and seq[pc][1] < s <= seq[pc][1] + neg_s
                for typ, s, _e in seq
            ):
                continue  # terminal negation kill (open interval)
            best = None
            for pa in range(pc):
                if seq[pa][0] != a_t or \
                        seq[pc][1] - seq[pa][1] > within_s:
                    continue
                if nn_t is not None and pa + 1 < n \
                        and seq[pa + 1][0] == nn_t:
                    continue  # direct successor matches -> infeasible
                if quant == 2:
                    feas = any(
                        seq[p1][0] == b_t and seq[p2][0] == b_t
                        and clean(pa, p1) and clean(p1, p2)
                        for p1 in range(pa + 1, pc)
                        for p2 in range(p1 + 1, pc)
                    )
                else:
                    feas = any(
                        seq[pb][0] == b_t and clean(pa, pb)
                        for pb in range(pa + 1, pc)
                    )
                if not feas:
                    continue
                tup = (seq[pa][1], cntb[pa + 1], u0(pa))
                if best is None or tup > best:
                    best = tup
            if best is None:
                continue
            _sec, c0, uz = best
            pool = min(cntb[pc + 1], uz) - c0
            if cap is not None:
                pool = min(pool, cap)
            want[(uid, seq[pc][2])] = (best[0], pool)
    return want


@settings(max_examples=20, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    quant=st.sampled_from([1, 2]),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
)
def test_cep_until_fuzz(streams, types, quant, cap, within_s,
                        with_neg, neg_s):
    """until() batch compile vs brute force — stop types deliberately
    collide with every positive step type (incl. the stop==repeat
    collision where an absorbed repetition can sit AT the freeze row;
    both sides implement the documented gate+LEAST algebra, which the
    brute mirrors literally). with_neg stacks a terminal
    notFollowedBy on top (r15 same-round continuation)."""
    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t, u_t = types
    if quant == 2 and cap is None:
        cap = 3
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).followed_by("b", etype=b_t)
    if quant == 1:
        pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    else:
        pat = pat.times(2, cap)
    pat = (pat.until("u", etype=u_t)
           .followed_by("c", etype=c_t).within(within_s))
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }
    want = _until_brute(rows, types, quant, cap, within_s,
                        neg_s if with_neg else None)
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    quant=st.sampled_from([1, 2]),
    cap=st.sampled_from([None, 2, 3]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_until_state_fuzz(streams, types, quant, cap, within_s,
                              with_neg, neg_s, cut):
    """until() STREAMS (r15): carry_scan (paired carries + per-level
    freeze riders, stop events freezing BEFORE the row's hits) driven
    through a fake (timer) GroupState with a random micro-batch split
    must emit exactly the batch rows — matches, greedy starts, and the
    clamped pools, across the boundary; with_neg adds the terminal-
    negation watermark hold on top."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, u_t = types
    if quant == 2 and cap is None:
        cap = 3
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).followed_by("b", etype=b_t)
    if quant == 1:
        pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    else:
        pat = pat.times(2, cap)
    pat = (pat.until("u", etype=u_t)
           .followed_by("c", etype=c_t).within(within_s))
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id,
                             r.start_us // 1_000_000, r.n_b))
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    nn_t=st.sampled_from(["A", "B", "C"]),
    cap=st.sampled_from([None, 2]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_until_fuzz(streams, types, nn_t, cap, within_s,
                                 with_neg, neg_s, cut):
    """notNext × until() (r16 — the last refused pair with a known
    construction): batch compile vs the nn-gated _until_brute, AND
    the streaming machine (carry_scan with nn_ets — one-row
    delayed absorption riding the freeze riders, resolution BEFORE
    the stop freeze) driven through a fake timer GroupState with a
    random micro-batch split. All roles collide; with_neg stacks the
    terminal hold."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, u_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (CepPattern.begin("a", etype=a_t)
           .not_next("nx", etype=nn_t)
           .followed_by("b", etype=b_t))
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = (pat.until("u", etype=u_t)
           .followed_by("c", etype=c_t).within(within_s))
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }
    want = _until_brute(rows, types, 1, cap, within_s,
                        neg_s if with_neg else None, nn_t)
    assert got == want

    # streaming machine vs the batch rows
    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got_s = {}
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got_s[(uid, r.match_id)] = (
                        r.start_us // 1_000_000, r.n_b)
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got_s[(uid, r.match_id)] = (
                        r.start_us // 1_000_000, r.n_b)
    assert got_s == want


def _until_split_brute(rows, types, cap_c, within_s):
    """Reference semantics of until() composed with a both-strict
    split step elsewhere in the pattern (r16, r15 verdict item 2):
    begin(a).followedBy(b)+.until(u).next(c)+.next(d) — the b-bind's
    entering gap must be stop-clean, the c block is the OR of the
    1-rep chain (b directly before c, d directly after c) and the
    >=2-rep chain (b directly before c1, a later absorbed c2 directly
    before d); the winner is the lexicographic (sec, cb, cc, freeze)
    max over feasible starts across variants, pools from the winner
    (b clamped at its freeze, c optionally capped)."""
    a_t, b_t, c_t, d_t, u_t = types
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        cntb = [0] * (n + 1)
        cntc = [0] * (n + 1)
        for j in range(n):
            cntb[j + 1] = cntb[j] + (1 if seq[j][0] == b_t else 0)
            cntc[j + 1] = cntc[j] + (1 if seq[j][0] == c_t else 0)

        def u0(p):
            for j in range(p + 1, n):
                if seq[j][0] == u_t:
                    return cntb[j]
            return _NO_STOP

        def clean(lo, hi):
            return all(seq[j][0] != u_t for j in range(lo + 1, hi))

        for pd_ in range(n):
            if seq[pd_][0] != d_t:
                continue
            pc_last = pd_ - 1
            if pc_last < 1 or seq[pc_last][0] != c_t:
                continue
            best = None
            # variant 1-rep: the single c is pc_last; variant >=2-rep:
            # c1 earlier, pc_last is the absorbed last rep
            first_cs = [pc_last] + [
                j for j in range(1, pc_last) if seq[j][0] == c_t
            ]
            for pc1 in first_cs:
                pb = pc1 - 1
                if pb < 1 or seq[pb][0] != b_t:
                    continue
                for pa in range(pb):
                    if seq[pa][0] != a_t:
                        continue
                    if seq[pd_][1] - seq[pa][1] > within_s:
                        continue
                    if not clean(pa, pb):
                        continue
                    tup = (seq[pa][1], cntb[pa + 1], cntc[pa + 1],
                           u0(pa))
                    if best is None or tup > best:
                        best = tup
            if best is None:
                continue
            _sec, cb0, cc0, uz = best
            n_b = min(cntb[pd_ + 1], uz) - cb0
            n_c = cntc[pd_ + 1] - cc0
            if cap_c is not None:
                n_c = min(n_c, cap_c)
            want[(uid, seq[pd_][2])] = (best[0], n_b, n_c)
    return want


@settings(max_examples=15, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap_c=st.sampled_from([None, 2]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_until_or_split_fuzz(streams, types, cap_c, within_s):
    """until() × both-strict OR-split (r16, r15 verdict item 2 — was
    refused as 'untested with freeze fields'): the freeze riders ride
    each variant's (h, c..) struct and the cross-variant GREATEST
    compares (h, cb, cc, u) lexicographically — batch compile vs
    brute force over begin(a).followedBy(b)+.until(u).next(c)+
    .next(d).within(T), all five roles colliding over {A, B, C}."""
    from sparkflow.streaming.cep import CepPattern

    a_t, b_t, c_t, d_t, u_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).one_or_more().until("u", etype=u_t)
        .next("c", etype=c_t)
    )
    pat = pat.one_or_more() if cap_c is None else pat.times(1, cap_c)
    pat = pat.next("d", etype=d_t).within(within_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b, r.n_c)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b", "n_c",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }
    want = _until_split_brute(rows, types, cap_c, within_s)
    assert got == want


def _until_optional_brute(rows, types, opt_pos, cap, within_s):
    """Reference semantics of until() × optional (r16, r15 verdict
    item 8): the match gate and pools enumerate BOTH include/exclude
    variants — under stop gates the exclude variant is NOT less
    constrained (its gated gap is wider), so a chain may exist only
    through the optional step. Winner = lexicographic (sec, cb, u)
    max over feasible starts across variants; with_o = any including
    chain completes within the window."""
    a_t, o_t, b_t, c_t, u_t = types
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        cntb = [0] * (n + 1)
        for j in range(n):
            cntb[j + 1] = cntb[j] + (1 if seq[j][0] == b_t else 0)

        def u0(p):
            for j in range(p + 1, n):
                if seq[j][0] == u_t:
                    return cntb[j]
            return _NO_STOP

        def clean(lo, hi):
            return all(seq[j][0] != u_t for j in range(lo + 1, hi))

        for pc in range(n):
            if seq[pc][0] != c_t:
                continue
            best = None
            incl_ok = False
            for pa in range(pc):
                if seq[pa][0] != a_t or \
                        seq[pc][1] - seq[pa][1] > within_s:
                    continue
                # riders are ENTRY-RELATIVE (r16): stamped at the
                # bound event of the step directly before the loop —
                # pa for the exclude variant ('after' include too),
                # po for the 'before' include variant
                if any(seq[pb][0] == b_t and clean(pa, pb)
                       for pb in range(pa + 1, pc)):
                    tup = (seq[pa][1], cntb[pa + 1], u0(pa))
                    if best is None or tup > best:
                        best = tup
                if opt_pos == "before":
                    for po in range(pa + 1, pc):
                        if seq[po][0] != o_t:
                            continue
                        if any(seq[pb][0] == b_t and clean(po, pb)
                               for pb in range(po + 1, pc)):
                            incl_ok = True
                            tup = (seq[pa][1], cntb[po + 1], u0(po))
                            if best is None or tup > best:
                                best = tup
                else:
                    feas = any(
                        seq[pb][0] == b_t and clean(pa, pb)
                        and any(seq[po][0] == o_t
                                for po in range(pb + 1, pc))
                        for pb in range(pa + 1, pc)
                    )
                    if feas:
                        incl_ok = True
                        tup = (seq[pa][1], cntb[pa + 1], u0(pa))
                        if best is None or tup > best:
                            best = tup
            if best is None:
                continue
            _sec, cb0, uz = best
            n_b = min(cntb[pc + 1], uz) - cb0
            if cap is not None:
                n_b = min(n_b, cap)
            want[(uid, seq[pc][2])] = (best[0], n_b, incl_ok)
    return want


@settings(max_examples=15, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    opt_pos=st.sampled_from(["before", "after"]),
    cap=st.sampled_from([None, 2]),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_until_optional_fuzz(streams, types, opt_pos, cap,
                                 within_s):
    """until() × optional (r16, r15 verdict item 8 — was refused):
    batch compile vs brute force over begin(a)[.followedBy(o)?]
    .followedBy(b)+.until(u)[.followedBy(o)?].followedBy(c)
    .within(T) with the optional before or after the gated loop. The
    'before' position is the soundness-critical one: a stop between a
    and o kills only the exclude variant, so matches can exist ONLY
    through the optional step — the case the k+1 shortcut gets
    wrong."""
    from sparkflow.streaming.cep import CepPattern

    a_t, o_t, b_t, c_t, u_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if opt_pos == "before":
        pat = pat.followed_by("o", etype=o_t).optional()
    pat = pat.followed_by("b", etype=b_t)
    pat = pat.one_or_more() if cap is None else pat.times(1, cap)
    pat = pat.until("u", etype=u_t)
    if opt_pos == "after":
        pat = pat.followed_by("o", etype=o_t).optional()
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    got = {
        (r.user_id, r.match_id): (r.start_sec, r.n_b, r.with_o)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b", "with_o",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }
    want = _until_optional_brute(rows, types, opt_pos, cap, within_s)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    opt_pos=st.sampled_from(["before", "after"]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_until_optional_state_fuzz(streams, types, opt_pos,
                                       within_s, with_neg, neg_s,
                                       cut):
    """until() × optional STREAMS (r16): the 2^k full-variant
    enumeration through carry_scan with incl flags — match
    set, greedy starts, clamped pools AND with_o flags must equal the
    batch compile across a random micro-batch split; with_neg adds
    the watermark hold (flags ride the pending arrays)."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, o_t, b_t, c_t, u_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if opt_pos == "before":
        pat = pat.followed_by("o", etype=o_t).optional()
    pat = (pat.followed_by("b", etype=b_t).one_or_more()
           .until("u", etype=u_t))
    if opt_pos == "after":
        pat = pat.followed_by("o", etype=o_t).optional()
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b, r.with_o)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b", "with_o",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    opts = [(i, s) for i, s in enumerate(pat.steps) if s.optional]
    cnt_steps = [s for s in pat.steps
                 if s.one_or_more or s.up_to is not None]
    variant_steps, incl, entry = [], [], []
    for mask in range(1 << len(opts)):
        inc = {i for j, (i, _s) in enumerate(opts) if mask >> j & 1}
        chain = [s for i, s in enumerate(pat.steps)
                 if not s.optional or i in inc]
        variant_steps.append(pat._event_expansion(chain))
        entry.append(pat._until_entry_indices(chain, cnt_steps))
        incl.append(frozenset(
            f"with_{s.name}" for i, s in opts if i in inc))
    fn = sf.cep_keyed_fn(
        sf.carry_scan(sf.Carry(
            variant_steps, within_s * 1_000_000, [("b", b_t, None, u_t)],
            incl=incl, flag_names=["with_o"], gate=False, entry=entry)),
        hold=("A", neg_s * 1_000_000) if with_neg else None,
    )
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b, bool(r.with_o)))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b, bool(r.with_o)))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    cap_c=st.sampled_from([None, 2]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_until_or_split_state_fuzz(streams, types, cap_c,
                                       within_s, with_neg, neg_s,
                                       cut):
    """until() × both-strict OR-split STREAMS (r16):
    carry_scan (per-variant freeze-rider chains, shared
    counts, cross-variant (h, c.., u-as-inf..) winner) driven through
    a fake (timer) GroupState with a random micro-batch split must
    emit exactly the batch rows; with_neg adds the terminal-negation
    watermark hold on top."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, c_t, d_t, u_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (
        CepPattern.begin("a", etype=a_t)
        .followed_by("b", etype=b_t).one_or_more().until("u", etype=u_t)
        .next("c", etype=c_t)
    )
    pat = pat.one_or_more() if cap_c is None else pat.times(1, cap_c)
    pat = pat.next("d", etype=d_t).within(within_s)
    if with_neg:
        pat = pat.not_followed_by("y", etype="A", within=neg_s)
    want = {
        (r.user_id, r.match_id, int(r.start_sec), r.n_b, r.n_c)
        for r in pat.compile(df).select(
            "user_id", "match_id", "n_b", "n_c",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    from dataclasses import replace as _replace

    req = [s for s in pat.steps if not s.optional]
    split = [
        st_ for i, st_ in enumerate(req)
        if st_.contiguity == "next" and st_.times == 1
        and (st_.one_or_more
             or (st_.up_to is not None and st_.up_to >= 2))
        and i + 1 < len(req) and req[i + 1].contiguity == "next"
    ]
    assert split, "fuzz pattern must contain a both-strict split step"
    variant_steps = []
    for mask in range(1 << len(split)):
        var = []
        for s in req:
            if s in split:
                j = split.index(s)
                var.append(_replace(s, times=2) if mask >> j & 1
                           else _replace(s, one_or_more=False,
                                         times=1, up_to=None))
            else:
                var.append(s)
        variant_steps.append(pat._event_expansion(var))
    fn = sf.cep_keyed_fn(
        sf.carry_scan(sf.Carry(
            variant_steps, within_s * 1_000_000,
            [("b", b_t, None, u_t), ("c", c_t, cap_c, None)],
            gate=False)),
        hold=("A", neg_s * 1_000_000) if with_neg else None,
    )
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000,
                             r.n_b, r.n_c))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id,
                             r.start_us // 1_000_000, r.n_b, r.n_c))
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    shape=st.sampled_from(["plain", "counted", "midneg"]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
)
def test_cep_not_next_fuzz(streams, types, shape, within_s, with_neg,
                           neg_s):
    """notNext (r15) batch compile vs brute force across its allowed
    chain class (plain / counted / mid-negated), negated type
    colliding with every positive type: a start bind is infeasible
    iff its DIRECT successor (row order) matches the condition.
    with_neg stacks a terminal notFollowedBy on top."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).not_next("x", etype=x_t)
    if shape == "midneg":
        pat = pat.not_followed_by("u", etype="A")
    pat = pat.followed_by("b", etype=b_t)
    if shape == "counted":
        pat = pat.one_or_more()
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    if with_neg:
        pat = pat.not_followed_by("y", etype="B", within=neg_s)
    cols = ["user_id", "match_id"]
    if shape == "counted":
        cols.append("n_b")
    got = {
        (r.user_id, r.match_id): (
            (r.start_sec, r.n_b) if shape == "counted"
            else (r.start_sec,)
        )
        for r in pat.compile(df).select(
            *cols,
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        nsq = len(seq)
        for pa, pb, pc in itertools.combinations(range(nsq), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            if pa + 1 < nsq and seq[pa + 1][0] == x_t:
                continue  # direct successor matches -> bind infeasible
            if shape == "midneg" and any(
                seq[j][0] == "A" for j in range(pa + 1, pb)
            ):
                continue
            if with_neg and any(
                typ == "B" and seq[pc][1] < s <= seq[pc][1] + neg_s
                for typ, s, _e in seq
            ):
                continue  # terminal negation kill (open interval)
            k = (uid, seq[pc][2])
            prev = want.get(k)
            if prev is None or (seq[pa][1], pa) > prev[:2]:
                want[k] = (seq[pa][1], pa, pc)
    expect = {}
    for (uid, mid), (sec, pa, pc) in want.items():
        if shape == "counted":
            seq = by_user[uid]
            pool = sum(1 for j in range(pa + 1, pc + 1)
                       if seq[j][0] == b_t)
            expect[(uid, mid)] = (sec, pool)
        else:
            expect[(uid, mid)] = (sec,)
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    shape=st.sampled_from(["plain", "counted", "midneg", "strict"]),
    within_s=st.integers(min_value=1, max_value=40),
    with_neg=st.booleans(),
    neg_s=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_state_fuzz(streams, types, shape, within_s,
                                 with_neg, neg_s, cut):
    """notNext STREAMS (r15): the one-row delayed-absorption machine
    (carry_scan) driven through a fake GroupState with a random
    micro-batch split must emit exactly the batch rows — including a
    gated bind whose verdict event sits on the OTHER side of the
    boundary (the pending slot persists in keyed state). 'strict'
    exercises a next() hop reading the delayed lag slot."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t).not_next("x", etype=x_t)
    if shape == "midneg":
        pat = pat.not_followed_by("u", etype="A")
    if shape == "strict":
        pat = pat.next("b", etype=b_t)
    else:
        pat = pat.followed_by("b", etype=b_t)
    if shape == "counted":
        pat = pat.one_or_more()
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    if with_neg:
        pat = pat.not_followed_by("y", etype="B", within=neg_s)
    sel = ["user_id", "match_id"] + (
        ["n_b"] if shape == "counted" else [])
    want = {
        tuple(getattr(r, c) for c in sel) + (int(r.start_sec),)
        for r in pat.compile(df).select(
            *sel,
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    row = (uid, r.match_id) + (
                        (r.n_b,) if shape == "counted" else ())
                    got.add(row + (r.start_us // 1_000_000,))
        if with_neg:
            state.hasTimedOut = True
            state.wm_ms = 10 ** 9
            for out in fn((uid,), iter([]), state):
                for r in out.itertuples():
                    row = (uid, r.match_id) + (
                        (r.n_b,) if shape == "counted" else ())
                    got.add(row + (r.start_us // 1_000_000,))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strategy=st.sampled_from([
        "skip_past_last_event", "skip_to_next",
        "skip_to_first", "skip_to_last",
    ]),
    nn_on=st.integers(min_value=0, max_value=1),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_not_next_skip_fuzz(streams, types, strategy, nn_on,
                                within_s):
    """notNext × after_match_skip (r16, r15 verdict item 1): the
    LEAD(1) gate folds into the gated copy's predicate BELOW the
    position-struct carry, so the acceptance fold must run over
    exactly the gated candidate set — brute force filters chains by
    the direct-successor rule, then replays each strategy's cursor
    scan. nn_on moves the gate between the begin step and a middle
    step; colliding types exercise gate-kills-the-accepted-chain."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("b", etype=b_t)
    if nn_on == 1:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    pat = (pat.after_match_skip(strategy, "b")
           if strategy in ("skip_to_first", "skip_to_last")
           else pat.after_match_skip(strategy))
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want = set()
    anchored = strategy in ("skip_to_first", "skip_to_last")
    for uid, seq in by_user.items():
        n = len(seq)
        cands: dict = {}
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if seq[pc][1] - seq[pa][1] > within_s:
                continue
            gated = pa if nn_on == 0 else pb
            if gated + 1 < n and seq[gated + 1][0] == x_t:
                continue  # direct successor matches -> bind infeasible
            cands.setdefault(pc, []).append((pa, pb))
        cursor = -1
        for pc in sorted(cands):
            # greedy chain = max start pos (== (ts, row) order by
            # _cep_df construction), anchor ties -> latest b row
            gsp = max(pa for pa, _pb in cands[pc])
            gap_anchor = max(pb for pa, pb in cands[pc] if pa == gsp)
            ok = gsp >= cursor if anchored else gsp > cursor
            if not ok:
                continue
            want.add((uid, seq[pc][2], seq[gsp][1]))
            cursor = (
                pc if strategy == "skip_past_last_event"
                else gap_anchor if anchored
                else gsp
            )
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strict_mask=st.integers(min_value=0, max_value=3),
    nn_on=st.integers(min_value=0, max_value=1),
    with_midneg=st.booleans(),
    gap_s=st.integers(min_value=1, max_value=15),
    whole_s=st.one_of(st.none(), st.integers(min_value=1, max_value=40)),
)
def test_cep_not_next_gap_fuzz(streams, types, strict_mask, nn_on,
                               with_midneg, gap_s, whole_s):
    """notNext × within(..., 'previous_and_current') (r16, r15 verdict
    item 1): the LEAD(1) gate must prune binds BEFORE they enter the
    bounded gap carries (batch) / gap buffers (stream) — brute force
    enumerates chains with per-gap bounds and drops any whose gated
    event's direct successor matches. Randomized strict/relaxed
    transitions cover the LAG(1)-reads-a-gated-level case; the
    optional mid-negation (both neighbours relaxed only) covers the
    count-gated bounded max riding gated entries."""
    import itertools

    from sparkflow.streaming.cep import CepPattern

    a_t, x_t, b_t, c_t = types
    strict = [False,
              bool(strict_mask & 1), bool(strict_mask >> 1 & 1)]
    midneg = with_midneg and not strict[2]
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("x", etype=x_t)
    pat = (pat.next("b", etype=b_t) if strict[1]
           else pat.followed_by("b", etype=b_t))
    if nn_on == 1:
        pat = pat.not_next("x", etype=x_t)
    if midneg:
        pat = pat.not_followed_by("u", etype="A")
    pat = (pat.next("c", etype=c_t) if strict[2]
           else pat.followed_by("c", etype=c_t))
    pat = pat.within(gap_s, "previous_and_current")
    if whole_s is not None:
        pat = pat.within(whole_s)
    got = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    want: dict = {}
    for uid, seq in by_user.items():
        n = len(seq)
        for pa, pb, pc in itertools.combinations(range(n), 3):
            if (seq[pa][0], seq[pb][0], seq[pc][0]) != (a_t, b_t, c_t):
                continue
            if strict[1] and pb != pa + 1:
                continue
            if strict[2] and pc != pb + 1:
                continue
            if seq[pb][1] - seq[pa][1] > gap_s:
                continue
            if seq[pc][1] - seq[pb][1] > gap_s:
                continue
            if whole_s is not None and \
                    seq[pc][1] - seq[pa][1] > whole_s:
                continue
            gated = pa if nn_on == 0 else pb
            if gated + 1 < n and seq[gated + 1][0] == x_t:
                continue
            if midneg and any(seq[j][0] == "A"
                              for j in range(pb + 1, pc)):
                continue
            k = (uid, seq[pc][2])
            want[k] = max(want.get(k, -1), seq[pa][1])
    assert got == {(u, mid, s) for (u, mid), s in want.items()}


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strategy=st.sampled_from([
        "skip_past_last_event", "skip_to_next",
        "skip_to_first", "skip_to_last",
    ]),
    nn_on=st.integers(min_value=0, max_value=1),
    within_s=st.integers(min_value=1, max_value=40),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_skip_state_fuzz(streams, types, strategy, nn_on,
                                      within_s, cut):
    """notNext × skip STREAMS (r16): carry_scan's one-row pending
    slots driven through a fake GroupState with a random micro-batch
    split must emit exactly the batch rows — including a parked bind
    whose verdict event sits on the OTHER side of the boundary (the
    pnn_* state survives), and the cursor must fold over validated
    binds only."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("b", etype=b_t)
    if nn_on == 1:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("c", etype=c_t).within(within_s)
    pat = (pat.after_match_skip(strategy, "b")
           if strategy in ("skip_to_first", "skip_to_last")
           else pat.after_match_skip(strategy))
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strict_mask=st.integers(min_value=0, max_value=3),
    nn_on=st.integers(min_value=0, max_value=1),
    with_midneg=st.booleans(),
    gap_s=st.integers(min_value=1, max_value=15),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_gap_state_fuzz(streams, types, strict_mask,
                                     nn_on, with_midneg, gap_s, cut):
    """notNext × gap bound STREAMS (r16): gap_scan's delayed
    absorption (pending slots joining the horizon-pruned buffers one
    row late, with the inclusive q recorded at park time) driven
    through a fake GroupState must emit exactly the batch rows across
    a random micro-batch split."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, c_t = types
    strict = [False,
              bool(strict_mask & 1), bool(strict_mask >> 1 & 1)]
    midneg = with_midneg and not strict[2]
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("x", etype=x_t)
    pat = (pat.next("b", etype=b_t) if strict[1]
           else pat.followed_by("b", etype=b_t))
    if nn_on == 1:
        pat = pat.not_next("x", etype=x_t)
    if midneg:
        pat = pat.not_followed_by("u", etype="A")
    pat = (pat.next("c", etype=c_t) if strict[2]
           else pat.followed_by("c", etype=c_t))
    pat = pat.within(gap_s, "previous_and_current")
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    strategy=st.sampled_from([
        "skip_past_last_event", "skip_to_next", "skip_to_first",
    ]),
    nn_on=st.integers(min_value=0, max_value=1),
    gap_s=st.integers(min_value=1, max_value=15),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_gap_skip_state_fuzz(streams, types, strategy,
                                          nn_on, gap_s, cut):
    """The notNext × gap × skip TRIPLE streams (r16): gap_scan's
    position-struct pendings + the causal cursor driven through a
    fake GroupState must equal the batch compile across a random
    micro-batch split."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, x_t, b_t, c_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("b", etype=b_t)
    if nn_on == 1:
        pat = pat.not_next("x", etype=x_t)
    pat = pat.followed_by("c", etype=c_t)
    pat = pat.within(gap_s, "previous_and_current")
    pat = (pat.after_match_skip(strategy, "b")
           if strategy == "skip_to_first"
           else pat.after_match_skip(strategy))
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = _FakeGroupState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    mode=st.sampled_from(["skip", "gap", "gap_skip"]),
    neg_s=st.integers(min_value=1, max_value=20),
    nn_on=st.integers(min_value=0, max_value=1),
    cut=st.integers(min_value=1, max_value=10),
)
def test_cep_not_next_neg_composites_state_fuzz(streams, types, mode,
                                                neg_s, nn_on, cut):
    """notNext × {skip, gap, gap×skip} × TERMINAL negation streams
    (r16): the watermark hold sees only validated binds — the pending
    slot, the hold, and (in skip modes) the flush-time cursor driven
    through a fake timer GroupState must equal the batch compile
    across a random micro-batch split; the negated type collides with
    positive and notNext types."""
    import pandas as pd

    from sparkflow.streaming.cep import CepPattern
    from sparkflow.streaming import stateful as sf

    a_t, b_t, x_t = types
    gap_s = 12
    strategy = "skip_past_last_event"
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = CepPattern.begin("a", etype=a_t)
    if nn_on == 0:
        pat = pat.not_next("nx", etype=x_t)
    pat = pat.followed_by("b", etype=b_t)
    if nn_on == 1:
        pat = pat.not_next("nx", etype=x_t)
    pat = pat.followed_by("c", etype=a_t)
    if mode in ("gap", "gap_skip"):
        pat = pat.within(gap_s, "previous_and_current")
    pat = pat.not_followed_by("x", etype=x_t, within=neg_s)
    if mode in ("skip", "gap_skip"):
        pat = pat.after_match_skip(strategy)
    want = {
        (r.user_id, r.match_id, int(r.start_sec))
        for r in pat.compile(df).select(
            "user_id", "match_id",
            (F.unix_micros("start_ts") / 1_000_000).cast("int")
            .alias("start_sec"),
        ).collect()
    }

    fn = sf.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
    got = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((ev_id, typ, sec))
    for uid, seq in by_user.items():
        state = FakeTimerState()
        for batch in (seq[:cut], seq[cut:]):
            if not batch:
                continue
            state.wm_ms = max(e[2] for e in batch) * 1000
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((uid,), iter([pdf]), state):
                for r in out.itertuples():
                    got.add((uid, r.match_id, r.start_us // 1_000_000))
        state.hasTimedOut = True
        state.wm_ms = 10 ** 9
        for out in fn((uid,), iter([]), state):
            for r in out.itertuples():
                got.add((uid, r.match_id, r.start_us // 1_000_000))
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    streams=st.lists(
        st.lists(_cep_event, min_size=0, max_size=12),
        min_size=1, max_size=3,
    ),
    types=st.tuples(
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["A", "B", "C"]),
    ),
    within_s=st.integers(min_value=1, max_value=40),
)
def test_cep_followed_by_any_fuzz(streams, types, within_s):
    """followedByAny (r15) — the binned pair enumeration vs brute
    force: every (start, completion) pair, start strictly earlier in
    (ts, id) order, span <= horizon; colliding types exercise the
    self-pair case (a == b type)."""
    from sparkflow.streaming.cep import CepPattern

    a_t, b_t = types
    rows, df = _cep_df(_get_spark(), streams)
    if not rows:
        return

    pat = (CepPattern.begin("a", etype=a_t)
           .followed_by_any("b", etype=b_t).within(within_s))
    got = {
        (r.user_id, r.match_id, r.start_id)
        for r in pat.compile(df).collect()
    }
    want = set()
    by_user: dict = {}
    for uid, ev_id, typ, sec in rows:
        by_user.setdefault(uid, []).append((typ, sec, ev_id))
    for uid, seq in by_user.items():
        for ps in range(len(seq)):
            if seq[ps][0] != a_t:
                continue
            for pe in range(ps + 1, len(seq)):
                if seq[pe][0] != b_t:
                    continue
                if seq[pe][1] - seq[ps][1] > within_s:
                    continue
                want.add((uid, seq[pe][2], seq[ps][2]))
    assert got == want
