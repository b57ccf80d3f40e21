"""The CEP pattern combinator (sparkflow/streaming/cep.py) — r10
verdict item 2. The load-bearing claims:

1. GENERALITY: the three hand-written CEP rungs (stream_cep_funnel /
   _negation / _times) are each re-expressible as a declarative
   pattern whose compiled output equals the hand rung row-for-row —
   the compiler subsumes everything the rungs demonstrated.
2. `next` (strict contiguity) matches an independent lag-based
   formulation, and a times(...).consecutive form matches the strict
   expansion — the two contiguities genuinely differ on real data.
3. Greedy-dominance exactness: compiled matches equal a brute-force
   chain enumeration on a fixture small enough to enumerate.
4. The builder refuses the constructs it cannot compile exactly
   (mid-pattern negation, quantified negation, steps after negation).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import sparkflow  # noqa: F401  (registers the rungs)
from sparkflow.catalog import table
from sparkflow.registry import QUERIES
from sparkflow.streaming.cep import CepPattern, _duration_us

from conftest import FakeTimerState


def _pdf(df, cols):
    return (
        df.select(*cols)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_compiled_funnel_equals_hand_rung(spark, sf_small):
    pat = (
        CepPattern.begin("view", F.col("event_type") == "view")
        .followed_by("click", F.col("event_type") == "click")
        .followed_by("purchase", F.col("event_type") == "purchase")
        .within("24 hours")
    )
    got = pat.compile(table(spark, sf_small, "events")).select(
        "user_id",
        F.col("match_id").alias("purchase_id"),
        F.col("match_ts").alias("purchase_ts"),
        F.col("start_ts").alias("funnel_open_ts"),
    )
    want = QUERIES["stream_cep_funnel"](spark, sf_small)
    cols = ["user_id", "purchase_id", "purchase_ts", "funnel_open_ts"]
    g, w = _pdf(got, cols), _pdf(want, cols)
    assert len(g) > 0, "degenerate fixture: funnel matched nothing"
    pd.testing.assert_frame_equal(g, w)


def test_compiled_negation_equals_hand_rung(spark, sf_small):
    pat = CepPattern.begin(
        "view", F.col("event_type") == "view"
    ).not_followed_by(
        "purchase", F.col("event_type") == "purchase", within="1 hour"
    )
    got = pat.compile(table(spark, sf_small, "events")).select(
        "user_id",
        F.col("match_id").alias("view_id"),
        F.col("match_ts").alias("view_ts"),
        F.col("next_purchase_ts"),
    )
    want = QUERIES["stream_cep_negation"](spark, sf_small)
    cols = ["user_id", "view_id", "view_ts", "next_purchase_ts"]
    g, w = _pdf(got, cols), _pdf(want, cols)
    assert len(g) > 0
    pd.testing.assert_frame_equal(g, w)


def test_compiled_times_equals_hand_rung(spark, sf_small):
    pat = (
        CepPattern.begin("click", F.col("event_type") == "click")
        .times(3)
        .within("24 hours")
    )
    got = pat.compile(table(spark, sf_small, "events")).select(
        "user_id",
        F.col("match_id").alias("streak_end_id"),
        F.col("start_ts").alias("streak_start_ts"),
        F.col("match_ts").alias("streak_end_ts"),
    )
    want = QUERIES["stream_cep_times"](spark, sf_small)
    cols = ["user_id", "streak_end_id", "streak_start_ts", "streak_end_ts"]
    g, w = _pdf(got, cols), _pdf(want, cols)
    assert len(g) > 0
    pd.testing.assert_frame_equal(g, w)


def test_next_strict_contiguity_independent_formulation(spark, sf_small):
    """begin(view).next(click): the click must be the user's IMMEDIATE
    next event. Independent reference: lag(event_type)/lag(ts) over the
    raw stream. Also pins that next ⊊ followedBy on this data (strict
    contiguity must lose some relaxed matches, else the test is
    vacuous)."""
    ev = table(spark, sf_small, "events")
    pat = CepPattern.begin("view", F.col("event_type") == "view").next(
        "click", F.col("event_type") == "click"
    )
    got = _pdf(
        pat.compile(ev).select("user_id", "match_id", "start_ts"),
        ["user_id", "match_id", "start_ts"],
    )

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = _pdf(
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            (F.col("event_type") == "click") & (F.col("prev_type") == "view")
        )
        .select(
            "user_id",
            F.col("event_id").alias("match_id"),
            F.col("prev_ts").alias("start_ts"),
        ),
        ["user_id", "match_id", "start_ts"],
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)

    relaxed = (
        CepPattern.begin("view", F.col("event_type") == "view")
        .followed_by("click", F.col("event_type") == "click")
        .compile(ev)
        .count()
    )
    assert relaxed > len(got), "strict == relaxed: fixture can't tell them apart"


def test_times_consecutive_equals_strict_expansion(spark, sf_small):
    """times(2, consecutive=True) == begin(p).next(p) — FlinkCEP's
    .consecutive() is strict internal contiguity, and the expansion
    must thread it through every internal transition."""
    ev = table(spark, sf_small, "events")
    p = F.col("event_type") == "click"
    a = CepPattern.begin("c", p).times(2, consecutive=True).compile(ev)
    b = CepPattern.begin("c", p).next("c2", p).compile(ev)
    cols = ["user_id", "match_id", "match_ts", "start_ts"]
    ga, gb = _pdf(a, cols), _pdf(b, cols)
    assert len(ga) > 0
    pd.testing.assert_frame_equal(ga, gb)
    # and it differs from the relaxed form (consecutive means something)
    relaxed = CepPattern.begin("c", p).times(2).compile(ev).count()
    assert relaxed > len(ga)


def test_greedy_dominance_matches_brute_force(spark):
    """The compiler's one theorem: for positive chains under within(T),
    emitting the max-start chain detects exactly the rows where ANY
    chain exists. Brute-force enumerate all (a < b < c) chains on a
    small in-memory stream — including ties in ts, multiple candidate
    starts, and spans straddling the bound — and compare."""
    import itertools

    rows = []
    # 3 users × 8 events with deliberate nastiness: repeated types,
    # equal timestamps (tiebreak by id), chains that only fit the
    # window when started LATE, and decoys after the window.
    data = {
        1: [("A", 0), ("B", 5), ("A", 10), ("B", 10), ("C", 12), ("C", 40),
            ("B", 41), ("C", 42)],
        2: [("A", 0), ("A", 1), ("B", 2), ("C", 30), ("B", 31), ("C", 33)],
        3: [("B", 0), ("C", 1), ("A", 2), ("C", 3), ("B", 4), ("C", 5)],
    }
    eid = 0
    for uid, evs in data.items():
        for typ, sec in evs:
            rows.append((uid, eid, typ, sec))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))

    T = 15  # seconds
    pat = (
        CepPattern.begin("a", F.col("event_type") == "A")
        .followed_by("b", F.col("event_type") == "B")
        .followed_by("c", F.col("event_type") == "C")
        .within(T)
    )
    got = {
        (r.user_id, r.match_id)
        for r in pat.compile(df).collect()
    }

    want = set()
    for uid, evs in data.items():
        seq = [(typ, sec, i) for i, (typ, sec) in enumerate(evs)]
        for a, b, c in itertools.combinations(seq, 3):
            # combinations respects list order == (ts, event_id) order
            if (a[0], b[0], c[0]) == ("A", "B", "C") and c[1] - a[1] <= T:
                base = sum(len(v) for u, v in data.items() if u < uid)
                want.add((uid, base + c[2]))
    assert len(want) > 0
    assert got == want


def test_builder_refuses_inexact_constructs(spark):
    p = F.lit(True)
    pat = CepPattern.begin("a", p).not_followed_by("n", p, within="1 hour")
    with pytest.raises(ValueError, match="terminal"):
        pat.followed_by("b", p)
    with pytest.raises(ValueError, match="terminal"):
        pat.next("b", p)
    with pytest.raises(ValueError, match="notFollowedBy"):
        pat.times(2)
    with pytest.raises(ValueError, match="begin"):
        CepPattern().followed_by("b", p)
    with pytest.raises(ValueError, match="n >= 1"):
        CepPattern.begin("a", p).times(0)
    with pytest.raises(ValueError, match="unit"):
        _duration_us("3 fortnights")
    # immutability: extending a shared prefix never mutates it
    base = CepPattern.begin("a", p)
    ext1 = base.followed_by("b", p)
    ext2 = base.next("c", p)
    assert len(base.steps) == 1
    assert ext1.steps[-1].contiguity == "followed_by"
    assert ext2.steps[-1].contiguity == "next"


def test_registered_key_plan_is_single_sort_window_chain(spark, sf_small):
    """Scale shape: the compiled pattern is ONE exchange on the key and
    a Window chain — no joins, no extra shuffles (the property that
    makes it viable at 100 TB vs a per-event NFA or self-joins)."""
    plan = (
        QUERIES["stream_cep_compile"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 1, plan


def test_optional_step_annotates_never_gates(spark, sf_small):
    """optional() semantics: the match set equals the pattern WITHOUT
    the optional step (skip variant dominates — the flag chain can
    never gate or move a match), start_ts is the dominant chain's, and
    with_click is true exactly where the click-REQUIRED pattern also
    matches. Both true and false flags must occur (else the fixture
    proves nothing)."""
    ev = table(spark, sf_small, "events")
    opt = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    got = opt.compile(ev).toPandas()

    base = (
        CepPattern.begin("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    want_base = base.compile(ev).toPandas()
    cols = ["user_id", "match_id", "match_ts", "start_ts"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want_base[cols].sort_values(cols).reset_index(drop=True),
    )

    strict = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    with_ids = {
        (r.user_id, r.match_id) for r in strict.compile(ev).collect()
    }
    flags = {
        (r.user_id, r.match_id): r.with_click
        for r in opt.compile(ev).collect()
    }
    assert set(flags) >= with_ids
    for k, v in flags.items():
        assert v == (k in with_ids), k
    assert any(flags.values()) and not all(flags.values())


def test_one_or_more_existence_collapse(spark, sf_small):
    """The oneOrMore existence theorem, brute-forced: on a synthetic
    stream with repeated B runs, 'A followedBy B oneOrMore followedBy
    C' must equal 'A followedBy B followedBy C' (extra B occurrences
    are interveners relaxed contiguity already ignores), and both must
    equal a chain enumeration that tries EVERY repetition count."""
    import itertools

    rows = []
    data = {
        1: [("A", 0), ("B", 1), ("B", 2), ("B", 3), ("C", 4), ("C", 20)],
        2: [("A", 0), ("C", 1), ("B", 2), ("C", 3)],
        3: [("B", 0), ("A", 1), ("B", 2), ("C", 3), ("B", 4), ("C", 5)],
    }
    eid = 0
    for uid, evs in data.items():
        for typ, sec in evs:
            rows.append((uid, eid, typ, sec))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))

    T = 10
    one_or_more = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B")
        .one_or_more()
        .followed_by("c", etype="C")
        .within(T)
    )
    plain = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B")
        .followed_by("c", etype="C")
        .within(T)
    )
    cols = ["user_id", "match_id", "start_ts"]
    g1 = _pdf(one_or_more.compile(df), cols)
    g2 = _pdf(plain.compile(df), cols)
    pd.testing.assert_frame_equal(g1, g2)

    # brute force over ALL repetition counts: emit (uid, c_row) if any
    # A < B^k < C chain (k >= 1) fits the window
    want = set()
    for uid, evs in data.items():
        seq = [(typ, sec, i) for i, (typ, sec) in enumerate(evs)]
        base = sum(len(v) for u, v in data.items() if u < uid)
        for k in range(1, len(evs)):
            for chain in itertools.combinations(seq, 2 + k):
                types = [c[0] for c in chain]
                if types == ["A"] + ["B"] * k + ["C"] and \
                        chain[-1][1] - chain[0][1] <= T:
                    want.add((uid, base + chain[-1][2]))
    got = {(r.user_id, r.match_id) for r in one_or_more.compile(df).collect()}
    assert len(want) > 0
    assert got == want


def test_optional_streaming_twin_matches_batch(spark, sf_small, tmp_path_factory):
    """The optional-step annotation chains ride the SAME keyed state as
    the gating chain: the streaming compile of the registered optional
    pattern must equal the batch compile including the with_click flag,
    across micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_opt_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepopt", "append")
    got = (
        spark.table("t_cepopt").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        QUERIES["stream_cep_optional"](spark, sf_small)
        .toPandas().sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    assert got["with_click"].any() and not got["with_click"].all()


def test_optional_builder_rules(spark):
    p = F.lit(True)
    with pytest.raises(ValueError, match="final step"):
        CepPattern.begin("a", p).followed_by("b", p).optional().compile(None)
    with pytest.raises(ValueError, match="begin"):
        CepPattern().optional()
    # optional on a times-step: the whole quantified group is optional
    pat = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B")
        .times(2)
        .optional()
        .followed_by("c", etype="C")
    )
    main, variants = pat.stream_chains()
    assert [e for e, *_ in main] == ["A", "C"]
    assert variants[0][0] == "with_b"
    assert [e for e, *_ in variants[0][1]] == ["A", "B", "B", "C"]


def test_strict_contiguity_gating_r12(spark):
    """r11 advice (medium): the skip/collapse dominance arguments fail
    under strict next() transitions around a quantified step — the
    builder must refuse at construction, never silently drop matches."""
    p = F.lit(True)
    # r13 (r12 verdict item 3): next() after an optional step now
    # CONSTRUCTS — compile() takes the 2^k variant-enumeration path
    # (the dominance shortcut is unsound there) — while the streaming
    # compile still refuses (its state machine gates on the main chain)
    opt = CepPattern.begin("a", p).followed_by("b", p).optional()
    enum_pat = opt.next("c", p)
    assert enum_pat._needs_variant_enum()
    et = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
          .optional().next("c", etype="C"))
    with pytest.raises(ValueError, match="strict-contiguity region"):
        et.stream_chains()
    # relaxed-region optionals keep the k+1 shortcut (path unchanged)
    assert not (CepPattern.begin("a", p).next("b", p).optional()
                .followed_by("c", p))._needs_variant_enum()
    # r13: ONE strict edge around a quantifier is sound and allowed —
    # next()-reached (first repetition binds strictly) and
    # next()-followed (last repetition immediately precedes) both
    # construct; r14: strict-on-BOTH-sides constructs too (compile()
    # ORs the 1-rep and >=2-rep chains), while the streaming twin
    # refuses loudly until the 2-variant keyed machine exists
    oom = CepPattern.begin("a", p).followed_by("b", p).one_or_more()
    assert oom.next("c", p).steps[-1].contiguity == "next"
    entered = CepPattern.begin("a", p).next("b", p).one_or_more()
    assert entered.steps[-1].one_or_more
    both = entered.next("c", p)
    assert both.steps[-1].contiguity == "next"
    with pytest.raises(ValueError, match="OR of two"):
        (CepPattern.begin("a", etype="A").next("b", etype="B")
         .one_or_more().next("c", etype="C").stream_chains())
    with pytest.raises(ValueError, match="begin step"):
        CepPattern.begin("a", p).one_or_more()
    with pytest.raises(ValueError, match="re-quantify"):
        CepPattern.begin("a", p).followed_by("b", p).times(2).one_or_more()
    with pytest.raises(ValueError, match="re-quantify"):
        CepPattern.begin("a", p).followed_by("b", p).one_or_more().times(2)
    # but optional on a next-reached step is sound (the skip variant
    # only DROPS the LAG constraint) and stays allowed
    ok = CepPattern.begin("a", p).next("b", p).optional().followed_by("c", p)
    assert ok.steps[1].optional


def test_mid_negation_builder_rules(spark):
    """Mid-pattern negation: pending until the following followed_by;
    one per gap (r12: multiple GAPS may each carry one); never
    entered/exited via next(); never closed by an optional step;
    unfinished patterns refuse to compile."""
    p = F.lit(True)
    pend = CepPattern.begin("a", p).not_followed_by("q", p)
    with pytest.raises(ValueError, match="followed_by"):
        pend.next("b", p)
    with pytest.raises(ValueError, match="positive followed_by"):
        pend.compile(None)
    with pytest.raises(ValueError, match="same gap"):
        pend.not_followed_by("q2", p)
    full = pend.followed_by("b", p)
    assert full.steps[-1].neg_before is not None
    # r12: a SECOND negated gap is supported (the dominance chains)
    two = full.not_followed_by("q2", p).followed_by("c", p)
    assert two.steps[-1].neg_before is not None
    assert sum(s.neg_before is not None for s in two.steps) == 2
    with pytest.raises(ValueError, match="negated gap"):
        full.optional()
    # a terminal negation can still close a mid-negated pattern
    both = full.not_followed_by("t", p, within="1 hour")
    assert both.neg is not None


def test_terminal_negation_open_interval(spark):
    """r11 advice (low): a negated event with the SAME timestamp as the
    match row is OUTSIDE the documented open interval (match_ts,
    match_ts+T] regardless of tiebreak ordering — pinned both ways
    (same-ts error after AND before the match row by event_id), plus a
    strictly-later error still kills."""
    rows = [
        # u1: purchase at t=100, error at t=100 with LARGER id -> survives
        (1, 1, "view", 50), (1, 2, "purchase", 100), (1, 3, "error", 100),
        # u2: purchase at t=100, error at t=100 with SMALLER id -> survives
        (2, 5, "error", 100), (2, 6, "view", 50), (2, 7, "purchase", 100),
        # u3: error strictly after within the horizon -> killed
        (3, 8, "view", 50), (3, 9, "purchase", 100), (3, 10, "error", 101),
        # u4: error strictly after but past the horizon -> survives
        (4, 11, "view", 50), (4, 12, "purchase", 100), (4, 13, "error", 1000),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .not_followed_by("error", etype="error", within=600)
    )
    got = sorted(r.user_id for r in pat.compile(df).collect())
    assert got == [1, 2, 4]


def test_times_range_builder_rules(spark):
    """times(n, m) (r12): the range quantifier inherits oneOrMore's
    relaxed-contiguity gating (the existence collapse is the same
    theorem) and refuses the shapes with no exact compile."""
    p = F.lit(True)
    base = CepPattern.begin("a", p).followed_by("b", p)
    with pytest.raises(ValueError, match="m >= n"):
        base.times(3, 2)
    with pytest.raises(ValueError, match="consecutive"):
        base.times(2, 4, consecutive=True)
    # r13: a next()-reached range constructs (one strict edge is
    # sound); BOTH-strict composes when the lower bound >= 2 (the
    # n-copy expansion anchors two distinct events on the strict
    # edges); r14: times(1, m) both-strict constructs too — compile()
    # ORs the 1-rep and >=2-rep chains; the streaming twin refuses
    entered = CepPattern.begin("a", p).next("b", p).times(2, 4)
    assert entered.steps[-1].up_to == 4
    both = entered.next("c", p)
    assert both.steps[-1].contiguity == "next"
    one_rep = CepPattern.begin("a", p).next("b", p).times(1, 3)
    assert one_rep.next("c", p).steps[-1].contiguity == "next"
    with pytest.raises(ValueError, match="OR of two"):
        (CepPattern.begin("a", etype="A").next("b", etype="B")
         .times(1, 3).next("c", etype="C").stream_chains())
    with pytest.raises(ValueError, match="begin step"):
        CepPattern.begin("a", p).times(1, 3)
    rng = base.times(2, 4)
    assert rng.next("c", p).steps[-1].contiguity == "next"
    with pytest.raises(ValueError, match="re-quantify"):
        rng.one_or_more()
    with pytest.raises(ValueError, match="not supported"):
        rng.optional()
    # r12: counted steps stream (the carry pairs with a count-at-start);
    # r13: ANY number of counted steps builds a chain spec
    full = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B").times(2, 4)
        .followed_by("c", etype="C")
    )
    main, _ = full.stream_chains()
    assert [e for e, *_ in main] == ["A", "B", "B", "C"]
    two = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B").one_or_more()
        .followed_by("c", etype="C")
        .followed_by("d", etype="A").one_or_more()
        .followed_by("e", etype="B")
    )
    main2, _ = two.stream_chains()
    assert [e for e, *_ in main2] == ["A", "B", "C", "A", "B"]


def test_times_range_matches_and_caps(spark):
    """times(2, 4) must match exactly where times(2) does (existence
    collapse) and emit n_b = min(pool, 4) — checked on a hand stream
    with 6 absorbable B's."""
    rows = [
        # user 0: A at 0, B at 1..6, C at 7 → pool 6, capped at 4
        (0, 0, "A", 0), (0, 1, "B", 1), (0, 2, "B", 2), (0, 3, "B", 3),
        (0, 4, "B", 4), (0, 5, "B", 5), (0, 6, "B", 6), (0, 7, "C", 7),
        # user 1: only one B → no match (range lower bound gates)
        (1, 8, "A", 0), (1, 9, "B", 1), (1, 10, "C", 2),
        # user 2: exactly two B's → match, n_b = 2
        (2, 11, "A", 0), (2, 12, "B", 1), (2, 13, "B", 2), (2, 14, "C", 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    pat = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B").times(2, 4)
        .followed_by("c", etype="C")
        .within(100)
    )
    got = {(r.user_id, r.match_id): r.n_b for r in pat.compile(df).collect()}
    assert got == {(0, 7): 4, (2, 14): 2}


def test_after_match_skip_builder_rules(spark):
    """after_match_skip (r12): strategy validation, annotation
    refusals, and the streaming-compile refusal."""
    p = F.lit(True)
    base = (CepPattern.begin("a", p).followed_by("b", p)
            .followed_by("c", p))
    # r13: skip_to_next is now implemented — unknown names still refuse
    with pytest.raises(ValueError, match="unsupported"):
        base.after_match_skip("skip_to_nowhere")
    skip = base.after_match_skip("skip_past_last_event")
    with pytest.raises(ValueError, match="skip_past_last_event"):
        (CepPattern.begin("a", p).followed_by("b", p).optional()
         .followed_by("c", p).after_match_skip("skip_past_last_event")
         .compile(None))
    with pytest.raises(ValueError, match="skip_past_last_event"):
        (CepPattern.begin("a", p).followed_by("b", p).one_or_more()
         .followed_by("c", p).after_match_skip("skip_past_last_event")
         .compile(None))
    typed = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
             .after_match_skip("skip_past_last_event"))
    # r12 continuation: skip streams too (causal acceptance cursor) —
    # the chain spec builds fine
    main, variants = typed.stream_chains()
    assert [e for e, *_ in main] == ["A", "B"] and not variants
    assert skip.skip == "skip_past_last_event"


def test_skip_past_hand_case(spark):
    """A B A B B: no_skip emits all three B-matches; skip_past accepts
    the first B and then the B whose greedy chain starts after it —
    the third B's greedy chain reuses the second A (already consumed)
    and is rejected."""
    rows = [
        (0, 0, "A", 0), (0, 1, "B", 1), (0, 2, "A", 2), (0, 3, "B", 3),
        (0, 4, "B", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    base = CepPattern.begin("a", etype="A").followed_by("b", etype="B")
    all_matches = {r.match_id for r in base.compile(df).collect()}
    assert all_matches == {1, 3, 4}
    kept = {r.match_id for r in
            base.after_match_skip("skip_past_last_event")
            .compile(df).collect()}
    assert kept == {1, 3}


def test_skip_past_plan_single_exchange(spark, sf_small):
    """Scale shape of the skip fold (r13: per-PARTITION MapInPandas
    scan — the per-key applyInPandas fold paid ~3 ms of pandas
    overhead per group, 29 s at sf10's 10k keys): the acceptance scan
    reuses the carry windows' hash partitioning via one in-partition
    sort — ONE exchange total, no join, no second shuffle between the
    window chain and the fold."""
    plan = (
        QUERIES["stream_cep_skip_past"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange") <= 1, plan


def test_skip_past_with_terminal_negation(spark):
    """Composition: skip_past acceptance runs over the
    negation-SURVIVING match rows (the terminal-negation filter applies
    before the fold). A B [X kills] A B: the first B is killed by the
    X inside the horizon, so skip accepts the SECOND B — which a
    naive fold-before-filter would have rejected as overlapping."""
    rows = [
        (0, 0, "A", 0), (0, 1, "B", 1), (0, 2, "X", 2),
        (0, 3, "A", 3), (0, 4, "B", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    pat = (
        CepPattern.begin("a", etype="A")
        .followed_by("b", etype="B")
        .not_followed_by("x", etype="X", within=2)
        .after_match_skip("skip_past_last_event")
    )
    got = {r.match_id for r in pat.compile(df).collect()}
    assert got == {4}


def test_midneg_streaming_twin_matches_batch(spark, sf_small,
                                             tmp_path_factory):
    """Mid-pattern negation STREAMS (r12): its gate reads only causal
    prefix maxima (latest prefix-complete position, latest negated
    position), so the keyed-state twin must equal the batch compile —
    checked on the two-negation registered pattern across micro-batch
    boundaries (state carries gates between batches)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_midneg_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("err", etype="error")
        .followed_by("view", etype="view")
        .not_followed_by("clk", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepmidneg", "append")
    got = (
        spark.table("t_cepmidneg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        QUERIES["stream_cep_midneg_multi"](spark, sf_small)
        .toPandas().sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_skip_past_streaming_twin_matches_batch(spark, sf_small,
                                                tmp_path_factory):
    """skip_past_last_event STREAMS (r12): the acceptance cursor (last
    accepted match position) is causal keyed state, so the streaming
    compile of the registered non-overlapping funnel must equal the
    batch compile across micro-batch boundaries — including acceptances
    whose blocking match landed in an EARLIER micro-batch."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_skip_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .after_match_skip("skip_past_last_event")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepskip", "append")
    got = (
        spark.table("t_cepskip").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        QUERIES["stream_cep_skip_past"](spark, sf_small)
        .toPandas().sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    # and the non-overlap matters: the SAME pattern without skip emits
    # strictly more rows on this fixture
    no_skip = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    assert no_skip.compile(
        table(spark, sf_small, "events")
    ).count() > len(want)


def test_optional_plus_midneg_streaming_twin(spark, sf_small,
                                             tmp_path_factory):
    """Composition: an optional ANNOTATION chain rides the same keyed
    state as a gated (mid-negated) chain — streaming must equal batch
    for both the match set and the with_<name> flag. Pattern:
    signup →(no error)→ view → purchase within 48h, with an optional
    click between view and purchase (the variant chain carries the
    negated gap too)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_optneg_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("err", etype="error")
        .followed_by("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepoptneg", "append")
    got = (
        spark.table("t_cepoptneg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_counted_streaming_twins_match_batch(spark, sf_small,
                                             tmp_path_factory):
    """Repetition counts STREAM (r12): the carry pairs with a
    count-at-start and one running count rides the keyed state, so the
    streaming compiles of BOTH registered counted patterns (oneOrMore
    and the times(2, 4) range) must equal their batch compiles —
    n_click included — across micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_cnt_stream")), 3
    )
    pats = {
        "oom": (
            CepPattern.begin("view", etype="view")
            .followed_by("click", etype="click").one_or_more()
            .followed_by("purchase", etype="purchase")
            .within("36 hours")
        ),
        "rng": (
            CepPattern.begin("view", etype="view")
            .followed_by("click", etype="click").times(2, 4)
            .followed_by("purchase", etype="purchase")
            .within("48 hours")
        ),
        # r13: strict EXIT edge — the LAG carry (L/Lc state) feeds the
        # final hop, so the twin also pins the paired-count lag path
        "oom_next": (
            CepPattern.begin("view", etype="view")
            .followed_by("click", etype="click").one_or_more()
            .next("purchase", etype="purchase")
            .within("36 hours")
        ),
        # r13 continuation: strict on BOTH edges (n>=2 lift) — the
        # count struct crosses a LAG in AND a LAG out
        "both_strict": (
            CepPattern.begin("view", etype="view")
            .next("click", etype="click").times(2, 3)
            .next("purchase", etype="purchase")
            .within("72 hours")
        ),
    }
    for tag, pat in pats.items():
        sdf = pat.compile_stream(spark, stream_dir, sf_small)
        stateful.run_to_memory(sdf, f"t_cepcnt_{tag}", "append")
        got = (
            spark.table(f"t_cepcnt_{tag}").toPandas()
            .sort_values("match_id").reset_index(drop=True)
        )
        want = (
            pat.compile(table(spark, sf_small, "events")).toPandas()
            .sort_values("match_id").reset_index(drop=True)
        )
        assert len(want) > 0, tag
        want_us = want.assign(
            match_us=pd.to_datetime(want["match_ts"])
            .astype("datetime64[us]").astype("int64"),
            start_us=pd.to_datetime(want["start_ts"])
            .astype("datetime64[us]").astype("int64"),
        )[["user_id", "match_id", "match_us", "start_us", "n_click"]]
        pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
        assert got["n_click"].max() > 1, tag  # counts are non-trivial


def test_skip_to_next_first_hand_case(spark):
    """A B A B B (same fixture as the skip_past hand case) pins the
    three strategies apart on pattern A→B: no_skip emits B1,B3,B4;
    skip_past accepts B1 (cursor=match row) then B3; skip_to_next
    accepts B1 (cursor=start A0) then B3 (greedy start A2 > A0) then
    REJECTS B4 (its greedy start is still A2 — shared start);
    skip_to_first('b') anchors at the matched B itself: accept B1
    (cursor=pos of B1), B3 (start A2 >= pos1), then B4's greedy start
    A2 < pos3 — rejected."""
    rows = [
        (0, 0, "A", 0), (0, 1, "B", 1), (0, 2, "A", 2), (0, 3, "B", 3),
        (0, 4, "B", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    base = CepPattern.begin("a", etype="A").followed_by("b", etype="B")
    nxt = {r.match_id for r in
           base.after_match_skip("skip_to_next").compile(df).collect()}
    assert nxt == {1, 3}
    fst = {r.match_id for r in
           base.after_match_skip("skip_to_first", "b")
           .compile(df).collect()}
    assert fst == {1, 3}
    # an extra A makes the strategies diverge: A B A B B A B —
    # the final B's greedy start is the THIRD A (pos 5):
    #   skip_past   cursor after B3 = match row 3 -> accepts B4? no:
    #               B4's greedy start A2(pos 2) < 3; accepts B6 (5 > 3)
    #   skip_to_next cursor after B3 = start 2 -> B4 shares start 2,
    #               rejected; B6 accepted (5 > 2)
    #   skip_to_first cursor after B3 = anchor pos 3 -> B4's start 2 < 3
    #               rejected; B6 accepted (5 >= 3)
    rows2 = rows + [(0, 5, "A", 5), (0, 6, "B", 6)]
    df2 = spark.createDataFrame(
        rows2, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    for strat, step, expect in [
        ("skip_past_last_event", None, {1, 3, 6}),
        ("skip_to_next", None, {1, 3, 6}),
        ("skip_to_first", "b", {1, 3, 6}),
    ]:
        got = {r.match_id for r in
               (base.after_match_skip(strat, step) if step
                else base.after_match_skip(strat)).compile(df2).collect()}
        assert got == expect, (strat, got)


def test_skip_to_builder_rules():
    """skip_to_first/skip_to_last builder validation: anchor required,
    anchor must be a pattern step, may not be the begin step; the
    non-anchored strategies take no step; unknown strategies refuse."""
    base = (CepPattern.begin("a", etype="A")
            .followed_by("b", etype="B")
            .followed_by("c", etype="C"))
    with pytest.raises(ValueError, match="anchor step name"):
        base.after_match_skip("skip_to_first")
    with pytest.raises(ValueError, match="takes no anchor"):
        base.after_match_skip("skip_to_next", "b")
    with pytest.raises(ValueError, match="unsupported"):
        base.after_match_skip("skip_to_previous")
    with pytest.raises(ValueError, match="not a pattern step"):
        base.after_match_skip("skip_to_first", "zz").compile(None)
    with pytest.raises(ValueError, match="begin"):
        base.after_match_skip("skip_to_first", "a").compile(None)


def test_skip_to_streaming_twins_match_batch(spark, sf_small,
                                             tmp_path_factory):
    """skip_to_next and skip_to_first STREAM (r13): both cursors are
    causal (accepted greedy start / accepted anchor position), so the
    keyed-state twins must equal the batch compiles across micro-batch
    boundaries — including rejections whose blocking acceptance landed
    in an EARLIER micro-batch."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_skipto_stream")), 3
    )
    for key, strat, step in [
        ("stream_cep_skip_to_next", "skip_to_next", None),
        ("stream_cep_skip_to_first", "skip_to_first", "click"),
    ]:
        pat = (
            CepPattern.begin("view", etype="view")
            .followed_by("click", etype="click")
            .followed_by("purchase", etype="purchase")
            .within("36 hours")
        )
        pat = (pat.after_match_skip(strat, step) if step
               else pat.after_match_skip(strat))
        sdf = pat.compile_stream(spark, stream_dir, sf_small)
        stateful.run_to_memory(sdf, f"t_{strat}", "append")
        got = (
            spark.table(f"t_{strat}").toPandas()
            .sort_values("match_id").reset_index(drop=True)
        )
        want = (
            QUERIES[key](spark, sf_small)
            .toPandas().sort_values("match_id").reset_index(drop=True)
        )
        assert len(want) > 0
        want_us = want.assign(
            match_us=pd.to_datetime(want["match_ts"])
            .astype("datetime64[us]").astype("int64"),
            start_us=pd.to_datetime(want["start_ts"])
            .astype("datetime64[us]").astype("int64"),
        )[["user_id", "match_id", "match_us", "start_us"]]
        pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_two_counted_steps_streaming_twin(spark, sf_small,
                                          tmp_path_factory):
    """K counted steps STREAM (r13, r12 verdict item 8): a pattern with
    TWO counted quantifiers — view, one-or-more clicks, then a
    purchase, then one-to-three views before a final click — must
    stream bit-equal to the batch compile, BOTH n_ outputs included,
    across micro-batch boundaries (each counted step carries its own
    count-at-start pair and running count in the keyed state)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_cnt2_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("click", etype="click").one_or_more()
        .followed_by("view2", etype="view").times(1, 3)
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepcnt2", "append")
    got = (
        spark.table("t_cepcnt2").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us",
       "n_click", "n_view2"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    # both counts non-trivial: each exceeds 1 somewhere, and the range
    # cap binds n_view2 <= 3
    assert got["n_click"].max() > 1
    assert 1 < got["n_view2"].max() <= 3


def _append_flush_files(spark, stream_dir, k=2):
    """Append k far-future sentinel files to a split stream dir: the
    first advances the watermark past every real deadline, the second
    triggers a batch that fires the event-time timers armed under that
    watermark (availableNow runs no extra eviction-only batch). The
    sentinel user/type never matches any pattern step."""
    import os
    import shutil

    base = spark.read.parquet(stream_dir)
    existing = sorted(
        f for f in os.listdir(stream_dir) if f.endswith(".parquet")
    )
    for i in range(k):
        flush = (
            base.limit(1)
            .withColumn("user_id", F.lit(-999).cast(
                dict(base.dtypes)["user_id"]))
            .withColumn("event_id", F.lit(900000000 + i).cast(
                dict(base.dtypes)["event_id"]))
            .withColumn("event_type", F.lit("zz_flush"))
            .withColumn("ts", F.lit(f"2200-01-01 00:00:{i:02d}").cast(
                dict(base.dtypes)["ts"]))
        )
        stage = os.path.join(stream_dir, f"..{os.sep}flush_{i}")
        flush.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(stream_dir, f"zz_flush_{i}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_009_000 + i * 60, 1_700_009_000 + i * 60))
    # keep the real files' mtimes older than the sentinels
    assert existing


def test_terminal_negation_streaming_twin(spark, sf_small,
                                          tmp_path_factory):
    """TERMINAL negation STREAMS (r13, r12 verdict item 4): candidates
    hold in keyed state until the watermark passes match_ts + T and
    emit iff no negated event arrived in the open interval — the
    compiled twin must equal the batch compile's MATCH SET across
    micro-batch boundaries (the batch-only next_<neg>_ts audit column
    is unbounded-lookahead by definition). Two far-future flush files
    close the tail horizons so the comparison is bit-equal, not
    subset. Besides a two-step chain, the paper's single-step
    begin(view).notFollowedBy(purchase, within=1h) (the
    stream_cep_negation rung) streams on both keyed machines: plain,
    and under a previous_and_current gap bound."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_tneg_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    view = CepPattern.begin("view", etype="view")
    positives = [
        (view.followed_by("click", etype="click").within("36 hours"),
         ("error", "12 hours")),
        (view, ("purchase", "1 hour")),
        (view.within("1 hour", "previous_and_current"),
         ("purchase", "1 hour")),
    ]
    events = table(spark, sf_small, "events")
    for i, (no_neg, (neg, horizon)) in enumerate(positives):
        pat = no_neg.not_followed_by(neg, etype=neg, within=horizon)
        sdf = pat.compile_stream(spark, stream_dir, sf_small)
        stateful.run_to_memory(sdf, f"t_ceptneg_{i}", "append")
        got = (
            spark.table(f"t_ceptneg_{i}").toPandas()
            .sort_values("match_id").reset_index(drop=True)
        )
        want = (
            pat.compile(events).toPandas()
            .sort_values("match_id").reset_index(drop=True)
        )
        assert len(want) > 0
        # the negation must actually kill candidates on this fixture
        assert no_neg.compile(events).count() > len(want)
        want_us = want.assign(
            match_us=pd.to_datetime(want["match_ts"])
            .astype("datetime64[us]").astype("int64"),
            start_us=pd.to_datetime(want["start_ts"])
            .astype("datetime64[us]").astype("int64"),
        )[["user_id", "match_id", "match_us", "start_us"]]
        pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def _hold_cases() -> dict:
    """One pattern per keyed machine the terminal-negation hold composes
    with, each ending at event B and followed by notFollowedBy X within
    60 s, with the events that precede B (ids < 1, all within 10 s)."""
    A = CepPattern.begin("a", etype="A")
    ab = A.followed_by("b", etype="B")
    ar = [(-1, "A", 0), (0, "R", 5)]
    return {
        "plain": (ab, [(0, "A", 0)]),
        "annotation": (A.followed_by("o", etype="O").optional()
                       .followed_by("b", etype="B"), [(0, "A", 0)]),
        "counted": (A.followed_by("r", etype="R").one_or_more()
                    .followed_by("b", etype="B"), ar),
        "enum": (A.followed_by("o", etype="O").optional()
                 .next("b", etype="B"), [(0, "A", 0)]),
        "or_split": (A.next("r", etype="R").one_or_more()
                     .next("b", etype="B"), ar),
        "skip": (ab.after_match_skip("skip_past_last_event"),
                 [(0, "A", 0)]),
        "gap": (ab.within(30, "previous_and_current"), [(0, "A", 0)]),
        "gap_enum": (A.followed_by("o", etype="O").optional()
                     .followed_by("b", etype="B")
                     .within(30, "previous_and_current"), [(0, "A", 0)]),
        "gap_skip": (ab.within(30, "previous_and_current")
                     .after_match_skip("skip_to_next"), [(0, "A", 0)]),
        "until": (A.followed_by("r", etype="R").one_or_more()
                  .until("u", etype="U").followed_by("b", etype="B"), ar),
        "until_optional": (
            A.followed_by("o", etype="O").optional()
            .followed_by("r", etype="R").one_or_more()
            .until("u", etype="U").followed_by("b", etype="B"), ar),
        "not_next": (A.not_next("y", etype="Y").followed_by("b", etype="B"),
                     [(0, "A", 0)]),
    }


def test_terminal_negation_late_kill_hand_case():
    """The late-negated-event case (r12 verdict item 4's done
    criterion), on every route shape the hold composes with: a
    candidate held across a micro-batch boundary must be KILLED by a
    negated event arriving in a LATER batch inside its horizon, must
    SURVIVE one outside it or at the exact same timestamp (open
    interval), and the trailing survivor must emit on the event-time
    TIMER, not only on the data path, and a watermark exactly at the
    deadline must not ripen it. The keyed function comes from the same
    factory compile_stream uses, with no Spark session."""
    from sparkflow.streaming import stateful

    def run(pat, batches, wms, fire_at_ms):
        fn = stateful.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))
        st = FakeTimerState()
        got = []
        for batch, wm in zip(batches, wms):
            st.wm_ms = wm
            pdf = pd.DataFrame({
                "event_id": [e[0] for e in batch],
                "event_type": [e[1] for e in batch],
                "ts": pd.to_datetime([e[2] for e in batch], unit="s"),
            })
            for out in fn((1,), iter([pdf]), st):
                got += list(zip(out["match_id"], out["match_us"]))
        if fire_at_ms is not None:
            st.hasTimedOut = True
            st.wm_ms = fire_at_ms
            for out in fn((1,), iter([]), st):
                got += list(zip(out["match_id"], out["match_us"]))
        return got

    for case, (pat, prefix) in _hold_cases().items():
        pat = pat.not_followed_by("x", etype="X", within=60)
        first = prefix + [(1, "B", 10)]
        # killed: X@30 arrives one batch AFTER the B@10 candidate
        assert run(pat, [first, [(2, "X", 30)]],
                   [10_000, 30_000], 200_000) == [], case
        # survives: X@80 is outside (10, 70]
        assert run(pat, [first, [(2, "X", 80)]],
                   [10_000, 80_000], 200_000) == [(1, 10_000_000)], case
        # survives: X at exactly match_ts is outside the open interval
        assert run(pat, [first, [(2, "X", 10)]],
                   [10_000, 10_000], 200_000) == [(1, 10_000_000)], case
        # timer emission: no further data, the survivor emits at fire
        # time
        assert run(pat, [first], [10_000], 71_000) == [(1, 10_000_000)], \
            case
        # ...but NOT if the watermark has not yet passed the deadline
        assert run(pat, [first], [10_000], None) == [], case
        # the ripeness boundary: a watermark exactly at match_ts + T
        # holds the candidate (the batch RANGE frame still reaches an
        # event at match_ts + T)...
        at_deadline = [(2, "Z", 70)]
        assert run(pat, [first, at_deadline], [10_000, 70_000],
                   None) == [], case
        # ...so a negated event exactly at match_ts + T in the next
        # batch still kills it
        assert run(pat, [first, at_deadline, [(3, "X", 70)]],
                   [10_000, 70_000, 70_000], 200_000) == [], case


def test_enum_variant_streaming_twin(spark, sf_small, tmp_path_factory):
    """Strict-contiguity optional STREAMS (r13): the 2^k variant
    chains ride the keyed state like any carry chain, OR-gated with
    greedy max-start across variants — the streaming compile of the
    registered next+optional pattern must equal the batch compile's
    matches, starts AND with_click flags across micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_enum_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .optional()
        .next("purchase", etype="purchase")
        .within("48 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepenum", "append")
    got = (
        spark.table("t_cepenum").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    assert want["with_click"].any() and not want["with_click"].all()
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_gap_bound_plan_single_exchange(spark, sf_small):
    """within(..., 'previous_and_current') (r13): the bounded carries
    add a RANGE frame over event-time µs and a same-µs tiebreak frame
    partitioned by (key, µs) — the latter's clustered distribution is
    satisfied by the key hash, so the whole compiled plan must still
    run on ONE exchange (sorts are fine, shuffles are not)."""
    plan = (
        QUERIES["stream_cep_within_gap"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1, plan


def test_gap_bound_builder_rules(spark):
    """within(..., 'previous_and_current') refusals (r13/r14): the
    event-eliding theorems don't survive per-gap bounds — variable
    quantifiers refuse loudly (mid-pattern negation composes since
    r14 via the count-gated bounded max); unknown
    WithinType refuses; both bounds may coexist; fixed times(n),
    optional (via enum), and (r14) after-match skip compile; every
    batch-compiling gap composition also streams."""
    p = F.lit(True)
    base = (CepPattern.begin("a", p).followed_by("b", p)
            .followed_by("c", p))
    with pytest.raises(ValueError, match="WithinType"):
        base.within(10, "between_everything")
    both = base.within(10, "previous_and_current").within(40)
    assert both.gap_us == 10_000_000 and both.within_us == 40_000_000
    gp = base.within(10, "previous_and_current")
    with pytest.raises(ValueError, match="existence collapse"):
        (CepPattern.begin("a", p).followed_by("b", p).one_or_more()
         .followed_by("c", p).within(10, "previous_and_current")
         .compile(None))
    # r14: mid-pattern negation COMPOSES with the gap bound in batch
    # (count-gated bounded max — see the midneg_gap fuzz); the gated
    # hop is blocked by an in-gap negated event and reopened by a
    # later clean prefix row
    ngrows = [
        (0, 0, "A", 0), (0, 1, "Q", 5), (0, 2, "B", 8),
        (1, 3, "A", 0), (1, 4, "B", 8),
        (2, 5, "A", 0), (2, 6, "Q", 5), (2, 7, "A", 6), (2, 8, "B", 8),
    ]
    ngdf = spark.createDataFrame(
        ngrows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    ng = (CepPattern.begin("a", etype="A")
          .not_followed_by("q", etype="Q")
          .followed_by("b", etype="B")
          .within(10, "previous_and_current"))
    assert {(r.user_id, r.match_id) for r in ng.compile(ngdf).collect()} \
        == {(1, 4), (2, 8)}
    # r14: skip strategies COMPOSE with the gap bound in batch (the
    # position struct rides the bounded GREATEST) — greedy interval
    # scheduling over gap-bounded chains; semantics pinned by the
    # stream_cep_skip_gap oracle + fuzz. Only the STREAMING compile
    # still refuses (asserted below).
    rows = [
        (0, 0, "A", 0), (0, 1, "B", 5), (0, 2, "C", 9),
        (0, 3, "A", 12), (0, 4, "B", 15), (0, 5, "C", 21),
    ]
    sdf = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    sg = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
          .followed_by("c", etype="C")
          .within(10, "previous_and_current")
          .after_match_skip("skip_past_last_event"))
    # first funnel fits the gap everywhere; second's B->C hop is 6s
    # and A->B 3s, also fine -> both accepted (non-overlapping)
    assert {(r.user_id, r.match_id) for r in sg.compile(sdf).collect()} \
        == {(0, 2), (0, 5)}
    # r13 continuation: plain gap-bounded patterns STREAM (buffered
    # carries — see the twin test); r14: optional-under-gap,
    # negation+gap, AND the optional+negation+gap triple all stream
    # (see their twin tests + fake-GroupState fuzz) — no gap-family
    # streaming refusal remains beyond the batch-refused compositions
    # review r13: compile_stream's gap branch returns BEFORE the batch
    # validation, so it must re-refuse the batch-refused compositions
    # — without these they would stream silently WRONG (collapsed
    # counted chain / ignored negation / ignored skip)
    with pytest.raises(ValueError, match="previous_and_current"):
        (CepPattern.begin("a", etype="A")
         .followed_by("b", etype="B").one_or_more()
         .followed_by("c", etype="C")
         .within(10, "previous_and_current")
         .compile_stream(None, "/nonexistent", "/nonexistent"))
    # r15: the midneg+gap composites (skip / terminal negation /
    # optionals) STREAM too — count-gated buffers ride every gap
    # machine (see their twin tests + fake-GroupState fuzz); no
    # midneg streaming refusal remains, so the batch/stream support
    # matrices are identical on the gap branch.
    # r14 continuation: skip+gap streams, and so does the
    # skip+negation+gap triple (cursor folds at flush time over the
    # watermark-held survivors) — see their twin tests; every
    # batch-compiling gap composition now has a streaming twin
    # fixed times(n) composes (every copy is a real bounded hop)
    fixed = (CepPattern.begin("a", etype="A")
             .followed_by("b", etype="B").times(2)
             .within(10, "previous_and_current"))
    assert fixed.gap_us == 10_000_000
    # an optional step under a gap bound routes through the enum path
    opt = (CepPattern.begin("a", p).followed_by("b", p).optional()
           .followed_by("c", p).within(10, "previous_and_current"))
    assert opt._needs_variant_enum()


def test_gap_bound_hand_case(spark):
    """A@0 B@5 C@25 with gap=12: A→B fits (5s) but B→C (20s) exceeds
    the gap bound — no match — while FIRST_AND_LAST within(30) alone
    matches; adding B@20 bridges the chain (A→B@5 is not needed: the
    greedy chain uses B@20, gaps 20s? no — A→B@20 is 20s > 12, so the
    bridge must be B@5→...: with B at 5 AND 14, A-B@5 (5s), the carry
    rebinds to B@14 via... each hop is ONE transition, so the chain is
    A→B→C with B=14: A→B@14 is 14s > 12 — still no match; B@11:
    A→B@11 (11s) and B@11→C@20 (9s) matches with start A@0."""
    rows = [
        (0, 0, "A", 0), (0, 1, "B", 5), (0, 2, "C", 25),
        (1, 3, "A", 0), (1, 4, "B", 11), (1, 5, "C", 20),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    gap = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
           .followed_by("c", etype="C")
           .within(12, "previous_and_current"))
    got = {(r.user_id, r.match_id) for r in gap.compile(df).collect()}
    assert got == {(1, 5)}
    whole = (CepPattern.begin("a", etype="A")
             .followed_by("b", etype="B")
             .followed_by("c", etype="C").within(30))
    assert {(r.user_id, r.match_id) for r in whole.compile(df).collect()} \
        == {(0, 2), (1, 5)}


def test_gap_bound_streaming_twin(spark, sf_small, tmp_path_factory):
    """Gap-bounded patterns STREAM (r13): the buffered-carry state
    machine (per-level (ts, start) pairs pruned to one gap horizon)
    must equal the batch compile's bounded-window carries across
    micro-batch boundaries — including chains whose hops straddle a
    batch split and ties at equal timestamps."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_gap_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepgap", "append")
    got = (
        spark.table("t_cepgap").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    # and the gap bound bites on this fixture: the unbounded pattern
    # matches strictly more
    unbounded = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
    )
    assert unbounded.compile(
        table(spark, sf_small, "events")
    ).count() > len(want)


@pytest.mark.parametrize("key", [
    "stream_cep_skip_past",
    "stream_cep_skip_to_next",
    "stream_cep_skip_to_first",
    "stream_cep_skip_gap",
    "stream_cep_midneg_gap_skip",
])
def test_skip_fold_scan_sits_directly_on_window_chain(spark, sf_small, key):
    """_skip_fold's cursor scan is only correct because the upstream
    Window's hash exchange on the key survives the filter/select
    between the window chain and the MapInPandas node UNCHANGED — if
    any repartition/AQE rewrite inserted an exchange there, a key's
    rows could split across partitions and the per-partition cursor
    would emit duplicate acceptances instead of failing (r13 advice).
    Pin the invariant for every skip strategy: in the executed plan no
    Exchange may sit between MapInPandas and the first Window below
    it, and the whole plan still carries at most one Exchange (the
    keyed carry-window hash partitioning)."""
    plan = (
        QUERIES[key](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    mi = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    wi = next(
        i for i, ln in enumerate(lines[mi:], mi) if "Window" in ln
    )
    between = lines[mi:wi]
    assert not any("Exchange" in ln for ln in between), between
    assert plan.count("Exchange") <= 1, plan


def test_gap_negation_streaming_twin(spark, sf_small, tmp_path_factory):
    """Terminal negation + gap bound STREAMS (r14, r13 verdict item
    4a): the watermark-delayed hold composed with the horizon-pruned
    buffered carry must equal the batch compile's match set across
    real micro-batch boundaries (the batch next_error_ts audit column
    is unbounded-lookahead and excluded from the twin contract)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_gapneg_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .not_followed_by("error", etype="error", within="60 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepgapneg", "append")
    got = (
        spark.table("t_cepgapneg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    # the negation bites on this fixture: without it there are more
    no_neg = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    assert no_neg.compile(
        table(spark, sf_small, "events")
    ).count() > len(want)


def test_gap_enum_streaming_twin(spark, sf_small, tmp_path_factory):
    """Optional-under-gap STREAMS (r14, r13 verdict item 4b): the 2^k
    gap-buffered variant machines must equal the batch variant
    enumeration across real micro-batch boundaries — matches, greedy
    max-start ACROSS variants, and the with_click flag."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_gapenum_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepgapenum", "append")
    got = (
        spark.table("t_cepgapenum").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # both flag values must occur, else the fixture proves nothing
    assert want["with_click"].nunique() == 2
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_or_split_streaming_twin(spark, sf_small, tmp_path_factory):
    """The both-strict oneOrMore OR-split STREAMS (r14): the 2-variant
    paired keyed machine (stateful.carry_scan, routed by
    compile_stream) must equal the batch OR-of-chains compile —
    matches, greedy max-start across variants, AND n_click — across
    real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_orsplit_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("72 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_ceporsplit", "append")
    got = (
        spark.table("t_ceporsplit").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # both variants must win somewhere, else the fixture proves nothing
    assert want["n_click"].nunique() >= 2
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "n_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_gap_enum_neg_streaming_twin(spark, sf_small, tmp_path_factory):
    """The TRIPLE composition — optional + gap bound + terminal
    negation — STREAMS (r14): the 2^k gap-buffered variant machines
    feed the watermark-delayed candidate hold; must equal the batch
    enum+negation compile (matches, greedy max-start across variants,
    with_click flags) across real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_gen_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .not_followed_by("error", etype="error", within="60 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepgen", "append")
    got = (
        spark.table("t_cepgen").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # the negation bites AND both flag values occur
    no_neg = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    assert no_neg.compile(
        table(spark, sf_small, "events")
    ).count() > len(want)
    assert want["with_click"].nunique() == 2
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_skip_gap_streaming_twin(spark, sf_small, tmp_path_factory):
    """skip+gap STREAMS (r14): the position-struct buffered carry plus
    the causal acceptance cursor must equal the batch compile of the
    registered stream_cep_skip_gap pattern across real micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_skipgap_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepskipgap", "append")
    got = (
        spark.table("t_cepskipgap").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_skip_neg_streaming_twin(spark, sf_small, tmp_path_factory):
    """after-match skip × terminal negation STREAMS (r14): the causal
    position-struct carries feed the watermark hold and the cursor
    folds at flush time over the survivors — must equal the batch
    compile (negation filter BEFORE the fold) across real micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_skipneg_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .not_followed_by("error", etype="error", within="60 hours")
        .after_match_skip("skip_past_last_event")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepskipneg", "append")
    got = (
        spark.table("t_cepskipneg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_gap_skip_neg_streaming_twin(spark, sf_small, tmp_path_factory):
    """skip × gap bound × terminal negation STREAMS (r14): the
    position-struct gap buffers feed the watermark hold with the
    flush-time cursor — must equal the batch compile across real
    micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_gsn_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .not_followed_by("error", etype="error", within="60 hours")
        .after_match_skip("skip_past_last_event")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepgsn", "append")
    got = (
        spark.table("t_cepgsn").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_annotation_neg_streaming_twin(spark, sf_small,
                                       tmp_path_factory):
    """Optional-step flags and oneOrMore counts × terminal negation
    STREAM (r14): the causal annotation/count chains ride the
    watermark hold — must equal the batch compile (flags, counts,
    matches, starts) across real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_annneg_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .followed_by("signup", etype="signup")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
        .not_followed_by("error", etype="error", within="60 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepannneg", "append")
    got = (
        spark.table("t_cepannneg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # the annotations are non-degenerate AND the negation bites
    assert want["n_click"].nunique() >= 2
    no_neg = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .followed_by("signup", etype="signup")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    assert no_neg.compile(
        table(spark, sf_small, "events")
    ).count() > len(want)
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us",
       "n_click", "with_signup"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_midneg_gap_streaming_twin(spark, sf_small, tmp_path_factory):
    """Mid-pattern negation × gap bound STREAMS (r14): the gap
    machine's count-gated buffers must equal the batch count-gated
    bounded max across real micro-batch boundaries, and the negation
    must bite on the fixture."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_mng_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepmng", "append")
    got = (
        spark.table("t_cepmng").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    no_neg = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    n_unneg = no_neg.compile(table(spark, sf_small, "events")).count()
    assert n_unneg >= len(want)
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_gap_state_schema_widens_only_under_negation():
    """r14 advice: the gap machine's keyed-state schema gained
    bq_*/qc count buffers for mid-pattern negation — but a PLAIN gap
    pattern must keep the r13 schema (a pre-r14 streaming query
    restarted from an existing checkpoint would otherwise fail on the
    widened stateStructType, and every gap query would pay state
    columns it never reads). Pin both shapes."""
    from sparkflow.streaming.stateful import _gap_state_fields

    plain = [("A", None, None), ("B", "followed_by", None),
             ("C", "followed_by", None)]
    assert _gap_state_fields(plain) == [
        "bts_0 ARRAY<BIGINT>", "bts_1 ARRAY<BIGINT>",
        "bh_0 ARRAY<BIGINT>", "bh_1 ARRAY<BIGINT>",
        "l ARRAY<BIGINT>", "prev_ts BIGINT",
    ]
    negated = [("A", None, None), ("B", "followed_by", "X"),
               ("C", "followed_by", None)]
    assert _gap_state_fields(negated) == [
        "bts_0 ARRAY<BIGINT>", "bts_1 ARRAY<BIGINT>",
        "bh_0 ARRAY<BIGINT>", "bh_1 ARRAY<BIGINT>",
        "bq_0 ARRAY<BIGINT>", "bq_1 ARRAY<BIGINT>",
        "l ARRAY<BIGINT>", "qc ARRAY<BIGINT>", "prev_ts BIGINT",
    ]


def test_midneg_gap_skip_streaming_twin(spark, sf_small,
                                        tmp_path_factory):
    """midneg × gap × skip STREAMS (r15, r14 verdict item 3): the
    count-gated position-struct buffers + causal cursor must equal
    the batch compile's accepted rows across real micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_mgs_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepmgs", "append")
    got = (
        spark.table("t_cepmgs").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)
    # the negation bites: without it the skip fold accepts MORE or
    # different rows (count gate changes greedy chains)
    no_neg = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    assert no_neg.compile(
        table(spark, sf_small, "events")
    ).count() >= len(want)


def test_midneg_gap_neg_streaming_twin(spark, sf_small,
                                       tmp_path_factory):
    """midneg × gap × terminal negation STREAMS (r15): count-gated
    buffers feeding the watermark hold must equal the batch match set
    across real micro-batch boundaries (next_purchase_ts audit column
    is batch-only)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_mgn_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .within("12 hours", "previous_and_current")
        .not_followed_by("purchase", etype="purchase",
                         within="24 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepmgn", "append")
    got = (
        spark.table("t_cepmgn").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_opt_midneg_gap_streaming_twin(spark, sf_small,
                                       tmp_path_factory):
    """The optional × midneg × gap TRIPLE STREAMS (r15, r14 verdict
    item 4): 2^k count-gated gap machines in one keyed state tuple
    must equal the batch variant enumeration — matches, greedy
    max-start across variants, and the with_view flag — across real
    micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_omg_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view").optional()
        .not_followed_by("error", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepomg", "append")
    got = (
        spark.table("t_cepomg").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # both flag values must occur, else the fixture proves nothing
    assert want["with_view"].nunique() == 2
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_view"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_or_split_neg_streaming_twin(spark, sf_small,
                                     tmp_path_factory):
    """The both-strict OR-split × terminal negation STREAMS (r15, r14
    verdict item 3): the 2-variant paired machine feeding the
    watermark hold must equal the batch compile — matches, winner
    starts, AND n_click — across real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_osn_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("72 hours")
        .not_followed_by("error", etype="error", within="12 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_ceposn", "append")
    got = (
        spark.table("t_ceposn").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "n_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_next_optional_neg_streaming_twin(spark, sf_small,
                                          tmp_path_factory):
    """Strict-optional enum × terminal negation STREAMS (r15): the
    2^k enum machine feeding the watermark hold must equal the batch
    compile — matches, greedy cross-variant starts, and the
    with_click flag riding the hold — across real micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_non_stream")), 3
    )
    _append_flush_files(spark, stream_dir)
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .optional()
        .next("purchase", etype="purchase")
        .within("48 hours")
        .not_followed_by("error", etype="error", within="12 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepnon", "append")
    got = (
        spark.table("t_cepnon").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "with_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_until_streaming_twin(spark, sf_small, tmp_path_factory):
    """until() STREAMS (r15): the paired freeze-rider machine
    (stateful.carry_scan, routed by compile_stream) must equal the
    batch gate+LEAST compile — matches, greedy starts, and the
    clamped n_click pools — across real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_until_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .until("error", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepuntil", "append")
    got = (
        spark.table("t_cepuntil").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # the stop bites on this fixture: without until the pools are
    # strictly larger somewhere
    no_until = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    plain = no_until.compile(
        table(spark, sf_small, "events")
    ).toPandas().sort_values("match_id").reset_index(drop=True)
    assert (plain["n_click"].sum() > want["n_click"].sum()
            or len(plain) > len(want))
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us", "n_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_until_split_streaming_twin(spark, sf_small, tmp_path_factory):
    """until() × both-strict OR-split STREAMS (r16): compile_stream
    routes the composed pattern to the per-variant freeze-rider
    machine (stateful.carry_scan) — matches, greedy starts,
    and both pools must equal the batch compile across real
    micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_until_split_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view")
        .one_or_more()
        .until("stop", etype="error")
        .next("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("72 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepuntilsplit", "append")
    got = (
        spark.table("t_cepuntilsplit").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us",
       "n_view", "n_click"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_until_optional_streaming_twin(spark, sf_small,
                                       tmp_path_factory):
    """until() × optional STREAMS (r16): compile_stream routes the
    composed pattern to the per-variant freeze-rider machine with
    incl_flags — matches, greedy starts, entry-relative pools and the
    with_view flag must equal the batch compile across real
    micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_until_opt_stream")), 3
    )
    pat = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view")
        .optional()
        .followed_by("click", etype="click")
        .one_or_more()
        .until("stop", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepuntilopt", "append")
    got = (
        spark.table("t_cepuntilopt").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us",
       "n_click", "with_view"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_until_prefix_pool_entry_relative(spark):
    """r16 fix of a latent r15 bug: with prefix steps between begin()
    and the until loop, the freeze was measured from the CHAIN START,
    so a stop inside the unguarded prefix gap clamped the pool below
    the loop's lower bound (a matched oneOrMore reporting n_b=0 —
    contradicting the documented 'pool >= lower bound' invariant).
    The rider now stamps at the LOOP ENTRY (the bound event of the
    step directly before the loop): a stop before the entry has no
    effect, stops after it clamp — FlinkCEP's stop-condition scoping.
    Both batch and the streaming machine (entry_idx threading)."""
    import pandas as pd

    from sparkflow.streaming import stateful

    # a U x b c : the stop precedes the loop entry x -> pool must be 1
    df = spark.createDataFrame(
        [(1, 1, "A", 0), (1, 2, "U", 1), (1, 3, "X", 2),
         (1, 4, "B", 3), (1, 5, "C", 4),
         # second user: stop AFTER the entry -> loop never starts
         (2, 6, "A", 0), (2, 7, "X", 1), (2, 8, "U", 2),
         (2, 9, "B", 3), (2, 10, "C", 4)],
        "user_id INT, event_id INT, event_type STRING, sec INT",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    pat = (CepPattern.begin("a", etype="A")
           .followed_by("x", etype="X")
           .followed_by("b", etype="B").one_or_more()
           .until("u", etype="U")
           .followed_by("c", etype="C").within(100))
    got = [(r.user_id, r.match_id, r.n_b)
           for r in pat.compile(df).collect()]
    assert got == [(1, 5, 1)]

    # the streaming machine agrees (entry_idx = [1])
    fn = stateful.cep_keyed_fn(*pat._keyed_stages(pat._chain_set()))

    class _S:
        _v = None
        exists = property(lambda s: s._v is not None)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = v

    for uid, evs, want in (
        (1, [(1, "A", 0), (2, "U", 1), (3, "X", 2), (4, "B", 3),
             (5, "C", 4)], [(5, 1)]),
        (2, [(6, "A", 0), (7, "X", 1), (8, "U", 2), (9, "B", 3),
             (10, "C", 4)], []),
    ):
        st_ = _S()
        pdf = pd.DataFrame({
            "event_id": [e[0] for e in evs],
            "event_type": [e[1] for e in evs],
            "ts": pd.to_datetime([e[2] for e in evs], unit="s"),
        })
        rows = []
        for out in fn((uid,), iter([pdf]), st_):
            rows += [(r.match_id, r.n_b) for r in out.itertuples()]
        assert rows == want, (uid, rows)


def test_until_builder_rules(spark):
    """until()'s refusals are loud and mirrored batch/stream (the r15
    parity invariant): non-looping step, double until, negated-gap
    collision, strict entry, optional anywhere. r16: the both-strict
    split in the same pattern now COMPOSES (stream_cep_until_split +
    test_cep_until_or_split_fuzz)."""
    base = CepPattern.begin("a", etype="A").followed_by("b", etype="B")
    with pytest.raises(ValueError, match="looping"):
        base.until("u", etype="U")
    loop = base.one_or_more()
    ok = loop.until("u", etype="U")
    with pytest.raises(ValueError, match="already carries an until"):
        ok.until("u2", etype="V")
    with pytest.raises(ValueError, match="notFollowedBy"):
        (CepPattern.begin("a", etype="A")
         .not_followed_by("x", etype="X")
         .followed_by("b", etype="B").one_or_more()
         .until("u", etype="U"))
    with pytest.raises(ValueError, match="relaxed-entered"):
        (CepPattern.begin("a", etype="A")
         .next("b", etype="B").one_or_more().until("u", etype="U"))
    # until × terminal negation COMPOSES (r15 same-round
    # continuation) — pinned by the fuzz suites' with_neg axis; here
    # just assert the builder chain constructs
    pat = (ok.followed_by("c", etype="C").within(10)
           .not_followed_by("y", etype="Y", within=5))
    assert pat.neg is not None and pat.steps[1].until is not None
    # r16 (r15 verdict item 8): until × optional now COMPILES via the
    # 2^k full-variant enumeration (the annotation-chain shortcut is
    # unsound under stop gates) — the soundness-critical case: a stop
    # between a and o kills only the exclude variant, so the match
    # exists ONLY through the optional step
    opt = (CepPattern.begin("a", etype="A")
           .followed_by("o", etype="O").optional()
           .followed_by("b", etype="B").one_or_more()
           .until("u", etype="U")
           .followed_by("c", etype="C").within(10))
    df = spark.createDataFrame(
        [(1, 1, "A", 0), (1, 2, "U", 1), (1, 3, "O", 2),
         (1, 4, "B", 3), (1, 5, "C", 4)],
        "user_id INT, event_id INT, event_type STRING, sec INT",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    res = opt.compile(df).collect()
    assert [(r.match_id, bool(r.with_o), r.n_b) for r in res] \
        == [(5, True, 1)]
    # strict-contiguity optional regions still refuse (counted guard)
    strict_opt = (CepPattern.begin("a", etype="A")
                  .followed_by("o", etype="O").optional()
                  .next("x", etype="X")
                  .followed_by("b", etype="B").one_or_more()
                  .until("u", etype="U")
                  .followed_by("c", etype="C").within(10))
    with pytest.raises(ValueError, match="strict-contiguity"):
        strict_opt.compile(df)
    with pytest.raises(ValueError, match="strict-contiguity"):
        strict_opt.compile_stream(None, "/nonexistent", "/nonexistent")


def test_not_next_streaming_twin(spark, sf_small, tmp_path_factory):
    """notNext STREAMS (r15): the delayed-absorption machine
    (stateful.carry_scan, routed by compile_stream) must equal
    the batch LEAD-gated compile across real micro-batch
    boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_nn_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .not_next("error", etype="error")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepnn", "append")
    got = (
        spark.table("t_cepnn").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    # sf0.001 happens to have no view directly followed by an error,
    # so the twin pins equality here and the gate's bite is pinned on
    # a constructed frame (sf0.01 bites for the registered key: 229
    # rows vs 240 ungated, EXACT vs DuckDB)
    rows_g = [
        (0, 0, "view", 0), (0, 1, "error", 1), (0, 2, "click", 2),
        (0, 3, "purchase", 3),
        (1, 4, "view", 0), (1, 5, "click", 2), (1, 6, "purchase", 3),
    ]
    gdf = spark.createDataFrame(
        rows_g, "user_id INT, event_id INT, event_type STRING, sec INT"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    gated = (
        CepPattern.begin("view", etype="view")
        .not_next("error", etype="error")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    assert {(r.user_id, r.match_id)
            for r in gated.compile(gdf).collect()} == {(1, 6)}
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[["user_id", "match_id", "match_us", "start_us"]]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


@pytest.mark.parametrize("mode", ["skip", "gap", "gap_skip", "until"])
def test_not_next_composition_streaming_twin(spark, sf_small,
                                             tmp_path_factory, mode):
    """notNext × {skip, gap, gap×skip} STREAMS (r16, r15 verdict item
    1): compile_stream routes the gated pattern to the skip / gap /
    gap-skip machines with nn_ets threaded, and the result must be
    bit-equal to the batch compile across real micro-batch
    boundaries (the delayed absorption's pending state surviving the
    availableNow splits)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp(f"cep_nnc_{mode}")), 3
    )
    if mode == "until":
        pat = (
            CepPattern.begin("view", etype="view")
            .not_next("error", etype="error")
            .followed_by("click", etype="click").one_or_more()
            .until("stop", etype="error")
            .followed_by("purchase", etype="purchase")
            .within("72 hours")
        )
    else:
        pat = (
            CepPattern.begin("view", etype="view")
            .not_next("error", etype="error")
            .followed_by("click", etype="click")
            .followed_by("purchase", etype="purchase")
        )
        if mode == "skip":
            pat = pat.within("36 hours") \
                     .after_match_skip("skip_past_last_event")
        elif mode == "gap":
            pat = pat.within("12 hours", "previous_and_current")
        else:
            pat = pat.within("12 hours", "previous_and_current") \
                     .after_match_skip("skip_to_next")
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, f"t_cepnnc_{mode}", "append")
    got = (
        spark.table(f"t_cepnnc_{mode}").toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    want = (
        pat.compile(table(spark, sf_small, "events")).toPandas()
        .sort_values("match_id").reset_index(drop=True)
    )
    assert len(want) > 0
    cols = ["user_id", "match_id", "match_us", "start_us"] + (
        ["n_click"] if mode == "until" else [])
    want_us = want.assign(
        match_us=pd.to_datetime(want["match_ts"])
        .astype("datetime64[us]").astype("int64"),
        start_us=pd.to_datetime(want["start_ts"])
        .astype("datetime64[us]").astype("int64"),
    )[cols]
    pd.testing.assert_frame_equal(got, want_us, check_dtype=False)


def test_not_next_builder_rules(spark):
    """notNext refusals are loud and batch/stream-mirrored (the r15
    parity invariant)."""
    base = CepPattern.begin("a", etype="A")
    nn = base.not_next("x", etype="X")
    with pytest.raises(ValueError, match="already carries"):
        nn.not_next("x2", etype="Y")
    with pytest.raises(ValueError, match="oneOrMore"):
        (base.followed_by("b", etype="B").one_or_more()
         .not_next("x", etype="X"))
    # cannot end in notNext
    end = nn.followed_by("b", etype="B").not_next("y", etype="Y")
    with pytest.raises(ValueError, match="cannot end in notNext"):
        end.within(10).compile(None)
    with pytest.raises(ValueError, match="cannot end in notNext"):
        end.within(10).compile_stream(None, "/x", "/x")
    # refused compositions, both sides (r16: skip and gap bounds now
    # COMPOSE — only optional and until() remain refused)
    optioned = (nn.followed_by("b", etype="B").optional()
                .followed_by("c", etype="C").within(10))
    with pytest.raises(ValueError, match="notNext composes with"):
        optioned.compile(None)
    with pytest.raises(ValueError, match="notNext composes with"):
        optioned.compile_stream(None, "/x", "/x")
    # r16 continuation: notNext × until now COMPILES (delayed
    # absorption riding the freeze riders) — only optional remains
    untiled = (nn.followed_by("b", etype="B").one_or_more()
               .until("stop", etype="S")
               .followed_by("c", etype="C").within(10))
    dfu = spark.createDataFrame(
        [(1, 1, "A", 1), (1, 2, "B", 2), (1, 3, "C", 3)],
        "user_id INT, event_id INT, event_type STRING, sec INT",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    assert untiled.compile(dfu).count() == 1
    # r16: the previously-refused gap and skip compositions now build
    df = spark.createDataFrame(
        [(1, 1, "A", 1), (1, 2, "B", 2), (1, 3, "C", 3)],
        "user_id INT, event_id INT, event_type STRING, sec INT",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    gapped = (nn.followed_by("b", etype="B")
              .followed_by("c", etype="C")
              .within(10, "previous_and_current"))
    assert gapped.compile(df).count() == 1
    skipped = (nn.followed_by("b", etype="B")
               .followed_by("c", etype="C").within(10)
               .after_match_skip("skip_to_next"))
    assert skipped.compile(df).count() == 1


def test_followed_by_any_streaming_twin(spark, sf_small,
                                        tmp_path_factory):
    """followedByAny STREAMS (r15) as a watermarked stream-stream
    interval self-join — the pair set must equal the batch binned
    range join across real micro-batch boundaries."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small,
        str(tmp_path_factory.mktemp("cep_any_stream")), 3
    )
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by_any("purchase", etype="purchase")
        .within("1 hour")
    )
    sdf = pat.compile_stream(spark, stream_dir, sf_small)
    stateful.run_to_memory(sdf, "t_cepany", "append")
    got = {
        (r.user_id, r.match_id, r.start_id, r.match_us, r.start_us)
        for r in spark.table("t_cepany").collect()
    }
    want = {
        (
            r.user_id, r.match_id, r.start_id,
            r.match_ts.replace(tzinfo=None),
            r.start_ts.replace(tzinfo=None),
        )
        for r in pat.compile(table(spark, sf_small, "events"))
        .selectExpr("user_id", "match_id", "start_id",
                    "match_ts", "start_ts").collect()
    }
    import datetime as _dt

    def us(x):
        return int(x.replace(tzinfo=_dt.timezone.utc).timestamp()
                   * 1_000_000)

    want_us = {(u, m, s, us(mt), us(st_)) for u, m, s, mt, st_ in want}
    assert len(want_us) > 0
    assert got == want_us


def test_followed_by_any_plan_and_rules(spark, sf_small):
    """The followedByAny plan must be the binned hash join, never a
    nested-loop quadratic plan; the class refusals are loud and
    batch/stream-mirrored."""
    from sparkflow.plans.explain import formatted_plan

    df = QUERIES["stream_cep_followed_by_any"](spark, sf_small)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    deep = (CepPattern.begin("a", etype="A")
            .followed_by_any("b", etype="B")
            .followed_by_any("c", etype="C").within(10))
    with pytest.raises(ValueError, match="two-step class"):
        deep.compile(None)
    with pytest.raises(ValueError, match="two-step class"):
        deep.compile_stream(None, "/x", "/x")
    unbounded = (CepPattern.begin("a", etype="A")
                 .followed_by_any("b", etype="B"))
    with pytest.raises(ValueError, match="requires within"):
        unbounded.compile(None)


# -- batch/stream parity of the shared front end ------------------------

_GRID_AXES = (
    ("mid", ("followed_by", "next")),
    ("quant", (None, "one_or_more", "times2", "times1_3")),
    ("optional", (False, True)),
    ("mid_neg", (False, True)),
    ("not_next", (False, True)),
    ("until", (False, True)),
    ("term_neg", (False, True)),
    ("skip", ("no_skip", "skip_past_last_event", "skip_to_last")),
    ("gap", (False, True)),
    ("leave", ("followed_by", "next")),
)

# refusals only compile_stream makes (keyed state needs row-evaluable
# predicates, and a transition to carry or a terminal negation to hold)
_STREAM_ONLY = ("compile_stream needs at least 2 positive steps",
                "was built from a Column predicate")


# grid step names -> the corpus's event types
_GRID_ETYPES = {"a": "view", "b": "click", "c": "purchase", "o": "signup",
                "q": "error", "u": "error", "x": "error", "t": "error"}


def _grid_pattern(combo):
    """a -mid-> b[quant][until][notNext] [-> o optional] [no q] -leave-> c
    within 1 day [gap 3 hours] [no t within 2 hours] [skip], every step
    declared with its _GRID_ETYPES event type (horizons sized to the
    corpus's roughly one event per key-hour, so patterns match)."""
    (mid, quant, optional, mid_neg, not_next, until, term_neg, skip, gap,
     leave) = combo

    def on(name):
        return {"etype": _GRID_ETYPES[name]}

    p = getattr(CepPattern.begin("a", **on("a")), mid)("b", **on("b"))
    if quant == "one_or_more":
        p = p.one_or_more()
    elif quant == "times2":
        p = p.times(2)
    elif quant == "times1_3":
        p = p.times(1, 3)
    if until:
        p = p.until("u", **on("u"))
    if not_next:
        p = p.not_next("x", **on("x"))
    if optional:
        p = p.followed_by("o", **on("o")).optional()
    if mid_neg:
        p = p.not_followed_by("q", **on("q"))
    p = getattr(p, leave)("c", **on("c")).within("1 day")
    if gap:
        p = p.within("3 hours", "previous_and_current")
    if term_neg:
        p = p.not_followed_by("t", within="2 hours", **on("t"))
    if skip != "no_skip":
        p = p.after_match_skip(skip, "b" if skip == "skip_to_last" else None)
    return p


def _parity_grid() -> list:
    """Every combination of _GRID_AXES the builder accepts, as
    (axis values, pattern). Builder refusals are shared by both
    compilers, so they are not part of the parity question."""
    import itertools

    out = []
    for combo in itertools.product(*(vals for _, vals in _GRID_AXES)):
        try:
            out.append((combo, _grid_pattern(combo)))
        except ValueError:
            continue
    return out


def _pairwise(rows: list) -> list:
    """Greedy subset of `rows` that covers every pair of axis values
    some row covers (first row wins ties, so the subset is fixed)."""
    import itertools

    def pairs(combo):
        return {(i, combo[i], j, combo[j])
                for i, j in itertools.combinations(range(len(combo)), 2)}

    todo = set().union(*(pairs(c) for c, _ in rows))
    picked = []
    while todo:
        best = max(rows, key=lambda r: len(pairs(r[0]) & todo))
        picked.append(best)
        todo -= pairs(best[0])
    return picked


def _parity_extras() -> list:
    """Hand cases the grid does not reach: a dangling mid-pattern
    negation (no within=, no following step) on every stream route,
    and single-step patterns, which only compile() accepts unless a
    terminal negation ends them."""
    A = CepPattern.begin("a", etype="A")
    ab = A.followed_by("b", etype="B")
    dangle = [
        ab.within(10),
        ab.within(10, "previous_and_current"),
        ab.one_or_more().until("u", etype="U").followed_by("c", etype="C"),
        ab.not_next("x", etype="X").followed_by("c", etype="C"),
        A.followed_by("o", etype="O").optional().next("c", etype="C"),
        A.next("b", etype="B").one_or_more().next("c", etype="C"),
        ab.followed_by("c", etype="C")
        .after_match_skip("skip_past_last_event"),
    ]
    single = [
        A,
        A.within(10),
        A.within(10, "previous_and_current"),
        A.not_followed_by("t", etype="T", within=5),
        A.after_match_skip("skip_past_last_event"),
    ]
    return ([(("dangling", i), p.not_followed_by("n", etype="N"))
             for i, p in enumerate(dangle)]
            + [(("single", i), p) for i, p in enumerate(single)])


def _outcome(build):
    try:
        build()
    except ValueError as e:
        return str(e)
    return None


def test_compile_and_compile_stream_accept_alike(spark, sf_small,
                                                 tmp_path_factory):
    """One front end: compile() and compile_stream() accept or refuse
    every composition alike — with the same message — except for the
    stream-only rules. Covers every pair of grid axis values plus the
    hand cases; a single-step pattern compiles in batch and is refused
    by the one stream-only message, unless it ends in a terminal
    negation, which both accept. The full grid is too slow for tier-1
    (every compile() analyses eagerly)."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_parity")), 2
    )
    df = table(spark, sf_small, "events")
    cases = _pairwise(_parity_grid())
    cases += _parity_extras()
    assert len(cases) >= 20
    diverged = []
    for axes, pat in cases:
        batch = _outcome(lambda: pat.compile(df))
        stream = _outcome(
            lambda: pat.compile_stream(spark, stream_dir, sf_small))
        if axes[0] == "single" and pat.neg is None:
            ok = batch is None and stream is not None \
                and stream.startswith(_STREAM_ONLY[0])
        elif stream is not None and any(m in stream for m in _STREAM_ONLY):
            ok = batch is None
        else:
            ok = batch == stream
        if not ok:
            diverged.append((axes, batch, stream))
    assert not diverged, diverged


def test_compile_stream_rows_equal_compile(spark, sf_small,
                                           tmp_path_factory):
    """Row-level parity of the two back ends: every pairwise grid
    pattern that streams emits, over two micro-batch files (plus the
    flush files that close every terminal-negation horizon), exactly
    the batch compile's rows — user, match, match and start times and
    every n_/with_ column. Some patterns must match, so empty output on
    both sides cannot pass."""
    from sparkflow.streaming import stateful

    stream_dir = stateful.split_events_to_files(
        spark, sf_small, str(tmp_path_factory.mktemp("cep_rows")), 2
    )
    _append_flush_files(spark, stream_dir)
    df = table(spark, sf_small, "events")

    def rows(frame):
        return sorted(map(tuple, frame.astype(object).itertuples(
            index=False)))

    matched, diverged = 0, []
    for i, (axes, pat) in enumerate(_pairwise(_parity_grid())):
        try:
            sdf = pat.compile_stream(spark, stream_dir, sf_small)
        except ValueError:
            continue
        stateful.run_to_memory(sdf, f"t_cep_rows_{i}")
        got = spark.table(f"t_cep_rows_{i}").toPandas()
        want = pat.compile(df).toPandas()
        for c in ("match", "start"):
            want[f"{c}_us"] = (pd.to_datetime(want[f"{c}_ts"])
                               .astype("datetime64[us]").astype("int64"))
        if rows(got) != rows(want[list(got.columns)]):
            diverged.append(axes)
        matched += len(want) > 0
    assert not diverged, diverged
    assert matched > 0


def test_stream_refuses_pre_1970_event_times(spark, sf_small, tmp_path):
    """The keyed machines encode "no hit yet" as -1 epoch µs, so an
    event before 1970-01-01 must fail the streaming query loudly (the
    batch compile has no such limit); under a terminal negation so must
    an event at exactly 1970-01-01 00:00:00."""
    from pyspark.errors import StreamingQueryException

    from sparkflow.streaming import stateful

    rows = [(1, 1, "A", -100), (1, 2, "B", -50), (1, 3, "C", -10)]
    files = str(tmp_path / "pre1970")
    (spark.createDataFrame(
        rows, "user_id BIGINT, event_id BIGINT, event_type STRING, sec INT")
     .withColumn("ts", F.timestamp_seconds("sec")).drop("sec")
     .coalesce(1).write.parquet(files))
    pat = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
           .followed_by("c", etype="C").within(120))
    assert pat.compile(spark.read.parquet(files)).count() == 1
    with pytest.raises(StreamingQueryException, match="1970"):
        stateful.run_to_memory(
            pat.compile_stream(spark, files, sf_small), "t_cep_pre1970")

    # a terminal negation runs under a watermark whose first value, 0,
    # makes a row at exactly epoch µs 0 late: refused, not dropped
    epoch0 = str(tmp_path / "epoch0")
    (spark.createDataFrame(
        [(1, 1, "A", 0), (1, 2, "B", 10)],
        "user_id BIGINT, event_id BIGINT, event_type STRING, sec INT")
     .withColumn("ts", F.timestamp_seconds("sec")).drop("sec")
     .coalesce(1).write.parquet(epoch0))
    neg = (CepPattern.begin("a", etype="A").followed_by("b", etype="B")
           .within(120).not_followed_by("x", etype="X", within=60))
    assert neg.compile(spark.read.parquet(epoch0)).count() == 1
    with pytest.raises(StreamingQueryException, match="1970"):
        stateful.run_to_memory(
            neg.compile_stream(spark, epoch0, sf_small), "t_cep_epoch0")
