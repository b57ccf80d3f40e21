"""General CEP pattern combinator (SURVEY §2.9) — the FlinkCEP
`Pattern.begin(...).next(...).followedBy(...).notFollowedBy(...)
.times(n).within(t)` surface compiled to the engine's carried-window
algebra, so a user can point a NEW pattern at any keyed event frame
without writing window algebra by hand. The three hand rungs
(stream_cep_funnel / _negation / _times) are each one declared
pattern here: compile() equals each rung row for row, and the same
pattern through compile_stream() is each rung's streaming twin.

How the compiler works
----------------------
FlinkCEP executes patterns with an NFA; this compiler instead exploits
a greedy-dominance property that makes the most-used pattern class
NFA-free and LINEAR per key (one sort, one Window stage chain — the
same shape as the hand-written rungs, viable at 100 TB where a
per-event NFA state machine is not):

For a chain of POSITIVE steps p1 → p2 → ... → pm under a whole-pattern
`within(T)` bound, define the carried value

    h_i(row) = start-timestamp of the LATEST-starting chain matching
               steps 1..i and ending strictly before `row`

computed as h_1 = ts on p1-rows, and h_i = (p_i-row ? carry(h_{i-1}))
where carry is MAX over ROWS UNBOUNDED PRECEDING..1 PRECEDING for a
relaxed transition (`followed_by`) or LAG(1) for a strict one
(`next`). Maximizing the start timestamp is OPTIMAL: the chain's span
`ts_m - ts_1` is minimized by the latest feasible start, so the
max-start chain satisfies `within` iff ANY chain does — existence
detection is exact without enumerating chains. `times(n)` expands to n
copies of the step (relaxed internal contiguity, FlinkCEP's default;
`consecutive=True` gives FlinkCEP's `.consecutive()` strict form), and
the carry consumes strictly-earlier rows only, so each copy binds a
DISTINCT event.

Negation (`not_followed_by`):

- TERMINAL position with a `within` horizon — exactly the form
  FlinkCEP itself requires a time window for. Compiles to one
  forward-looking RANGE window over event-time microseconds (earliest
  negated event with ts STRICTLY greater than the match row's — the
  documented open interval (match_ts, match_ts + T]; r11 advice: a
  row-frame made same-timestamp survival depend on the tiebreak
  column); the match survives iff that event is absent or beyond
  `last_ts + T`.

- MID-PATTERN negation (r11 verdict item 6; generalized to ANY number
  of negated gaps in r12): `...followed_by(B).not_followed_by(q)
  .followed_by(C)...` — no q-event strictly between the B-event and
  the C-event of the chain. Exact WITHOUT an NFA by a second dominance
  argument: among the B-rows that complete the prefix before a
  candidate C-row, a LATER B-row both (a) weakens the no-q gap
  constraint (fewer rows in between) and (b) carries a
  greater-or-equal chain start (the carried max is monotone in row
  position) — so the latest prefix-complete B-row is optimal on BOTH
  axes, and one struct-MAX window (latest (position, start)) plus one
  running MAX of q-positions decides every C-row exactly. The argument
  CHAINS (r12): by induction on step index, each compiled carry h_i
  (i) equals the max start over chains of steps 1..i feasible w.r.t.
  every negated gap so far — the gate's subset property (a q-event
  after the latest prefix-complete row lies in EVERY earlier row's
  gap) makes null-vs-value exact, and the latest row's carry is the
  level-(i-1) maximum by (ii); and (ii) stays monotone over its
  non-null rows — it reads the level-(i-1) carry at the latest
  non-null position, and that carry is monotone by induction. So
  multiple sequential negated gaps (including adjacent ones) compile
  with one struct-MAX + one q-position MAX per gap, same single
  sort/exchange — brute-force-fuzzed in tests/test_properties.py.
  Only stacking two negations on the SAME gap refuses (merge the
  predicates with | instead).

Strict contiguity × quantifiers (r11 advice gated these; r13 lifts all
but one): `optional()` under a following next() compiles via explicit
2^k variant-chain enumeration (the skip-variant dominance is unsound
there — see _needs_variant_enum); `one_or_more()`/`times(n, m)` on a
next()-REACHED step are exact (the strict LAG(1) binds the FIRST
repetition — FlinkCEP's semantics — and the existence collapse holds
because extra repetitions sit after it under relaxed internal
contiguity); `next()` AFTER a relaxed-reached quantified step is exact
(the collapsed copy at the LAG(1) predecessor is precisely "the last
absorbed repetition immediately precedes this step"). Even strict on
BOTH sides composes when the lower bound is >= 2 (r13 continuation):
the n-copy times(n, m) expansion carries the strict edges on its
FIRST and LAST copies — any k >= n >= 2 match anchors two distinct
events there and its middle repetitions are relaxed absorptions. And
strict-on-both-sides at lower bound 1 (oneOrMore/times(1, m)) compiles
since r14 as exactly what the old refusal named: an OR OF TWO CHAINS —
the 1-rep variant (one event bound to both strict edges, quantifier
stripped) and the >= 2-rep variant (the times(2[, m]) both-strict
expansion) — gated EXISTS-any, with start/count taken from the greedy
max-start variant via a lexicographic struct GREATEST (the same
combination rule as the 2^k optional enumeration; each variant is an
ordinary carry chain in the proven class, so per-variant dominance is
untouched). The only batch refusal left: negated gaps entered or
exited via next(). All lifted compositions are brute-force-fuzzed in
tests/test_properties.py.

FlinkCEP surface inventory (r15): next / followedBy (greedy fold) /
followedByAny (two-step pair enumeration) / notNext / notFollowedBy
(mid-pattern and terminal) / optional / oneOrMore / times(n) /
times(from, to) / consecutive / until / within (FIRST_AND_LAST and
PREVIOUS_AND_CURRENT) / all four AfterMatchSkip strategies — every
mode is represented by a construction with a DuckDB oracle and a
streaming twin. Deliberately NOT represented, with the reason a user
can act on: `allowCombinations` and deep `followedByAny` (match
multiplicity is the product of per-gap candidate counts — the
combinatorial blow-up FlinkCEP's own docs warn about; the greedy
fold plus the `n_<name>` pool carries the same information linearly),
iterative conditions / `where(ctx)` reading previous bindings (their
state is inherently per-partial-match — an NFA — which this
compiler's whole design exists to avoid; bound patterns with
predicates on the row instead), and `subtype()` (Java-class dispatch;
a predicate on the type column is its relational form).

`one_or_more()` additionally emits a repetition COUNT `n_<name>`
(r11 verdict item 7): the number of step-events the greedy chain can
absorb — formally |{rows e : start_row < e <= match_row in
(ts, tiebreak) order, pred(e)}|, the candidate pool the relaxed chain
draws repetitions from (equal to the exact maximum repetition count
whenever the repeated step's neighbours are its chain start and match
steps — the A B+ C class the gating admits; pinned by brute force in
tests/test_properties.py). Implementation: the chain's carry becomes a
lexicographic struct MAX carrying (start_ts, count-of-step-events up
to and including the start row); the count fields are monotone in row
order, so the struct max stays the greedy max-start chain (latest
start row on ties) in BOTH engines — one running COUNT window column
per counted step, no new exchange.

Semantics summary (documented contract, what the oracle checks):
- match rows = events satisfying the LAST positive step's predicate
  for which a chain of distinct, strictly-ordered earlier events
  matches the previous steps under the declared contiguities;
- `within(T)`: chain span `match_ts - start_ts <= T` (whole-pattern
  bound, FlinkCEP's `within`);
- terminal `not_followed_by(q, within=T)`: no q-event in
  `(match_ts, match_ts + T]` (strictly-greater event time — same-ts
  events are outside the open interval);
- mid `not_followed_by(q)`: no q-event strictly between the
  surrounding steps' bound events (row order).

Output schema: `(key, match_id, match_ts, start_ts[, with_<name>...]
[, n_<name>...][, next_<neg>_ts])` — ids/timestamps of the match row
plus the chain-start timestamp (the carried value), a `with_<name>`
boolean per optional step, an `n_<name>` count per oneOrMore /
times(n, m) step, and
for terminal-negation patterns the earliest strictly-following negated
event's timestamp (NULL if none), so callers can audit the negation
decision. Streaming: the compiled plan is window algebra over event
time, so its batch-analog semantics equal the NFA's on bounded
event-time data (SURVEY §2.9 analog strategy); compile_stream() is
the unbounded-execution evidence — the same patterns, the three hand
rungs' among them, run on keyed state (streaming/stateful.py's one
keyed adapter) and equal the batch compile row for row.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

_UNITS_US = {
    "hour": 3600 * 1_000_000,
    "hours": 3600 * 1_000_000,
    "minute": 60 * 1_000_000,
    "minutes": 60 * 1_000_000,
    "second": 1_000_000,
    "seconds": 1_000_000,
    "day": 86400 * 1_000_000,
    "days": 86400 * 1_000_000,
}


def _cond(pred, etype):
    """The Column a step, negation, until() or notNext condition
    compiles to: its Column predicate, or event_type equality for an
    etype= declaration — built only when compile() reads it, so the
    builder and compile_stream touch no JVM."""
    return pred if pred is not None else F.col("event_type") == etype


def _duration_us(d) -> int:
    """'24 hours' / '30 minutes' / numeric seconds → microseconds."""
    if isinstance(d, (int, float)):
        return int(d * 1_000_000)
    n, unit = d.strip().split()
    try:
        return int(n) * _UNITS_US[unit.lower()]
    except KeyError:
        raise ValueError(f"unsupported duration unit {unit!r}") from None


@dataclass(frozen=True)
class _Step:
    name: str
    pred: object  # pyspark Column (untyped: Column isn't importable
    # cheaply); None when declared with etype= (see _cond)
    contiguity: str  # 'begin' | 'followed_by' | 'next'
    times: int = 1
    consecutive: bool = False  # internal contiguity of the times-expansion
    etype: str | None = None  # set when the predicate is an event_type
    # equality — the declarative form the STREAMING compiler needs
    # (arbitrary Columns can't be evaluated row-at-a-time in keyed state)
    optional: bool = False  # FlinkCEP .optional(): annotates, never gates
    # (see CepPattern.optional for why that is the exact semantics here)
    one_or_more: bool = False  # existence-collapsed (== times(1)) but
    # recorded: emits the n_<name> repetition-pool count and gates the
    # strict-contiguity compositions the collapse theorem excludes
    up_to: int | None = None  # FlinkCEP times(n, m): match gate is the
    # times(n) expansion (existence collapse — at-least-n ≡ exactly-n
    # under relaxed contiguity), the range's upper bound caps the
    # emitted n_<name> repetition count at m
    neg_before: tuple | None = None  # (name, pred, etype): mid-pattern
    # negated gap between the PREVIOUS step's event and this step's event
    until: tuple | None = None  # (name, pred, etype) — FlinkCEP
    # .until(condition) on a looping (oneOrMore/times(n, m)) step:
    # once a stop event occurs strictly after the chain start, no
    # further repetitions are absorbed (the stop event itself never
    # is); if it fires before the loop's first repetition, the loop
    # cannot start and the match fails (see CepPattern.until)
    not_next: tuple | None = None  # (name, pred, etype) — FlinkCEP
    # notNext(condition) AFTER this step: the event DIRECTLY following
    # this step's bound event (in (ts, tiebreak) order) must not match
    # the condition (see CepPattern.not_next)


@dataclass(frozen=True)
class _ChainSet:
    """The validated chain set CepPattern._chain_set hands to both back
    ends. `kind` is 'any_pairs' (the followedByAny pair enumeration),
    'plain' (chains[0] gates, one annotation chain per optional step),
    'enum' (the 2^k include/exclude variants of the optional steps,
    OR-gated) or 'split' (the 1-rep / >=2-rep variants of each
    both-strict oneOrMore/times(1, m) step, OR-gated). chains[0] is
    always the required-step chain with no optional included and every
    split step at one repetition; chains[-1] of an 'enum' set includes
    every optional."""

    kind: str
    chains: tuple  # step lists
    incl: tuple  # per chain: frozenset of the with_<opt> flags it includes
    flag_names: tuple  # with_<opt> per optional step, in pattern order
    counted: tuple  # oneOrMore / times(n, m) steps
    anchor_idx: int | None  # skip_to_first/last anchor copy in chains[0]


@dataclass(frozen=True)
class CepPattern:
    """Immutable builder — every combinator returns a NEW pattern, so a
    prefix can be shared and extended into several patterns safely."""

    steps: tuple = field(default_factory=tuple)
    neg: object = None  # (name, pred) terminal negation
    neg_etype: str | None = None  # declarative form of the terminal
    # negation's predicate — required by the streaming compile (r13)
    neg_within_us: int | None = None
    within_us: int | None = None
    gap_us: int | None = None  # FlinkCEP WithinType.PREVIOUS_AND_CURRENT
    # (r13): per-TRANSITION event-time bound — every consecutive pair
    # of matched events must lie within this horizon (vs within_us,
    # FIRST_AND_LAST, the whole-chain span); both may be set
    pending_neg: tuple = None  # (name, pred, etype) awaiting its next step
    skip: str = "no_skip"  # after-match strategy: 'no_skip' emits every
    # match row (the default one-row-per-match-row contract);
    # 'skip_past_last_event' keeps only greedily non-overlapping
    # matches; 'skip_to_next' forbids shared start events;
    # 'skip_to_first'/'skip_to_last' move the cursor to the accepted
    # chain's anchor-step event (see after_match_skip)
    skip_step: str | None = None  # anchor step name for skip_to_first /
    # skip_to_last (FlinkCEP's PatternName argument)

    # -- builders ---------------------------------------------------
    # Each takes EITHER an arbitrary pyspark Column predicate OR
    # `etype="view"` (event-type equality). The etype form additionally
    # enables compile_stream (the O(1)-state streaming twin needs a
    # row-evaluable predicate, not a Column).
    @staticmethod
    def _resolve(name, pred, etype):
        if pred is None and etype is None:
            raise ValueError(f"step {name!r} needs pred or etype")
        return pred

    @classmethod
    def begin(cls, name: str, pred=None, etype: str | None = None) -> "CepPattern":
        return cls(steps=(
            _Step(name, cls._resolve(name, pred, etype), "begin",
                  etype=etype),))

    def followed_by(self, name: str, pred=None,
                    etype: str | None = None) -> "CepPattern":
        """Relaxed contiguity (FlinkCEP followedBy): other events may
        sit between the previous step's event and this one. A pending
        mid-pattern negation (not_followed_by without within=) attaches
        to this step: no negated event may fall in the gap."""
        self._check_open(name)
        return replace(
            self,
            steps=self.steps + (_Step(
                name, self._resolve(name, pred, etype), "followed_by",
                etype=etype, neg_before=self.pending_neg),),
            pending_neg=None,
        )

    def next(self, name: str, pred=None,
             etype: str | None = None) -> "CepPattern":
        """Strict contiguity (FlinkCEP next): this step's event must be
        the IMMEDIATELY following event of the key. Refused directly
        after an optional()/one_or_more() step or a pending mid
        negation — the skip/collapse dominance the compiler relies on
        does not survive a LAG(1) rebinding (r11 advice; see module
        docstring)."""
        self._check_open(name)
        if self.pending_neg is not None:
            raise ValueError(
                "a mid-pattern notFollowedBy gap requires relaxed "
                "contiguity — follow it with followed_by(), not next() "
                "(a strict transition already forbids ANY intervening "
                "event, negated or not)"
            )
        # r14 (r13 verdict item 3): next() after a next()-REACHED
        # oneOrMore/times(1, m) step now compiles — with a single
        # required repetition the 1-rep match binds ONE event to both
        # strict edges while a k>=2-rep match anchors two distinct
        # events, so compile() builds an OR OF TWO CHAINS per such
        # step: the 1-rep variant (plain strict hop) and the >=2-rep
        # variant (the r13 times(2, m) both-strict expansion), gated
        # by EXISTS-any and combined by greedy max-start across
        # variants (the front end's 'split' kind, _chain_set; brute-force
        # fuzz in tests/test_properties.py).
        # r13: next() after a RELAXED-reached oneOrMore/times(n, m)
        # step is sound — the existence collapse places the single
        # collapsed copy at the LAG(1) predecessor, which is exactly
        # "the last absorbed repetition is immediately before this
        # step" (see one_or_more's docstring; brute-force fuzz in
        # tests/test_properties.py). Likewise next() after an optional
        # step (r12 verdict item 3): compile() switches to explicit
        # 2^k variant-chain enumeration — see _needs_variant_enum
        return replace(
            self,
            steps=self.steps + (_Step(
                name, self._resolve(name, pred, etype), "next",
                etype=etype),),
        )

    def times(self, n: int, m: int | None = None,
              consecutive: bool = False) -> "CepPattern":
        """The last step must occur n times (FlinkCEP times(n); relaxed
        internal contiguity by default, consecutive=True for FlinkCEP's
        .consecutive() strict form). With m given — FlinkCEP's range
        quantifier times(n, m) — matching is the times(n) expansion
        (the oneOrMore existence collapse: under relaxed contiguity
        "between n and m occurrences" matches exactly when "exactly n"
        does, extra occurrences being intervening events followedBy
        already ignores) and the output gains `n_<name>` = the greedy
        chain's repetition pool capped at m (see one_or_more for the
        pool's definition and exactness class). The collapse needs
        relaxed contiguity on both sides, so — mirroring one_or_more —
        a next()-reached step, the begin step (no preceding anchor for
        the pool span), and consecutive=True are refused with m."""
        if not self.steps:
            raise ValueError("times() requires a begin() step first")
        if self.neg is not None or self.pending_neg is not None:
            raise ValueError("times() cannot quantify a notFollowedBy step")
        if n < 1:
            raise ValueError("times(n) requires n >= 1")
        last = self.steps[-1]
        if last.one_or_more:
            raise ValueError("times() cannot re-quantify a oneOrMore step")
        if m is not None:
            if m < n:
                raise ValueError("times(n, m) requires m >= n")
            if consecutive:
                raise ValueError(
                    "times(n, m, consecutive=True) is not supported: a "
                    "variable repetition count has no single strict "
                    "LAG(k) shape — use consecutive times(n) or a "
                    "relaxed range"
                )
            # r13: a next()-REACHED times(n, m) is sound — the strict
            # LAG(1) binds the first copy, inner copies stay relaxed
            # (see one_or_more); only strict-on-both-sides refuses
            if last.contiguity == "begin":
                raise ValueError(
                    "times(n, m) on the begin step is not supported — "
                    "the repetition pool needs a preceding anchor; "
                    "begin with the event before the repeated step"
                )
            if last.optional:
                raise ValueError(
                    "times(n, m) on an optional step is not supported"
                )
        return replace(
            self,
            steps=self.steps[:-1]
            + (replace(last, times=n, consecutive=consecutive,
                       up_to=m),),
        )

    def optional(self) -> "CepPattern":
        """FlinkCEP `.optional()` on the last step — with the match
        semantics this compiler documents (emit at the last step's row,
        report the greedy max-start chain), an optional step can NEVER
        gate or move the match: the variant that skips it is strictly
        less constrained (every transition around it being relaxed —
        enforced at construction), so it matches whenever the including
        variant does and its max start dominates. Exactly like FlinkCEP
        — which emits BOTH branch matches — the information is which
        branches matched, so here the optional step ANNOTATES: the
        output gains a `with_<name>` boolean per optional step, true
        iff a chain INCLUDING that step (and every required step) also
        satisfies the pattern within its window. One extra carry chain
        per optional step (k+1 chains total, not 2^k: other optional
        steps can only hurt a variant, so each flag's best witness
        excludes them)."""
        if not self.steps:
            raise ValueError("optional() requires a begin() step first")
        if self.neg is not None or self.pending_neg is not None:
            raise ValueError("optional() cannot apply to notFollowedBy")
        last = self.steps[-1]
        if last.neg_before is not None:
            raise ValueError(
                "optional() on the step closing a negated gap is not "
                "supported (the skip variant would drop the negation)"
            )
        if last.one_or_more or last.up_to is not None:
            raise ValueError(
                "optional() on a oneOrMore/times(n, m) step is not "
                "supported — model zero-or-more as a separate optional "
                "step"
            )
        return replace(
            self,
            steps=self.steps[:-1] + (replace(self.steps[-1], optional=True),),
        )

    def one_or_more(self) -> "CepPattern":
        """FlinkCEP `oneOrMore()` — the existence-collapse theorem:
        with RELAXED internal contiguity and AT MOST ONE strict edge
        (r13 — a next()-reached oneOrMore binds its FIRST repetition
        strictly, a next()-followed one places its LAST repetition
        immediately before the following step; only strict on BOTH
        sides refuses, see next()) and emit-at-last-step semantics,
        requiring "at least n occurrences"
        of a step is equivalent to requiring EXACTLY n, because extra
        occurrences are just intervening events that followedBy already
        ignores. So A.followedBy(B).oneOrMore().followedBy(C) ≡ A→B→C
        for MATCHING; the repetition information is emitted as
        `n_<name>` — the number of step-events strictly inside the
        greedy chain's span (start_row, match_row], i.e. the pool the
        relaxed chain draws repetitions from; brute-force-pinned equal
        to the max repetition count for the adjacent (A B+ C) class.
        (FlinkCEP emits one match PER repetition subset — a
        multiplicity this engine's one-row-per-match-row contract
        deliberately folds into the count.)"""
        if not self.steps:
            raise ValueError("one_or_more() requires a begin() step first")
        if self.neg is not None or self.pending_neg is not None:
            raise ValueError("one_or_more() cannot apply to notFollowedBy")
        last = self.steps[-1]
        # r13: a next()-REACHED oneOrMore is sound — the strict LAG(1)
        # binds the FIRST repetition (FlinkCEP's semantics of
        # next(B).oneOrMore(): the group's first element follows
        # strictly), and the collapse holds because extra repetitions
        # sit after it under relaxed internal contiguity. Only
        # strict-on-BOTH-sides refuses (see next()).
        if last.contiguity == "begin":
            raise ValueError(
                "one_or_more() on the begin step is not supported — the "
                "repetition count needs a preceding anchor; begin with "
                "the event before the repeated step"
            )
        if last.times > 1 or last.up_to is not None:
            raise ValueError("one_or_more() cannot re-quantify times(n)")
        if last.optional:
            raise ValueError(
                "one_or_more() on an optional step is not supported"
            )
        return replace(
            self,
            steps=self.steps[:-1]
            + (replace(last, one_or_more=True),),
        )

    def until(self, name: str, pred=None,
              etype: str | None = None) -> "CepPattern":
        """FlinkCEP `until(condition)` on the last (looping) step —
        the stop condition that bounds an otherwise-unbounded loop
        (r15). Documented contract (exact, oracle-checkable):

        - Once a stop event occurs STRICTLY AFTER the chain start, no
          further repetitions are absorbed: the emitted `n_<name>`
          pool counts only step-events before the first stop event
          after the chain's start row (row order; the stop event
          itself is never absorbed, even when its type collides with
          the repeated step's).
        - If the stop fires before the loop's first repetition, the
          loop cannot start and the MATCH fails — each expanded copy's
          entering gap is guarded "no stop event strictly between the
          bound events", the same count-free gate mid-pattern
          notFollowedBy compiles to (latest-prefix-row dominance), so
          every bound repetition provably precedes the freeze and the
          pool is always >= the lower bound.

        Compiles as: the mid-negation gate on EVERY expanded copy's
        entering gap + one forward-looking MIN window (`nbu` = the
        repeated-step count just before each row's NEXT stop event —
        monotone in row position, so it rides the lexicographic count
        struct without disturbing greediness) + a LEAST() in the pool
        arithmetic. The rider pair (count, freeze) is ENTRY-RELATIVE
        (r16): stamped at the loop's entry event — the bound event of
        the step directly before the loop — not at the chain start,
        so a stop in an unguarded prefix gap (before the loop even
        starts) has no effect and the pool is always >= the loop's
        lower bound (the r15 start-stamping clamped it below on
        prefix patterns — FlinkCEP scopes the stop condition to the
        looping state, which opens at the entry). A terminal
        notFollowedBy COMPOSES (r15: the negation window is
        orthogonal in batch, and the causal pool rides the watermark
        hold in streaming); a both-strict OR-split elsewhere in the
        pattern COMPOSES (r16: the riders join each variant's struct
        compare); optional steps COMPOSE (r16: 2^k FULL variant
        chains with per-variant entry-stamped riders — the
        skip-variant shortcut is unsound under stop gates because
        excluding an optional widens the gated gap). Refused
        compositions (loud, mirrored in batch AND streaming so the
        parity invariant holds): a step whose entering gap already
        carries notFollowedBy (merge predicates with |),
        strict-entered loops (the gate machinery requires a relaxed
        entering edge, as mid-negation does), optional steps in a
        strict-contiguity region (the enum × counted refusal),
        after-match skip and gap bounds (counted-step refusals)."""
        if not self.steps:
            raise ValueError("until() requires a begin() step first")
        if self.neg is not None or self.pending_neg is not None:
            raise ValueError("until() cannot apply to notFollowedBy")
        last = self.steps[-1]
        if not (last.one_or_more or last.up_to is not None):
            raise ValueError(
                "until() applies to a looping step — call it after "
                "one_or_more() or times(n, m)"
            )
        if last.until is not None:
            raise ValueError(
                "this loop already carries an until() — merge the "
                "predicates into one (pred_a | pred_b)"
            )
        if last.neg_before is not None:
            raise ValueError(
                "until() on a step whose entering gap carries a "
                "notFollowedBy is not supported — merge the stop "
                "condition into the negation predicate"
            )
        if last.contiguity != "followed_by" or last.consecutive:
            raise ValueError(
                "until() requires a relaxed-entered loop (the stop "
                "gate compiles as negated gaps, which refuse strict "
                "edges)"
            )
        return replace(
            self,
            steps=self.steps[:-1]
            + (replace(last,
                       until=(name, self._resolve(name, pred, etype),
                              etype)),),
        )

    def followed_by_any(self, name: str, pred=None,
                        etype: str | None = None) -> "CepPattern":
        """FlinkCEP `followedByAny` — NON-DETERMINISTIC relaxed
        contiguity (r15): emit a match for EVERY qualifying
        (start, completion) pair, not the engine's usual greedy
        one-row-per-match-row fold. Supported for the TWO-STEP class
        `begin(a).followedByAny(b).within(T)` — all (a, b) pairs with
        a strictly earlier (row order) and span <= T — which compiles
        to a bin-bucketed range SELF-JOIN (the manufactured equi key
        keeps it off the BroadcastNestedLoopJoin cliff; output gains a
        `start_id` column since starts are enumerated, not folded).
        Deeper followedByAny chains REFUSE loudly: their match
        multiplicity is the product of per-gap candidate counts —
        combinatorial output, the same blow-up the FlinkCEP docs warn
        about — and the greedy fold that keeps every other pattern
        linear is exactly what `followedBy` already provides; use it
        unless you need the enumeration itself."""
        if not self.steps:
            raise ValueError(
                "followed_by_any() requires a begin() step first"
            )
        if self.pending_neg is not None:
            raise ValueError(
                "followed_by_any() cannot follow a dangling "
                "notFollowedBy"
            )
        return replace(
            self,
            steps=self.steps + (_Step(
                name, self._resolve(name, pred, etype),
                "followed_by_any", etype=etype,
            ),),
        )

    def not_next(self, name: str, pred=None,
                 etype: str | None = None) -> "CepPattern":
        """FlinkCEP `notNext(condition)` — negation under STRICT
        contiguity (r15): the event DIRECTLY AFTER the preceding
        step's bound event (next row in the key's (ts, tiebreak)
        order) must NOT match the condition; any event at all (or no
        event) is fine otherwise. `A.notNext(X).followedBy(B)` =
        A→B funnels where the view's immediate successor is not an X.

        Compiles to a per-row LEAD(1) flag gating the step's hit
        column — the bind simply becomes infeasible when its direct
        successor matches, so greedy dominance and every window shape
        are untouched; zero new exchanges. Streams with a ONE-ROW
        DELAYED absorption (a bind's validity is known at the next
        event; see stateful.Carry). A pattern cannot END
        in notNext (FlinkCEP refuses the same — there is no following
        step to emit at); a terminal notFollowedBy COMPOSES (r15
        same-round continuation — the held candidates are produced by
        already-validated binds); skip strategies, gap bounds and
        until() COMPOSE (r16, r15 verdict item 1 — the LEAD(1) gate
        is causal at the bind row, so batch-side it folds into the
        gated copy's predicate underneath the position-struct fold /
        bounded carries / freeze riders, and stream-side the one-row
        delayed absorption rides the skip cursors, count-gated gap
        buffers and the until machine's rider block with resolution
        before the stop freeze); the composition with optional steps
        refuses loudly in BOTH batch and streaming (parity invariant
        — each 2^k variant chain would need its own pending slot),
        and notNext on a looping step refuses (which repetition's
        successor would it gate?)."""
        if not self.steps:
            raise ValueError("not_next() requires a begin() step first")
        if self.pending_neg is not None:
            raise ValueError(
                "not_next() cannot follow a dangling notFollowedBy — "
                "close the negated gap with a positive step first"
            )
        last = self.steps[-1]
        if last.not_next is not None:
            raise ValueError(
                "this step already carries a notNext — merge the "
                "predicates into one (pred_a | pred_b)"
            )
        if last.one_or_more or last.up_to is not None:
            raise ValueError(
                "not_next() after a oneOrMore/times(n, m) step is not "
                "supported — the repetition pool absorbs events past "
                "the bound copy, so 'directly after the step' is not "
                "a single event; gate the following step instead"
            )
        if last.optional:
            raise ValueError(
                "not_next() after an optional step is not supported"
            )
        return replace(
            self,
            steps=self.steps[:-1]
            + (replace(last,
                       not_next=(name, self._resolve(name, pred, etype),
                                 etype)),),
        )

    def not_followed_by(self, name: str, pred=None, within=None,
                        etype: str | None = None) -> "CepPattern":
        """Negation (FlinkCEP notFollowedBy), two forms:

        - TERMINAL (within= given — FlinkCEP itself only allows a
          pattern to END in notFollowedBy when a time window is
          declared): the match is dropped if a `pred` event occurs in
          (match_ts, match_ts + within].
        - MID-PATTERN (within= omitted; r11 verdict item 6, generalized
          to ANY NUMBER of negated gaps in r12): the negation guards the
          gap to the NEXT followed_by step — no `pred` event strictly
          between the surrounding steps' bound events. The latest-
          prefix-row dominance CHAINS level by level (see the module
          docstring's induction: each gated carry stays the exact
          max-feasible-start and stays monotone over its non-null rows,
          which is all the next gate needs), so multiple sequential
          negated gaps compile exactly — one struct-MAX plus one
          running q-position MAX per gap, no NFA. Each gap holds ONE
          negation (merge predicates with | for "no A and no B") and
          both its neighbours must be relaxed steps — violations raise
          at construction, never mis-match silently."""
        self._check_open(name)
        pred = self._resolve(name, pred, etype)
        if within is None:
            if self.pending_neg is not None:
                raise ValueError(
                    "this gap already carries a notFollowedBy — merge "
                    "the predicates into one (pred_a | pred_b) instead "
                    "of stacking two negations on the same gap"
                )
            # etype rides along (3rd field): the streaming compile's
            # keyed-state gate needs a row-evaluable negated predicate
            return replace(self, pending_neg=(name, pred, etype))
        return replace(
            self, neg=(name, pred), neg_etype=etype,
            neg_within_us=_duration_us(within)
        )

    def within(self, duration, type: str = "first_and_last") -> "CepPattern":
        """Time bound (FlinkCEP `within(Duration, WithinType)`):

        - ``first_and_last`` (default — FlinkCEP's FIRST_AND_LAST): the
          chain's span from first to last matched event <= duration.
        - ``previous_and_current`` (r13 — FlinkCEP 1.17's
          PREVIOUS_AND_CURRENT): EVERY consecutive pair of matched
          events lies within duration — the gap bound. The max-start
          recursion stays exact (each hop's carry becomes the max over
          predecessors INSIDE the gap window — a RANGE frame over
          event-time µs plus a same-µs ROWS frame for ties, no new
          exchange), but the theorems that elide repetitions do NOT
          survive it: a repetition chain can bridge time that the
          collapsed single hop cannot, so oneOrMore/times(n, m)
          refuse; skipping an optional can merge two short gaps into
          one long one, so optional steps compile via the 2^k variant
          enumeration; mid-pattern negated gaps refuse (the
          latest-prefix-row struct would need the same bounded-window
          machinery — not yet built). Fixed times(n) is exact (every
          copy is a real hop). Both bounds may be active at once.

        Calling within() twice with the same type replaces that bound;
        the two types accumulate independently."""
        if type == "first_and_last":
            return replace(self, within_us=_duration_us(duration))
        if type == "previous_and_current":
            return replace(self, gap_us=_duration_us(duration))
        raise ValueError(
            f"unsupported WithinType {type!r} — 'first_and_last' and "
            "'previous_and_current' are implemented"
        )

    def after_match_skip(self, strategy: str,
                         step: str | None = None) -> "CepPattern":
        """FlinkCEP AfterMatchSkipStrategy (r12; skip_to_* r13 — r12
        verdict item 7). Every strategy compiles to the SAME window
        chain (the carry additionally tracks row positions) plus one
        linear per-key acceptance fold over the MATCH frame — orders of
        magnitude smaller than the event stream, so the sequential pass
        is on the cheap side of the plan. The fold scans match rows in
        (ts, tiebreak) order keeping a cursor; start-maximality makes
        each acceptance test exact on the greedy chain alone ("some
        chain satisfies the cursor bound" == "the greedy max-start
        chain does", because the greedy chain maximizes the start and
        minimizes the span simultaneously). Supported:

        - ``no_skip`` (default): every match row is emitted with its
          greedy max-start chain — the engine's one-row-per-match-row
          fold of FlinkCEP's all-matches enumeration.
        - ``skip_past_last_event``: greedily NON-OVERLAPPING matches —
          accept iff the greedy start row is after the previously
          accepted match's ROW (each event consumed by at most one
          match; billing/alerting semantics).
        - ``skip_to_next`` (r13): no two accepted matches share a START
          event — accept iff the greedy start row is strictly after
          the previously accepted match's START row (FlinkCEP: discard
          partial matches that started with the same event).
        - ``skip_to_first``/``skip_to_last`` (r13, `step=` required):
          the cursor moves to the accepted chain's event bound to the
          FIRST/LAST expanded copy of the named step; accept iff the
          greedy start row is AT or after it (FlinkCEP: discard
          partial matches that started before the first/last event
          mapped to *PatternName*). The anchor position rides the
          struct carry as a third field, set at the anchor hop; among
          chains sharing the greedy start row, the latest anchor is
          reported (the lexicographic struct max — the deterministic
          fold of FlinkCEP's per-binding enumeration). The anchor step
          may not be the begin step (FlinkCEP throws there too — the
          cursor would never advance past a start; use skip_to_next)
          and may not be optional.

        Quantifier annotations (optional flags, oneOrMore/times(n, m)
        counts) are refused with every skip strategy: their per-row
        annotation semantics don't fold into an acceptance scan."""
        strategies = ("no_skip", "skip_past_last_event", "skip_to_next",
                      "skip_to_first", "skip_to_last")
        if strategy not in strategies:
            raise ValueError(
                f"unsupported AfterMatchSkipStrategy {strategy!r} — "
                f"implemented: {strategies}"
            )
        anchored = strategy in ("skip_to_first", "skip_to_last")
        if anchored and step is None:
            raise ValueError(
                f"{strategy} requires the anchor step name "
                "(FlinkCEP's PatternName argument)"
            )
        if not anchored and step is not None:
            raise ValueError(f"{strategy} takes no anchor step")
        return replace(self, skip=strategy, skip_step=step)

    @staticmethod
    def _event_expansion(steps) -> list:
        """times-expanded [(event_type, transition, gate_etype)] for one
        chain — the declarative form the streaming machines consume.
        gate_etype is the negated type guarding the copy's entering
        gap: an until() step's stop type gates EVERY copy (a k-rep
        match needs all k repetitions before the freeze), a mid-pattern
        negation gates the FIRST copy of the step it closes (the batch
        compiler's `first and neg_before` rule), None elsewhere.
        compile_stream checks the etype= declarations first
        (_require_etypes)."""
        out = []
        for s in steps:
            neg_et = s.neg_before[2] if s.neg_before is not None else None
            u_et = s.until[2] if s.until is not None else None
            inner = "next" if s.consecutive else "followed_by"
            for k in range(s.times):
                out.append((
                    s.etype,
                    s.contiguity if k == 0 else inner,
                    u_et if u_et is not None
                    else (neg_et if k == 0 else None),
                ))
        return out

    @staticmethod
    def _until_entry_indices(steps, counted_steps) -> list:
        """Per counted step, the expanded LEVEL of the until loop's
        ENTRY event — the copy directly before the loop's first copy
        (0 for non-until steps and loop-adjacent-to-begin patterns).
        The freeze riders stamp there (r16 entry-relative freezes);
        variant chains pass their own step lists since the entry
        moves with included/excluded optionals."""
        out = []
        for c in counted_steps:
            if c.until is None:
                out.append(0)
                continue
            fi = 0
            found = 0
            for s in steps:
                for k in range(s.times):
                    if s is c and k == 0:
                        found = fi - 1
                    fi += 1
            out.append(found)
        return out

    def _not_next_expansion(self) -> tuple:
        """(event_expansion, nn_ets) for a pattern with notNext gates:
        nn_ets[i] = the notNext stop type gating expanded copy i (set
        on the LAST copy of a gated step, None elsewhere)."""
        nn = [
            s.not_next[2] if s.not_next is not None and k == s.times - 1
            else None
            for s in self.steps for k in range(s.times)
        ]
        return self._event_expansion(self.steps), nn

    def _needs_variant_enum(self) -> bool:
        """True when optional steps sit in a strict-contiguity region —
        some step AFTER the first optional enters via next(), so
        skipping an optional can rebind a LAG(1) transition and the
        skip-variant dominance shortcut is unsound. compile() then
        enumerates all 2^k include/exclude variants (the ground-truth
        semantics; provably equal to the shortcut when every adjacent
        transition is relaxed). Conservative: any next() after the
        first optional position triggers enumeration even if no strict
        transition is actually adjacent to an optional. A per-gap
        bound (within previous_and_current, r13) triggers it for ANY
        optional: skipping a step merges two gaps into one, which can
        exceed the bound the separate gaps each met — the skip variant
        is not less constrained there either."""
        opt_idx = [i for i, s in enumerate(self.steps) if s.optional]
        if not opt_idx:
            return False
        if self.gap_us is not None:
            return True
        return any(
            s.contiguity == "next" for s in self.steps[opt_idx[0] + 1:]
        )

    def _chain_set(self) -> _ChainSet:
        """The one CEP front end: every composition rule, checked once,
        and the chain set both back ends lower — compile() to window
        carries (build_chain), compile_stream() to one keyed state
        machine. Refusals are loud and identical for both compilers;
        compile_stream adds only its stream-only rules on top.

        Chain kinds (see _ChainSet):
        - 'plain': the required steps gate; one annotation chain per
          optional step (k+1 chains — the skip variant dominates when
          every transition around an optional is relaxed).
        - 'enum': all 2^k include/exclude variants of the k optional
          steps, OR-gated with greedy max-start across variants. Used
          when the skip-variant dominance is unsound: a next() after
          an optional step, a gap bound (see _needs_variant_enum), or
          an until() loop (excluding an optional widens the stop-gated
          gap: clean(a, b) implies clean(o, b), not vice versa).
        - 'split': a counted step with lower bound 1 whose entering
          and leaving transitions are both strict has no single
          times-expansion — the 1-rep match binds ONE event to both
          LAG(1) edges while a k>=2-rep match anchors two distinct
          events — so each such step splits into its 1-rep variant
          (quantifier stripped) and its >=2-rep variant (the
          times(2[, m]) both-strict expansion), OR-gated like 'enum'.
          times(1, 1) needs no split: its only variant is the 1-rep
          chain."""
        if not self.steps:
            raise ValueError("empty pattern")
        if self.pending_neg is not None:
            raise ValueError(
                f"mid-pattern notFollowedBy {self.pending_neg[0]!r} must "
                "be followed by a positive followed_by() step (to end a "
                "pattern with a negation, pass within=)"
            )
        if self.steps[-1].optional:
            raise ValueError(
                "the final step cannot be optional — it anchors the "
                "match row"
            )
        if any(s.contiguity == "followed_by_any" for s in self.steps):
            self._validate_any_pairs()
            return _ChainSet("any_pairs", (self.steps,), (frozenset(),),
                             (), (), None)
        required = [s for s in self.steps if not s.optional]
        opts = [s for s in self.steps if s.optional]
        counted = [s for s in required
                   if s.one_or_more or s.up_to is not None]
        has_nn = any(s.not_next is not None for s in self.steps)
        if has_nn and self.steps[-1].not_next is not None:
            raise ValueError(
                "a pattern cannot end in notNext (FlinkCEP refuses the "
                "same) — there is no following step to emit the match "
                "at; use a terminal notFollowedBy with a within horizon "
                "instead"
            )
        if has_nn and opts:
            raise ValueError(
                "notNext composes with plain, counted, mid-negated and "
                "terminal-negated chains, skip strategies, gap bounds "
                "and until() — its combination with optional steps is "
                "not built (each 2^k variant chain would need its own "
                "pending slot)"
            )
        if self.skip != "no_skip" and (counted or opts):
            raise ValueError(
                f"after_match_skip({self.skip!r}) does not "
                "compose with optional()/oneOrMore()/times(n, m) "
                "annotations — their per-row flags/counts don't fold "
                "into an acceptance scan"
            )
        anchor_idx = self._skip_anchor_idx()
        if self.gap_us is not None and counted:
            raise ValueError(
                "oneOrMore/times(n, m) do not compose with "
                "within(..., 'previous_and_current'): a repetition "
                "chain can bridge time the collapsed single hop "
                "cannot, so the existence collapse is unsound — "
                "use a fixed times(n)"
            )
        split = [  # positions in `required`
            i for i, s in enumerate(required)
            if s.contiguity == "next" and s.times == 1
            and (s.one_or_more or (s.up_to is not None and s.up_to >= 2))
            and i + 1 < len(required)
            and required[i + 1].contiguity == "next"
        ]
        flag_names = tuple(f"with_{o.name}" for o in opts)
        strict_opts = self._needs_variant_enum()
        if strict_opts and counted:
            raise ValueError(
                "oneOrMore/times(n, m) repetition counts do not "
                "compose with optional steps in a strict-contiguity "
                "region: the count pool is defined against the "
                "single greedy gating chain, which the 2^k variant "
                "enumeration replaces — make the optional step "
                "required or use relaxed contiguity"
            )
        if split and not strict_opts:
            if has_nn:
                raise ValueError(
                    "notNext does not compose with a both-strict "
                    "oneOrMore/times(1, m) step in the same pattern — "
                    "the OR-split streaming machine has no delayed "
                    "absorption; relax one edge of the split step"
                )
            if opts:
                raise ValueError(
                    "optional() does not compose with a both-strict "
                    "oneOrMore/times(1, m) step — each annotation "
                    "chain would itself need the OR-of-two-chains "
                    "split; make the optional step required or relax "
                    "one edge of the repetition"
                )
            if len(split) > 3:
                raise ValueError(
                    f"{len(split)} both-strict oneOrMore/times(1, m) "
                    "steps would enumerate "
                    f"{2 ** len(split)} OR-variant chains — cap is 3 "
                    "(8 chains); restructure the pattern"
                )
            chains = [
                [(replace(s, times=2) if mask >> split.index(i) & 1
                  else replace(s, one_or_more=False, times=1,
                               up_to=None))
                 if i in split else s
                 for i, s in enumerate(required)]
                for mask in range(1 << len(split))
            ]
            return _ChainSet("split", tuple(chains),
                             (frozenset(),) * len(chains), (),
                             tuple(counted), anchor_idx)
        if strict_opts or (opts and any(s.until is not None
                                        for s in self.steps)):
            if len(opts) > 6:
                raise ValueError(
                    f"{len(opts)} optional steps would enumerate "
                    f"{2 ** len(opts)} variant chains — cap is 6 "
                    "(64 chains); restructure the pattern"
                )
            masks = range(1 << len(opts))
            opt_pos = [i for i, s in enumerate(self.steps) if s.optional]
            return _ChainSet(
                "enum",
                tuple([s for i, s in enumerate(self.steps)
                       if not s.optional or mask >> opt_pos.index(i) & 1]
                      for mask in masks),
                tuple(frozenset(f for j, f in enumerate(flag_names)
                                if mask >> j & 1) for mask in masks),
                flag_names, tuple(counted), anchor_idx,
            )
        return _ChainSet(
            "plain",
            (required,) + tuple(
                [s for s in self.steps if not s.optional or s is o]
                for o in opts
            ),
            (frozenset(),) + tuple(frozenset([f]) for f in flag_names),
            flag_names, tuple(counted), anchor_idx,
        )

    def _require_etypes(self) -> None:
        """Stream-only rule: the keyed state machines evaluate every
        predicate row by row, so each step, negation, until() and
        notNext condition must be declared with etype=."""
        named = [(f"step {s.name!r}", s.etype) for s in self.steps]
        for s in self.steps:
            if s.neg_before is not None:
                named.append((f"the negation before step {s.name!r}",
                              s.neg_before[2]))
            if s.until is not None:
                named.append((f"the until() condition on step "
                              f"{s.name!r}", s.until[2]))
            if s.not_next is not None:
                named.append((f"the notNext after step {s.name!r}",
                              s.not_next[2]))
        if self.neg is not None:
            named.append(("the terminal negation", self.neg_etype))
        for what, et in named:
            if et is None:
                raise ValueError(
                    f"{what} was built from a Column predicate — "
                    "declare it with etype=... to compile for streaming"
                )

    def stream_chains(self) -> tuple:
        """(main_chain, [(flag_name, variant_chain), ...]) — the
        front end's 'plain' chain set (required steps gate; one variant
        per optional step annotates), each times-expanded by
        _event_expansion. Only the 'plain' kind without a terminal
        negation has this shape; compile_stream routes the others to
        their own machines."""
        if self.neg is not None:
            raise ValueError(
                "stream_chains() covers the causal chain set — a "
                "TERMINAL negation streams via compile_stream's "
                "watermark-delayed hold, not as a carry chain "
                "(mid-pattern negations stream fine)"
            )
        cs = self._chain_set()
        if cs.kind != "plain":
            raise ValueError({
                "any_pairs": "followedByAny patterns compile through "
                "the pair enumeration — there is no carry chain",
                "enum": "optional steps in a strict-contiguity region, "
                "under a gap bound or beside an until() loop compile "
                "via 2^k variant enumeration",
                "split": "a both-strict oneOrMore/times(1, m) step "
                "compiles as an OR of two carry chains",
            }[cs.kind] + " — stream_chains() has no single gating "
                "chain to return")
        self._require_etypes()
        main, *variants = [self._event_expansion(c) for c in cs.chains]
        return main, list(zip(cs.flag_names, variants))

    def expanded_event_steps(self) -> list:
        """The gating (required-step) chain as [(event_type,
        transition, gate_etype)] — see stream_chains for the full set
        including optional-step annotation variants."""
        return self.stream_chains()[0]

    def _skip_anchor_idx(self):
        """Expanded index in the required chain of the copy that moves
        the skip_to_first / skip_to_last cursor (the FIRST / LAST
        times-copy of the anchor step); None for unanchored
        strategies."""
        if self.skip not in ("skip_to_first", "skip_to_last"):
            return None
        required = [s for s in self.steps if not s.optional]
        names = [s.name for s in required]
        if self.skip_step not in names:
            raise ValueError(
                f"after_match_skip anchor step {self.skip_step!r} "
                f"is not a pattern step (steps: {names})"
            )
        if self.skip_step == names[0]:
            raise ValueError(
                "the after_match_skip anchor may not be the begin "
                "step — its event IS the match start, so the "
                "cursor could never advance past a start; use "
                "skip_to_next (FlinkCEP throws on the same "
                "composition)"
            )
        idx = anchor = 0
        for s in required:
            if s.name == self.skip_step:
                anchor = idx + (0 if self.skip == "skip_to_first"
                                else s.times - 1)
            idx += s.times
        return anchor

    def _validate_any_pairs(self) -> None:
        """Shared followedByAny class check (batch + streaming —
        the parity invariant)."""
        ok = (
            len(self.steps) == 2
            and self.steps[0].contiguity == "begin"
            and self.steps[1].contiguity == "followed_by_any"
            and not any(
                s.optional or s.one_or_more or s.up_to is not None
                or s.until is not None or s.neg_before is not None
                or s.not_next is not None or s.times != 1
                for s in self.steps
            )
            and self.neg is None and self.pending_neg is None
            and self.skip == "no_skip" and self.gap_us is None
        )
        if not ok:
            raise ValueError(
                "followedByAny is supported for the plain two-step "
                "class begin(a).followedByAny(b).within(T) — deeper "
                "or annotated followedByAny chains have combinatorial "
                "match multiplicity (the FlinkCEP docs warn about the "
                "same blow-up); use followedBy's greedy fold unless "
                "the enumeration itself is the point"
            )
        if self.within_us is None:
            raise ValueError(
                "followedByAny requires within() — the pair "
                "enumeration is unbounded without a horizon"
            )

    def _compile_any_pairs(self, df, key, ts, tiebreak):
        """followedByAny (r15): ALL (start, completion) pairs with the
        start strictly earlier in (ts, tiebreak) order and span within
        the horizon — a bin-bucketed range self-join (the bin trick
        manufactures an equi key: a completion's bin is the start's
        own or the next, never further, so each pair joins on exactly
        one bin; cost O(n · per-bin density), not O(n²)). The front
        end has validated the class (_validate_any_pairs)."""
        a, b = self.steps
        W = self.within_us
        s_us = F.unix_micros(F.col(ts))
        starts = df.filter(_cond(a.pred, a.etype)).select(
            F.col(key),
            F.col(tiebreak).alias("start_id"),
            F.col(ts).alias("start_ts"),
            s_us.alias("_s_us"),
            F.explode(F.array(
                F.floor(s_us / W).cast("long"),
                F.floor(s_us / W).cast("long") + 1,
            )).alias("_bin"),
        )
        ends = df.filter(_cond(b.pred, b.etype)).select(
            F.col(key),
            F.col(tiebreak).alias("match_id"),
            F.col(ts).alias("match_ts"),
            F.unix_micros(F.col(ts)).alias("_e_us"),
            F.floor(F.unix_micros(F.col(ts)) / W).cast("long")
            .alias("_bin"),
        )
        strictly_earlier = (
            (F.col("_s_us") < F.col("_e_us"))
            | ((F.col("_s_us") == F.col("_e_us"))
               & (F.col("start_id") < F.col("match_id")))
        )
        return (
            ends.join(starts, [key, "_bin"])
            .filter(strictly_earlier
                    & (F.col("_e_us") - F.col("_s_us") <= W))
            .select(key, "match_id", "match_ts", "start_id", "start_ts")
        )

    def compile_stream(self, spark, files_dir: str, sf_dir: str):
        """TRUE-STREAMING compile (readStream + applyInPandasWithState):
        the carry chains are literally a per-key state machine — per
        chain, state = the m-1 running-max carries plus the m-1
        previous-row hits (for strict transitions), O(1) per key
        regardless of stream length — so the same declarative pattern
        runs unbounded with bounded state, Flink's CEP-on-keyed-state
        shape. It lowers the same chain set as compile() (one front
        end, _chain_set), so both compilers accept and refuse the same
        compositions. The chain set becomes one stateful.Carry: every
        level carries one lexicographic tuple (start, count-at-start
        per counted step, until() freeze riders, and the start and
        anchor positions under a skip strategy), so annotation chains,
        2^k enum and OR-split variants, counts, mid-pattern negated
        gaps, notNext and until() loops all run on one ungapped machine
        (stateful.carry_scan) and emit the same `with_<name>` flags and
        `n_<name>` counts as the batch compile; a gap bound swaps in the
        gap-buffered machine (stateful.gap_scan) that keeps the same
        tuple in its buffers. The after-match skip cursor and the
        TERMINAL negation are stages of the one keyed adapter
        (stateful.cep_keyed_fn): the skip fold runs over the machine's
        candidates, and the negation holds them in keyed state until
        the watermark passes match_ts + T. Output timestamps in epoch
        µs (the stateful-twin convention). Bit-equality with the batch
        compile is pinned by pytest across micro-batch boundaries for
        every streaming surface (the terminal-negation twin's contract
        is the match set — its batch-only next_<neg>_ts audit column is
        unbounded-lookahead).

        Stream-only rules, on top of the front end's: every predicate
        is declared with etype= (keyed state evaluates it row by row),
        and the gating chain has at least 2 positive steps after
        times() expansion (a single step has no transition to carry)
        unless the pattern ends in a terminal negation: then the chain
        emits each begin row and the hold decides it, so
        begin(view).not_followed_by(purchase, within=1h) streams.
        The keyed machines also refuse event times before 1970-01-01,
        which collide with their -1 state sentinel; a terminal negation
        also refuses one at exactly 1970-01-01 00:00:00.

        Late rows under a terminal negation: Spark drops a row whose ts
        is <= the watermark in force before it reaches the keyed
        function, and counts it in numRowsDroppedByWatermark. A negated
        event that late cannot kill a held candidate, so the stream
        emits a match that the batch compile kills; the file replay's
        0 s delay assumes in-order files."""
        from . import stateful

        cs = self._chain_set()
        self._require_etypes()
        if sum(s.times for s in cs.chains[0]) < 2 and self.neg is None:
            raise ValueError(
                "compile_stream needs at least 2 positive steps (times() "
                "copies count) — a single-step pattern has no transition "
                "for keyed state to carry unless a terminal "
                "not_followed_by(within=) holds it; use compile()"
            )
        if cs.kind == "any_pairs":
            a, b = self.steps
            return stateful.cep_any_pairs_stream(
                spark, files_dir, sf_dir, a.etype, b.etype, self.within_us)
        return stateful.cep_keyed_stream(
            spark, files_dir, sf_dir, *self._keyed_stages(cs))

    def _keyed_stages(self, cs: _ChainSet) -> tuple:
        """(carry scan, hold, skip) — the arguments of
        stateful.cep_keyed_fn for this pattern's validated chain set
        (any kind but 'any_pairs'): the chain set lowered to one
        stateful.Carry, run by the gap-buffered machine under a gap
        bound and by the ungapped one otherwise; the terminal-negation
        hold ((neg etype, T) or None) and the after-match skip strategy
        (or None)."""
        from . import stateful

        skip = None if self.skip == "no_skip" else self.skip
        carry = stateful.Carry(
            [self._event_expansion(c) for c in cs.chains], self.within_us,
            counted=[(c.name, c.etype, c.up_to,
                      c.until[2] if c.until is not None else None)
                     for c in cs.counted],
            incl=cs.incl, flag_names=cs.flag_names,
            gate=cs.kind == "plain",
            entry=[self._until_entry_indices(c, cs.counted)
                   for c in cs.chains],
            nn_ets=self._not_next_expansion()[1],
            skip=skip is not None, anchor_idx=cs.anchor_idx,
        )
        scan = (stateful.carry_scan(carry) if self.gap_us is None
                else stateful.gap_scan(carry, self.gap_us))
        hold = (None if self.neg is None
                else (self.neg_etype, self.neg_within_us))
        return scan, hold, skip

    def _check_open(self, name: str) -> None:
        if not self.steps:
            raise ValueError(f"begin() must come before step {name!r}")
        if self.neg is not None:
            raise ValueError(
                "a terminal notFollowedBy closes the pattern — no step "
                "may follow it (FlinkCEP imposes the same restriction)"
            )

    # -- compiler ---------------------------------------------------
    def compile(
        self,
        df: DataFrame,
        key: str = "user_id",
        ts: str = "ts",
        tiebreak: str = "event_id",
    ) -> DataFrame:
        """Compile onto `df`, keyed by `key`, event-ordered by
        (`ts`, `tiebreak`). Returns the match frame (one row per match
        of the last positive step): (key, match_id, match_ts, start_ts
        [, with_<opt>...][, n_<rep>...][, next_<neg>_ts]). Linear per
        key: one hash exchange on the key, one sort, then a chain of
        Window operators over the SAME (partition, order) — no
        self-joins, no NFA state. (A terminal negation adds one RANGE
        window ordered by event-time microseconds: same partitioning,
        one extra in-partition sort, still zero additional
        exchanges.)"""
        cset = self._chain_set()
        if cset.kind == "any_pairs":
            return self._compile_any_pairs(df, key, ts, tiebreak)
        order = [F.col(ts), F.col(tiebreak)]
        w_order = Window.partitionBy(key).orderBy(*order)
        w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)

        # counted (oneOrMore) steps: one running-count column each,
        # shared by the gating chains' struct carries and the final n_
        # outputs. Monotone in row order, so struct MAX stays greedy.
        counted = list(cset.counted)
        skip_mode = self.skip != "no_skip"
        w_gap = w_same = None
        if self.gap_us is not None:
            # per-gap bound (within previous_and_current, r13): the
            # compositions whose theorems ELIDE events are refused by
            # the front end; everything else compiles with bounded
            # carries (see build_chain)
            # r14: mid-pattern notFollowedBy COMPOSES with the gap
            # bound — NOT via latest-prefix-row dominance (a bounded
            # carry is not monotone over non-null rows, so that
            # theorem dies), but by a COUNT-GATED bounded max:
            # feasibility of a buffered prefix-complete row b ("no
            # negated event in (b, current)") is exactly "b's
            # inclusive negated-prefix-count equals the current row's
            # strictly-before count", and that count is the MAXIMUM
            # any window row can carry — so the lexicographic
            # (q, carry) max over the gap window both DECIDES
            # feasibility (max q attains the current count iff a
            # feasible row exists) and picks the max carry among the
            # feasible rows (the q-ties). See build_chain's gated gap
            # branch; brute-force fuzz in tests/test_properties.py.
            # r14: after_match_skip COMPOSES with the gap bound — the
            # (h, sp[, ap]) position struct is orderable, so the same
            # bounded-window GREATEST that carries plain timestamps
            # carries the struct (lexicographic max = greedy chain),
            # and the acceptance fold runs unchanged over the match
            # frame (see build_chain's gap branch)
            _us = F.unix_micros(F.col(ts))
            # bounded relaxed carry = max over the gap window, split
            # into strictly-earlier-µs (RANGE frame) and same-µs
            # earlier-tiebreak (ROWS frame partitioned by (key, µs) —
            # hash(key) satisfies the clustered distribution, so this
            # adds sorts, never an exchange; plan-pinned)
            w_gap = (
                Window.partitionBy(key)
                .orderBy(_us)
                .rangeBetween(-self.gap_us, -1)
            )
            w_same = (
                Window.partitionBy(key, _us)
                .orderBy(F.col(tiebreak))
                .rowsBetween(Window.unboundedPreceding, -1)
            )
        cur = df
        cnt_cols: dict[str, str] = {}
        for k, s in enumerate(counted):
            c = f"_cep_cnt{k}"
            cur = cur.withColumn(
                c, F.count(F.when(_cond(s.pred, s.etype), F.lit(1)))
                .over(w_prev)
            )
            cnt_cols[s.name] = c
        # until() freeze values (r15): nbu(x) = the repeated-step count
        # JUST BEFORE the first stop event strictly after row x — the
        # strictly-before count is nondecreasing, so the first stop
        # after x carries the minimum among stops after x, i.e. one
        # forward-looking MIN window; nondecreasing in x, so it rides
        # the lexicographic count struct without disturbing greediness.
        # NULL (no stop follows) encodes as a huge sentinel so struct
        # comparison never reaches engine-specific NULL ordering.
        _NO_STOP = 1 << 62
        nbu_cols: dict[str, str] = {}
        w_after_rows = w_order.rowsBetween(1, Window.unboundedFollowing)
        for k, s in enumerate(counted):
            if s.until is None:
                continue
            c = f"_cep_nbu{k}"
            cur = cur.withColumn(
                c,
                F.coalesce(
                    F.min(
                        F.when(_cond(*s.until[1:]),
                               F.col(cnt_cols[s.name]))
                    ).over(w_after_rows),
                    F.lit(_NO_STOP),
                ),
            )
            nbu_cols[s.name] = c
        pos_col = None
        if skip_mode or any(s.neg_before is not None for s in self.steps) \
                or nbu_cols:
            pos_col = "_cep_pos"
            cur = cur.withColumn(pos_col, F.row_number().over(w_order))
        # notNext flags (r15): nn(x) = the DIRECTLY following event
        # matches the negated condition — one LEAD(1) per notNext, a
        # per-row hit filter that leaves every carry/window untouched
        nn_cols: dict[str, str] = {}
        for j, s in enumerate(self.steps):
            if s.not_next is not None:
                c = f"_cep_nn{j}"
                cur = cur.withColumn(
                    c,
                    F.coalesce(
                        F.lead(
                            _cond(*s.not_next[1:]).cast("boolean"), 1
                        ).over(w_order),
                        F.lit(False),
                    ),
                )
                nn_cols[s.name] = c
        nq_cols: dict[str, str] = {}
        if self.gap_us is not None:
            # count-gated bounded negation (see above): one running
            # strictly-before count of the negated predicate per gated
            # step, shared by the gate and the buffered entries
            for j, s in enumerate(self.steps):
                if s.neg_before is not None:
                    c = f"_cep_nq{j}"
                    cur = cur.withColumn(
                        c,
                        F.count(
                            F.when(_cond(*s.neg_before[1:]), F.lit(1))
                        ).over(w_prev),
                    )
                    nq_cols[s.name] = c

        def build_chain(cur, steps, prefix, with_counts, with_pos=False,
                        anchor_idx=None):
            """Materialize one hit/carry chain; expand times(n) into n
            single-occurrence transitions — the carry consumes strictly-
            earlier rows, so copies bind distinct events (relaxed → MAX
            over ub..-1, consecutive → LAG(1)). With counts, the carried
            value is a struct (h=start_ts, c0..=count-at-start) under
            the same lexicographic MAX (count fields are monotone in
            row order — ties on h resolve to the latest start row, the
            greedy chain). A step with neg_before compiles its
            transition as the gated latest-prefix-row connect (see
            module docstring: latest-row dominance). anchor_idx
            (r13, skip_to_first/skip_to_last) = the expanded index of
            the anchor copy: an `ap` field rides the struct, -1 until
            the anchor hop REPLACES it with the current row position — the
            trailing lexicographic field only breaks exact (h, sp)
            ties, i.e. chains sharing the greedy start row resolve to
            the latest anchor event. Returns (df, final carry column,
            start-extractor)."""
            expanded: list[tuple] = []  # (step, pred, trans, first, at_anchor)
            for s in steps:
                inner = "next" if s.consecutive else "followed_by"
                for k in range(s.times):
                    at_anchor = len(expanded) == anchor_idx
                    p_eff = _cond(s.pred, s.etype)
                    # notNext (r15): the LAST copy's bind is
                    # infeasible when its direct successor matches —
                    # folding the LEAD flag into the predicate leaves
                    # every carry untouched
                    if s.not_next is not None and k == s.times - 1:
                        p_eff = p_eff & ~F.col(nn_cols[s.name])
                    expanded.append(
                        (s, p_eff, s.contiguity if k == 0 else inner,
                         k == 0, at_anchor)
                    )
            use_struct = (with_counts and bool(counted)) or with_pos
            # r16 ENTRY-RELATIVE freezes: an until step's rider pair
            # (c{k}, u{k}) is stamped at the LOOP ENTRY — the bound
            # event of the copy directly before the until step's first
            # copy — not at the chain start. For the loop-adjacent
            # class (entry == start, every pre-r16 key and fuzz) the
            # two coincide; with prefix or optional steps in between,
            # start-stamping clamped the pool from a stop in an
            # UNGUARDED prefix gap (latent r15 bug: a matched loop
            # could report a pool below its lower bound — probed by
            # test_until_prefix_pool_entry_relative). entry_stamp maps
            # the expanded ENTRY index -> the counted ks to restamp
            # there; an entry at index 0 IS the begin row and
            # start_value stamps it (unchanged fast path).
            entry_stamp: dict = {}
            if with_counts:
                for k, e in enumerate(
                    self._until_entry_indices(steps, counted)
                ):
                    if e >= 1:
                        entry_stamp.setdefault(e, []).append(k)

            def start_value(row_ts):
                if not use_struct:
                    return row_ts
                late = {k for ks in entry_stamp.values() for k in ks}
                fields = [row_ts.alias("h")]
                for k, cs in (enumerate(counted) if with_counts else ()):
                    if k in late:
                        # rider stamped later, at the entry hop —
                        # constant sentinel until then (every chain at
                        # a pre-entry level shares it, so the
                        # lexicographic max is untouched)
                        fields.append(F.lit(-1).cast("long")
                                      .alias(f"c{k}"))
                        continue
                    c0 = F.col(cnt_cols[cs.name]) + F.when(
                        _cond(cs.pred, cs.etype), F.lit(1)
                    ).otherwise(F.lit(0))
                    fields.append(c0.alias(f"c{k}"))
                # until freeze values ride AFTER the counts — nbu is
                # nondecreasing in row position, so the lexicographic
                # max is still decided by (h, c0..) and stays greedy
                for k, cs in (enumerate(counted) if with_counts else ()):
                    if cs.until is not None:
                        fields.append(
                            (F.lit(-1).cast("long") if k in late
                             else F.col(nbu_cols[cs.name]))
                            .alias(f"u{k}")
                        )
                if with_pos:
                    # start ROW position rides the carry (skip mode):
                    # (h, sp) lexicographic MAX = latest start ts, ties
                    # to the latest start row — the same greedy chain
                    fields.append(F.col(pos_col).alias("sp"))
                if anchor_idx is not None:
                    fields.append(F.lit(-1).alias("ap"))
                return F.struct(*fields)

            def stamp_anchor(carry):
                # replace the carried struct's ap with this row's
                # position (null-safe: a null carry must stay null, not
                # become a struct of nulls)
                return F.when(
                    carry.isNotNull(),
                    F.struct(
                        carry["h"].alias("h"),
                        carry["sp"].alias("sp"),
                        F.col(pos_col).alias("ap"),
                    ),
                )

            def stamp_entry(carry, ks):
                # r16: replace until-step ks' rider pair with THIS
                # row's values — the row binding the loop's ENTRY
                # event (count inclusive of the row itself, nbu =
                # first-stop-after-this-row). Monotone in row
                # position, so ties on (h, earlier c's) resolve to
                # the latest entry row — a deterministic greedy
                # refinement, and the pool formula then reads
                # entry-relative values.
                fields = [carry["h"].alias("h")]
                for j, cs in enumerate(counted):
                    if j in ks:
                        fields.append(
                            (F.col(cnt_cols[cs.name]) + F.when(
                                _cond(cs.pred, cs.etype), F.lit(1)
                            ).otherwise(F.lit(0))).alias(f"c{j}")
                        )
                    else:
                        fields.append(carry[f"c{j}"].alias(f"c{j}"))
                for j, cs in enumerate(counted):
                    if cs.until is not None:
                        fields.append(
                            (F.col(nbu_cols[cs.name]) if j in ks
                             else carry[f"u{j}"]).alias(f"u{j}")
                        )
                return F.when(carry.isNotNull(), F.struct(*fields))

            prev_col = None
            for i, (s, pred, trans, first, at_anchor) in enumerate(expanded):
                # r15: an until() step gates EVERY expanded copy's
                # entering gap with the stop predicate (a k-rep match
                # needs all k repetitions before the freeze), reusing
                # the mid-negation gate; a first-copy notFollowedBy
                # gate is mutually exclusive with until (builder)
                gate_pred = None
                if first and s.neg_before is not None:
                    gate_pred = _cond(*s.neg_before[1:])
                elif s.until is not None and i > 0:
                    gate_pred = _cond(*s.until[1:])
                if i == 0:
                    hit = F.when(pred, start_value(F.col(ts)))
                elif first and s.neg_before is not None \
                        and self.gap_us is not None:
                    # count-gated BOUNDED transition (r14): entries
                    # carry (q = inclusive negated-prefix-count at b,
                    # v = b's carry); the lexicographic (q, v) max
                    # over the gap window attains q == the current
                    # strictly-before count iff some feasible b
                    # exists, and then v is the max carry among the
                    # feasible rows
                    qpred = _cond(*s.neg_before[1:])
                    nq = F.col(nq_cols[s.name])
                    entry = F.when(
                        F.col(prev_col).isNotNull(),
                        F.struct(
                            (nq + F.when(qpred, F.lit(1))
                             .otherwise(F.lit(0))).alias("q"),
                            F.col(prev_col).alias("v"),
                        ),
                    )
                    mx = F.greatest(
                        F.max(entry).over(w_gap),
                        F.max(entry).over(w_same),
                    )
                    carry = F.when(mx["q"] == nq, mx["v"])
                    if at_anchor:
                        carry = stamp_anchor(carry)
                    hit = F.when(pred, carry)
                elif gate_pred is not None:
                    # gated relaxed transition: connect to the LATEST
                    # prefix-complete row b with no negated/stop event
                    # in (b, current) — latest-b dominance (see module
                    # docstring) makes one struct MAX + one running
                    # q-position MAX exact
                    qpred = gate_pred
                    b = F.max(
                        F.when(
                            F.col(prev_col).isNotNull(),
                            F.struct(
                                F.col(pos_col).alias("p"),
                                F.col(prev_col).alias("v"),
                            ),
                        )
                    ).over(w_prev)
                    lastq = F.max(
                        F.when(qpred, F.col(pos_col))
                    ).over(w_prev)
                    gate = b.isNotNull() & (
                        lastq.isNull() | (lastq <= b["p"])
                    )
                    hit = F.when(
                        pred & gate,
                        stamp_anchor(b["v"]) if at_anchor else b["v"],
                    )
                elif self.gap_us is not None:
                    # bounded transitions (previous_and_current): the
                    # predecessor must lie inside the gap horizon.
                    # Counted combinations are refused above, so the
                    # carried value is a plain timestamp OR (skip
                    # mode, r14) the (h, sp[, ap]) position struct —
                    # both orderable, so the null-skipping GREATEST of
                    # the two window maxima stays the exact bounded-
                    # window (greedy lexicographic) max
                    if trans == "followed_by":
                        carry = F.greatest(
                            F.max(F.col(prev_col)).over(w_gap),
                            F.max(F.col(prev_col)).over(w_same),
                        )
                        if at_anchor:
                            carry = stamp_anchor(carry)
                        hit = F.when(pred, carry)
                    else:
                        gap_ok = (
                            F.unix_micros(F.col(ts))
                            - F.lag(
                                F.unix_micros(F.col(ts)), 1
                            ).over(w_order)
                        ) <= self.gap_us
                        carry = F.lag(F.col(prev_col), 1).over(w_order)
                        if at_anchor:
                            carry = stamp_anchor(carry)
                        hit = F.when(pred & gap_ok, carry)
                else:
                    carry = (
                        F.max(F.col(prev_col)).over(w_prev)
                        if trans == "followed_by"
                        else F.lag(F.col(prev_col), 1).over(w_order)
                    )
                    if at_anchor:
                        carry = stamp_anchor(carry)
                    hit = F.when(pred, carry)
                if use_struct and i in entry_stamp:
                    # the loop-entry hop: restamp the until riders
                    # with this row's entry-relative values
                    hit = stamp_entry(hit, entry_stamp[i])
                prev_col = f"{prefix}{i}"
                cur = cur.withColumn(prev_col, hit)

            def start_of(col):
                c = F.col(col)
                return c["h"] if use_struct else c

            return cur, prev_col, start_of

        def within_ok(col, start_of):
            st = start_of(col)
            if self.within_us is None:
                return st.isNotNull()
            return st.isNotNull() & (
                F.unix_micros(F.col(ts)) - F.unix_micros(st)
                <= self.within_us
            )

        # Every chain of the set is an ordinary carry chain over the
        # SAME sort/exchange. A 'plain' set's first chain gates the
        # match and the others annotate; an 'enum' or 'split' set is
        # OR-gated:
        #   match    = ANY variant completes within the window
        #   start_ts = the greedy max-start ACROSS satisfied variants —
        #              the null-skipping GREATEST of their carries,
        #              lexicographic over the (h, c0.., u..) structs
        #              (count fields are identical at equal start rows,
        #              and an unknown freeze rider is the +inf sentinel)
        #   with_<o> = ANY variant INCLUDING o completes
        # 2^k chains are window-column cost, not exchanges (the front
        # end caps k). Only the gating chains carry counts; a skip
        # strategy refuses annotations, so its set is one chain.
        plain = cset.kind == "plain"
        chain_cols, oks = [], []
        for i, chain in enumerate(cset.chains):
            cur, col, start_of = build_chain(
                cur, chain, f"_cep_c{i}_", with_counts=i == 0 or not plain,
                with_pos=skip_mode, anchor_idx=cset.anchor_idx,
            )
            if i == 0:
                gate_start = start_of
            chain_cols.append(col)
            oks.append(within_ok(col, start_of))
        if plain:
            prev_col = chain_cols[0]
        else:
            prev_col = "_cep_win"
            cur = cur.withColumn(prev_col, F.greatest(*[
                F.when(ok, F.col(c)) for ok, c in zip(oks, chain_cols)
            ]))
        flags = [
            reduce(operator.or_, [ok for ok, inc in zip(oks, cset.incl)
                                  if f in inc]).alias(f)
            for f in cset.flag_names
        ]
        match = within_ok(prev_col, gate_start)
        start_expr = gate_start(prev_col)

        rep_counts = []
        for k, s in enumerate(counted):
            # pool = s-pred events in (start_row, match_row]:
            # count-before-match (+1 if the match row itself
            # matches) minus count-up-to-and-including-start (the
            # carried c_k). With until (r15), the pool is further
            # clamped at the carried freeze value u_k = the count
            # just before the first stop event after the start —
            # LEAST(incl-count-at-match, u_k) - c_k counts exactly
            # the repetitions in (start, first-stop) ∩ (start,
            # match], and the per-copy gates guarantee it covers
            # the bound repetitions
            incl = (
                F.col(cnt_cols[s.name])
                + F.when(_cond(s.pred, s.etype), F.lit(1))
                .otherwise(F.lit(0))
            )
            if s.until is not None:
                incl = F.least(incl, F.col(prev_col)[f"u{k}"])
            pool = incl - F.col(prev_col)[f"c{k}"]
            if s.up_to is not None:
                # times(n, m): the range's upper bound caps how
                # many repetitions a match may absorb; pool >= n is
                # guaranteed (the n chained events live in the
                # span)
                pool = F.least(pool, F.lit(s.up_to))
            rep_counts.append(pool.cast("bigint").alias(f"n_{s.name}"))

        out_cols = [
            F.col(key),
            F.col(tiebreak).alias("match_id"),
            F.col(ts).alias("match_ts"),
            start_expr.alias("start_ts"),
            *flags,
            *rep_counts,
        ]
        if skip_mode:
            out_cols += [
                F.col(prev_col)["sp"].alias("_start_pos"),
                F.col(pos_col).alias("_match_pos"),
            ]
            if cset.anchor_idx is not None:
                out_cols.append(
                    F.col(prev_col)["ap"].alias("_anchor_pos")
                )
        if self.neg is not None:
            neg_name = self.neg[0]
            neg_pred = _cond(self.neg[1], self.neg_etype)
            # RANGE frame over event-time µs: events with ts STRICTLY
            # greater than the match row's — the documented open
            # interval (match_ts, match_ts+T], independent of the
            # tiebreak column at equal timestamps (r11 advice). Same
            # partitioning as the carry windows (no exchange), one
            # extra in-partition sort on the µs expression.
            w_after = (
                Window.partitionBy(key)
                .orderBy(F.unix_micros(F.col(ts)))
                .rangeBetween(1, Window.unboundedFollowing)
            )
            neg_col = f"next_{neg_name}_ts"
            cur = cur.withColumn(
                neg_col, F.min(F.when(neg_pred, F.col(ts))).over(w_after)
            )
            match = match & (
                F.col(neg_col).isNull()
                | (
                    F.unix_micros(neg_col) - F.unix_micros(F.col(ts))
                    > self.neg_within_us
                )
            )
            out_cols.append(F.col(neg_col))
        res = cur.filter(match).select(*out_cols)
        if skip_mode:
            res = _skip_fold(res, key, self.skip)
        return res


def _skip_fold(frame: DataFrame, key: str, strategy: str) -> DataFrame:
    """After-match acceptance scan (after_match_skip): greedy cursor
    fold over the MATCH frame, one rule per strategy —

    - skip_past_last_event: accept iff start > cursor; cursor := the
      accepted match's ROW position (non-overlapping matches).
    - skip_to_next (r13): accept iff start > cursor; cursor := the
      accepted chain's START position (no shared start events).
    - skip_to_first/skip_to_last (r13): accept iff start >= cursor;
      cursor := the accepted chain's ANCHOR position (matches may not
      start before the previous match's anchor event; starting AT it
      is allowed — FlinkCEP discards only what started BEFORE).

    Start-maximality makes each test exact on the greedy chain alone.
    Runs as ONE mapInPandas scan per PARTITION over the MATCH frame
    (already reduced from the event stream by the window chain): the
    upstream Window exchange guarantees every key's rows live in one
    partition, so a sortWithinPartitions((key, match_pos)) — an
    in-partition sort, no shuffle — makes the cursor fold a single
    linear pass with a reset at each key change. (r13: this replaces
    the per-key applyInPandas fold, whose ~3 ms-per-group pandas
    overhead × tens of thousands of keys dominated the whole plan at
    sf10 — 29 s of fold for 1.4 s of window chain; the partition scan
    reads the same rows in one python call per partition.) The
    sequential cost is per key and linear in its MATCH count, not its
    event count — what keeps the strategies viable at 100 TB (an NFA
    pays per event)."""
    import pandas as pd  # noqa: F401  (worker-side dependency)
    from pyspark.sql.types import StructType

    helpers = ("_start_pos", "_match_pos", "_anchor_pos")
    out_schema = StructType(
        [f for f in frame.schema.fields if f.name not in helpers]
    )
    anchored = strategy in ("skip_to_first", "skip_to_last")
    past = strategy == "skip_past_last_event"
    drop = [c for c in helpers if c in frame.columns]

    def scan(pdf_iter):
        # cursor state carries across Arrow batches WITHIN one
        # partition call (a key's rows may span batches); keys never
        # span partitions (upstream hash exchange)
        cur_key, cursor = None, -1
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            keep = []
            aps = (pdf["_anchor_pos"] if anchored
                   else pdf["_start_pos"]).to_numpy()
            for kv, sp, mp, ap in zip(
                pdf[key].to_numpy(), pdf["_start_pos"].to_numpy(),
                pdf["_match_pos"].to_numpy(), aps,
            ):
                if kv != cur_key:
                    cur_key, cursor = kv, -1
                ok = sp >= cursor if anchored else sp > cursor
                keep.append(ok)
                if ok:
                    cursor = mp if past else ap
            out = pdf[keep]
            if len(out):
                yield out.drop(columns=drop)

    return (
        frame.sortWithinPartitions(key, "_match_pos")
        .mapInPandas(scan, schema=out_schema)
    )


# Registered keys proving the compiler end-to-end against exact oracles
# on patterns NONE of the hand rungs implement; the three hand rungs'
# equivalence to their compiled forms is pinned by pytest
# (tests/test_cep_compile.py).
_CEP_CARRY = """MAX({src}) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
_CEP_LAG = """LAG({src}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"""


@register(
    "stream_cep_compile",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type = 'view' THEN ts END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h2')} END AS h3
      FROM s2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h3 AS start_ts
    FROM s3
    WHERE h3 IS NOT NULL
      AND epoch_us(ts) - epoch_us(h3) <= 172800000000::BIGINT
    """,
)
def stream_cep_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combinator driving a pattern no hand rung implements:
    `begin(view).followedBy(click).times(2).followedBy(purchase)
    .within(48h)` — view, then two distinct clicks, then purchase, all
    by one user inside 48 hours (48h because the testdata's ~10h
    per-user event spacing makes a 4-event chain span ~30h). The oracle
    unrolls the SAME carried-window algebra in SQL — each CTE is one
    carry step — so the compiler's greedy-dominance semantics are
    checked bit-exact, not just row-counted."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .times(2)
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_optional",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type = 'view' THEN ts END AS h0
      FROM events
    ), m1 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h0')} END AS hm
      FROM s0
    ), v1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS hv1
      FROM m1
    ), v2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='hv1')} END AS hv2
      FROM v1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, hm AS start_ts,
           (hv2 IS NOT NULL
            AND epoch_us(ts) - epoch_us(hv2) <= 129600000000::BIGINT)
             AS with_click
    FROM v2
    WHERE hm IS NOT NULL
      AND epoch_us(ts) - epoch_us(hm) <= 129600000000::BIGINT
    """,
)
def stream_cep_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combinator's optional-step surface: `begin(view)
    .followedBy(click).optional().followedBy(purchase).within(36h)` —
    every view→purchase pair within 36 hours, ANNOTATED with whether a
    click-including funnel also completed in the window (`with_click`).
    This is the conversion-attribution split every funnel analyst asks
    for next (assisted vs direct purchases), and it exercises the
    annotation semantics `optional()` documents: the flag chain can
    never gate or move the match (the skip variant dominates under
    greedy max-start), so the compiler runs k+1 carry chains — one
    gating, one per optional step. The oracle unrolls BOTH chains in
    SQL (m* = gating, v* = click variant) and recomputes the flag
    expression bit-exactly."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .optional()
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_midneg",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'view' THEN ts END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *,
             MAX(CASE WHEN h1 IS NOT NULL
                      THEN {{'p': pos, 'v': h1}} END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS bsel,
             MAX(CASE WHEN event_type = 'error' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lastq
      FROM s1
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase' AND bsel IS NOT NULL
                      AND (lastq IS NULL OR lastq <= bsel.p)
                     THEN bsel.v END AS h2
      FROM s2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s3
    WHERE h2 IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2) <= 129600000000::BIGINT
    """,
)
def stream_cep_midneg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MID-PATTERN negation (r11 verdict item 6): `begin(view)
    .followedBy(click).notFollowedBy(error).followedBy(purchase)
    .within(36h)` — view, then click, then purchase by one user inside
    36 hours, with NO error event strictly between the click and the
    purchase (an error-free checkout funnel — the pattern FlinkCEP
    users write for "conversion without intervening failure"). The
    compiler's latest-prefix-row dominance makes this exact without an
    NFA; the oracle unrolls the identical algebra in SQL — the struct
    MAX picks the latest prefix-complete click, the running MAX of
    error positions decides the gap, both engines comparing structs
    lexicographically."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .not_followed_by("error", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_one_or_more",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h2.h AS start_ts,
           CAST(cnt + (CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                - h2.c0 AS BIGINT) AS n_click
    FROM s2
    WHERE h2.h IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    """,
)
def stream_cep_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oneOrMore with repetition COUNTS (r11 verdict item 7):
    `begin(view).followedBy(click).oneOrMore().followedBy(purchase)
    .within(36h)` — view → one-or-more clicks → purchase inside 36
    hours, emitting `n_click` = how many click events the greedy chain
    can absorb (the engagement-intensity signal the existence flag
    alone loses; for this adjacent A B+ C class the pool count IS the
    exact maximum repetition count — brute-force-pinned in
    tests/test_properties.py). The oracle unrolls the struct-carry
    algebra in SQL: the chain start carries its click-count watermark
    through the same MAX windows (struct comparison is lexicographic
    in both engines; the count field is monotone in row order, so ties
    resolve to the same greedy chain), and n_click is the
    count-at-match minus the carried count-at-start."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_one_or_more_next",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN LAG(h1) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) END AS h2
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h2.h AS start_ts,
           CAST(cnt + (CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                - h2.c0 AS BIGINT) AS n_click
    FROM s2
    WHERE h2.h IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    """,
)
def stream_cep_one_or_more_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oneOrMore LEAVING via strict contiguity (r13 — previously a
    construction refusal): `begin(view).followedBy(click).oneOrMore()
    .next(purchase).within(36h)` — a click streak whose purchase fires
    IMMEDIATELY after the last absorbed click (the impulse-checkout
    pattern: no intervening event between the final click and the
    buy), emitting `n_click` = the streak's pool. The existence
    collapse survives ONE strict edge: the collapsed single copy at
    purchase's LAG(1) predecessor is exactly "some repetition is the
    immediately preceding event", and every pool click before it stays
    absorbable under relaxed internal contiguity. (Strict contiguity
    on BOTH sides compiles too since r14 — as an OR of two chains,
    see stream_cep_both_strict_one_or_more.) The
    oracle unrolls the same struct-count carry with a LAG final hop;
    brute-force fuzz over random streams incl. type collisions is in
    tests/test_properties.py; streams with the same O(1) keyed state
    as every counted pattern (twin pytest)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("36 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_times_range",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h2')} END AS h3
      FROM s2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h3.h AS start_ts,
           CAST(LEAST(cnt + (CASE WHEN event_type = 'click'
                                  THEN 1 ELSE 0 END)
                      - h3.c0, 4) AS BIGINT) AS n_click
    FROM s3
    WHERE h3.h IS NOT NULL
      AND epoch_us(ts) - epoch_us(h3.h) <= 172800000000::BIGINT
    """,
)
def stream_cep_times_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkCEP's RANGE quantifier times(n, m) (r12): `begin(view)
    .followedBy(click).times(2, 4).followedBy(purchase).within(48h)` —
    view, then two-to-four clicks, then purchase inside 48 hours.
    Matching is the times(2) expansion (the oneOrMore existence
    collapse: under relaxed contiguity "at least n" ≡ "exactly n", the
    range's lower bound is the only gate), and the upper bound caps the
    emitted repetition count: `n_click` = LEAST(greedy chain's click
    pool, 4) — the number of clicks a FlinkCEP match could actually
    absorb. Same one-sort/one-exchange chained-Window plan as times(n),
    plus the shared running-count column the oneOrMore counts already
    use. The oracle unrolls the identical struct-carry algebra in SQL —
    two click hops carrying the {{h, c0}} start struct, the count cap
    applied to the same pool arithmetic — so the range semantics are
    checked bit-exact."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .times(2, 4)
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_both_strict_times",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_LAG.format(src='h2')} END AS h3
      FROM s2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h3.h AS start_ts,
           CAST(LEAST(cnt + (CASE WHEN event_type = 'click'
                                  THEN 1 ELSE 0 END)
                      - h3.c0, 3) AS BIGINT) AS n_click
    FROM s3
    WHERE h3.h IS NOT NULL
      AND epoch_us(ts) - epoch_us(h3.h) <= 259200000000::BIGINT
    """,
)
def stream_cep_both_strict_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict contiguity on BOTH sides of a range quantifier (r13 —
    the n >= 2 lift): `begin(view).next(click).times(2, 3)
    .next(purchase).within(72h)` — a click burst OPENED by the event
    immediately after the view and CLOSED by the event immediately
    before the purchase (the tight-sandwich burst: no foreign event
    touches either boundary; middle clicks absorb relaxed). Sound for
    n >= 2 because the n-copy expansion anchors TWO DISTINCT events on
    the strict edges — any k >= n match keeps its first repetition at
    view+1 and its last at purchase−1 and drops middles; lower bound 1
    (oneOrMore/times(1, m) both-strict) compiles since r14 as an OR of
    two chains — see stream_cep_both_strict_one_or_more. The oracle
    unrolls LAG → relaxed carry → LAG with the {{h, c0}} count struct;
    brute-force fuzz over random streams incl. type collisions is in
    tests/test_properties.py."""
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .times(2, 3)
        .next("purchase", etype="purchase")
        .within("72 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_both_strict_one_or_more",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h1')} END AS g2
      FROM s1
    ), s3 AS (
      SELECT *,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='h1')} END AS lo,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='g2')} END AS hi
      FROM s2
    ), s4 AS (
      SELECT *,
             (lo.h IS NOT NULL AND epoch_us(ts) - epoch_us(lo.h)
                <= 259200000000::BIGINT) AS ok_lo,
             (hi.h IS NOT NULL AND epoch_us(ts) - epoch_us(hi.h)
                <= 259200000000::BIGINT) AS ok_hi
      FROM s3
    ), s5 AS (
      SELECT *, CASE WHEN ok_lo AND ok_hi THEN
                       CASE WHEN lo >= hi THEN lo ELSE hi END
                     WHEN ok_lo THEN lo
                     WHEN ok_hi THEN hi END AS win
      FROM s4
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           win.h AS start_ts,
           CAST(cnt + (CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END)
                - win.c0 AS BIGINT) AS n_click
    FROM s5 WHERE win.h IS NOT NULL
    """,
)
def stream_cep_both_strict_one_or_more(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict contiguity on BOTH sides of `oneOrMore()` (r14 — the
    LAST refusal class with a known construction, r13 verdict item 3):
    `begin(view).next(click).oneOrMore().next(purchase).within(72h)` —
    a click streak OPENED by the event immediately after the view and
    CLOSED by the event immediately before the purchase, where a
    SINGLE click may satisfy both edges at once (the one-click
    instant checkout). No single times-expansion expresses this: the
    1-rep match binds ONE event to both LAG(1) edges while a k >= 2
    match anchors two distinct events — so compile() builds an OR OF
    TWO CHAINS (the construction the old refusal message named): the
    1-rep variant `view NEXT click NEXT purchase` and the >= 2-rep
    variant `view NEXT click times(2) NEXT purchase` (the r13
    both-strict expansion), match = either completes within the
    window, start/`n_click` from the greedy max-start variant via a
    lexicographic struct GREATEST. The oracle unrolls both chains —
    LAG → LAG and LAG → carry → LAG over the shared {{h, c0}} count
    struct — and combines with the identical struct-ordering CASE.
    Brute-force fuzz over random streams incl. type collisions:
    tests/test_properties.py. Same one-exchange chained-Window plan;
    the second chain is two more window columns, not a new shuffle.
    STREAMS too (r14): compile_stream lowers it to two paired variant
    chains of the ungapped keyed machine (stateful.carry_scan — shared
    running counts, lexicographic winner), twin pytest bit-equal across
    micro-batch boundaries incl. fake-GroupState fuzz."""
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("72 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_midneg_multi",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'signup' THEN ts END AS h0
      FROM events
    ), g1 AS (
      SELECT *,
             MAX(CASE WHEN h0 IS NOT NULL
                      THEN {{'p': pos, 'v': h0}} END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS b1,
             MAX(CASE WHEN event_type = 'error' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lq1
      FROM s0
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'view' AND b1 IS NOT NULL
                      AND (lq1 IS NULL OR lq1 <= b1.p)
                     THEN b1.v END AS h1
      FROM g1
    ), g2 AS (
      SELECT *,
             MAX(CASE WHEN h1 IS NOT NULL
                      THEN {{'p': pos, 'v': h1}} END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS b2,
             MAX(CASE WHEN event_type = 'click' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lq2
      FROM s1
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase' AND b2 IS NOT NULL
                      AND (lq2 IS NULL OR lq2 <= b2.p)
                     THEN b2.v END AS h2
      FROM g2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s2
    WHERE h2 IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2) <= 172800000000::BIGINT
    """,
)
def stream_cep_midneg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE mid-pattern negations (r12 — lifts the r11 single-gap
    restriction): `begin(signup).notFollowedBy(error).followedBy(view)
    .notFollowedBy(click).followedBy(purchase).within(48h)` — signup,
    then a view with NO error strictly between, then a purchase with NO
    click strictly between, all inside 48 hours (the "clean organic
    conversion" funnel: an untroubled onboarding that converts without
    needing another interaction). The latest-prefix-row dominance
    CHAINS level by level (module docstring's induction: each gated
    carry stays the exact max-feasible-start and stays monotone over
    its non-null rows, which is precisely what the next gate's subset
    argument consumes), so N negated gaps cost one struct-MAX + one
    q-position MAX each on the SAME single sort/exchange — no NFA. The
    oracle unrolls both gated transitions in SQL; brute-force fuzz over
    random streams with both gaps negated (including adjacent-gap and
    type-overlap cases) is in tests/test_properties.py."""
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("err", etype="error")
        .followed_by("view", etype="view")
        .not_followed_by("clk", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("48 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_skip_past",
    oracle=f"""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'view'
                  THEN {{'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos
      FROM s2
      WHERE h2.h IS NOT NULL
        AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      -- next accepted after a match at mpos: the earliest candidate
      -- whose greedy chain starts strictly after it (start-maximality
      -- makes this exactly "some chain lies entirely after it")
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos > r.mpos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_skip_past(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkipStrategy.skipPastLastEvent (r12): `begin(view)
    .followedBy(click).followedBy(purchase).within(36h)` with greedily
    NON-OVERLAPPING matches — each accepted funnel's events lie
    entirely after the previous accepted funnel's purchase, so no event
    is double-counted across matches (the billing/dedup semantics;
    no_skip on the same pattern is stream_cep_funnel's shape, which
    emits every purchase row). Compiles to the same single-sort window
    chain with the start ROW POSITION riding the carry, then one linear
    per-key acceptance scan over the (small) match frame. The oracle
    replays the identical algebra in SQL: the (h, sp) struct carries,
    then greedy interval scheduling as a RECURSIVE CTE walking
    precomputed next-acceptance links (start-maximality proves
    "greedy start after previous match" == "some chain entirely after
    it", so both engines accept identical rows)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .after_match_skip("skip_past_last_event")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_skip_to_next",
    oracle=f"""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'view'
                  THEN {{'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos
      FROM s2
      WHERE h2.h IS NOT NULL
        AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      -- next accepted after a match with greedy start r.spos: the
      -- earliest candidate whose greedy start is strictly later (the
      -- greedy start is monotone in match position, so earlier rows
      -- can never qualify; start-maximality makes "greedy start after
      -- the cursor" exactly "some chain starts after it")
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos > r.spos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_skip_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkipStrategy.skipToNext (r13, r12 verdict item 7 —
    previously refused): `begin(view).followedBy(click)
    .followedBy(purchase).within(36h)` with NO TWO ACCEPTED MATCHES
    SHARING A START EVENT — FlinkCEP's "discard partial matches that
    started with the same event as the emitted match". Under this
    engine's greedy contract that is a cursor fold: accept iff the
    greedy chain's start row is strictly after the previously accepted
    match's START row (start-maximality: the greedy start is the max,
    so it clears the cursor iff any chain does), cursor := the accepted
    start. Unlike skip_past_last_event the matches may OVERLAP — only
    the start event is consumed (the attribution semantics: each
    session-opening view credited once). Same compiled shape: window
    chain with (h, sp) struct carry + one linear per-key fold over the
    match frame; the oracle replays it with a RECURSIVE CTE walking
    next-acceptance links on start positions. Streams with O(1) keyed
    state (the cursor is causal; twin pytest)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .after_match_skip("skip_to_next")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_skip_to_first",
    oracle=f"""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'view'
                  THEN {{'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id),
                        'ap': -1}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     AND {_CEP_CARRY.format(src='h0')} IS NOT NULL
                     THEN {{'h': ({_CEP_CARRY.format(src='h0')}).h,
                           'sp': ({_CEP_CARRY.format(src='h0')}).sp,
                           'ap': pos}}
                END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s1
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos, h2.ap AS apos
      FROM s2
      WHERE h2.h IS NOT NULL
        AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      -- next accepted after a match anchored at r.apos: the earliest
      -- candidate whose greedy start is AT or after the anchor (the
      -- anchor is strictly after its own start, so by start
      -- monotonicity earlier rows can never qualify)
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos >= r.apos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.apos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.apos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
      WHERE n.mpos > a.mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_skip_to_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkipStrategy.skipToFirst('click') (r13, r12 verdict
    item 7 — previously refused): `begin(view).followedBy(click)
    .followedBy(purchase).within(36h)` where after each accepted match
    the cursor moves to the matched CLICK event — FlinkCEP's "discard
    partial matches that started before the first event mapped to
    *click*"; subsequent matches may start AT it, not before. The
    anchor position rides the struct carry as a trailing lexicographic
    field stamped at the click hop (ties on the greedy start row
    resolve to the latest click — the deterministic fold of FlinkCEP's
    per-binding enumeration, documented in after_match_skip). The
    anchor may not be the begin step (refused — FlinkCEP throws on the
    same composition); skip_to_last('click') differs only in stamping
    the LAST times-copy. Oracle: the same {{h, sp, ap}} struct algebra
    with a RECURSIVE CTE walking acceptance links on c.spos >= r.apos.
    Streams with O(1) keyed state (8·(m−1)+2 longs; twin pytest)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .after_match_skip("skip_to_first", "click")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


# bounded-gap carry (within previous_and_current): the max start over
# predecessors INSIDE the gap horizon — a RANGE frame over epoch-µs
# (strictly earlier µs within {gap}) plus a same-µs earlier-tiebreak
# ROWS frame; GREATEST skips NULLs in both engines
_CEP_GAP_CARRY = """GREATEST(
  MAX({src}) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN {gap} PRECEDING AND 1 PRECEDING),
  MAX({src}) OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"""


@register(
    "stream_cep_within_gap",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type = 'view' THEN ts END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_GAP_CARRY.format(src='h0',
                                                 gap=43200000000)} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_GAP_CARRY.format(src='h1',
                                                 gap=43200000000)} END AS h2
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s2
    WHERE h2 IS NOT NULL
    """,
)
def stream_cep_within_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkCEP 1.17's `within(Duration, WithinType.PREVIOUS_AND_
    CURRENT)` (r13): `begin(view).followedBy(click)
    .followedBy(purchase).within('12 hours', 'previous_and_current')`
    — view→click→purchase where EVERY consecutive pair of matched
    events lies within 12 hours (the momentum funnel: each step must
    follow promptly, but the whole journey may span a day — the
    FIRST_AND_LAST bound cannot express this). Each hop's carry
    becomes the max start over predecessors inside the gap horizon:
    one RANGE frame over event-time µs plus one same-µs tiebreak
    frame, GREATEST-combined — the max-start recursion stays exact
    because h_i(r) = max over gap-feasible predecessors p of
    h_{{i-1}}(p) is precisely the bounded-window max, and feasibility
    at level i-1 is already folded into h_{{i-1}}. No new exchange
    (the (key, µs) tie frame's clustering is satisfied by the key
    hash; plan-pinned). The theorems that ELIDE events don't survive
    gap bounds, so oneOrMore/times(n, m) refuse, optional steps
    compile via the 2^k enum path, and (r14) mid-pattern negation and
    after-match skip both compose — the count-gated bounded max
    (stream_cep_midneg_gap) and the position struct riding the
    bounded GREATEST (stream_cep_skip_gap). r14:
    the gap compositions STREAM too — optional-under-gap as 2^k
    gap-buffered variant chains (stateful.gap_scan),
    terminal-negation+gap as the watermark hold over the buffered
    carry (stateful.gap_scan + cep_keyed_fn's hold), and even the
    triple optional+negation+gap (the variant chains feeding the
    hold); twin pytests are bit-equal
    across micro-batch boundaries incl. fake-GroupState fuzz. The
    oracle unrolls the identical bounded carries; brute-force fuzz
    incl. same-second ties and both-bounds-active patterns is in
    tests/test_properties.py."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_skip_gap",
    oracle="""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             CASE WHEN event_type = 'view'
                  THEN {'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)}
             END AS h0
      FROM events
    ), g1 AS (
      SELECT *,
             MAX(h0) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 43200000000 PRECEDING
                           AND 1 PRECEDING) AS ra1,
             MAX(h0) OVER (PARTITION BY user_id, epoch_us(ts)
                           ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS rb1
      FROM s0
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click' THEN
                  CASE WHEN ra1 IS NULL THEN rb1
                       WHEN rb1 IS NULL THEN ra1
                       WHEN ra1 >= rb1 THEN ra1 ELSE rb1 END
                END AS h1
      FROM g1
    ), g2 AS (
      SELECT *,
             MAX(h1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 43200000000 PRECEDING
                           AND 1 PRECEDING) AS ra2,
             MAX(h1) OVER (PARTITION BY user_id, epoch_us(ts)
                           ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS rb2
      FROM s1
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase' THEN
                  CASE WHEN ra2 IS NULL THEN rb2
                       WHEN rb2 IS NULL THEN ra2
                       WHEN ra2 >= rb2 THEN ra2 ELSE rb2 END
                END AS h2
      FROM g2
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos
      FROM s2
      WHERE h2.h IS NOT NULL
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos > r.mpos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_skip_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkip × the per-transition gap bound (r14 — was a
    batch refusal): `begin(view).followedBy(click).followedBy(purchase)
    .within('12 hours', 'previous_and_current')
    .after_match_skip('skip_past_last_event')` — greedily
    NON-OVERLAPPING momentum funnels (each hop within 12 hours, each
    accepted funnel entirely after the previous one's purchase). The
    lift is type-level: the bounded-window GREATEST that carries plain
    timestamps carries the (h, sp) position struct unchanged — struct
    ordering is lexicographic in both engines, so the greedy
    (max-start, latest-row) chain survives the gap bound, and the
    acceptance scan runs over the match frame exactly as the unbounded
    skip keys. Start-maximality holds per match row under gap bounds
    (the carry IS the max over gap-feasible chains), so the recursive
    next-acceptance-link replay in the oracle stays exact. The oracle
    unrolls the bounded struct carries with an explicit struct-CASE
    GREATEST (DuckDB's GREATEST is not struct-typed) and replays
    acceptance as the same recursive CTE as stream_cep_skip_past.
    Brute-force fuzz over random streams: tests/test_properties.py.
    STREAMS too (r14): the gap machine's buffers generalize to
    (h, sp[, ap]) position structs and the acceptance cursor is
    causal (stateful.gap_scan) — twin pytest bit-equal across
    micro-batch boundaries + fake-GroupState fuzz over all three
    cursor rules."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_midneg_gap",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS nq,
             CASE WHEN event_type = 'signup' THEN ts END AS h0
      FROM events
    ), e0 AS (
      SELECT *, CASE WHEN h0 IS NOT NULL THEN
          {{'q': nq + (CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END),
            'v': h0}} END AS ent0
      FROM s0
    ), g1 AS (
      SELECT *,
             MAX(ent0) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 43200000000 PRECEDING
                             AND 1 PRECEDING) AS ra1,
             MAX(ent0) OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rb1
      FROM e0
    ), c1 AS (
      SELECT *, CASE WHEN ra1 IS NULL THEN rb1
                     WHEN rb1 IS NULL THEN ra1
                     WHEN ra1 >= rb1 THEN ra1 ELSE rb1 END AS m1
      FROM g1
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'view' THEN
                  CASE WHEN m1.q = nq THEN m1.v END
                END AS h1
      FROM c1
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_GAP_CARRY.format(src='h1',
                                                 gap=43200000000)}
                END AS h2
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s2
    WHERE h2 IS NOT NULL
    """,
)
def stream_cep_midneg_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-pattern negation × the per-transition gap bound (r14 — was
    a batch refusal): `begin(signup).notFollowedBy(error)
    .followedBy(view).followedBy(purchase).within('12 hours',
    'previous_and_current')` — signup, then a view within 12 hours
    with NO error in between, then purchase within 12 hours of the
    view (the clean prompt-onboarding funnel). The latest-prefix-row
    dominance of the unbounded gate dies under gap bounds (a bounded
    carry is not monotone over non-null rows), so the gate is a
    COUNT-GATED bounded max instead: buffered entries carry
    (q = inclusive negated-prefix-count, v = carry); feasibility of a
    prefix row b ("no negated event in (b, current)") is exactly
    q(b) == the current strictly-before count, which is the MAXIMUM
    any entry can hold — so the lexicographic (q, v) window max both
    decides feasibility and returns the max carry among feasible
    rows. One extra running-count column and one struct field; same
    single sort/exchange. The oracle unrolls the identical algebra
    (struct windows + struct-CASE GREATEST + the q = nq gate);
    brute-force fuzz incl. negated/positive type collisions in
    tests/test_properties.py. STREAMS (the gap buffers gain per-entry
    counts + per-level running counts — gap_scan's count gate; twin
    pytest + fake-GroupState fuzz)."""
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_next_optional",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type = 'view' THEN ts END AS a0
      FROM events
    ), v0 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_LAG.format(src='a0')} END AS h0
      FROM base
    ), v1a AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='a0')} END AS g1
      FROM v0
    ), v1 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_LAG.format(src='g1')} END AS h1
      FROM v1a
    ), okd AS (
      SELECT *,
             (h0 IS NOT NULL
              AND epoch_us(ts) - epoch_us(h0) <= 172800000000::BIGINT)
               AS ok0,
             (h1 IS NOT NULL
              AND epoch_us(ts) - epoch_us(h1) <= 172800000000::BIGINT)
               AS ok1
      FROM v1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           GREATEST(CASE WHEN ok0 THEN h0 END,
                    CASE WHEN ok1 THEN h1 END) AS start_ts,
           ok1 AS with_click
    FROM okd
    WHERE ok0 OR ok1
    """,
)
def stream_cep_next_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT contiguity composed with optional() (r13, r12 verdict
    item 3 — previously a construction-time refusal): `begin(view)
    .next(click).optional().next(purchase).within(48h)` — a purchase
    whose immediately preceding event is a view, OR whose immediately
    preceding events are click-then-view (the one-step-checkout
    pattern: direct buy from the product page, with an optional
    interstitial click). Skipping the optional rebinds purchase's
    LAG(1) from the click to the view, so the skip variant is NOT less
    constrained and the k+1 dominance shortcut is unsound — the
    compiler enumerates both variant chains (2^k, k=1 here) and ORs
    their gates: match = either variant completes, start_ts = the
    greatest satisfied variant's start (both engines' GREATEST skips
    NULLs), with_click = the including variant completed. The oracle
    unrolls the identical two LAG chains in SQL; random-stream fuzz vs
    brute-force subsequence enumeration (strict transitions = adjacent
    positions) is in tests/test_properties.py."""
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .optional()
        .next("purchase", etype="purchase")
        .within("48 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_midneg_gap_skip",
    oracle=f"""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS nq,
             CASE WHEN event_type = 'signup'
                  THEN {{'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)}}
             END AS h0
      FROM events
    ), e0 AS (
      SELECT *, CASE WHEN h0 IS NOT NULL THEN
          {{'q': nq + (CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END),
            'v': h0}} END AS ent0
      FROM s0
    ), g1 AS (
      SELECT *,
             MAX(ent0) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 43200000000 PRECEDING
                             AND 1 PRECEDING) AS ra1,
             MAX(ent0) OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rb1
      FROM e0
    ), c1 AS (
      SELECT *, CASE WHEN ra1 IS NULL THEN rb1
                     WHEN rb1 IS NULL THEN ra1
                     WHEN ra1 >= rb1 THEN ra1 ELSE rb1 END AS m1
      FROM g1
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'view' THEN
                  CASE WHEN m1.q = nq THEN m1.v END
                END AS h1
      FROM c1
    ), g2 AS (
      SELECT *,
             MAX(h1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 43200000000 PRECEDING
                           AND 1 PRECEDING) AS ra2,
             MAX(h1) OVER (PARTITION BY user_id, epoch_us(ts)
                           ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS rb2
      FROM s1
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase' THEN
                  CASE WHEN ra2 IS NULL THEN rb2
                       WHEN rb2 IS NULL THEN ra2
                       WHEN ra2 >= rb2 THEN ra2 ELSE rb2 END
                END AS h2
      FROM g2
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos
      FROM s2
      WHERE h2.h IS NOT NULL
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos > r.mpos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_midneg_gap_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mid-pattern negation × gap bound × after-match skip (r15, r14
    verdict item 3 — the last skip composition): `begin(signup)
    .notFollowedBy(error).followedBy(view).followedBy(purchase)
    .within('12 hours', 'previous_and_current')
    .after_match_skip('skip_past_last_event')` — greedily
    NON-OVERLAPPING clean onboarding funnels: signup, a view within
    12 hours with NO error in between, purchase within 12 hours of
    the view, each accepted funnel entirely after the previous one.
    The lift is the composition of two r14 constructions: the
    count-gated bounded max (feasibility of a buffered prefix row =
    its inclusive negated-prefix-count q equals the current
    strictly-before count) now carries the (h, sp) POSITION STRUCT as
    its value field — the lexicographic (q, {{h, sp}}) window max still
    decides feasibility AND picks the greedy chain, because q
    dominates the comparison and feasible rows hold the maximal q.
    The acceptance fold then replays unchanged over the match frame.
    Same single sort/exchange; the oracle unrolls the identical
    nested-struct algebra (DuckDB MAX orders nested structs
    lexicographically too) and replays acceptance as the recursive
    next-link CTE. Brute-force fuzz incl. the terminal-negation
    QUADRUPLE: tests/test_properties.py. STREAMS (count-gated
    position-struct buffers — gap_scan; twin pytest bit-equal
    across micro-batch boundaries + fake-GroupState fuzz over all
    three cursor rules)."""
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
        .after_match_skip("skip_past_last_event")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_midneg_gap_neg",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS nq,
             CASE WHEN event_type = 'signup' THEN ts END AS h0
      FROM events
    ), e0 AS (
      SELECT *, CASE WHEN h0 IS NOT NULL THEN
          {{'q': nq + (CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END),
            'v': h0}} END AS ent0
      FROM s0
    ), g1 AS (
      SELECT *,
             MAX(ent0) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 43200000000 PRECEDING
                             AND 1 PRECEDING) AS ra1,
             MAX(ent0) OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rb1
      FROM e0
    ), c1 AS (
      SELECT *, CASE WHEN ra1 IS NULL THEN rb1
                     WHEN rb1 IS NULL THEN ra1
                     WHEN ra1 >= rb1 THEN ra1 ELSE rb1 END AS m1
      FROM g1
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'view' THEN
                  CASE WHEN m1.q = nq THEN m1.v END
                END AS h1
      FROM c1
    ), nxt AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1 FOLLOWING
                     AND UNBOUNDED FOLLOWING) AS next_purchase_ts
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h1 AS start_ts, next_purchase_ts
    FROM nxt
    WHERE h1 IS NOT NULL
      AND (next_purchase_ts IS NULL
           OR epoch_us(next_purchase_ts) - epoch_us(ts)
              > 86400000000::BIGINT)
    """,
)
def stream_cep_midneg_gap_neg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mid-pattern negation × gap bound × TERMINAL negation (r15, r14
    verdict item 3): `begin(signup).notFollowedBy(error)
    .followedBy(view).within('12 hours', 'previous_and_current')
    .notFollowedBy(purchase, within='24 hours')` — clean prompt
    onboarding (signup → view within 12 hours, no error between) that
    did NOT convert within a day: the at-risk-activation cohort. The
    causal half is r14's count-gated bounded max; the terminal half
    is the same forward RANGE window every terminal negation
    compiles to (one extra in-partition sort, zero new exchanges) —
    the two compose trivially in batch because one looks back and
    one looks forward. The oracle unrolls the identical algebra.
    Brute-force fuzz with colliding types:
    tests/test_properties.py::test_cep_midneg_gap_neg_fuzz. STREAMS
    (the count-gated gap buffers feed the watermark-delayed hold —
    feasibility is causal at the match row, so the hold is untouched;
    twin contract = the match set, the next_purchase_ts audit column
    is batch-only unbounded-lookahead; fake-timer-GroupState fuzz +
    availableNow twin in tests)."""
    pat = (
        CepPattern.begin("signup", etype="signup")
        .not_followed_by("error", etype="error")
        .followed_by("view", etype="view")
        .within("12 hours", "previous_and_current")
        .not_followed_by("purchase", etype="purchase",
                         within="24 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_opt_midneg_gap",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS nq,
             CASE WHEN event_type = 'signup' THEN ts END AS a0
      FROM events
    ), ex0 AS (
      SELECT *, CASE WHEN a0 IS NOT NULL THEN
          {{'q': nq + (CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END),
            'v': a0}} END AS enta
      FROM s0
    ), exg AS (
      SELECT *,
             MAX(enta) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 43200000000 PRECEDING
                             AND 1 PRECEDING) AS raa,
             MAX(enta) OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rba
      FROM ex0
    ), exc AS (
      SELECT *, CASE WHEN raa IS NULL THEN rba
                     WHEN rba IS NULL THEN raa
                     WHEN raa >= rba THEN raa ELSE rba END AS ma
      FROM exg
    ), exm AS (
      SELECT *, CASE WHEN event_type = 'purchase' THEN
                  CASE WHEN ma.q = nq THEN ma.v END
                END AS ha
      FROM exc
    ), inb AS (
      SELECT *, CASE WHEN event_type = 'view'
                     THEN {_CEP_GAP_CARRY.format(src='a0',
                                                 gap=43200000000)}
                END AS hb1
      FROM exm
    ), ine AS (
      SELECT *, CASE WHEN hb1 IS NOT NULL THEN
          {{'q': nq + (CASE WHEN event_type = 'error'
                            THEN 1 ELSE 0 END),
            'v': hb1}} END AS entb
      FROM inb
    ), ing AS (
      SELECT *,
             MAX(entb) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 43200000000 PRECEDING
                             AND 1 PRECEDING) AS rab,
             MAX(entb) OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rbb
      FROM ine
    ), inc AS (
      SELECT *, CASE WHEN rab IS NULL THEN rbb
                     WHEN rbb IS NULL THEN rab
                     WHEN rab >= rbb THEN rab ELSE rbb END AS mb
      FROM ing
    ), inm AS (
      SELECT *, CASE WHEN event_type = 'purchase' THEN
                  CASE WHEN mb.q = nq THEN mb.v END
                END AS hb
      FROM inc
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           GREATEST(ha, hb) AS start_ts,
           (hb IS NOT NULL) AS with_view
    FROM inm
    WHERE ha IS NOT NULL OR hb IS NOT NULL
    """,
)
def stream_cep_opt_midneg_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The optional × mid-negation × gap TRIPLE (r15, r14 verdict item
    4 — CONSTRUCTED, not refused): `begin(signup)
    .followedBy(view).optional().notFollowedBy(error)
    .followedBy(purchase).within('12 hours', 'previous_and_current')`
    — signup to purchase momentum, optionally through a view, with NO
    error in the final approach (the negation guards the gap between
    purchase's bound event and its predecessor IN EACH VARIANT: the
    view when present, the signup when skipped). The pieces existed
    in r14 and compose exactly as the verdict predicted: the 2^k
    variant enumeration (optional under a gap bound) where each
    variant chain's gated hop is the count-gated bounded max — match
    = either variant completes, start_ts = GREATEST across satisfied
    variants, with_view = the including variant completed. The
    oracle unrolls both count-gated chains against the SHARED
    running error count. Brute-force fuzz (incl. the terminal-
    negation QUADRUPLE): test_cep_opt_midneg_gap_fuzz. STREAMS (2^k
    count-gated gap chains in one keyed state tuple —
    gap_scan with per-variant bq/qc; twin pytest + fake-
    GroupState fuzz)."""
    pat = (
        CepPattern.begin("signup", etype="signup")
        .followed_by("view", etype="view").optional()
        .not_followed_by("error", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_or_split_neg",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cnt,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS h0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='h0')} END AS h1
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h1')} END AS g2
      FROM s1
    ), s3 AS (
      SELECT *,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='h1')} END AS lo,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='g2')} END AS hi
      FROM s2
    ), s4 AS (
      SELECT *,
             (lo.h IS NOT NULL AND epoch_us(ts) - epoch_us(lo.h)
                <= 259200000000::BIGINT) AS ok_lo,
             (hi.h IS NOT NULL AND epoch_us(ts) - epoch_us(hi.h)
                <= 259200000000::BIGINT) AS ok_hi
      FROM s3
    ), s5 AS (
      SELECT *, CASE WHEN ok_lo AND ok_hi THEN
                       CASE WHEN lo >= hi THEN lo ELSE hi END
                     WHEN ok_lo THEN lo
                     WHEN ok_hi THEN hi END AS win
      FROM s4
    ), nxt AS (
      SELECT *, MIN(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1 FOLLOWING
                     AND UNBOUNDED FOLLOWING) AS next_error_ts
      FROM s5
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           win.h AS start_ts,
           CAST(cnt + (CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END)
                - win.c0 AS BIGINT) AS n_click,
           next_error_ts
    FROM nxt
    WHERE win.h IS NOT NULL
      AND (next_error_ts IS NULL
           OR epoch_us(next_error_ts) - epoch_us(ts)
              > 43200000000::BIGINT)
    """,
)
def stream_cep_or_split_neg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The both-strict OR-split × TERMINAL negation (r15, r14 verdict
    item 3): `begin(view).next(click).oneOrMore().next(purchase)
    .within(72h).notFollowedBy(error, within='12 hours')` — the
    instant-checkout click streak (one click may satisfy both strict
    edges) whose purchase is NOT followed by an error within 12 hours:
    the clean-checkout cohort with its streak length. Batch: the r14
    OR-of-two-chains compile (1-rep / >= 2-rep variants, EXISTS-any
    gate, lexicographic struct GREATEST winner) plus the standard
    forward RANGE negation window — fully orthogonal, zero new
    exchanges. The oracle appends the negation window and filter to
    the r14 two-chain unroll. Brute-force fuzz with colliding
    negated/positive types: test_cep_or_split_neg_fuzz. STREAMS (r15:
    the 2-variant paired keyed machine's winner and pools are causal
    at the match row, so they ride the watermark-delayed hold —
    stateful.carry_scan + cep_keyed_fn's hold; twin contract = the match set
    without the audit column; fake-timer-GroupState fuzz +
    availableNow twin in tests)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .one_or_more()
        .next("purchase", etype="purchase")
        .within("72 hours")
        .not_followed_by("error", etype="error", within="12 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_next_optional_neg",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN event_type = 'view' THEN ts END AS a0
      FROM events
    ), v0 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_LAG.format(src='a0')} END AS h0
      FROM base
    ), v1a AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='a0')} END AS g1
      FROM v0
    ), v1 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_LAG.format(src='g1')} END AS h1
      FROM v1a
    ), okd AS (
      SELECT *,
             (h0 IS NOT NULL
              AND epoch_us(ts) - epoch_us(h0) <= 172800000000::BIGINT)
               AS ok0,
             (h1 IS NOT NULL
              AND epoch_us(ts) - epoch_us(h1) <= 172800000000::BIGINT)
               AS ok1
      FROM v1
    ), nxt AS (
      SELECT *, MIN(CASE WHEN event_type = 'error' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1 FOLLOWING
                     AND UNBOUNDED FOLLOWING) AS next_error_ts
      FROM okd
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           GREATEST(CASE WHEN ok0 THEN h0 END,
                    CASE WHEN ok1 THEN h1 END) AS start_ts,
           ok1 AS with_click,
           next_error_ts
    FROM nxt
    WHERE (ok0 OR ok1)
      AND (next_error_ts IS NULL
           OR epoch_us(next_error_ts) - epoch_us(ts)
              > 43200000000::BIGINT)
    """,
)
def stream_cep_next_optional_neg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict-contiguity optional region × TERMINAL negation (r15, r14
    verdict item 3 continuation): `begin(view).next(click).optional()
    .next(purchase).within(48h).notFollowedBy(error,
    within='12 hours')` — the one-step checkout (purchase immediately
    after the view, or immediately after a click that immediately
    follows the view) with a clean 12 hours after it. Batch: the r13
    2^k variant enumeration (skipping the optional rebinds purchase's
    LAG(1), so both variant chains run and OR) plus the forward RANGE
    negation window — orthogonal compositions, zero new exchanges.
    The oracle appends the negation window/filter to the two-LAG
    unroll. Brute-force fuzz: test_cep_enum_neg_fuzz. STREAMS (r15:
    the enum machine's OR-gated emission and flags are causal at the
    match row, so they ride the watermark-delayed hold —
    stateful.carry_scan's any-chain emission + the hold; fake-timer
    GroupState fuzz + availableNow twin in tests)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .next("click", etype="click")
        .optional()
        .next("purchase", etype="purchase")
        .within("48 hours")
        .not_followed_by("error", etype="error", within="12 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_until",
    oracle=f"""
    WITH sp AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cntb
      FROM events
    ), s0 AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'error' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lastq
      FROM sp
    ), s1 AS (
      SELECT *,
             COALESCE(
               MIN(CASE WHEN event_type = 'error' THEN cntb END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING
                       AND UNBOUNDED FOLLOWING),
               4611686018427387904) AS nbu,
             CASE WHEN event_type = 'view' THEN
               {{'h': ts,
                 'c0': cntb + (CASE WHEN event_type = 'click'
                               THEN 1 ELSE 0 END)}}
             END AS a0
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN a0 IS NOT NULL THEN
          {{'p': pos, 'v': {{'h': a0.h, 'c0': a0.c0, 'u0': nbu}}}}
        END AS ent
      FROM s1
    ), s3 AS (
      SELECT *,
             MAX(ent) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS b
      FROM s2
    ), s4 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     AND b.p IS NOT NULL
                     AND (lastq IS NULL OR lastq <= b.p)
                     THEN b.v END AS h1
      FROM s3
    ), s5 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s4
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           h2.h AS start_ts,
           CAST(LEAST(cntb + (CASE WHEN event_type = 'click'
                              THEN 1 ELSE 0 END), h2.u0)
                - h2.c0 AS BIGINT) AS n_click
    FROM s5
    WHERE h2.h IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2.h) <= 259200000000::BIGINT
    """,
)
def stream_cep_until(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkCEP `until(condition)` — the loop stop condition (r15):
    `begin(view).followedBy(click).oneOrMore().until(error)
    .followedBy(purchase).within(72h)` — the click streak a first
    error TERMINATES: purchases still convert (the step after the
    loop is unaffected), but `n_click` counts only clicks before the
    first error since the chain start, and a streak that never began
    before the error does not match at all. Documented contract (see
    CepPattern.until): the stop gates every expanded copy's entering
    gap (the mid-negation latest-prefix-row machinery, so matching
    stays NFA-free), and the pool clamps at ONE carried freeze value
    u0 = the click count just before the first error after the start
    — computed at the start row by a single forward-looking MIN
    window (the strictly-before count is nondecreasing, so the first
    stop after x holds the minimum among stops after x), nondecreasing
    in the start position, so it rides the lexicographic (h, c0)
    struct without disturbing greediness. Same one-exchange chained-
    Window plan; the oracle unrolls the identical gate + LEAST
    algebra. Brute-force fuzz over random streams with full type
    collisions (incl. stop==repeat rows sitting AT the freeze):
    tests/test_properties.py::test_cep_until_fuzz. STREAMS (r15:
    paired carries + per-level freeze riders, stop events freezing
    before the row's hits — stateful.carry_scan; twin pytest
    bit-equal across micro-batch boundaries + fake-GroupState
    fuzz)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by("click", etype="click")
        .one_or_more()
        .until("error", etype="error")
        .followed_by("purchase", etype="purchase")
        .within("72 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_until_split",
    oracle=f"""
    WITH sp AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cv,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cc
      FROM events
    ), s0 AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'error' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lastq,
             COALESCE(
               MIN(CASE WHEN event_type = 'error' THEN cv END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING
                       AND UNBOUNDED FOLLOWING),
               4611686018427387904) AS nbu
      FROM sp
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'signup' THEN
               {{'h': ts,
                 'c0': cv + (CASE WHEN event_type = 'view'
                             THEN 1 ELSE 0 END),
                 'c1': cc + (CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END),
                 'u0': nbu}}
             END AS a0
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN a0 IS NOT NULL THEN
          {{'p': pos, 'v': a0}} END AS ent
      FROM s1
    ), s3 AS (
      SELECT *,
             MAX(ent) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS b
      FROM s2
    ), s4 AS (
      SELECT *, CASE WHEN event_type = 'view'
                     AND b.p IS NOT NULL
                     AND (lastq IS NULL OR lastq <= b.p)
                     THEN b.v END AS h1
      FROM s3
    ), s5 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_LAG.format(src='h1')} END AS h2a
      FROM s4
    ), s6 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h2a')} END AS g2b
      FROM s5
    ), s7 AS (
      SELECT *,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='h2a')} END AS lo,
             CASE WHEN event_type = 'purchase'
                  THEN {_CEP_LAG.format(src='g2b')} END AS hi
      FROM s6
    ), s8 AS (
      SELECT *,
             (lo.h IS NOT NULL AND epoch_us(ts) - epoch_us(lo.h)
                <= 259200000000::BIGINT) AS ok_lo,
             (hi.h IS NOT NULL AND epoch_us(ts) - epoch_us(hi.h)
                <= 259200000000::BIGINT) AS ok_hi
      FROM s7
    ), s9 AS (
      SELECT *, CASE WHEN ok_lo AND ok_hi THEN
                       CASE WHEN lo >= hi THEN lo ELSE hi END
                     WHEN ok_lo THEN lo
                     WHEN ok_hi THEN hi END AS win
      FROM s8
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           win.h AS start_ts,
           CAST(LEAST(cv + (CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END), win.u0)
                - win.c0 AS BIGINT) AS n_view,
           CAST(cc + (CASE WHEN event_type = 'click'
                      THEN 1 ELSE 0 END)
                - win.c1 AS BIGINT) AS n_click
    FROM s9 WHERE win.h IS NOT NULL
    """,
)
def stream_cep_until_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """until() × both-strict OR-split (r16 — was refused as 'untested
    with freeze fields'; r15 verdict item 2): `begin(signup)
    .followedBy(view).oneOrMore().until(error).next(click).oneOrMore()
    .next(purchase).within(72h)` — a signup followed by a view streak
    STOPPED by the first error, then a click streak OPENED by the
    event directly after a view and CLOSED directly before the
    purchase (one click may satisfy both strict edges). The two
    machineries compose without new theory: the freeze rider u0
    (forward-MIN view-count-before-next-stop, unknown encoded as the
    2^62 sentinel) rides each OR-variant's (h, c0, c1) struct, and
    the cross-variant GREATEST compares it lexicographically AFTER
    the counts — variants tying on (h, c..) share a start row and
    hence the same u0, so the winner's pools are unambiguous. The
    oracle unrolls both variant chains (LAG → LAG and
    LAG → carry → LAG) over the shared {{h, c0, c1, u0}} struct with
    the until gate (latest-entry struct MAX + running stop-position
    MAX) and the LEAST freeze clamp. Brute-force fuzz with all five
    roles colliding:
    tests/test_properties.py::test_cep_until_or_split_fuzz. STREAMS
    (r16): one freeze-rider variant chain per quantifier expansion
    sharing running counts (stateful.carry_scan) —
    fake-GroupState fuzz incl. the terminal-negation hold +
    availableNow twin."""
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
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_until_optional",
    oracle="""
    WITH sp AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cc
      FROM events
    ), s0 AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'error' THEN pos END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lastq,
             COALESCE(
               MIN(CASE WHEN event_type = 'error' THEN cc END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING
                       AND UNBOUNDED FOLLOWING),
               4611686018427387904) AS nbu
      FROM sp
    ), va0 AS (
      SELECT *, CASE WHEN event_type = 'signup' THEN
               {'h': ts,
                'c0': cc + (CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END),
                'u0': nbu}
             END AS a0,
             CASE WHEN event_type = 'signup' THEN ts END AS b0
      FROM s0
    ), vae AS (
      SELECT *, CASE WHEN a0 IS NOT NULL THEN
          {'p': pos, 'v': a0} END AS enta
      FROM va0
    ), vab AS (
      SELECT *,
             MAX(enta) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS ba,
             MAX(b0) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS cb0
      FROM vae
    ), vb1 AS (
      SELECT *, CASE WHEN event_type = 'view' AND cb0 IS NOT NULL
                     THEN {'h': cb0,
                           'c0': cc + (CASE WHEN event_type = 'click'
                                       THEN 1 ELSE 0 END),
                           'u0': nbu}
                END AS r1
      FROM vab
    ), vbe AS (
      SELECT *, CASE WHEN r1 IS NOT NULL THEN
          {'p': pos, 'v': r1} END AS entb
      FROM vb1
    ), vbb AS (
      SELECT *,
             MAX(entb) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS bb
      FROM vbe
    ), hh AS (
      SELECT *,
             CASE WHEN event_type = 'click' AND ba.p IS NOT NULL
                  AND (lastq IS NULL OR lastq <= ba.p)
                  THEN ba.v END AS h1a,
             CASE WHEN event_type = 'click' AND bb.p IS NOT NULL
                  AND (lastq IS NULL OR lastq <= bb.p)
                  THEN bb.v END AS h1b
      FROM vbb
    ), cf AS (
      SELECT *,
             CASE WHEN event_type = 'purchase'
                  THEN MAX(h1a) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) END AS h2a,
             CASE WHEN event_type = 'purchase'
                  THEN MAX(h1b) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) END AS h2b
      FROM hh
    ), fin AS (
      SELECT *,
             (h2a.h IS NOT NULL AND epoch_us(ts) - epoch_us(h2a.h)
                <= 259200000000::BIGINT) AS ok_a,
             (h2b.h IS NOT NULL AND epoch_us(ts) - epoch_us(h2b.h)
                <= 259200000000::BIGINT) AS ok_b
      FROM cf
    ), win AS (
      SELECT *, CASE WHEN ok_a AND ok_b THEN
                       CASE WHEN h2a >= h2b THEN h2a ELSE h2b END
                     WHEN ok_a THEN h2a
                     WHEN ok_b THEN h2b END AS w
      FROM fin
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts,
           w.h AS start_ts,
           CAST(LEAST(cc + (CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END), w.u0)
                - w.c0 AS BIGINT) AS n_click,
           ok_b AS with_view
    FROM win WHERE w.h IS NOT NULL
    """,
)
def stream_cep_until_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """until() × optional (r16 — was refused as needing per-variant
    stop gates and freeze fields; r15 verdict item 8): `begin(signup)
    .followedBy(view).optional().followedBy(click).oneOrMore()
    .until(error).followedBy(purchase).within(72h)` — signup, an
    optionally-viewed product, a click streak stopped by the first
    error, a purchase. The k+1 annotation-chain shortcut is UNSOUND
    here: under stop gates the exclude variant is MORE constrained
    (its gated gap (signup, click) contains the skipped (view, click)
    gap), so an error between signup and view kills only the exclude
    chain and the match exists ONLY through the optional step. Both
    the match gate and the pools therefore enumerate the 2^k variants
    — full counted chains with gates and ENTRY-RELATIVE freeze riders
    (r16: the rider stamps at the loop's entry event, signup or view
    per variant — the per-variant freeze the r15 refusal named) —
    combined by the OR-split lexicographic GREATEST; with_view = the
    including variant completes. Brute-force fuzz with 5 colliding
    roles, optional before AND after the loop:
    tests/test_properties.py::test_cep_until_optional_fuzz. STREAMS
    (r16): the 2^k variants run as freeze-rider chains of one
    machine with include flags (stateful.carry_scan);
    fake-GroupState fuzz + availableNow twin."""
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
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_not_next",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COALESCE(LEAD(event_type = 'error') OVER
                        (PARTITION BY user_id ORDER BY ts, event_id),
                      FALSE) AS nn,
             CASE WHEN event_type = 'view' THEN ts END AS raw0
      FROM events
    ), s1 AS (
      SELECT *, CASE WHEN raw0 IS NOT NULL AND NOT nn
                     THEN raw0 END AS h0
      FROM s0
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_CARRY.format(src='h0')} END AS h1
      FROM s1
    ), s3 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_CARRY.format(src='h1')} END AS h2
      FROM s2
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s3
    WHERE h2 IS NOT NULL
      AND epoch_us(ts) - epoch_us(h2) <= 129600000000::BIGINT
    """,
)
def stream_cep_not_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlinkCEP `notNext(condition)` — negation under STRICT
    contiguity (r15): `begin(view).notNext(error).followedBy(click)
    .followedBy(purchase).within(36h)` — view→click→purchase funnels
    whose view was NOT immediately followed by an error (the
    clean-first-impression funnel: the very next thing the user saw
    after the view was not a failure). Unlike notFollowedBy (no
    negated event anywhere in a gap/horizon), notNext constrains ONE
    position — the direct successor in the key's (ts, tiebreak)
    order — so it compiles to a per-row LEAD(1) flag folded into the
    step's predicate: an invalid bind simply never enters the carry,
    greedy dominance and the single-exchange window chain are
    untouched. A pattern cannot end in notNext (FlinkCEP refuses the
    same). The oracle unrolls the identical LEAD gate + carries.
    Brute-force fuzz across the allowed chain class (plain, counted,
    mid-negated; colliding types):
    tests/test_properties.py::test_cep_not_next_fuzz. STREAMS (r15:
    one-row DELAYED ABSORPTION — a bind parks in a pending keyed-state
    slot until its direct successor delivers the verdict, surviving
    micro-batch boundaries; strict hops and downstream gates read
    only valid binds — stateful.carry_scan; twin pytest +
    fake-GroupState fuzz incl. the verdict event landing on the other
    side of the batch split)."""
    pat = (
        CepPattern.begin("view", etype="view")
        .not_next("error", etype="error")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_not_next_skip",
    oracle="""
    WITH RECURSIVE s0 AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COALESCE(LEAD(event_type = 'error') OVER
                        (PARTITION BY user_id ORDER BY ts, event_id),
                      FALSE) AS nn,
             CASE WHEN event_type = 'view'
                  THEN {'h': ts,
                        'sp': ROW_NUMBER() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)}
             END AS raw0
      FROM events
    ), sg AS (
      SELECT *, CASE WHEN raw0 IS NOT NULL AND NOT nn
                     THEN raw0 END AS h0
      FROM s0
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN MAX(h0) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) END AS h1
      FROM sg
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN MAX(h1) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) END AS h2
      FROM s1
    ), cand AS (
      SELECT user_id, event_id, ts, pos AS mpos,
             h2.h AS start_ts, h2.sp AS spos
      FROM s2
      WHERE h2.h IS NOT NULL
        AND epoch_us(ts) - epoch_us(h2.h) <= 129600000000::BIGINT
    ), fst AS (
      SELECT user_id, MIN(mpos) AS mpos FROM cand GROUP BY user_id
    ), lnk AS (
      SELECT r.user_id, r.mpos, MIN(c.mpos) AS next_mpos
      FROM cand r JOIN cand c
        ON c.user_id = r.user_id AND c.spos > r.mpos
      GROUP BY r.user_id, r.mpos
    ), acc AS (
      SELECT c.user_id, c.event_id, c.ts, c.mpos, c.start_ts
      FROM cand c JOIN fst f
        ON c.user_id = f.user_id AND c.mpos = f.mpos
      UNION ALL
      SELECT n.user_id, n.event_id, n.ts, n.mpos, n.start_ts
      FROM acc a
      JOIN lnk l ON l.user_id = a.user_id AND l.mpos = a.mpos
      JOIN cand n ON n.user_id = l.user_id AND n.mpos = l.next_mpos
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, start_ts
    FROM acc
    """,
)
def stream_cep_not_next_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """notNext × AfterMatchSkip (r16 — was an r15 refusal, r15 verdict
    item 1): `begin(view).notNext(error).followedBy(click)
    .followedBy(purchase).within(36h)
    .after_match_skip('skip_past_last_event')` — greedily
    NON-OVERLAPPING clean-first-impression funnels (each accepted
    funnel entirely after the previous one's purchase, and no funnel
    whose view was immediately followed by an error). The lift is
    free at the plan level: the LEAD(1) gate folds into the begin
    step's predicate BELOW the (h, sp) position-struct carry, so
    gated binds simply never enter the struct MAX and the acceptance
    fold runs over exactly the valid candidate set — same single
    sort/exchange, no new window. The oracle unrolls the gated struct
    carries and replays acceptance as the recursive
    next-acceptance-link CTE of stream_cep_skip_past. Brute-force
    fuzz (all four strategies × gate position):
    tests/test_properties.py::test_cep_not_next_skip_fuzz. STREAMS
    (r16): the one-row delayed absorption parks (ts, sp, ap, pos) in
    pending state slots riding carry_scan's causal cursor —
    fake-GroupState fuzz + availableNow twin."""
    pat = (
        CepPattern.begin("view", etype="view")
        .not_next("error", etype="error")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("36 hours")
        .after_match_skip("skip_past_last_event")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_not_next_gap",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id, event_id, event_type, ts,
             COALESCE(LEAD(event_type = 'error') OVER
                        (PARTITION BY user_id ORDER BY ts, event_id),
                      FALSE) AS nn,
             CASE WHEN event_type = 'view' THEN ts END AS raw0
      FROM events
    ), sg AS (
      SELECT *, CASE WHEN raw0 IS NOT NULL AND NOT nn
                     THEN raw0 END AS h0
      FROM s0
    ), s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                     THEN {_CEP_GAP_CARRY.format(src='h0',
                                                 gap=43200000000)} END AS h1
      FROM sg
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                     THEN {_CEP_GAP_CARRY.format(src='h1',
                                                 gap=43200000000)} END AS h2
      FROM s1
    )
    SELECT user_id, event_id AS match_id, ts AS match_ts, h2 AS start_ts
    FROM s2
    WHERE h2 IS NOT NULL
    """,
)
def stream_cep_not_next_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """notNext × within(..., 'previous_and_current') (r16 — was an r15
    refusal, r15 verdict item 1): `begin(view).notNext(error)
    .followedBy(click).followedBy(purchase).within('12 hours',
    'previous_and_current')` — momentum funnels (every hop within 12
    hours) whose view was NOT immediately followed by an error. The
    LEAD(1) gate prunes binds BEFORE they enter the bounded-window
    carries, so the gap GREATEST runs over valid starts only — the
    gate is causal at the bind row, orthogonal to the horizon. The
    oracle unrolls the gated bounded carries (RANGE + same-µs tiebreak
    frames, GREATEST-combined). Brute-force fuzz (strict/relaxed
    transitions × gate position × mid-negation):
    tests/test_properties.py::test_cep_not_next_gap_fuzz. STREAMS
    (r16): a gated level PARKS its (row_ts, start[, q]) entry in a
    one-row pending slot that joins the horizon-pruned gap buffers at
    the next event — absorb if the gate clears, drop otherwise
    (stateful.gap_scan nn handling); fake-GroupState fuzz + the
    availableNow twin pin bit-equality across micro-batch
    boundaries."""
    pat = (
        CepPattern.begin("view", etype="view")
        .not_next("error", etype="error")
        .followed_by("click", etype="click")
        .followed_by("purchase", etype="purchase")
        .within("12 hours", "previous_and_current")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )


@register(
    "stream_cep_followed_by_any",
    oracle="""
    SELECT e.user_id, e.event_id AS match_id, e.ts AS match_ts,
           s.event_id AS start_id, s.ts AS start_ts
    FROM events e JOIN events s ON s.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND s.event_type = 'view'
      AND (epoch_us(s.ts) < epoch_us(e.ts)
           OR (epoch_us(s.ts) = epoch_us(e.ts)
               AND s.event_id < e.event_id))
      AND epoch_us(e.ts) - epoch_us(s.ts) <= 3600000000::BIGINT
    """,
)
def stream_cep_followed_by_any(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FlinkCEP `followedByAny` — NON-DETERMINISTIC relaxed
    contiguity (r15): `begin(view).followedByAny(purchase)
    .within(1h)` — EVERY (view, purchase) pair per user with the view
    strictly earlier (row order) and at most an hour older, one
    output row per pair (`start_id` joins the schema because starts
    are enumerated, not greedily folded — the attribution join every
    "which views could have driven this purchase" analysis wants).
    Compiles as a bin-bucketed range SELF-JOIN: starts explode into
    their own and the next `within`-width bin, completions join on
    (user, bin) — each pair lands in exactly one bin, so the plan is
    a shuffled hash join at O(n · per-bin density) instead of the
    quadratic BroadcastNestedLoopJoin the naive theta join plans;
    the oracle IS that quadratic formulation. Deeper followedByAny
    chains refuse loudly (combinatorial multiplicity — the blow-up
    the FlinkCEP docs warn about; followedBy's greedy fold is the
    linear alternative). STREAMS as a WATERMARKED STREAM-STREAM
    INTERVAL SELF-JOIN (stateful.cep_any_pairs_stream): state ∝ one
    horizon of starts per key, the enumeration's inherent memory —
    twin pytest bit-equal across micro-batch boundaries."""
    pat = (
        CepPattern.begin("view", etype="view")
        .followed_by_any("purchase", etype="purchase")
        .within("1 hour")
    )
    return pat.compile(
        table(spark, sf_dir, "events"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
    )
