"""Deduplication operators for LLM training-data pipelines (SURVEY §2.11).

The provided corpus has no duplicate texts (verified), so each operator
first builds a duplicate-rich corpus DETERMINISTICALLY inside the query
(original docs ∪ synthesized copies with offset ids — mirrored exactly
in the oracle SQL). The dedup logic itself never sees the synthesis.

Scale design:
- exact dedup: hash-groupBy on sha256(text) — one shuffle on a 32-byte
  key regardless of document size; keep-first by min(doc_id).
- near-dup: char-5-shingles → K=12 MinHash signatures (int64-min over
  12 independent 20-bit lanes sliced from two salted md5 digests per
  shingle — a valid min-wise scheme and expressible identically in
  SQL) → 4 LSH bands of 3 → band-equality self-join proposes candidate
  pairs → exact token-Jaccard verifies. NEVER an all-pairs O(n²) join:
  the only self-join is on band hash, whose buckets stay tiny at any
  corpus size (that is the whole point of LSH at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import round_robin, table
from ..registry import register

# deterministic duplicate synthesis: every 7th doc gets an exact copy,
# every 5th doc a near-copy with a small appended suffix
CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text || ' zq xw' AS text
    FROM documents WHERE doc_id % 5 = 0
"""


def _checked_doc_id():
    """doc_id guarded against fixture-id-space overflow: the corpus
    syntheses relabel copies at +1e6/+2e6 (CORPUS_SQL) and excerpts at
    +3e6 (CONTAIN_CORPUS_SQL), so a source doc_id >= 1e6 would silently
    collide with a synthesized id — and the differential gate CANNOT
    catch that class of bug, because the oracle replays the same
    arithmetic and both engines corrupt identically (the embedding twin
    of this bug was found at the measured 100x scale point, see
    llm_semdedup). Fail loudly at read time instead."""
    return F.when(F.col("doc_id") < 1000000, F.col("doc_id")).otherwise(
        F.raise_error(
            "documents fixture overflow: doc_id >= 1000000 collides with "
            "the synthesized duplicate id space (+1e6/+2e6 offsets)"
        ).cast("long")
    )


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        _checked_doc_id().alias("doc_id"), "text"
    )
    exact_copies = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    near_copies = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zq xw")).alias("text"),
        )
    )
    return d.unionByName(exact_copies).unionByName(near_copies)


def _char_kgram_structs(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos0, t): every k-char window of each doc's text as a
    struct of the k aligned slice columns t.c0..t.c{k-1} — the shared
    zipped-slice core of char_kgrams / char_kgram_ids (guide §2.4 /
    §4.1: split / slice / arrays_zip stay whole-stage codegen where the
    transform(sequence(...), i -> substring(...)) lambda is interpreted
    per element). (?s) DOTALL in the split so line terminators split
    like any other char — the BPE ops' per-char idiom. Docs shorter
    than k produce no rows, exactly like the oracles' naturally-empty
    range()."""
    n = F.size("cs")
    return (
        d.filter(F.length("text") >= k)
        .select("doc_id", F.split("text", "(?s)(?!^)(?=.)").alias("cs"))
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    *[
                        F.slice("cs", F.lit(i + 1), n - (k - 1)).alias(f"c{i}")
                        for i in range(k)
                    ]
                )
            ).alias("pos0", "t"),
        )
    )


def char_kgrams(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos0, g): every k-char window of each doc's text,
    0-based start position. THE one definition of char-gram windows —
    the MinHash pipeline, the prefix-filter dedup and the winnowing
    fingerprints all gram through it (the containment blocker uses the
    hashed-id view, char_kgram_ids).

    r16 shape (guide §2.4 / §4.1, zipped slices via
    _char_kgram_structs; measured 0.8× warm, 0.5× cold on the sf0.1
    5-gram pass; row-identical output, symdiff 0). Precondition: the
    slice columns are never NULL (split() yields no null elements), so
    the concat_ws re-assembly is exact — a caller feeding nullable
    array sources would get silently shortened grams (concat_ws skips
    NULLs) instead of an error."""
    return _char_kgram_structs(d, k).select(
        "doc_id",
        "pos0",
        F.concat_ws("", *[F.col(f"t.c{i}") for i in range(k)]).alias("g"),
    )


def char_kgram_ids(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, g): every k-char window of each doc's text as a 64-bit
    gram id — xxhash64 over the k slice columns directly, never
    re-assembling the string (r17; at k=8 the concat_ws over the 8-wide
    struct cost more than the interpreted lambda it replaced, which is
    why r16 left the containment gram pass alone). The char
    decomposition of a gram is unique (fixed one-char fields), so two
    gram ids differ unless xxhash64 collides: P ≈ V²/2⁶⁵ over a
    vocabulary of V distinct grams — ~5·10⁻⁸ at sf0.1 (V ≈ 10⁶) and
    still ≪ 1 expected corrupted candidate at a 10¹²-gram corpus (a
    collision must additionally land crosswise inside one candidate
    pair to perturb a count). Use for gram-set BLOCKING / counting
    stages whose downstream verify tolerates that bound; keep
    char_kgrams for anything that must surface the gram text."""
    return _char_kgram_structs(d, k).select(
        "doc_id",
        F.xxhash64(*[F.col(f"t.c{i}") for i in range(k)]).alias("g"),
    )


@register(
    "llm_dedup_exact",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies,
           sha256(text) AS text_hash
    FROM corpus GROUP BY sha256(text)
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 content hash → keep lowest doc_id per hash.
    One row per distinct text with its keeper and multiplicity."""
    c = dup_corpus(spark, sf_dir)
    return c.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_id", "n_copies", "text_hash")


# ---- MinHash + LSH near-dup --------------------------------------------

# MinHash/LSH parameters — CONFIG, not architecture. (the band-join plan
# is identical at any setting). Sizing rule for 100 TB: with b bands of
# r rows the candidate threshold is ~(1/b)^(1/r); keep expected band
# bucket occupancy O(100) by raising r (sharper threshold, fewer false
# candidates) and b (recall) together — e.g. 16 bands × 8 rows (K=128)
# for a 10^9-doc corpus. The exact-Jaccard verification stage makes the
# OUTPUT insensitive to these: only candidate recall/cost moves.
_K = 12  # minhash lanes (disjoint md5 bit-field family, int64-min)
_BAND = 3  # rows per band -> 4 bands
_SHINGLE = 5  # char shingle width
_JACCARD_MIN = 0.5  # exact-verification threshold on token jaccard

# Per-shingle hashing is the pipeline's hot loop (|corpus| × ~chars rows
# feed it), so the K lanes are sliced out of TWO md5 digests per shingle
# instead of computing K independent salted md5s: lane i is hex digits
# [5·(i%6), 5·(i%6)+5) of md5(str(i//6) || sh), parsed as a 20-bit
# int64. Disjoint bit-fields of a digest are independent uniform
# functions of the shingle, so the 12 lanes are as independent as 12
# salted hashes — the property LSH banding needs. (The cheaper
# Kirsch-Mitzenmacher family h1 + i·h2 was tried first and REJECTED by
# measurement: its lanes share two degrees of freedom, so whichever
# shingle achieves the min tends to win ALL lanes at once and whole
# bands match together — band collision probability collapses from s³
# toward s, and on this borderline-dense corpus the verified pair set
# ballooned 47× at sf0.01, exploding verify cost. Independence across
# lanes within a band is load-bearing.) 20-bit lanes keep chance
# min-value collisions negligible (~n_shingles/2^20 per lane, cubed per
# band). vs K salted md5s this is 2 digests + 12 substr-parses + 12
# int-min comparisons per shingle row, and the signature shuffle
# carries int64s instead of 32-char strings. Measured A/B in SCALE.md.
_LANE_HEX = 5  # hex digits per lane -> 20-bit lane values
_LANES_PER_DIGEST = 32 // _LANE_HEX  # 6
_N_DIGESTS = (_K + _LANES_PER_DIGEST - 1) // _LANES_PER_DIGEST  # 2


def _lane_sql(i: int) -> str:
    start = (i % _LANES_PER_DIGEST) * _LANE_HEX + 1
    return (
        f"('0x' || substr(d{i // _LANES_PER_DIGEST}, {start}, {_LANE_HEX}))"
        "::BIGINT"
    )


# The full MinHash+LSH+Jaccard pipeline as CTEs ending in `pairs`, shared
# by the near-dup oracle and the clusters oracle (which adds a recursive
# connected-components closure on top).
_NEAR_CTES = f"""corpus AS ({CORPUS_SQL}),
    shingles AS (
      SELECT doc_id, substr(text, i, {_SHINGLE}) AS sh
      FROM corpus, LATERAL (SELECT UNNEST(range(1, len(text) - {_SHINGLE - 2}))) t(i)
    ),
    hashes AS (
      SELECT doc_id,
             {", ".join(f"md5('{d}' || sh) AS d{d}" for d in range(_N_DIGESTS))}
      FROM shingles
    ),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"MIN({_lane_sql(i)}) AS s{i}" for i in range(_K))}
      FROM hashes GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + ", ".join(f"s{_BAND * b + j} AS k{j}" for j in range(_BAND))
        + " FROM sigs"
        for b in range(_K // _BAND)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND {" AND ".join(f"a.k{j} = b.k{j}" for j in range(_BAND))}
       AND a.doc_id < b.doc_id
    ),
    toks AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM corpus
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    candf AS (
      SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(LEAST(sa.n, sb.n) AS DOUBLE)
              >= GREATEST(sa.n, sb.n) * {_JACCARD_MIN}
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.na, c.nb, COUNT(*) AS ni
      FROM candf c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b, c.na, c.nb
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS jaccard
      FROM inter
      WHERE CAST(ni AS DOUBLE) / (na + nb - ni) >= {_JACCARD_MIN}
    )"""
# `pairs` is MATERIALIZED in the literal (not patched in per-oracle):
# the clusters oracle references it from verts AND edges, and DuckDB's
# default inlining would re-run the whole minhash pipeline per
# reference; for the single-reference oracles it is a harmless hint.


def _near_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash+LSH+Jaccard pipeline as a lazy plan (see
    llm_dedup_near for semantics).

    Deliberately LAZY end-to-end — measured at the 10x scale point,
    both materialization alternatives LOSE to the single-DAG lazy plan
    (68.6 s): .persist() of the sig/token intermediates costs
    InMemoryRelation columnar encode/decode plus an AQE planning
    barrier (284 s vs 210 s even pre-repartition), and staging them
    through localCheckpoint serializes the DAG into three jobs AND
    strips statistics (ExistingRDD has none), silently turning the
    downstream broadcast joins into shuffle joins (128.5 s). The lazy
    diamond re-derives the corpus per branch in the LOGICAL plan, but
    at runtime AQE exchange reuse collapses the identical subtrees; at
    100 TB the corpus would arrive pre-partitioned and the signature
    table would be staged to a real table, not executor memory."""
    # the six lineage branches below (band-join sides, toks, sizes)
    # hang off this one exchange
    corpus = round_robin(dup_corpus(spark, sf_dir))

    # Signatures: explode shingles once, compute the two salted digests
    # per shingle row and slice all K lanes out as plain WIDE int64
    # columns (regular expressions → whole-stage codegen, unlike
    # higher-order transform() lambdas which are interpreted per
    # element), then ONE partial-aggregating groupBy takes the K
    # elementwise minima. vs the naive shape this avoids the K×
    # crossJoin row blowup and one of two aggregation shuffles; the
    # map-side combine reduces each partition to one row per doc before
    # the exchange. The digests are materialized in their own projection
    # so the six lane-parses provably share one digest each (no reliance
    # on codegen subexpression elimination).
    # Shingle windows come from the shared char_kgrams helper (short
    # docs produce no rows there, matching the oracle's naturally-empty
    # range()); position is unused here and pruned.
    shingles = char_kgrams(corpus, _SHINGLE).select(
        "doc_id", F.col("g").alias("sh")
    )
    digests = shingles.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(str(d)), F.col("sh"))).alias(f"d{d}")
            for d in range(_N_DIGESTS)
        ],
    )
    lanes = digests.select(
        "doc_id",
        *[
            F.conv(
                F.substring(
                    f"d{i // _LANES_PER_DIGEST}",
                    (i % _LANES_PER_DIGEST) * _LANE_HEX + 1,
                    _LANE_HEX,
                ),
                16,
                10,
            )
            .cast("long")
            .alias(f"h{i}")
            for i in range(_K)
        ],
    )
    sigs = lanes.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"s{i}") for i in range(_K)]
    )
    # All bands from one pass over sigs (explode, not a 4-way union that
    # would re-derive sigs per branch). The band key is the raw int64
    # lane triple — joining on three 8-byte ints beats hashing them into
    # a band digest first (no per-doc md5, and the shuffle hashes the
    # ints directly).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                *[
                    F.col(f"s{_BAND * b + j}").alias(f"k{j}")
                    for j in range(_BAND)
                ],
            )
            for b in range(_K // _BAND)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("x")).select(
        "doc_id",
        F.col("x.band_id").alias("band_id"),
        *[F.col(f"x.k{j}").alias(f"k{j}") for j in range(_BAND)],
    )

    # name-based equi-join on (band_id, k0..k2): both sides derive from
    # the same plan, so attribute-based conditions would be ambiguous
    band_key = ["band_id"] + [f"k{j}" for j in range(_BAND)]
    left = bands.toDF("doc_a", *band_key)
    right = bands.toDF("doc_b", *band_key)
    cand = (
        left.join(right, band_key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # r17 session 3 (§2.3 — shuffle keys, not payloads): the verify
    # join only COUNTS shared tokens, so the token is hashed to an
    # xxhash64 long before the distinct/verify stages — every shuffle
    # and comparison below moves 8-byte ints instead of strings (the
    # same move, with the same documented collision bound, that
    # containment/ngram/decontaminate made in this round; the oracle
    # replays string-token Jaccard, so a collision would FAIL the
    # board rather than hide).
    toks = (
        corpus.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .select("doc_id", F.xxhash64("t").alias("tok"))
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # LENGTH PREFILTER (the standard MinHash candidate cut, r5 verdict
    # item 3): J(A,B) = ni/(na+nb-ni) <= min(na,nb)/max(na,nb), so any
    # pair whose token-count ratio is below the threshold can NEVER
    # verify — drop it BEFORE the token-explode verify join, which is
    # the dominant stage at 10x/100x (each surviving pair costs
    # O(na+nb) exploded join rows there, vs O(1) here). Joining sizes
    # onto the slim candidate list also lets the final Jaccard reuse
    # na/nb carried through the verify aggregation, deleting the two
    # post-agg size joins the old plan needed. Provably identical pair
    # set; the oracle applies the same bound in its candf CTE.
    cand_sized = cand.join(sa, "doc_a").join(sb, "doc_b").filter(
        F.least("na", "nb").cast("double")
        >= F.greatest("na", "nb") * _JACCARD_MIN
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand_sized.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return inter.filter(jac >= _JACCARD_MIN).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "llm_dedup_near",
    oracle=f"""
    WITH {_NEAR_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: MinHash+LSH candidates, token-Jaccard
    verified. The hash pipeline (two salted md5 digests per shingle,
    twelve 20-bit lanes sliced from their hex, integer min) is
    reimplemented verbatim in the oracle, so the check is end-to-end
    deterministic (SURVEY §7 hard item 2)."""
    return _near_pairs_plan(spark, sf_dir)


# Prefix-filtering threshold: char-shingle Jaccard, the similarity the
# whole LSH family measures. 0.8 is the standard production near-dup
# cut AND the regime where prefix filtering shines: each doc posts only
# p = n − ⌈t·n⌉ + 1 ≈ 0.2·n of its shingles. (Token-level Jaccard was
# tried first and rejected by measurement: this corpus's tiny token
# vocabulary makes half of ALL doc pairs token-similar at 0.5 — 166k
# ground-truth pairs at sf0.01 — while char-5-gram Jaccard is sharp:
# 238 pairs, stable from t=0.5 through 0.8.)
_PREFIX_JACCARD = 0.8
# The same threshold as an exact rational (num, den): every BOUND in the
# prefix/size/positional filters is computed in integer arithmetic from
# this pair, never in floats (r8 advice: alpha = ceil((na+nb)*0.8/1.8)
# in doubles strictly OVERESTIMATES the true ceil(4*(na+nb)/9) for ~8.7k
# of the first 400k size sums — first at na+nb=63 — silently rejecting
# true pairs whose Jaccard is exactly t and breaking the exact-recall
# contract). ceil(a/b) over nonneg ints is (a + b - 1) div b.
_PREFIX_T_NUM, _PREFIX_T_DEN = 4, 5
assert _PREFIX_JACCARD == _PREFIX_T_NUM / _PREFIX_T_DEN


@register(
    "llm_dedup_near_prefix",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_SHINGLE}) AS s
      FROM corpus,
           LATERAL (SELECT UNNEST(range(1, len(text) - {_SHINGLE - 2}))) t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    co AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
    FROM co
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= {_PREFIX_JACCARD}
    """,
)
def llm_dedup_near_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-recall near-duplicate pairs via PREFIX FILTERING (AllPairs /
    PPJoin family, Bayardo et al. 2007 shape) — the deterministic
    alternative to llm_dedup_near's MinHash+LSH on the same char-shingle
    similarity: instead of banded signatures (probabilistic recall),
    each document posts only the FIRST p = n − ⌈t·n⌉ + 1 ≈ (1−t)·n of
    its distinct shingles under one global total order (document
    frequency ascending, rarest first; ties by shingle), and the
    candidate join runs on those prefix postings. The prefix theorem
    guarantees any pair with shingle-Jaccard ≥ t shares at least one
    prefix shingle, so after the exact-Jaccard verify the output is the
    TRUE pair set at t = 0.8 — what no LSH parameterization can
    certify. SCALE.md round-5 named candidate-side filtering the next
    lever beyond the banded join; round 8 ships it as its own operator
    because the two contracts differ (LSH: bounded cost, tunable
    recall, any threshold; prefix: exact recall, df-shaped cost,
    cheapest at high thresholds).

    Scale — the three stacked PPJoin-family filters, each measured on
    the sf0.1 rung where the naive AllPairs form fell over:
    1. PREFIX (Bayardo 2007): post p = n − ⌈t·n⌉ + 2 rarest shingles
       (the +2 is the c=2 extended prefix, below). 1.38M shingle rows
       → 280k postings, Σdf² 89M at sf0.1.
    2. SIZE: J ≥ t ⟹ min(n)/max(n) ≥ t, applied inside the posting
       join (sizes ride the postings). Alone this still left 5.3M
       candidate pairs — each costing O(na+nb) exploded verify rows,
       a ~4·10⁹-row verify join (the >10-min wall that forced this
       redesign).
    3. c=2 COMMON-PREFIX + POSITIONAL (Xiao 2008 shape): a qualifying
       pair must share ≥ min(2, α) prefix shingles (sound because with
       overlap o ≥ α, the c-th smallest common shingle sits within
       both (n − α + c)-prefixes, and under the size filter α ≥ t·n
       per doc), AND the LAST-order shared prefix shingle at ranks
       (ra*, rb*) bounds the whole overlap (r17, tightened from the
       r8 first-match bound): per-doc ranks restrict the one global
       (df, sid) order, so a common shingle ordered AFTER the last
       shared prefix shingle has rank > ra* in a and > rb* in b (at
       most min(na − ra*, nb − rb*) of them), while a common shingle
       ordered BEFORE it has ranks < ra* ≤ p_a and < rb* ≤ p_b — i.e.
       it lies in BOTH prefixes and is itself one of the s counted
       shared prefix shingles. Hence o ≤ s + min(na − ra*, nb − rb*),
       checked against α = ⌈t/(1+t)·(na+nb)⌉. This bound dominates
       the first-match bound 1 + min(na − ra₁, nb − rb₁): the s
       shared ranks increase consistently in both docs, so
       ra* ≥ ra₁ + s − 1 and rb* ≥ rb₁ + s − 1, giving
       s + min(na − ra*, nb − rb*) ≤ 1 + min(na − ra₁, nb − rb₁).
       All of it is computed in the SAME aggregate that replaces the
       candidate distinct — the Σdf² join rows flow through codegen
       into the group-by and never reach the verify join unless they
       survive.

    The ORACLE is deliberately NOT a replay of this machinery: it is
    ground-truth all-pairs shingle Jaccard (feasible at oracle scale),
    so the differential actually tests the no-missed-pairs claims of
    all three filters — an unsound bound hash-mismatches instead of
    mirroring itself green (unlike the LSH op, whose candidate set is
    parameter-defined and must be replayed)."""
    corpus = round_robin(dup_corpus(spark, sf_dir))
    sh = (
        char_kgrams(corpus, _SHINGLE)
        .select("doc_id", F.col("g").alias("s"))
        .distinct()
    )
    # r16 (guide §2.3 — shuffle keys, not payloads): dictionary-encode
    # every shingle to one LONG before the heavy stages, so the posting
    # self-join (Σdf² rows), the rank window, and the verify arrays all
    # move/compare 8-byte integers instead of 5-char strings. The
    # mapping is injective (id = bucket·2^40 + rank-within-bucket over
    # the distinct-shingle set) and deterministic under retry (xxhash64
    # bucket + row_number ordered by the shingle itself), built with a
    # per-bucket window — never a global sort. Exactness: an injective
    # recode preserves every set intersection/size, and the prefix
    # theorem only needs SOME global total order — (df, sid) is one,
    # exactly as (df, s) was.
    #
    # r17 scale guards (r16 verdict item 3 / ADVICE item 1):
    # - the bucket count is parallelism-derived, not the fixed 64 (at
    #   100 TB the 5-gram vocabulary on a wide charset is millions-plus
    #   and a 64-partition window under-parallelizes the dictionary
    #   build; any bucket count yields the same final pairs — it only
    #   permutes the (df, sid) tie-break order).
    # - the forced broadcast is CONF-GATED: at a vocabulary beyond the
    #   broadcast ceiling set spark.sparkflow.dedup.dictBroadcast=false
    #   and the recode becomes a plain equi-join the planner/AQE sizes
    #   from runtime stats (shuffle join at scale). The default stays
    #   the hint because the no-hint plan was MEASURED slower here —
    #   AQE's conversion still materializes the probe-side shuffle
    #   write first (1.15× interleaved at sf0.1) — and a counted-vocab
    #   gate would re-scan the corpus for the count. Both paths are
    #   pinned row-identical by test_prefix_dict_broadcast_gate_paths.
    #   (Also measured and REJECTED here: folding the df count into the
    #   dictionary groupBy to drop the separate df_sh stages — bimodal
    #   9–50 s at sf0.1, the planner flips the recode join's build side
    #   to the 1.38M-row gram table; see OPTIMIZATION_r17.md ledger.)
    par = spark.sparkContext.defaultParallelism
    nbkt = min(1 << 22, max(64, 4 * par))  # sid = bkt·2^40 + rk < 2^63
    wd = Window.partitionBy("bkt").orderBy("s")
    sdict = (
        sh.select("s")
        .distinct()
        .withColumn("bkt", F.pmod(F.xxhash64("s"), F.lit(nbkt)))
        .withColumn("rk", F.row_number().over(wd))
        .select(
            "s",
            (F.col("bkt") * F.lit(1 << 40) + F.col("rk")).alias("sid"),
        )
    )
    bcast = (
        spark.conf.get("spark.sparkflow.dedup.dictBroadcast", "true")
        == "true"
    )
    sdict_side = F.broadcast(sdict) if bcast else sdict
    sh = sh.join(sdict_side, "s").select("doc_id", "sid")
    df_sh = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    # r17 (guide §2.4 — remove shuffles outright): ONE groupBy(doc_id)
    # collecting the sorted (df, sid) struct array replaces THREE
    # doc_id-keyed passes — the sizes groupBy, the row_number window
    # (its own Exchange + Sort), and the verify-array groupBy. Rank is
    # recovered as 1 + position in the sorted array (sort_array orders
    # structs lexicographically = the window's (df, sid) order; sid is
    # distinct per doc, so ranks are unique), n = array size, and the
    # verify array is transform(ps, x -> x.sid) — array_intersect is a
    # hash probe, so it needs the distinct elements, not sid order.
    docs = (
        sh.join(df_sh, "sid")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "sid"))).alias("ps")
        )
        .withColumn("n", F.size("ps"))
    )
    # c=2 extended prefix: +2 instead of +1 so requiring two shared
    # prefix shingles stays sound (see docstring filter 3). ⌈t·n⌉ in
    # exact integers: (num·n + den − 1) div den.
    num, den = _PREFIX_T_NUM, _PREFIX_T_DEN
    prefix = docs.select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(f"slice(ps, 1, n - ({num} * n + {den - 1}) div {den} + 2)")
        ),
    ).select(
        "doc_id",
        F.col("col.sid").alias("sid"),
        (F.col("pos") + 1).alias("r"),
        "n",
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "sid",
        F.col("r").alias("ra"), F.col("n").alias("na"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "sid",
        F.col("r").alias("rb"), F.col("n").alias("nb"),
    )
    # α = ⌈t/(1+t)·(na+nb)⌉ = ⌈num·(na+nb)/(num+den)⌉, exact integers
    alpha = F.expr(
        f"({num} * (na + nb) + {num + den - 1}) div {num + den}"
    )
    cand_sized = (
        a.join(b, "sid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(  # size filter inside the posting join: min·den ≥ max·num
            F.least("na", "nb") * den >= F.greatest("na", "nb") * num
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("n_shared_prefix"),
            # the LAST shared prefix shingle maximizes BOTH ranks (the
            # per-doc rank orders both restrict the one global (df, sid)
            # order), so max(ra)/max(rb) are the same shingle's ranks
            F.max("ra").alias("ra_last"),
            F.max("rb").alias("rb_last"),
        )
        .filter(F.col("n_shared_prefix") >= F.least(F.lit(2), alpha))
        # o ≤ s + min(na − ra*, nb − rb*) — docstring filter 3 (r17)
        .filter(
            F.col("n_shared_prefix")
            + F.least(F.col("na") - F.col("ra_last"),
                      F.col("nb") - F.col("rb_last"))
            >= alpha
        )
        .select("doc_a", "doc_b", "na", "nb")
    )
    # ARRAY verify, not the explode-join verify llm_dedup_near uses: at
    # sf0.1 the surviving candidates are still ~2.4M pairs (this corpus
    # is shingle-poor — see SCALE.md r8), and an exploded verify join
    # would shuffle ~2·10⁹ rows. Joining each pair to the two per-doc
    # sorted shingle ARRAYS instead computes the intersection JVM-side
    # (array_intersect is a hash probe, O(na+nb) per pair) with one row
    # per candidate in flight — same arithmetic, no explode shuffle.
    # r16: the arrays hold the dictionary LONGS, so array_intersect
    # runs on Spark's primitive-specialized hash set (no UTF8String
    # hashing/copying in the 2.4M-pair hot loop) and the broadcast
    # rows are 8 B/element with no offset vector. r17: the array is a
    # projection of the one grouped (df, sid) pass above — no separate
    # groupBy, and no sid re-sort (intersection size is order-blind).
    arrs = docs.select(
        "doc_id", F.expr("transform(ps, x -> x.sid)").alias("arr")
    )
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    inter = (
        cand_sized.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a", "doc_b", "na", "nb",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("ni"),
        )
    )
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return inter.filter(jac >= _PREFIX_JACCARD).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "llm_dedup_simhash",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM corpus
    ),
    bits AS (
      SELECT doc_id, b.b AS bit,
             SUM(CASE WHEN substr(md5(tok), b.b + 1, 1)
                           IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END) AS w
      FROM toks CROSS JOIN (SELECT UNNEST(range(0, 16)) AS b) b(b)
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN w > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT)
             AS simhash16
    FROM bits GROUP BY doc_id
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (token-level): bit b of
    the fingerprint is the sign of the tally of ±1 votes, where a token
    votes +1 iff hex digit b of md5(token) is odd. Near-identical docs
    differ in O(1) bits — Hamming-ball lookup replaces pairwise
    comparison at scale. SQL-oracle-exact because the bit derivation is
    md5-based in both engines."""
    corpus = round_robin(dup_corpus(spark, sf_dir))
    toks = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    odd_hex = ["1", "3", "5", "7", "9", "b", "d", "f"]
    # one md5 per token row (its own projection — no reliance on codegen
    # subexpression elimination), then the 16 bit-votes as 16 WIDE ±1
    # columns and ONE groupBy(doc_id) with 16 sums. r16 (guide §2.3/
    # §2.4): the previous shape exploded each token row into 16
    # (bit, vote) rows and aggregated twice (doc,bit → doc), paying a
    # Generate plus two exchanges; the wide form ships the same 16
    # tallies per doc through a single exchange with no row fanout.
    # Bit-for-bit identical output: per-bit vote sums are the same
    # integers, and the bit assembly Σ_b (w_b>0)·2^b is the same
    # arithmetic the per-row SUM(shiftleft) computed.
    hx = toks.select("doc_id", F.md5("tok").alias("hx"))
    votes = hx.select(
        "doc_id",
        *[
            F.when(F.substring("hx", b + 1, 1).isin(odd_hex), 1)
            .otherwise(-1)
            .alias(f"v{b}")
            for b in range(16)
        ],
    )
    tallies = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{b}").alias(f"w{b}") for b in range(16)]
    )
    fp = None
    for b in range(16):
        term = F.when(F.col(f"w{b}") > 0, F.lit(1 << b)).otherwise(0)
        fp = term if fp is None else fp + term
    return tallies.select("doc_id", fp.cast("long").alias("simhash16"))


def _cc_doubling_oracle(rounds: int) -> str:
    """Non-recursive connected-components oracle: a FIXED chain of
    min-label propagate + pointer-jump rounds, each round the IDENTICAL
    update schedule the Spark loop executes (nbr-min over directed
    edges, least with own label, then follow the label's label). With
    the same initial state and the same per-round update, SQL state
    after k rounds == Spark state after k rounds, so equality holds by
    construction — even on a graph where k rounds hasn't converged.

    Replaces the recursive-CTE transitive closure (round 1-3), whose
    `reach` relation is Σ|component|² rows — quadratic per component,
    which is exactly what made it die at sf0.1. Each doubling round
    here is linear in |V|+|E| and the chain length is the Spark loop's
    own iteration cap, so the oracle runs at any sf the operator does.

    Every CTE is MATERIALIZED (DuckDB hint): each round references its
    predecessor twice (and each round's `mid` CTE self-joins for the
    pointer jump), so
    default CTE inlining would expand the chain 2^rounds ways — and
    re-open the corpus parquet once per expansion ('too many open
    files' long before any memory limit). Materializing evaluates each
    round exactly once, which is also what the Spark loop's
    localCheckpoint does."""
    ctes = [
        "l0 AS MATERIALIZED (SELECT doc, doc AS lab FROM verts)",
    ]
    for k in range(rounds):
        ctes.append(
            f"""nm{k} AS MATERIALIZED (
      SELECT e.a AS doc, MIN(l.lab) AS m
      FROM edges e JOIN l{k} l ON l.doc = e.b GROUP BY e.a
    )"""
        )
        ctes.append(
            f"""mid{k} AS MATERIALIZED (
      SELECT l.doc, LEAST(l.lab, COALESCE(nm.m, l.lab)) AS lab
      FROM l{k} l LEFT JOIN nm{k} nm ON nm.doc = l.doc
    )"""
        )
        ctes.append(
            f"""l{k + 1} AS MATERIALIZED (
      SELECT m.doc, LEAST(m.lab, COALESCE(p.lab, m.lab)) AS lab
      FROM mid{k} m LEFT JOIN mid{k} p ON p.doc = m.lab
    )"""
        )
    return (
        ",\n    ".join(ctes)
        + f"\n    SELECT doc AS doc_id, lab AS cluster_id FROM l{rounds}"
    )


# Shared iteration cap: the Spark loop runs range(_CC_ROUNDS) and the
# oracle replays exactly _CC_ROUNDS rounds — one constant, by design.
_CC_ROUNDS = 10


@register(
    "llm_dedup_clusters",
    oracle=f"""
    WITH {_NEAR_CTES},
    verts AS MATERIALIZED (
      SELECT doc_a AS doc FROM pairs UNION SELECT doc_b FROM pairs),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
    {_cc_doubling_oracle(_CC_ROUNDS)}
    """,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (connected components over the verified
    LSH pair graph): each doc in a pair gets the minimum doc_id of its
    component as cluster_id — the canonical-representative assignment a
    dedup pipeline keeps.

    This is the engine's iterative-algorithm representative: min-label
    propagation driven by a Python loop over DataFrame joins, converging
    in O(graph diameter) rounds (dedup components are tiny, so 2-3).
    `localCheckpoint` truncates the growing lineage each round — the
    standard large-graph practice. The oracle replays the SAME 10
    propagate+jump rounds as a fixed (non-recursive) CTE chain — see
    _cc_doubling_oracle — so even the iterative op is SQL-oracle-exact
    at every sf (the earlier recursive-CTE transitive closure was
    quadratic per component and died at sf0.1)."""
    # One localCheckpoint of the LSH pair set per call, taken at the
    # caller's shuffle parallelism before the scope below narrows it:
    # the edge union and every propagation round (and its convergence
    # count) start from the tiny pair set, not the shingle pipeline.
    pairs = _near_pairs_plan(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    # The verified-pair graph is orders of magnitude smaller than the
    # corpus (only confirmed near-dups), so the per-round joins shuffle
    # tiny data: scope the shuffle parallelism down for the eager loop
    # below and restore it after (every plan in the loop executes inside
    # the scope via localCheckpoint; the returned labels are
    # checkpointed, so the restore cannot affect them). On a cluster AQE
    # coalescing does this automatically; local[n] pays ~0.5 s/round in
    # empty-task overhead without it.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        edges = pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).localCheckpoint()
        labels = (
            edges.select(F.col("doc_a").alias("doc"))
            .distinct()
            .withColumn("cluster_id", F.col("doc"))
            .localCheckpoint()
        )
        # iteration cap MUST stay tied to the oracle's replayed round
        # count: the exactness argument is state-after-k-rounds equality
        for _ in range(_CC_ROUNDS):
            # label table ≤ pair-graph vertices ≪ corpus: broadcast it
            # both ways so each round's only exchange is the groupBy
            # (for a pair graph too big to broadcast, drop the hints —
            # same plan, shuffle joins)
            nbr = (
                edges.join(F.broadcast(labels), edges.doc_b == labels.doc)
                .groupBy(F.col("doc_a").alias("doc"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            prop = (
                labels.withColumnRenamed("cluster_id", "old_id")
                .join(F.broadcast(nbr), "doc", "left")
                .select(
                    "doc",
                    "old_id",
                    F.least(
                        F.col("old_id"), F.coalesce("nbr_min", F.col("old_id"))
                    ).alias("mid_id"),
                )
            )
            # pointer doubling: follow the label's label (labels are
            # themselves vertex ids), halving the distance to the
            # component minimum — similarity chains have real diameter
            # (measured ~10 at sf0.01), so propagate-only needs O(d)
            # rounds while propagate+jump needs O(log d)
            ptr = prop.select(F.col("doc").alias("p_doc"), F.col("mid_id").alias("p_id"))
            new_labels = (
                prop.join(F.broadcast(ptr), prop.mid_id == ptr.p_doc, "left")
                .select(
                    "doc",
                    "old_id",
                    F.least(
                        F.col("mid_id"), F.coalesce("p_id", F.col("mid_id"))
                    ).alias("cluster_id"),
                )
                .localCheckpoint()
            )
            changed = new_labels.filter(F.col("cluster_id") != F.col("old_id")).count()
            labels = new_labels.select("doc", "cluster_id")
            if changed == 0:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return labels.select(F.col("doc").alias("doc_id"), "cluster_id")


@register(
    "llm_dedup_ngram",
    oracle=f"""
    WITH {_NEAR_CTES},
    words AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
    tri AS (
      SELECT DISTINCT doc_id,
             l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
      FROM words, LATERAL (SELECT UNNEST(range(1, len(l) - 1))) t(i)
      WHERE len(l) >= 3
    ),
    sizes3 AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
    inter3 AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
      FROM pairs p
      JOIN tri ta ON ta.doc_id = p.doc_a
      JOIN tri tb ON tb.doc_id = p.doc_b AND tb.g = ta.g
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 6) AS jaccard3
    FROM inter3 i
    JOIN sizes3 sa ON sa.doc_id = i.doc_a
    JOIN sizes3 sb ON sb.doc_id = i.doc_b
    """,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity of the verified near-duplicate
    pairs (task brief: the n-gram-Jaccard dedup flavor). Re-scores each
    LSH-proposed, token-verified pair with a stricter order-sensitive
    set: trigram overlap collapses for shuffled/boilerplate text where
    unigram Jaccard stays high, so pipelines threshold on BOTH. The
    pair set is llm_dedup_near's lazy plan, run as part of this one;
    trigram sets are built from three aligned array slices zipped
    together (r16) — no per-element lambdas and no per-doc window
    sort."""
    pairs = _near_pairs_plan(spark, sf_dir).select("doc_a", "doc_b")
    # (r17: a pre-explode round-robin like _fpset's was tried here and
    # REJECTED by the interleaved A/B at 1.19× — the zip+xxhash64
    # trigram pass is too cheap per row to pay for the extra exchange;
    # see OPTIMIZATION_r17.md ledger.)
    corpus = dup_corpus(spark, sf_dir)
    # r16: adjacent word triples via three aligned slices + arrays_zip
    # (the shape llm_bpe_train / llm_bpe_pair_counts use) instead of
    # posexplode + two lead() windows — the token order is already
    # encoded in the split array, so the per-doc Exchange + Sort the
    # window needed buys nothing (guide §2.4).
    # r17: the trigram never becomes a string — the three slice columns
    # hash straight to a LONG id (the char_kgram_ids move): the trigram
    # only feeds set COUNTING (distinct, sizes, the pair-intersection
    # join), so an id injective-up-to-xxhash64-collision (words carry
    # no spaces → the (w1,w2,w3) decomposition is unique; collision
    # bound as in char_kgram_ids) shuffles 8-byte ints where 3-word
    # strings moved before, and the concat_ws re-assembly disappears.
    ws = F.split("text", " ")
    n = F.size("ws")
    tri = (
        corpus.select("doc_id", ws.alias("ws"))
        .filter(n >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("ws", F.lit(1), n - 2).alias("w1"),
                    F.slice("ws", F.lit(2), n - 2).alias("w2"),
                    F.slice("ws", F.lit(3), n - 2).alias("w3"),
                )
            ).alias("t"),
        )
        .select(
            "doc_id",
            F.xxhash64("t.w1", "t.w2", "t.w3").alias("g"),
        )
        .distinct()
    )
    # r17 ARRAY verify (the containment/near_prefix move): the old
    # verify exploded each pair's trigram sets back into rows (pairs ⨝
    # tri on doc_a, ⨝ on (doc_b, g), count agg) and then joined a
    # separate sizes aggregate twice. One collect_list per doc gives
    # the intersection via array_intersect on primitive longs AND the
    # sizes for free (size(arr)), one row per pair in flight. The old
    # inner join only emitted pairs sharing ≥ 1 trigram, so ni ≥ 1 is
    # kept as an explicit filter (oracle's inter3 is an inner join).
    arrs = tri.groupBy("doc_id").agg(F.collect_list("g").alias("arr"))
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        pairs.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("ni"),
            F.size("arr_a").alias("na"),
            F.size("arr_b").alias("nb"),
        )
        .filter(F.col("ni") >= 1)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard3"))
    )


@register(
    "llm_fuzzy_match",
    oracle="""
    WITH blocked AS (
      SELECT doc_id, substr(text, 1, 12) AS blk, substr(text, 1, 64) AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    """,
)
def llm_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate detection by edit distance, block-and-verify: block
    on the 12-char text prefix (an equi key — candidates must agree on
    it), then verify candidate pairs with levenshtein over the 64-char
    head, keeping pairs within distance 20. Both engines implement the
    classic Wagner–Fischer distance, so the integers agree exactly.

    Scale: the block key turns an all-pairs O(n²) problem into an
    equi-join — the same shape as the MinHash band join in
    llm_dedup_near, but with an edit-distance verifier instead of
    Jaccard. Edit distance is O(len²) per pair, which is why the
    verifier runs on a fixed-width head and only inside blocks."""
    d = table(spark, sf_dir, "documents")
    blocked = d.select(
        "doc_id",
        F.substring("text", 1, 12).alias("blk"),
        F.substring("text", 1, 64).alias("head"),
    )
    a = blocked.toDF("doc_a", "blk", "head_a")
    b = blocked.toDF("doc_b", "blk", "head_b")
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("bigint").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 20)
    )


@register(
    "llm_dedup_priority",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, 'src0', text
      FROM documents WHERE doc_id % 7 = 0
    ),
    ranked AS (
      SELECT doc_id, source, md5(text) AS h,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text)
               ORDER BY CAST(substr(source, 4) AS INT), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM corpus
    )
    SELECT doc_id AS keeper_id, source AS keeper_source,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1 AND n_copies > 1
    """,
)
def llm_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with a KEEP POLICY: when the same text appears
    under several sources, keep the copy from the highest-priority
    source (lower src index wins; doc_id breaks ties) — the rule real
    pipelines apply when a curated source and a crawl both carry a
    document. The synthesized duplicates (every 7th doc, re-ingested
    under top-priority 'src0') make the policy BITE: unless the
    original is already src0, the re-ingested copy survives despite its
    larger doc_id — priority overrides the min-id rule llm_dedup_exact
    uses. Same hash-groupBy shuffle; only the survivor rule (min over a
    priority tuple, deterministic by construction) differs."""
    d = table(spark, sf_dir, "documents").select(
        _checked_doc_id().alias("doc_id"), "source", "text"
    )
    copies = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("src0").alias("source"),
            "text",
        )
    )
    corpus = d.unionByName(copies)
    prio = F.substring("source", 4, 10).cast("int")
    w = Window.partitionBy("h").orderBy(prio.asc(), F.col("doc_id").asc())
    ranked = (
        corpus.select("doc_id", "source", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("h")))
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n_copies") > 1)).select(
        F.col("doc_id").alias("keeper_id"),
        F.col("source").alias("keeper_source"),
        F.col("n_copies").cast("bigint").alias("n_copies"),
    )


# ---- Shingle-containment dedup (doc-in-doc) ----------------------------

# Containment C(A→B) = |S(A) ∩ S(B)| / |S(A)| over char-8-gram sets.
# The asymmetric complement of every Jaccard-family operator above: an
# excerpt embedded in a 10× larger page has Jaccard ~0.1 (invisible to
# MinHash/LSH, whose bands target symmetric similarity) but containment
# ~1.0. Candidate generation is RARE-GRAM BLOCKING, not LSH: pair docs
# sharing any gram whose document frequency is <= the absolute cap, so
# the only pairwise step is the posting-list self-join with
# Σ df² <= cap · Σ df — linear in index size at any corpus scale (the
# same bound the winnowing family rides). The blocking is part of the
# operator contract (a contained doc sharing only boilerplate grams
# with its container is not proposed) and is mirrored exactly in SQL.
_CONTAIN_GRAM = 8  # char gram width (8-gram space is rich: vocab-driven
#                    5-gram collisions made random-pair containment noisy)
_CONTAIN_DF_CAP = 8  # absolute posting-list cap for blocking grams
_CONTAIN_MIN = 0.8  # report containment >= this (random pairs measure
#                     <= 0.39 on this corpus; synthesized excerpts = 1.0)
_CONTAIN_MIN_LEN = 200  # only docs this long get a synthesized excerpt

# Deterministic containment synthesis: every 11th sufficiently-long doc
# contributes its FIRST-HALF excerpt at +3e6 (disjoint from the +1e6 /
# +2e6 id spaces of CORPUS_SQL; _checked_doc_id guards the source range)
CONTAIN_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id,
           substr(text, 1, len(text) // 2) AS text
    FROM documents
    WHERE doc_id % 11 = 0 AND len(text) >= {_CONTAIN_MIN_LEN}
"""


def contain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of CONTAIN_CORPUS_SQL."""
    d = table(spark, sf_dir, "documents").select(
        _checked_doc_id().alias("doc_id"), "text"
    )
    excerpts = d.filter(
        (F.col("doc_id") % 11 == 0) & (F.length("text") >= _CONTAIN_MIN_LEN)
    ).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.col("text")
        .substr(F.lit(1), F.floor(F.length("text") / 2).cast("int"))
        .alias("text"),
    )
    return d.unionByName(excerpts)


@register(
    "llm_dedup_containment",
    oracle=f"""
    WITH corpus AS ({CONTAIN_CORPUS_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_CONTAIN_GRAM}) AS g
      FROM corpus,
           LATERAL (SELECT UNNEST(range(1, len(text) - {_CONTAIN_GRAM - 2}))) t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= {_CONTAIN_DF_CAP}),
    idx AS (SELECT s.doc_id, s.g FROM sh s JOIN rare r ON s.g = r.g),
    cand0 AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    cand AS (
      SELECT CASE WHEN sa.n <= sb.n THEN da ELSE db END AS inner_id,
             CASE WHEN sa.n <= sb.n THEN db ELSE da END AS outer_id,
             LEAST(sa.n, sb.n) AS n_inner,
             GREATEST(sa.n, sb.n) AS n_outer
      FROM cand0
      JOIN sizes sa ON sa.doc_id = da
      JOIN sizes sb ON sb.doc_id = db
    ),
    inter AS (
      SELECT c.inner_id, c.outer_id, c.n_inner, c.n_outer, COUNT(*) AS ni
      FROM cand c
      JOIN sh si ON si.doc_id = c.inner_id
      JOIN sh so ON so.doc_id = c.outer_id AND so.g = si.g
      GROUP BY 1, 2, 3, 4
    )
    SELECT inner_id, outer_id, n_inner, n_outer,
           ROUND(CAST(ni AS DOUBLE) / n_inner, 6) AS containment
    FROM inter
    WHERE CAST(ni AS DOUBLE) / n_inner >= {_CONTAIN_MIN}
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc detection by char-8-gram set containment (see the
    section comment above for why Jaccard-family dedup structurally
    misses it, and why rare-gram blocking is the scale-safe candidate
    generator). Output: one row per candidate pair with containment of
    the smaller gram set in the larger >= 0.8 — 1.0 for every
    synthesized first-half excerpt, plus the corpus's organic
    subset-relationships. Ties on set size keep the lower doc_id as
    inner, so (inner, outer) is deterministic."""
    corpus = round_robin(contain_corpus(spark, sf_dir))
    return _containment_pairs(corpus)


def _containment_pairs(corpus: DataFrame) -> DataFrame:
    """Core of llm_dedup_containment over any (doc_id, text) frame."""
    # distinct char-8-gram-ID set per doc. r17: the gram never
    # becomes a string — char_kgram_ids hashes the 8 zipped slice
    # columns straight to a LONG (r16 had rejected the zipped-slice
    # shape here at 1.10× because of the 8-wide concat_ws re-assembly;
    # hashing the slices skips the re-assembly entirely), so the
    # interpreted transform() lambda is gone AND every downstream
    # stage — distinct, df/size counts, the rare-gram posting
    # self-join, the intersection join — shuffles and compares 8-byte
    # ints instead of 8-char strings (guide §2.3/§2.4). Containment is
    # a set measure over the per-doc gram sets, and the id map is
    # injective up to xxhash64 collisions (bound in char_kgram_ids'
    # docstring; differential-checked EXACT at every test SF).
    sh = char_kgram_ids(corpus, _CONTAIN_GRAM).distinct()
    rare = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _CONTAIN_DF_CAP)
        .select("g")
    )
    idx = sh.join(rare, "g").select("doc_id", "g")
    a = idx.select(F.col("doc_id").alias("da"), "g")
    b = idx.select(F.col("doc_id").alias("db"), "g")
    cand0 = (
        a.join(b, "g")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # r17 ARRAY verify (the same move llm_dedup_near_prefix made in r8,
    # guide §2.3 — don't re-shuffle every gram of every candidate doc):
    # the old verify exploded each candidate's inner-doc gram set back
    # into rows (cand ⨝ grams on inner_id, then ⨝ on (outer_id, g) +
    # a count aggregate — two more Σ|doc| shuffles). Instead each doc
    # carries its gram-id ARRAY once (one row/doc), the pair join moves
    # one row per candidate, and array_intersect computes ni JVM-side
    # on primitive longs. Pairs with ni = 0 now reach the filter (the
    # old inner join dropped them) but 0 < _CONTAIN_MIN·n_inner always,
    # so the output set is unchanged.
    #
    # r17 session 3: ONE groupBy(doc_id) serves sizes AND arrays —
    # sh is distinct, so n = size(arr) — replacing the separate sizes
    # aggregate (its own full pass + exchange over the gram set) and
    # folding the four per-pair attach joins into two. ni needs no
    # inner/outer selection: |arr_a ∩ arr_b| is symmetric.
    docs = sh.groupBy("doc_id").agg(F.collect_list("g").alias("arr"))
    da = docs.select(
        F.col("doc_id").alias("da"), F.size("arr").alias("na"),
        F.col("arr").alias("arr_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("db"), F.size("arr").alias("nb"),
        F.col("arr").alias("arr_b"),
    )
    small_first = F.col("na") <= F.col("nb")
    inter = (
        cand0.join(da, "da")
        .join(db, "db")
        .select(
            F.when(small_first, F.col("da")).otherwise(F.col("db")).alias("inner_id"),
            F.when(small_first, F.col("db")).otherwise(F.col("da")).alias("outer_id"),
            F.least("na", "nb").alias("n_inner"),
            F.greatest("na", "nb").alias("n_outer"),
            F.size(F.array_intersect("arr_a", "arr_b")).alias("ni"),
        )
    )
    contain = F.col("ni").cast("double") / F.col("n_inner")
    return inter.filter(contain >= _CONTAIN_MIN).select(
        "inner_id",
        "outer_id",
        "n_inner",
        "n_outer",
        F.round(contain, 6).alias("containment"),
    )


_XS_K = 5  # anchor gram width (tokens)
_XS_DF_CAP = 20  # boilerplate guard: grams in more docs than this are dropped
_XS_MIN_RUN = 2  # >= 2 consecutive anchors => span of >= _XS_K + 1 tokens


def word_kgrams(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, g): every k-token window of each doc's whitespace
    tokens (0-based start position). THE one definition of token-gram
    windows — llm_dedup_exact_substr anchors on it and
    llm_repeated_spans (curation.py) catalogs it, so tokenization and
    the window boundary cannot drift between the two (and their oracle
    twins mirror the same construction)."""
    # r16: k aligned slices of the split array zipped together instead
    # of posexplode + k-1 lead() windows — the array already encodes
    # token order, so the per-doc Exchange + Sort the window needed is
    # pure overhead (guide §2.4). posexplode of the zipped slices
    # yields the same 0-based start position the old construction kept.
    n = F.size("ws")
    return (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(n >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    *[
                        F.slice("ws", F.lit(i + 1), n - (k - 1)).alias(f"w{i}")
                        for i in range(k)
                    ]
                )
            ).alias("pos", "t"),
        )
        .select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *[F.col(f"t.w{i}") for i in range(k)]).alias("g"),
        )
    )


# the full anchor->islands->maximal-span pipeline as CTEs ending in
# `spans`, shared by the exact-substr oracle and the cut-list applier
_XS_CTES = f"""toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, pos,
             w || ' ' || LEAD(w,1) OVER win || ' ' || LEAD(w,2) OVER win
               || ' ' || LEAD(w,3) OVER win || ' ' || LEAD(w,4) OVER win AS g
      FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY LEAD(w,4) OVER win IS NOT NULL
    ),
    keep AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_XS_DF_CAP}
    ),
    anchors AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
             a.pos - b.pos AS delta
      FROM grams a JOIN keep s ON a.g = s.g JOIN grams b ON b.g = a.g
      WHERE a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT da, db, delta, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY da, db, delta
                                     ORDER BY pa) AS grp
      FROM anchors
    ),
    spans AS (
      SELECT da AS doc_a, db AS doc_b,
             CAST(MIN(pa) AS BIGINT) AS start_a,
             CAST(MIN(pa) - delta AS BIGINT) AS start_b,
             CAST(MAX(pa) - MIN(pa) + {_XS_K} AS BIGINT) AS len_tokens
      FROM isl GROUP BY da, db, delta, grp
      HAVING COUNT(*) >= {_XS_MIN_RUN}
    )"""


@register(
    "llm_dedup_exact_substr",
    oracle=f"""
    WITH {_XS_CTES}
    SELECT doc_a, doc_b, start_a, start_b, len_tokens FROM spans
    """,
)
def llm_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT-SUBSTRING span matching — the output shape of
    ExactSubstr dedup (Lee et al. 2022: cut the byte-identical span from
    one copy, keep the rest), which MinHash/SimHash structurally cannot
    give (they say "these DOCS are similar", not WHERE): per doc pair,
    every maximal aligned run of shared token 5-grams, with both start
    offsets and the span length — directly actionable as a cut list.
    llm_repeated_spans (curation.py) is the corpus-level catalog of
    repeated grams; THIS op resolves them into per-pair maximal spans.

    Relational core, each step the scalable shape:
    1. anchor grams — _XS_K-token windows per doc (one pass, no shuffle
       beyond the per-doc sort Spark fuses into the window);
    2. df-cap — grams shared by 2.._XS_DF_CAP (=20) docs survive (the
       same boilerplate guard llm_dedup_containment measured: an
       uncapped header gram turns the anchor join quadratic);
    3. anchor join — equi-join on the gram, doc_a < doc_b: candidate
       pairs carry (pos_a, pos_b), and alignment delta = pos_a − pos_b
       is constant along a true common substring;
    4. gaps-islands per (pair, delta) — consecutive pos_a runs merge
       into MAXIMAL spans (pos − row_number grouping, the same island
       machinery win_gaps_islands pins), ≥ _XS_MIN_RUN anchors. A
       true suffix array finds arbitrary-length repeats in O(n);
       anchored islands are the standard distributed approximation —
       recall is exact for spans ≥ _XS_K + _XS_MIN_RUN − 1 tokens
       WHOSE ANCHOR GRAMS SURVIVE THE DF-CAP. The cap trades recall
       for boundedness by design: a span saturated with >cap-doc
       boilerplate grams loses those anchors and may split or drop —
       that cut is the one the cap exists to make, and it can also
       truncate a span's edges (the emitted span is then not
       left/right-maximal against the raw texts; the pytest checks
       maximality conditionally on the boundary gram's df).
    The oracle replays all four steps relationally — bit-exact on the
    span arithmetic, so an off-by-one in gram windows, delta alignment,
    or island merging hash-mismatches."""
    d = table(spark, sf_dir, "documents")
    grams = word_kgrams(d, _XS_K)
    keep = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df").between(2, _XS_DF_CAP))
        .select("g")
    )
    a = grams.alias("a")
    b = grams.alias("b")
    anchors = (
        a.join(keep, "g")
        .join(b, "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("delta"),
        )
    )
    w2 = Window.partitionBy("da", "db", "delta").orderBy("pa")
    isl = anchors.withColumn(
        "grp", F.col("pa") - F.row_number().over(w2)
    )
    return (
        isl.groupBy("da", "db", "delta", "grp")
        .agg(
            F.min("pa").alias("min_pa"),
            F.max("pa").alias("max_pa"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= _XS_MIN_RUN)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("min_pa").cast("bigint").alias("start_a"),
            (F.col("min_pa") - F.col("delta")).cast("bigint")
            .alias("start_b"),
            (F.col("max_pa") - F.col("min_pa") + _XS_K).cast("bigint")
            .alias("len_tokens"),
        )
    )


@register(
    "llm_cut_spans",
    oracle=f"""
    WITH {_XS_CTES},
    best AS (
      SELECT doc_b AS doc_id, start_b AS cut_start, len_tokens AS cut_len
      FROM spans
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_b
               ORDER BY len_tokens DESC, start_b, doc_a) = 1
    ),
    cut AS (
      SELECT b.doc_id, b.cut_start, b.cut_len,
             string_split(d.text, ' ') AS arr
      FROM best b JOIN documents d ON d.doc_id = b.doc_id
    )
    SELECT doc_id,
           CAST(cut_start AS BIGINT) AS cut_start,
           CAST(cut_len AS BIGINT) AS cut_len,
           CAST(len(arr) AS BIGINT) AS n_before,
           CAST(len(arr) - cut_len AS BIGINT) AS n_after,
           COALESCE(array_to_string(
             list_concat(arr[1:cut_start],
                         arr[cut_start + cut_len + 1:len(arr)]),
             ' '), '') AS text_after
    FROM cut
    """,
)
def llm_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the exact-substr cut list — the step that turns
    llm_dedup_exact_substr's span catalog into a deduplicated corpus
    (ExactSubstr's disposition: keep doc_a's copy, cut the span out of
    doc_b): per affected doc, remove its single BEST incoming span
    (longest, ties by smallest start then smallest source doc — a total
    order, so the cut is deterministic) and emit the surgically edited
    text with before/after token counts. One span per doc per pass is
    the standard iteration unit — re-running the pipeline on the output
    converges, and single-pass keeps overlapping-span semantics trivial
    (overlaps within one doc would otherwise need interval merging).

    Scale shape: the span catalog is pair-bounded (df-capped upstream);
    best-span is one keyed window over it; the edit is an equi-join
    back to documents + JVM-side array slicing (split/slice/concat_ws,
    no Python in the hot path). The oracle replays the cut with
    DuckDB's list slicing — the emitted text_after must match
    byte-for-byte, so an off-by-one in either engine's slice arithmetic
    hash-mismatches."""
    spans = llm_dedup_exact_substr(spark, sf_dir)
    w = Window.partitionBy("doc_b").orderBy(
        F.desc("len_tokens"), "start_b", "doc_a"
    )
    best = (
        spans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("start_b").alias("cut_start"),
            F.col("len_tokens").alias("cut_len"),
        )
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    joined = best.join(d, "doc_id")
    n = F.size("arr")
    head = F.slice(F.col("arr"), 1, F.col("cut_start").cast("int"))
    tail_len = (n - F.col("cut_start") - F.col("cut_len")).cast("int")
    tail = F.slice(
        F.col("arr"),
        (F.col("cut_start") + F.col("cut_len") + 1).cast("int"),
        tail_len,
    )
    return joined.select(
        "doc_id",
        F.col("cut_start").cast("bigint").alias("cut_start"),
        F.col("cut_len").cast("bigint").alias("cut_len"),
        n.cast("bigint").alias("n_before"),
        (n - F.col("cut_len")).cast("bigint").alias("n_after"),
        F.concat_ws(" ", F.concat(head, tail)).alias("text_after"),
    )
