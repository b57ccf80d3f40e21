"""Corpus-analysis operators: winnowing fingerprints/overlap and
Heaps-law vocabulary growth (task brief §"text analysis" — document
fingerprinting and corpus diagnostics beyond the per-doc rolling hash).

Registered LAST on purpose: these are round-5 additions and the
attestation rotation fronts never-attested keys in registration order —
new operators must queue BEHIND the keys already promised to the
current round's harness prefix (see sparkflow/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import round_robin, table
from ..registry import register
from .dedup import CORPUS_SQL as _DUP_CORPUS_SQL
from .dedup import char_kgrams, dup_corpus

# Winnowing parameters. Guarantee: any shared substring of length
# >= _WIN_W + _WIN_K - 1 chars produces at least one shared fingerprint,
# and no fingerprint is selected from a context shorter than _WIN_K —
# the standard (k, w) bounds from the paper. Gram hashes reuse the
# 20-bit md5-slice family from the dedup module (engine-exact); the
# (hash, pos) pair is packed into one int64 (hash*2^32 + pos, hash <
# 2^20 so the product < 2^52) so the per-window argmin is a single
# integer MIN with a deterministic position tie-break in both engines.
_WIN_K = 5  # char-gram width
_WIN_W = 4  # window: fingerprint = min gram hash of every 4 consecutive


def _fp_ctes(src: str) -> str:
    """The gram → packed-hash → window-min → distinct fingerprint
    pipeline as CTEs ending in `fpset(doc_id, fp)`, over table/CTE
    ``src``. ONE definition feeds both winnowing oracles — the Spark
    twin is _fpset() below; change them together."""
    return f"""grams AS (
      SELECT doc_id, i AS pos, substr(text, i, {_WIN_K}) AS g
      FROM {src},
           LATERAL (SELECT UNNEST(range(1, len(text) - {_WIN_K - 2}))) t(i)
    ),
    packed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(g), 1, 5))::BIGINT * 4294967296 + pos AS pk
      FROM grams
    ),
    sel AS (
      SELECT doc_id, pos,
             MIN(pk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM packed
    ),
    fpset AS (
      SELECT DISTINCT doc_id, fp FROM sel WHERE pos <= n - {_WIN_W - 1}
    )"""


def _fpset(docs: DataFrame) -> DataFrame:
    """Spark twin of _fp_ctes: distinct (doc_id, fp) winnowing
    fingerprints of a (doc_id, text) DataFrame, fp = packed
    (20-bit gram hash)·2³² + position. The doc rows are spread before
    the ~n_chars× gram explode (r17: 2.26 s → 0.92 s at sf0.1)."""
    docs = round_robin(docs)
    grams = char_kgrams(docs, _WIN_K).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (
            F.conv(F.substring(F.md5("g"), 1, 5), 16, 10).cast("long")
            * F.lit(4294967296).cast("long")
            + (F.col("pos0") + 1)
        ).alias("pk"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    n = Window.partitionBy("doc_id")
    return (
        grams.select(
            "doc_id",
            "pos",
            F.min("pk").over(w).alias("fp"),
            F.count(F.lit(1)).over(n).alias("n"),
        )
        .filter(F.col("pos") <= F.col("n") - (_WIN_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )


@register(
    "llm_winnowing_fingerprint",
    oracle=f"""
    WITH {_fp_ctes("documents")}
    SELECT doc_id,
           fp // 4294967296 AS fp_hash,
           fp % 4294967296 AS fp_pos
    FROM fpset
    """,
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: hash every 5-char gram, slide a
    window of 4 consecutive gram hashes, keep the window minimum
    (leftmost on ties via the packed position), output the distinct
    selected (hash, position) pairs per document. The selection
    guarantees any shared substring of >= w+k-1 = 8 chars yields a
    shared fingerprint while storing only ~2/(w+1) of the grams — the
    local, position-robust fingerprint a plagiarism/overlap index wants
    (vs llm_fingerprint's single whole-doc rolling hash and
    llm_dedup_near's global MinHash sketch).

    Scale: grams explode ~n_chars rows but never leave their partition;
    the ONE shuffle is the per-doc window sort (same shape as the
    windows family), and the fingerprint density bound caps output at
    ~40%% of gram count. Identical integer arithmetic runs in the
    DuckDB oracle — engine-exact."""
    return _fpset(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr("fp DIV 4294967296").alias("fp_hash"),
        (F.col("fp") % 4294967296).alias("fp_pos"),
    )


# Overlap-index guards: drop fingerprints shared by too many documents
# (boilerplate — standard winnowing-index practice), then require both a
# minimum shared-fingerprint count and a minimum containment before
# reporting a pair. All integer thresholds, mirrored in the oracle.
#
# The df cap is ABSOLUTE, not relative, on design grounds: only a
# constant cap bounds every pairing-join bucket unconditionally
# (Σ df² ≤ cap · Σ df = linear in the index), and semantically a
# fingerprint shared by 65 documents is boilerplate whether the corpus
# has 5 k docs or 5 B — real boilerplate (headers, templates) keeps a
# CONSTANT absolute df ceiling only under a constant cap, while a
# relative cap lets those buckets grow with the corpus. On THIS corpus
# the two designs measure within 8% of each other (positions keep
# max df at ~316 even at the 100× rung — see SCALE.md's Σ df²
# instrumentation, including the initial misdiagnosis the
# instrumentation corrected), so the choice is about the 100 TB
# invariant, not local wall time.
_WFP_MAX_DF = 64
_WFP_MIN_SHARED = 5
_WFP_MIN_PPM = 600_000  # containment >= 0.6 of the smaller fingerprint set


@register(
    "llm_winnowing_overlap",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    {_fp_ctes("corpus")},
    kept AS (
      SELECT fp FROM fpset GROUP BY fp
      HAVING COUNT(*) <= {_WFP_MAX_DF}
    ),
    indexed AS (
      SELECT f.doc_id, f.fp FROM fpset f JOIN kept k ON k.fp = f.fp
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM indexed GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
      FROM indexed a JOIN indexed b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, s.shared_fps,
           s.shared_fps * 1000000 // LEAST(sa.sz, sb.sz) AS containment_ppm
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE s.shared_fps >= {_WFP_MIN_SHARED}
      AND s.shared_fps * 1000000 // LEAST(sa.sz, sb.sz) >= {_WFP_MIN_PPM}
    """,
)
def llm_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-overlap detection over a winnowing fingerprint index
    (the MOSS shape): fingerprint the duplicate-rich corpus, DROP
    fingerprints shared by more than _WFP_MAX_DF = 64 documents (the
    ABSOLUTE boilerplate cap — see the constant's comment for the
    design argument vs a relative cap), equi-join documents on the
    surviving (hash, position) fingerprints, and report pairs with
    >= 5 shared fingerprints covering >= 60% of the smaller document's
    set.

    The fingerprint here is the packed (gram-hash, position) value, so
    the index detects position-aligned duplication (exact copies and
    prefix-preserving edits — both synthesized in the corpus); a full
    plagiarism system would bucket on hash alone and verify alignment
    per bucket, which this corpus's tiny vocabulary makes quadratic
    (every document shares the common grams), exactly the boilerplate
    problem the df cap models. Integer counts and one integer division
    — engine-exact; the only self-join key is the df-capped
    fingerprint, whose bucket size the cap bounds at any scale."""
    return _overlap_positional(dup_corpus(spark, sf_dir))


def _overlap_positional(docs: DataFrame) -> DataFrame:
    """Core of llm_winnowing_overlap over an arbitrary (doc_id, text)
    DataFrame — factored out so the shifted-copy pytest can run the
    positional and aligned detectors on the same synthetic corpus."""
    fpset = _fpset(docs)
    kept = (
        fpset.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _WFP_MAX_DF)
        .select("fp")
    )
    indexed = fpset.join(kept, "fp").select("doc_id", "fp")
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # r17 (guide §2.3/§3.3): POSTING-LIST ARRAYS replace the fp
    # self-join, and each posting CARRIES its document's index size.
    # Measured first (sf0.1, /tmp/probe_overlap.py): the index is 793 k
    # rows but the pair stage emits 3.17 M candidate pairs, so the old
    # shape's two doc-keyed sizes joins AFTER the pair aggregate were
    # the single largest stage (~1.2 s of 4.5 s) — attaching sz to the
    # 793 k index rows BEFORE pairing moves the attachment to the small
    # side (§2.3: shuffle keys/metadata, not the wide side). Each
    # df-capped bucket collects its sorted (doc_id, sz) structs once
    # (fpset is distinct per (doc_id, fp); the cap bounds every array
    # at _WFP_MAX_DF = 64), and every unordered pair is generated by
    # POSITION inside the sorted array (j > i ⟺ doc_a < doc_b), so the
    # pair stage materializes exactly the df·(df−1)/2 surviving
    # combinations instead of probing a hash relation with df² ordered
    # row pairs and filtering half away. Multiset identity with the old
    # a⨝b-on-fp + doc_a<doc_b: each bucket contributes each unordered
    # doc pair exactly once either way; sa/sb are functions of
    # doc_a/doc_b, so grouping on them changes no group.
    buckets = (
        indexed.join(sizes, "doc_id")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sz"))).alias("ds"))
    )
    shared = (
        buckets.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            "a",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("b"),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    ppm = F.expr("shared_fps * 1000000 DIV least(sa, sb)")
    return shared.filter(
        (F.col("shared_fps") >= _WFP_MIN_SHARED) & (ppm >= _WFP_MIN_PPM)
    ).select("doc_a", "doc_b", "shared_fps", ppm.alias("containment_ppm"))


@register(
    "llm_winnowing_overlap_aligned",
    oracle=f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    {_fp_ctes("corpus")},
    hx AS (
      SELECT doc_id, fp // 4294967296 AS h, fp % 4294967296 AS pos
      FROM fpset
    ),
    kept AS (
      SELECT h FROM hx GROUP BY h HAVING COUNT(*) <= {_WFP_MAX_DF}
    ),
    indexed AS (
      SELECT x.doc_id, x.h, x.pos FROM hx x JOIN kept k ON k.h = x.h
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM indexed GROUP BY doc_id),
    votes AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos - b.pos AS shift, CAST(COUNT(*) AS BIGINT) AS aligned_fps
      FROM indexed a JOIN indexed b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.pos - b.pos
    ),
    best AS (
      SELECT doc_a, doc_b, shift, aligned_fps FROM votes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
                                 ORDER BY aligned_fps DESC, shift) = 1
    )
    SELECT b.doc_a, b.doc_b, b.shift, b.aligned_fps,
           b.aligned_fps * 1000000 // LEAST(sa.sz, sb.sz) AS containment_ppm
    FROM best b
    JOIN sizes sa ON sa.doc_id = b.doc_a
    JOIN sizes sb ON sb.doc_id = b.doc_b
    WHERE b.aligned_fps >= {_WFP_MIN_SHARED}
      AND b.aligned_fps * 1000000 // LEAST(sa.sz, sb.sz) >= {_WFP_MIN_PPM}
    """,
)
def llm_winnowing_overlap_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIFT-ROBUST overlap detection (r5 verdict item 4): bucket the
    winnowing index on the gram HASH alone, then verify alignment per
    document pair via the MODE of the position delta (pos_a − pos_b).
    A copy moved by an inserted prefix/deleted paragraph shares ~no
    packed (hash, position) fingerprints with its source — invisible to
    llm_winnowing_overlap — but its surviving fingerprints all agree on
    ONE shift, so the vote histogram has a spike where unrelated
    documents' accidental hash collisions scatter uniformly. Reported:
    the winning shift, its vote count, and vote containment vs the
    smaller document's index size, under the positional op's thresholds.

    Scale: the df cap here bounds total OCCURRENCES per hash (stricter
    than a per-document cap): Σ bucket² ≤ cap · Σ bucket keeps the
    hash-bucket self-join linear in the index at any corpus size — the
    same absolute-cap argument as _WFP_MAX_DF's comment, which matters
    MORE here because hash-only buckets absorb what positions used to
    spread (this corpus's tiny gram vocabulary makes uncapped hash
    buckets quadratic). The vote aggregation groups by (pair, shift) —
    one shuffle — and the mode is a bounded window over each pair's
    vote rows. Integer arithmetic throughout — engine-exact."""
    return _overlap_aligned(dup_corpus(spark, sf_dir))


def _overlap_aligned(docs: DataFrame) -> DataFrame:
    """Core of llm_winnowing_overlap_aligned (see its docstring)."""
    hx = _fpset(docs).select(
        "doc_id",
        F.expr("fp DIV 4294967296").alias("h"),
        (F.col("fp") % 4294967296).alias("pos"),
    )
    kept = (
        hx.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _WFP_MAX_DF)
        .select("h")
    )
    indexed = hx.join(kept, "h").select("doc_id", "h", "pos")
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # r17: the same posting-array + carried-size rewrite as
    # _overlap_positional (see its comment): every h-bucket is ≤
    # _WFP_MAX_DF OCCURRENCES by the cap, so the bucket collects its
    # sorted (doc_id, pos, sz) structs once and emits each cross-doc
    # row pair by position (the sort is doc_id-major, so j > i with
    # doc_id different ⟺ doc_a < doc_b, x carrying the a-side pos
    # exactly like the old join's a-table); sa/sb ride the vote rows,
    # killing the two pair-keyed sizes joins after the mode window.
    # One doc CAN appear several times per bucket (several positions) —
    # those same-doc combinations are excluded by the != filter, as
    # they were by doc_a < doc_b.
    buckets = (
        indexed.join(sizes, "doc_id")
        .groupBy("h")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "pos", "sz"))
            ).alias("ds")
        )
    )
    votes = (
        buckets.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            "a",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("b"),
        )
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("shift"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("aligned_fps"))
    )
    w = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("aligned_fps").desc(), "shift"
    )
    best = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    ppm = F.expr("aligned_fps * 1000000 DIV least(sa, sb)")
    return best.filter(
        (F.col("aligned_fps") >= _WFP_MIN_SHARED) & (ppm >= _WFP_MIN_PPM)
    ).select(
        "doc_a", "doc_b", "shift", "aligned_fps",
        ppm.alias("containment_ppm"),
    )


@register(
    "llm_vocab_growth",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    cuts AS (
      SELECT source, q.q AS quartile, doc_id AS cutoff_id,
             rn AS docs_at_cutoff
      FROM ranked, (SELECT UNNEST(range(1, 5)) AS q) q(q)
      WHERE rn = (n * q.q + 3) // 4
    ),
    toks AS (
      SELECT DISTINCT source, doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    )
    SELECT c.source, c.quartile, c.docs_at_cutoff,
           COUNT(DISTINCT t.tok) AS distinct_tokens,
           CAST(COUNT(*) AS BIGINT) AS doc_token_pairs
    FROM cuts c
    JOIN toks t ON t.source = c.source AND t.doc_id <= c.cutoff_id
    GROUP BY c.source, c.quartile, c.docs_at_cutoff
    """,
)
def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per source: distinct-token count of
    the first 25/50/75/100% of documents (by doc_id). A flattening
    curve says the source's vocabulary is saturating (more data adds
    tokens, not words) — the standard corpus-composition diagnostic
    next to llm_dataset_card_stats' point-in-time counts.

    Shape: the quartile cutoffs are 4 rows per source (a window
    row_number pass), broadcast into a theta-join against the distinct
    (source, doc_id, token) set — each token row matches <= 4 cutoffs,
    so the expansion is bounded x4 and the heavy side never shuffles
    twice. All counts integer — engine-exact."""
    d = table(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy("doc_id")
    wn = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = spark.range(1, 5).select(F.col("id").cast("int").alias("quartile"))
    cuts = (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rn") == F.expr("(n * quartile + 3) DIV 4"))
        .select(
            "source",
            "quartile",
            F.col("doc_id").alias("cutoff_id"),
            F.col("rn").alias("docs_at_cutoff"),
        )
    )
    toks = d.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct().alias("toks")
    # the cuts side is aliased so the shared-lineage equality below binds
    # by alias, not by Spark's disambiguation-by-origin (which emits a
    # "trivially true equals predicate" WARN and is version-fragile)
    cuts = cuts.alias("cuts")
    return (
        toks.join(
            F.broadcast(cuts),
            (F.col("toks.source") == F.col("cuts.source"))
            & (F.col("toks.doc_id") <= F.col("cuts.cutoff_id")),
        )
        .drop(F.col("cuts.source"))
        .groupBy("source", "quartile", "docs_at_cutoff")
        .agg(
            F.countDistinct("tok").alias("distinct_tokens"),
            F.count(F.lit(1)).alias("doc_token_pairs"),
        )
    )
