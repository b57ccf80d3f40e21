"""Text analysis operators for LLM pipelines (SURVEY §2.11 + task brief:
language-ID, quality scoring, token counting, fingerprinting, TF-IDF,
keyword search).

Everything is split/explode + JVM aggregation — the tokenize-and-count
shape that dominates LLM data prep; no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import session_memo, table
from ..registry import register


@register(
    "llm_text_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source, n_chars,
             UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, lang, source,
             MAX(n_chars) AS n_chars,
             COUNT(*) AS n_tokens,
             CAST(SUM(len(tok)) AS BIGINT) AS tok_chars
      FROM toks GROUP BY doc_id, lang, source
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(tok_chars) AS DOUBLE) / SUM(n_tokens) AS avg_token_len
    FROM per_doc GROUP BY lang, source
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source quality matrix: docs, chars, whitespace-token counts,
    average token length — integer sums + one exact double division."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", "source", "n_chars", F.explode(F.split("text", " ")).alias("tok")
    )
    per_doc = toks.groupBy("doc_id", "lang", "source").agg(
        F.max("n_chars").alias("n_chars"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("tok")).alias("tok_chars"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("tok_chars").cast("double") / F.sum("n_tokens")).alias("avg_token_len"),
    )


@register(
    "llm_quality_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    stats AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             COUNT(DISTINCT t.tok) AS n_unique,
             COUNT(CASE WHEN t.tok IN ('select','from','where','join','the','a')
                        THEN 1 END) AS n_stop
      FROM toks t GROUP BY t.doc_id
    )
    SELECT d.doc_id, d.lang,
           s.n_tokens,
           ROUND(CAST(s.n_unique AS DOUBLE) / s.n_tokens, 6) AS unique_ratio,
           ROUND(CAST(s.n_stop AS DOUBLE) / s.n_tokens, 6) AS stopword_ratio,
           ROUND(CAST(d.n_chars AS DOUBLE) / s.n_tokens, 6) AS chars_per_token,
           CASE WHEN s.n_tokens BETWEEN 10 AND 1000
                 AND CAST(s.n_unique AS DOUBLE) / s.n_tokens > 0.2
                THEN 1 ELSE 0 END AS keep_flag
    FROM documents d JOIN stats s ON d.doc_id = s.doc_id
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length band, lexical diversity,
    stopword ratio) + a keep/drop flag — the filter stage of a training
    data pipeline, as pure column algebra."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    stop = ["select", "from", "where", "join", "the", "a"]
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_unique"),
        F.count(F.when(F.col("tok").isin(stop), 1)).alias("n_stop"),
    )
    uniq = F.col("n_unique").cast("double") / F.col("n_tokens")
    return (
        d.join(stats, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(uniq, 6).alias("unique_ratio"),
            F.round(F.col("n_stop").cast("double") / F.col("n_tokens"), 6).alias(
                "stopword_ratio"
            ),
            F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6).alias(
                "chars_per_token"
            ),
            F.when(
                F.col("n_tokens").between(10, 1000) & (uniq > 0.2), 1
            )
            .otherwise(0)
            .alias("keep_flag"),
        )
    )


@register(
    "llm_lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    scored AS (
      SELECT doc_id, lang AS true_lang,
             COUNT(CASE WHEN md5(tok) LIKE '0%' OR md5(tok) LIKE '1%'
                        THEN 1 END) AS bucket_hits,
             COUNT(*) AS n
      FROM toks GROUP BY doc_id, lang
    )
    SELECT true_lang,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(bucket_hits) AS DOUBLE) / SUM(n), 6) AS avg_marker_rate
    FROM scored GROUP BY true_lang
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID scaffolding: n-gram/marker-rate per language. The
    corpus is synthetic (same vocab for all langs), so the 'model' is a
    deterministic hash-bucket marker rate — the distributed shape
    (tokenize → per-doc rates → per-lang calibration) is the real
    pipeline; swap the marker predicate for real n-gram tables in
    production."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode(F.split("text", " ")).alias("tok")
    )
    scored = toks.groupBy("doc_id", "true_lang").agg(
        F.count(
            F.when(
                F.substring(F.md5("tok"), 1, 1).isin("0", "1"), 1
            )
        ).alias("bucket_hits"),
        F.count(F.lit(1)).alias("n"),
    )
    return scored.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("bucket_hits").cast("double") / F.sum("n"), 6).alias(
            "avg_marker_rate"
        ),
    )


@register(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(SUM((ascii(substr(text, i, 1)) * ((i * 31) % 1000)) % 100000)
                AS BIGINT) AS rolling_fp,
           CAST(MAX(len(text)) AS BIGINT) AS n_chars_fp
    FROM documents, LATERAL (SELECT UNNEST(range(1, len(text) + 1))) t(i)
    GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint via a position-weighted rolling hash over
    characters — integer arithmetic only, so it is exactly reproducible
    in any engine/language (the property a fingerprint needs)."""
    d = table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.length("text").alias("n_chars_fp"),
        F.posexplode(F.split("text", "")).alias("i0", "ch"),
    ).filter(F.col("ch") != "")
    term = (F.ascii("ch") * (((F.col("i0") + 1) * 31) % 1000)) % 100000
    return chars.groupBy("doc_id").agg(
        F.sum(term).alias("rolling_fp"),
        F.max("n_chars_fp").cast("long").alias("n_chars_fp"),
    )


@register(
    "llm_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
    df AS (SELECT term, COUNT(DISTINCT lang) AS df FROM toks GROUP BY term),
    scored AS (
      SELECT tf.lang, tf.term, tf.tf, df.df,
             ROUND(tf.tf * ln(5.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term
    )
    SELECT lang, term, tf, df, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                       ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF treating each language slice as one class: term frequency ×
    ln(N/df), top-5 terms per lang (explode → two aggregations → window
    top-k; the df side is a tiny broadcastable table)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("lang").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "lang",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(F.lit(5.0) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "tf", "df", "tfidf")
    )


@register(
    "llm_keyword_search",
    oracle="""
    SELECT doc_id, lang, score FROM (
      SELECT doc_id, lang,
             (CASE WHEN text LIKE '%join%'   THEN 1 ELSE 0 END
            + CASE WHEN text LIKE '%filter%' THEN 1 ELSE 0 END
            + CASE WHEN text LIKE '%window%' THEN 1 ELSE 0 END
            + CASE WHEN text LIKE '%merge%'  THEN 1 ELSE 0 END) AS score
      FROM documents
    ) WHERE score >= 2
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def llm_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-keyword containment + relevance score, global top-20
    (TakeOrderedAndProject — heap-based top-k, no full sort)."""
    d = table(spark, sf_dir, "documents")
    score = sum(
        F.when(F.col("text").contains(kw), 1).otherwise(0)
        for kw in ["join", "filter", "window", "merge"]
    )
    return (
        d.select("doc_id", "lang", score.alias("score"))
        .filter(F.col("score") >= 2)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@register(
    "llm_multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           len(e.embedding) AS dim
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang IN ('en', 'de')
    """,
)
def llm_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings into a multimodal record: builds the
    {text, embedding, label} struct column (the nested row shape a
    training pipeline carries), then flattens scalars for the oracle
    compare (struct columns don't hash portably)."""
    d = table(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    e = table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).withColumn(
        "record",
        F.struct(
            F.col("text"), F.col("embedding"), F.col("label"), F.col("lang")
        ),
    )
    return joined.select(
        "doc_id",
        F.col("record.lang").alias("lang"),
        "n_chars",
        F.col("record.label").alias("label"),
        F.size("record.embedding").alias("dim"),
    )


@register(
    "llm_token_count",
    oracle="""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS n_re_tokens,
           len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
             AS n_unique_re_tokens
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (task brief): whitespace tokens and a
    BPE-ish regex tokenizer (letter runs | digit runs | single
    punctuation). regexp_extract_all stays JVM-side; the same pattern is
    valid Java regex and RE2, so both engines tokenize identically."""
    d = table(spark, sf_dir, "documents")
    re_toks = F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    return d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(re_toks).alias("n_re_tokens"),
        F.size(F.array_distinct(re_toks)).alias("n_unique_re_tokens"),
    )


@register(
    "llm_pipeline_e2e",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, lang, n_chars
      FROM documents WHERE doc_id % 7 = 0
    ),
    dedup AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY sha256(text)
    ),
    kept AS (
      SELECT c.doc_id, c.lang, c.n_chars, c.text
      FROM corpus c JOIN dedup d ON c.doc_id = d.doc_id
    ),
    toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM kept
    ),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_unique
      FROM toks GROUP BY doc_id
    )
    SELECT k.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(k.n_chars) AS BIGINT) AS total_chars
    FROM kept k JOIN stats s ON k.doc_id = s.doc_id
    WHERE s.n_tokens BETWEEN 10 AND 1000
      AND CAST(s.n_unique AS DOUBLE) / s.n_tokens > 0.2
    GROUP BY k.lang
    """,
)
def llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline, composed from the same
    primitives the standalone operators use: ingest (+injected dups) →
    exact dedup (sha256 keep-first) → tokenize → quality filter (length
    band + lexical diversity) → per-language corpus stats. One lazy
    plan: Catalyst fuses the whole chain; nothing materializes between
    stages. This is the shape of a real 100 TB data-prep job."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "n_chars"
        )
    )
    keepers = corpus.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = corpus.join(keepers.select("doc_id"), "doc_id")
    toks = kept.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_unique"),
    )
    quality = (
        F.col("n_tokens").between(10, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.2)
    )
    return (
        kept.join(stats, "doc_id")
        .filter(quality)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "llm_bigram_fluency",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    bg AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(range(1, len(l)))) t(i)
      WHERE len(l) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM((c12.n12 * 1000000) // c1.n1) AS DOUBLE)
                 / (1000000.0 * COUNT(*)) AS fluency
    FROM bg JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
            JOIN c1 ON bg.w1 = c1.w1
    GROUP BY bg.doc_id
    """,
)
def llm_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical fluency score under a corpus word-bigram model: the
    mean conditional probability P(w2|w1) of a document's consecutive
    word pairs — low scores flag boilerplate/garbled text for training-
    data filtering (the n-gram-LM stage of a quality pipeline, log-free
    variant).

    Exactness via the fixed-point trick: each probability contributes
    floor(n12*1e6 / n1) as an INTEGER, so the per-doc sum is order-
    independent and the score bit-identical to the SQL oracle.

    Scale shape: the bigram model tables are vocabulary-sized, not
    corpus-sized — n12 joins by (w1,w2) hash; n1 is broadcast. One
    explode pass over the corpus, aggregations with map-side combine."""
    d = table(spark, sf_dir, "documents")
    # Adjacent pairs via two aligned slices + arrays_zip (r16) — NOT
    # transform(sequence(...)): higher-order lambdas are interpreted
    # and re-evaluate split() per element (O(len²) per doc, measured
    # 20× slower). slice/arrays_zip stay codegen'd, and unlike the old
    # posexplode + lead() shape there is no per-doc Exchange + Sort.
    d2 = d.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    bg = (
        d2.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("ws", F.lit(1), n - 1).alias("w1"),
                    F.slice("ws", F.lit(2), n - 1).alias("w2"),
                )
            ).alias("t"),
        )
        .select(
            "doc_id",
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
        )
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    # n1 = Σ_w2 n12: roll the unigram table up from the (vocab²-sized)
    # bigram table rather than re-scanning the corpus-sized bigram stream
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return (
        bg.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # NO rounding: the integer sum converts to double exactly and
            # IEEE division is deterministic, so both engines produce the
            # identical double — while ROUND(x, 9) tie-breaks DIFFERENTLY
            # across engines when the exact rational terminates at the
            # 10th digit (observed at sf0.1: ...4375 rounded both ways)
            (
                F.sum(F.expr("(n12 * 1000000) div n1")).cast("double")
                / (1000000.0 * F.count(F.lit(1)))
            ).alias("fluency"),
        )
    )


@register(
    "llm_word_cooccurrence",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
    df AS (SELECT tok, COUNT(*) AS n_t FROM dt GROUP BY tok),
    pairs AS (
      SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           CAST((n_ab * n.n * 1000000) // (fa.n_t * fb.n_t) AS BIGINT)
             AS lift_e6
    FROM pairs
    JOIN df fa ON fa.tok = pairs.w1
    JOIN df fb ON fb.tok = pairs.w2
    CROSS JOIN n_docs n
    """,
)
def llm_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence with lift (the log-free PMI variant):
    lift(a,b) = P(a,b) / (P(a)·P(b)) over document-level presence —
    the distributional-statistics stage behind phrase mining and
    compound-token discovery. Fixed-point: lift_e6 = ⌊n_ab·N·1e6 /
    (n_a·n_b)⌋, pure int64 arithmetic (max ~7e14, no overflow),
    bit-identical to the oracle.

    Scale: the doc×token distinct set is corpus-sized, but every
    aggregate after the per-doc pair expansion is VOCABULARY²-bounded.
    The pair self-join is per-doc (equi on doc_id) and the per-doc cost
    is |unique tokens|² — production caps per-doc unique tokens (or
    samples) before this stage; the token doc-frequency table is
    broadcast. Self-join is name-based (toDF), never attribute refs on
    one plan."""
    d = table(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    n_docs = dt.select(F.countDistinct("doc_id").alias("n"))
    df_tok = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("n_t"))
    a = dt.toDF("doc_id", "w1")
    b = dt.toDF("doc_id", "w2")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(F.broadcast(df_tok.toDF("w1", "na")), "w1")
        .join(F.broadcast(df_tok.toDF("w2", "nb")), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.expr("CAST((n_ab * n * 1000000) div (na * nb) AS BIGINT)").alias(
                "lift_e6"
            ),
        )
    )


@register(
    "llm_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT tok, COUNT(*) AS freq FROM (
        SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY tok
    ),
    pairs AS (
      SELECT tok, freq, substr(tok, i, 1) AS c1, substr(tok, i + 1, 1) AS c2
      FROM words, LATERAL (SELECT UNNEST(range(1, len(tok)))) t(i)
      WHERE len(tok) >= 2
    )
    SELECT c1, c2, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY c1, c2
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first round of BPE tokenizer training: corpus-weighted
    adjacent character-pair frequencies (the pair with the max count is
    the first merge). The trick that makes this cheap at 100 TB: pair
    enumeration runs over the DISTINCT word table (vocabulary-sized,
    not corpus-sized) and corpus weights arrive as one count per word —
    exactly how production BPE trainers pre-aggregate before merging.
    One corpus scan for word counts; everything after is
    vocab-bounded."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # (?s) DOTALL: Java '.' excludes line terminators, so without it
    # a token containing \n keeps the terminator glued to the prior
    # char — diverging from the oracle's substr() per-char walk.
    # r16: adjacent pairs via two slices + arrays_zip — the exact shape
    # llm_bpe_train's per-round count already uses — instead of
    # posexplode + lead() over a per-token window, which cost an
    # Exchange + Sort on the exploded char table for an
    # order-within-array the array itself already encodes (guide §2.4).
    n = F.size("cs")
    pairs = (
        words.filter(F.length("tok") >= 2)
        .select("freq", F.split(F.col("tok"), "(?s)(?!^)(?=.)").alias("cs"))
        .select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice("cs", F.lit(1), n - 1).alias("c1"),
                    F.slice("cs", F.lit(2), n - 1).alias("c2"),
                )
            ).alias("p"),
        )
    )
    return pairs.groupBy(
        F.col("p.c1").alias("c1"), F.col("p.c2").alias("c2")
    ).agg(F.sum("freq").cast("bigint").alias("pair_count"))


_BPE_MERGES = 12  # trainer rounds (config: production runs 10k-100k)

# ---------------------------------------------------------------------------
# DuckDB oracles for the BPE pair (VERDICT r7 item 5b): the trainer's K
# rounds are deterministic given the corpus, so they unroll as chained
# CTEs — the same way graph_pagerank/sql_recursive already oracle their
# iterations. The key identity making the per-round rewrite expressible
# in one SQL function: the greedy left-to-right non-overlapping merge of
# _bpe_merge_fold IS the semantics of SQL replace() on a
# separator-delimited symbol string. Symbols are joined with a DOUBLE
# chr(1) boundary and the merge pattern consumes only the INNER half of
# each boundary (chr(1)·a·chr(1)chr(1)·b·chr(1) -> chr(1)·ab·chr(1)), so
# back-to-back merges keep their shared outer separator: 'aaaa' under
# (a,a) folds to [aa, aa], exactly as the fold does, while a symbol that
# merely ENDS in `a` can never false-match a full-symbol boundary.
# CTEs are MATERIALIZED: each round's vocab is referenced twice (pair
# counts + rewrite), and DuckDB's default inlining makes the 12-round
# chain exponential. chr(1) cannot occur inside a symbol: tokens come
# from whitespace-split fixture text.
# ---------------------------------------------------------------------------

_BPE_D = "(chr(1)||chr(1))"  # symbol boundary: double separator
_BPE_S = "chr(1)"            # inner half of a boundary


def _bpe_oracle_rounds(k: int) -> str:
    """words + v0 + k rounds of (pair-count, argmax, rewrite) CTEs."""
    parts = [f"""
words AS (
  SELECT tok, COUNT(*) AS freq FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE len(tok) >= 1 GROUP BY tok
),
v0 AS MATERIALIZED (
  SELECT tok, freq,
         {_BPE_D} || string_agg(substr(tok, i, 1), {_BPE_D} ORDER BY i)
           || {_BPE_D} AS s
  FROM words, LATERAL (SELECT UNNEST(range(1, len(tok) + 1)) AS i) t
  GROUP BY tok, freq
)"""]
    for r in range(1, k + 1):
        parts.append(f"""
p{r} AS (
  SELECT l[i] AS a, l[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(s, {_BPE_D}) AS l FROM v{r-1}) w,
       LATERAL (SELECT UNNEST(range(2, len(w.l) - 1)) AS i) t
  GROUP BY a, b
),
m{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} WHERE cnt >= 2
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
v{r} AS MATERIALIZED (
  SELECT tok, freq,
         CASE WHEN m.a IS NULL THEN s
              ELSE replace(s, {_BPE_S}||m.a||{_BPE_D}||m.b||{_BPE_S},
                              {_BPE_S}||m.a||m.b||{_BPE_S})
         END AS s
  FROM v{r-1} LEFT JOIN m{r} m ON TRUE
)""")
    return ",".join(parts)


def _bpe_train_oracle(k: int) -> str:
    finals = "\nUNION ALL\n".join(
        f'SELECT CAST({r-1} AS INT) AS merge_rank, a AS "left", b AS "right",'
        f" a||b AS merged, cnt AS pair_count FROM m{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + _bpe_oracle_rounds(k) + "\n" + finals


def _bpe_encode_oracle(k: int) -> str:
    return ("WITH " + _bpe_oracle_rounds(k) + f""",
toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE len(tok) >= 1
),
enc AS (SELECT tok, len(string_split(s, {_BPE_D})) - 2 AS n_sym FROM v{k})
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
       CAST(SUM(len(tok)) - SUM(n_sym) AS BIGINT) AS saved
FROM toks JOIN enc USING (tok)
GROUP BY doc_id""")


def _bpe_merges_for(spark: SparkSession, sf_dir: str) -> list:
    """The learned merge list, memoized per session and documents
    content: llm_bpe_encode (and repeated plan builds of it) must not
    re-run the K-round trainer job chain every time."""
    return session_memo(
        spark, sf_dir, ("documents",), "bpe_merges",
        lambda: [(r["left"], r["right"])
                 for r in llm_bpe_train(spark, sf_dir).collect()],
    )


def _bpe_merge_fold(syms, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) into a+b over a
    symbol array — the single definition both the trainer and the
    encoder fold with, so train and apply can never disagree on merge
    semantics. No overlap flag needed: the merged symbol is the
    concatenated string, which cannot equal the left element it
    replaced, so 'aaa' under (a, a) folds to [aa, a]."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@register("llm_bpe_train", oracle=_bpe_train_oracle(_BPE_MERGES))
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer TRAINING (Sennrich 2016 shape), the iterative
    extension of llm_bpe_pair_counts' single round: K times, count
    corpus-weighted adjacent symbol pairs, take the argmax pair
    (deterministic tie-break: count desc, then lexicographic), and
    merge its non-overlapping occurrences left-to-right in every word.

    What makes this trainable at 100 TB: the corpus is touched ONCE
    (word counts); every round after runs over the DISTINCT-word symbol
    table — vocabulary-sized, not corpus-sized — exactly the
    pre-aggregation production BPE trainers use. Per round: one
    vocab-bounded pair aggregation (adjacent pairs via two slices +
    arrays_zip, no per-element lambda on the hot count path), one
    driver fetch of a single argmax row (bounded: one row per round),
    and one merge rewrite via F.aggregate — a higher-order fold that IS
    per-element interpreted, which is acceptable only because the table
    it runs on is the vocabulary. localCheckpoint per round keeps the
    lineage flat (the same bounded-iteration posture as
    llm_dedup_clusters / llm_kmeans). The greedy left-to-right merge
    needs no overlap flag: a merged symbol is the concatenated string,
    which can never equal the pair's left element it replaced, so
    'aaa' under (a,a) folds to [aa, a] exactly as the reference
    implementation does.

    Output: one row per learned merge (merge_rank, left, right, merged,
    pair_count). Early-stops when no pair reaches count 2.

    Oracle (EXACT since r8): the K deterministic rounds unroll as
    chained MATERIALIZED CTEs (_bpe_train_oracle — the greedy merge is
    SQL replace() on a double-separator symbol string; see the module
    comment above for the boundary argument). pytest additionally
    replays a pure-Python reference trainer and asserts the merge list
    is IDENTICAL (test_llm_ops.test_bpe_train_matches_reference_replay)."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words.select(
        F.split("tok", "(?s)(?!^)(?=.)").alias("syms"), "freq"
    ).localCheckpoint()
    merges = []
    for rank in range(_BPE_MERGES):
        n = F.size("syms")
        pairs = (
            vocab.filter(n >= 2)
            .select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", F.lit(1), n - 1).alias("a"),
                        F.slice("syms", F.lit(2), n - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )
        best = (
            pairs.filter(F.col("pair_count") >= 2)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .first()
        )
        if best is None:
            break
        a, b, cnt = best["a"], best["b"], int(best["pair_count"])
        merges.append((rank, a, b, a + b, cnt))
        fold = _bpe_merge_fold(F.col("syms"), a, b)
        vocab = vocab.select(fold.alias("syms"), "freq").localCheckpoint()
    return spark.createDataFrame(
        merges,
        "merge_rank INT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT",
    )


@register("llm_bpe_encode", oracle=_bpe_encode_oracle(_BPE_MERGES))
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the llm_bpe_train merge list to the corpus — the ENCODE
    step of the tokenizer lifecycle, giving per-document token counts
    under the learned vocabulary (what a data pipeline actually bills
    by). Vocab-bounded like the trainer: the merge list (K rows) is
    collected driver-side and folded in rank order over the DISTINCT
    word table via the same _bpe_merge_fold the trainer used (one
    definition, so train/apply cannot disagree on merge semantics);
    per-word encoded lengths then join back to the corpus token stream
    — the corpus itself is never rewritten.

    Output: doc_id, n_words, n_tokens (post-merge symbols), saved
    (chars-minus-tokens, the compression the tokenizer bought).

    Oracle (EXACT since r8): the same unrolled K-round CTE chain as the
    trainer, extended with the per-word encoded length joined back to
    the token stream (_bpe_encode_oracle). pytest additionally replays
    a pure-Python reference train+encode and asserts identical per-doc
    counts (test_llm_ops.test_bpe_encode_matches_reference_replay)."""
    merges = _bpe_merges_for(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") >= 1)
    enc = toks.select("tok").distinct().select(
        "tok", F.split("tok", "(?s)(?!^)(?=.)").alias("syms")
    )
    for a, b in merges:
        enc = enc.select("tok", _bpe_merge_fold(F.col("syms"), a, b).alias("syms"))
    enc = enc.select("tok", F.size("syms").alias("n_sym"))
    # join strategy left to AQE: the encoded vocab is corpus-bounded
    # but not always broadcastable (a 100 TB crawl's word-type table
    # can reach 10^8 rows); AQE broadcasts it when it measures small
    return (
        toks.join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_tokens"),
            (F.sum(F.length("tok")) - F.sum("n_sym"))
            .cast("bigint")
            .alias("saved"),
        )
    )


@register(
    "llm_unigram_surprise",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    model AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT COUNT(*) AS n FROM toks)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(LENGTH(bin((SELECT n FROM total) // m.c)) - 1)
                AS BIGINT) AS surprise_total,
           CAST(SUM(LENGTH(bin((SELECT n FROM total) // m.c)) - 1) AS DOUBLE)
             / COUNT(*) AS surprise_mean
    FROM toks t JOIN model m ON m.tok = t.tok
    GROUP BY t.doc_id
    """,
)
def llm_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring under a corpus unigram LM:
    per-token surprisal ⌊log₂(N/c_tok)⌋, summed and averaged per doc.
    High-surprise docs are gibberish/rare-vocab candidates; low-surprise
    docs are boilerplate — both tails get cut in LLM data curation.

    Exactness: ⌊log₂(N/c)⌋ = ⌊log₂(N div c)⌋ (no power of two lies
    between N div c and N/c), and ⌊log₂(x)⌋ on integers is
    length(bin(x))−1 — pure integer/string ops, bit-identical across
    engines, no libm log in sight. The mean is one exact int-ratio
    division.

    Scale: tokenize-explode (map-side), a vocabulary-sized model
    aggregate, one broadcast-able model join back onto the token
    stream, one per-doc aggregate — the same two-shuffle shape as
    llm_tfidf_top_terms."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    model = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = toks.select(F.count(F.lit(1)).alias("n"))
    scored = (
        toks.join(model, "tok")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("n div c"))) - 1).cast("long").alias("surprise"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("surprise").cast("bigint").alias("surprise_total"),
        (F.sum("surprise").cast("double") / F.count(F.lit(1))).alias("surprise_mean"),
    )


@register(
    "llm_dataset_card_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, COUNT(*) AS n_toks
      FROM (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS tok
            FROM documents) t
      GROUP BY doc_id, source
    ),
    total AS (SELECT COUNT(*) AS n FROM documents)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(t.n_toks) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           STRING_AGG(DISTINCT d.lang, ',' ORDER BY d.lang) AS langs,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM total) AS corpus_share
    FROM documents d JOIN toks t ON t.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def llm_dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator: the per-source mixture summary every
    training-data release publishes (docs, chars, tokens, language
    coverage, corpus share). One tokenize-count pass joined back to the
    doc table, then a per-source rollup — two keyed shuffles; the
    distinct-lang list is an ORDERED string_agg so output is
    deterministic under any partitioning."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_toks"))
    )
    total = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.join(toks.select("doc_id", "n_toks"), "doc_id")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            (F.count(F.lit(1)).cast("double") / F.first("n")).alias("corpus_share"),
        )
    )


# tokenizer vocabulary for coverage analysis: the 24 highest-frequency
# corpus words (fixed literal — a real pipeline ships the tokenizer's
# vocab file; OOV rate then measures domain shift against it)
_COVERAGE_VOCAB = (
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "group", "part",
)


@register(
    "llm_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    flags AS (
      SELECT doc_id, lang,
             CASE WHEN tok IN ({",".join("'" + w + "'" for w in _COVERAGE_VOCAB)})
                  THEN 0 ELSE 1 END AS oov
      FROM toks
    )
    SELECT lang,
           COUNT(*) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM flags GROUP BY lang
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage per language: fraction of corpus
    tokens OUTSIDE a fixed vocabulary — the go/no-go check before
    reusing a tokenizer on new data (high OOV = retrain or extend). The
    vocab ships as a broadcast literal array; membership is a row-local
    `array_contains`, so the only shuffle is the final per-lang
    aggregate (counts are map-side combined; the explode never leaves
    its partition). Integer counts + one rounded division = engine-exact."""
    d = table(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(w) for w in _COVERAGE_VOCAB])
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (~F.array_contains(vocab, F.col("tok"))).cast("int").alias("oov"),
    )
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
        F.round(F.sum("oov").cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
