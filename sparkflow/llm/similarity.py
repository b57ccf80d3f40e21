"""Similarity search over the embedding column (SURVEY §2.11).

All vector scoring is FIXED-POINT (round(x·1e6) int64 — see _FXP):
integer dots are order-independent, hence simultaneously vectorizable
(numpy matmul / JVM integer aggregation) and bit-identical to the DuckDB
oracle's BIGINT list folds. Two execution regimes:

- one query vector vs a scan (llm_knn_cosine): fully JVM-side —
  posexplode + broadcast quantized-query join + integer partial agg
  (map-side complete; no Python worker in the loop).
- pairwise scoring after an LSH bucket join (llm_dedup_embedding,
  llm_knn_all_pairs_lsh): Arrow pandas_udf (_fxp_cosine), since both
  sides vary per row.

LSH bucketing computes all tables' sign bits in one numpy matmul
(_bucket_codes_udf); the only pairwise step anywhere is the bucket
equi-join — no O(n²) cross join ever materializes. llm_centroids /
llm_kmeans aggregate via posexplode (label, dim) partial sums — no
vector is ever assembled on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..catalog import session_memo, table
from ..registry import register

# The deterministic KNN query point is the embedding of the SMALLEST
# vec_id present — derived from the data, not a literal id: the round-7
# reseeded-fixture differential caught the previous `vec_id = 0`
# constant (no such row on an id-offset corpus → empty query → crash in
# knn_cosine, silently empty knn_ivf). Oracles mirror it as
# `(SELECT MIN(vec_id) FROM embeddings)`.
_SQL_QUERY_VEC_ID = "(SELECT MIN(vec_id) FROM embeddings)"

# Hard bound on the hard-negatives query sample: the 1-in-50 sample is
# corpus-proportional, so an uncapped sample would scale with the data
# (corpus/50 rows in one broadcast at 100 TB). The deterministic
# (ORDER BY vec_id, LIMIT) cap bounds the broadcast side by a CONSTANT
# (4096 × 64 dims × 8 B ≈ 2 MB) at any corpus size; the oracle applies
# the identical cap so results stay EXACT. Corpora whose sample exceeds
# the cap mine negatives for the first 4096 query ids — beyond that,
# shard the query matrix and union (see docstring).
_HN_MAX_QUERIES = 4096
_TOP_K = 10


def _query_row(spark: SparkSession, sf_dir: str):
    """(qid, qi): the smallest vec_id and its fixed-point-quantized
    embedding — the shared deterministic KNN query point. One bounded
    driver lookup (TakeOrdered 1 row), memoized per session and
    embeddings content so warm re-invocations skip the extra job."""

    def lookup():
        row = (
            table(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .select("vec_id", "embedding")
            .head()
        )
        qi = np.floor(np.asarray(row[1], dtype=np.float64) * _FXP + 0.5)
        return int(row[0]), qi.astype(np.int64)

    return session_memo(spark, sf_dir, ("embeddings",), "knn_query", lookup)

# Deterministic rational projection matrix for hyperplane LSH:
# proj[t][b][d] = ((2654435761 * (t*S + b*64 + d)) % 2001 - 1000) / 1000
# with per-table namespace stride S = max(1000, 64*n_bits). (Knuth
# multiplicative hash → uniform in [-1, 1], exact same double in any
# engine since it's integer arithmetic then one division.) For the
# shipped n_bits <= 15 the stride is the historical 1000 (b*64+d <= 959
# fits), so defaults are bit-identical; at wider signatures the stride
# grows so tables never reuse each other's hyperplanes (reuse would
# correlate tables and silently cap recall).
#
# LSH sizing (100 TB note): tables × bits trade recall vs bucket size —
# expected bucket occupancy is n / 2^bits per table, so at n=2,000 the
# 4-bit tables below hold O(100) vectors per bucket (the sweet spot);
# at n=10^9 you would raise bits to ~23 to keep the same occupancy and
# add tables to recover recall. These are CONFIG, not architecture: the
# bucket-join plan is unchanged at any (tables, bits).
_N_TABLES = 4
_N_BITS = 4
_DIM = 64

# Fixed-point scale for integer dot products: quantizing coordinates to
# round(x * 1e6) makes every dot/norm an int64 sum — order-independent
# and therefore (a) bit-identical between Spark, numpy, and DuckDB
# regardless of summation order, and (b) vectorizable with numpy matmul
# instead of a per-element interpreted fold. Magnitudes stay exact:
# |coord| < 10 → dot < 64·1e14 < 2^63, and norms < 2^53 convert to
# double exactly before the sqrt/divide (which are IEEE-deterministic).
_FXP = 1_000_000


def _proj(t: int, b: int, d: int, n_bits: int = _N_BITS) -> float:
    stride = max(1000, 64 * n_bits)
    return ((2654435761 * (t * stride + b * 64 + d)) % 2001 - 1000) / 1000.0


def _bucket_codes_udf(n_tables: int, n_bits: int, table_stride: int):
    """pandas_udf: embedding -> array of one bucket code per LSH table.

    One numpy matmul against the (DIM, tables·bits) hyperplane matrix
    replaces tables·bits interpreted F.aggregate folds per row. Since
    r8 the matmul is INTEGER-EXACT: the projection literals are k/1000
    with integer k by construction (_proj), so sign(Σ v_d·k_d/1000) =
    sign(Σ q(v_d)·k_d) on the same 1e6 fixed-point grid the verify
    cosine already uses — int64 products, order-independent, no
    summation-order knife edges. That determinism is what lets
    llm_knn_all_pairs_lsh carry an EXACT DuckDB oracle (the bucket
    arithmetic replays as integer SQL) instead of the old rows-only
    check. No overflow: |q(v)| ≲ 4·10⁶, |k| ≤ 1000, 64 terms →
    ≲ 2.6·10¹¹ ≪ 2⁶³."""
    PK = np.array(
        [
            [
                round(_proj(t, b, d, n_bits) * 1000)
                for t in range(n_tables)
                for b in range(n_bits)
            ]
            for d in range(_DIM)
        ],
        dtype=np.int64,
    )
    bit_w = np.tile(np.array([1 << b for b in range(n_bits)], dtype=np.int64), n_tables)
    offsets = np.array(
        [t * table_stride for t in range(n_tables)], dtype=np.int64
    )

    # DataType objects, not DDL strings: string schemas are parsed at
    # decoration time via the active SparkContext, which doesn't exist
    # yet at module import.
    @pandas_udf(ArrayType(IntegerType()))
    def codes(v: pd.Series) -> pd.Series:
        A = np.floor(
            np.array(v.tolist(), dtype=np.float64) * _FXP + 0.5
        ).astype(np.int64)
        bits = ((A @ PK) >= 0).astype(np.int64) * bit_w  # (n, tables*bits)
        per_table = bits.reshape(len(A), n_tables, n_bits).sum(axis=2) + offsets
        return pd.Series(per_table.astype(np.int32).tolist())

    return codes


@pandas_udf(DoubleType())
def _fxp_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized fixed-point cosine (see _FXP): int64 dots/norms are
    exact and order-independent, so the resulting doubles are
    bit-identical to any engine computing the same quantized formula."""
    A = np.floor(np.array(va.tolist(), dtype=np.float64) * _FXP + 0.5).astype(np.int64)
    B = np.floor(np.array(vb.tolist(), dtype=np.float64) * _FXP + 0.5).astype(np.int64)
    dot = (A * B).sum(axis=1)
    na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
    nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
    return pd.Series(dot.astype(np.float64) / (na * nb))


def _fxp_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of _fxp_cosine's integer dot: BIGINT products summed
    (DuckDB sums BIGINT into HUGEINT — exact)."""
    qa = f"list_transform({a}, x -> CAST(FLOOR(x * {_FXP} + 0.5) AS BIGINT))"
    qb = f"list_transform({b}, x -> CAST(FLOOR(x * {_FXP} + 0.5) AS BIGINT))"
    return (
        f"list_aggregate(list_transform(list_zip({qa}, {qb}),"
        f" p -> p[1] * p[2]), 'sum')"
    )


_KNN_ORACLE = f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {_SQL_QUERY_VEC_ID}
    ),
    scored AS (
      SELECT vec_id, label,
             ROUND(
               CAST({_fxp_dot_sql('embedding::DOUBLE[]', 'qv')} AS DOUBLE)
               / (sqrt(CAST({_fxp_dot_sql('embedding::DOUBLE[]', 'embedding::DOUBLE[]')} AS DOUBLE))
                  * sqrt(CAST({_fxp_dot_sql('qv', 'qv')} AS DOUBLE))), 9) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> {_SQL_QUERY_VEC_ID}
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT {_TOP_K}
    """


@register("llm_knn_cosine", oracle=_KNN_ORACLE)
def llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector, on FIXED-POINT
    quantized coordinates (round(x·1e6) — see _FXP): integer dots are
    order-independent, so the JVM-side integer fold here and the
    oracle's BIGINT list fold produce bit-identical doubles. This is the
    honest way to make vector scoring both fast (no per-element
    interpreted fold) and oracle-exact; real ANN systems quantize for
    the same determinism/throughput reasons. maintenance_knn_quantize
    is the separate key that stages the fixed-point matrix and scores
    it with one Arrow int64 matmul."""
    e = table(spark, sf_dir, "embeddings")
    # Resolve the query vector ONCE at plan-build time (in a real KNN
    # service the query vector arrives client-side; here it is one tiny
    # lookup, memoized per session). The scan side stays ENTIRELY
    # JVM-side codegen: posexplode to (vec, dim) rows, broadcast-join
    # the 64-row quantized query table, integer partial aggregation —
    # a vector's dims never span partitions, so the sums complete
    # map-side and only n_vectors rows reach the exchange; the top-10
    # is TakeOrderedAndProject (per-partition heap, k rows per
    # partition to the driver).
    #
    # Plan-shape study (round 4, all bit-identical output, same warm
    # prepared-plan harness at sf0.1): this 2-stage shape 40 ms;
    # "fused" single-stage alternatives all LOSE — per-row
    # zip_with/aggregate higher-order folds 107 ms exec (lambda
    # expressions are interpreted, ~400k lambda evals), a 64-term
    # unrolled dot 102-129 ms under every codegen knob (the generated
    # method exceeds HotSpot's JIT limit and runs interpreted), Arrow
    # mapInPandas matmul 156 ms (python-worker round trip). The
    # measured floor of the harness itself (spark.range(10) through the
    # same toPandas path) is ~45 ms in that session — this query is AT
    # the floor; see BASELINE.md. The pandas_udf path (_fxp_cosine)
    # remains the right tool for PAIRWISE scoring, where both sides
    # vary.
    qid, qi = _query_row(spark, sf_dir)
    nq = float(np.sqrt(np.float64((qi * qi).sum())))
    qdf = spark.createDataFrame(
        [(int(d), int(v)) for d, v in enumerate(qi)], "dim INT, qv LONG"
    )
    flat = (
        e.filter(F.col("vec_id") != qid)
        .select("vec_id", "label", F.posexplode("embedding").alias("dim", "x"))
        .withColumn("xi", F.floor(F.col("x").cast("double") * _FXP + 0.5).cast("long"))
    )
    return (
        flat.join(F.broadcast(qdf), "dim")
        .groupBy("vec_id")
        .agg(
            F.first("label").alias("label"),
            F.sum(F.col("xi") * F.col("qv")).alias("dot"),
            F.sum(F.col("xi") * F.col("xi")).alias("n2"),
        )
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2").cast("double")) * nq),
                9,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_TOP_K)
    )


def _fxp_matrix_frame(e: DataFrame) -> DataFrame:
    """Quantize an embeddings-shaped frame into the fixed-point matrix
    schema (vec_id, label, xi: array<int> = round(x·1e6), n2 = Σxi²) —
    applied to the full corpus at stage time and to a DELTA-ONLY scan
    at ingest time (the artifact is row-wise independent, so its IVM is
    plain append). int32 coordinates: |x| < 10 (see _FXP) so round(x·1e6)
    fits comfortably — half the bytes of long at rest and over Arrow."""
    xi = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _FXP + F.lit(0.5)).cast("int"),
    )
    return e.select("vec_id", "label", xi.alias("xi")).withColumn(
        "n2",
        F.aggregate(
            "xi",
            F.lit(0).cast("long"),
            lambda a, x: a + x.cast("long") * x.cast("long"),
        ),
    )


def _knn_matrix(spark: SparkSession, sf_dir: str):
    """The brute-force KNN's staged artifact: the corpus as a
    FIXED-POINT matrix — (vec_id, label, xi: array<long> = round(x·1e6)
    per coordinate, n2 = Σxi² precomputed). Built once and published
    content-addressed under the shared staging root
    (sources/staging.py). The quantization expression is the exact one
    llm_knn_cosine applies per row, so the two plans score identical
    integers."""
    from ..sources import staging

    def build() -> DataFrame:
        e = table(spark, sf_dir, "embeddings")
        # layout (r13 — replaces r12's max(8, natural-partitions) rule,
        # which inherited the SOURCE's split count and paid the
        # python-eval boundary per task: 32 staged tasks at sf30 read
        # 0.70 s where 8 read 0.54 s; the measured per-task cost of the
        # Arrow/Python round trip on this box is ~15-25 ms, so task
        # count — not bytes — dominates until partitions reach ~32 MB):
        # BYTES-based target, ~32 MB of source per partition, floor 8
        # for decode/IPC pipelining (r12's measured sf10 optimum).
        # Grows linearly with the corpus, so a 100× rung gets 100×
        # the parallelism — the shard-proof property.
        import os

        from ..sources.staging import _table_files

        src_bytes = sum(
            os.path.getsize(f) for f in _table_files(sf_dir, "embeddings")
        )
        parts = max(8, src_bytes // (32 << 20))
        return _fxp_matrix_frame(e).repartition(int(parts))

    return staging.stage_parquet(
        spark, "knn", sf_dir, ("embeddings",), "fxp_matrix", build
    )


def _knn_arrow_read(mat: DataFrame, qid: int, qi) -> DataFrame:
    """Staged KNN scoring: ONE Arrow-native int64 matmul over the
    fixed-point matrix (mapInArrow — the list column flattens to a
    zero-copy (rows × dim) ndarray, no per-row Python and no
    posexplode/join), emitting exact integer (dot, n2) per vector. The
    per-vector DOUBLE math (divide, sqrt, round) stays in the SAME
    Spark expressions as llm_knn_cosine, so staged and raw top-10 are
    bit-identical — numpy int64 matmul is exact (|dot| < 2^63, see
    _FXP) and order-independence is the fixed-point design's point.
    Scales: the matmul shards over partitions (each Arrow batch scores
    independently); at 10^9 vectors the IVF keys bound the candidate
    set and this same kernel scores the probed cells.

    r13: the kernel emits ONLY each batch's top-k survivors (plus a
    1e-8 margin band), not all n scored rows — r12's shape returned the
    whole corpus over a second Arrow IPC hop just so TakeOrdered could
    discard it; at sf30 that return stream was the dominant cost. The
    prune is EXACT: a dropped row has >= k batch rows whose unrounded
    cosine exceeds its own by > 1e-8, and since |round9(x) - x| <=
    5e-10, each of those still beats it strictly AFTER rounding — so no
    dropped row can enter the global rounded-top-k under any vec_id
    tiebreak. Survivors' (dot, n2) integers flow into the SAME Spark
    double expressions as before, so the emitted top-10 stays
    bit-identical to the cold plan (the margin only affects which rows
    are carried, never their values)."""
    import pyarrow as pa

    q = np.ascontiguousarray(np.asarray(qi, dtype=np.int64))
    nq = float(np.sqrt(np.float64((q * q).sum())))

    def score(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            xi = b.column(b.schema.get_field_index("xi"))
            m = (
                xi.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
                .reshape(b.num_rows, len(q))
            )
            dot = m @ q
            n2 = (
                b.column(b.schema.get_field_index("n2"))
                .to_numpy(zero_copy_only=False)
            )
            # exact-dominance prune (see docstring): dot and n2 are
            # < 2^53, so the float64 cosine here applies the identical
            # IEEE ops Spark's expression will re-apply to survivors
            cos = dot.astype(np.float64) / (np.sqrt(n2.astype(np.float64)) * nq)
            # degenerate norms (zero vector or zero query) make this
            # float cosine NaN, while the shared Spark division the
            # survivors flow into ERRORS under ANSI and yields NULL
            # (sorted last) under non-ANSI. Parity in both modes =
            # ALWAYS emit degenerate rows (so Spark applies its own
            # semantics to them) and threshold the prune over FINITE
            # cosines only — a NaN kth previously turned the band
            # comparison all-False and silently dropped whole batches
            # (r13 advice)
            finite = np.isfinite(cos)
            fin_vals = cos[finite]
            if len(fin_vals) > _TOP_K:
                kth = np.partition(fin_vals, len(fin_vals) - _TOP_K)[
                    len(fin_vals) - _TOP_K
                ]
                idx = np.flatnonzero(~finite | (cos >= kth - 1e-8))
            else:
                idx = np.arange(b.num_rows)
            take = pa.array(idx, type=pa.int64())
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")).take(take),
                    b.column(b.schema.get_field_index("label")).take(take),
                    pa.array(dot[idx], type=pa.int64()),
                    pa.array(n2[idx], type=pa.int64()),
                ],
                names=["vec_id", "label", "dot", "n2"],
            )

    label_type = dict(mat.dtypes)["label"]
    scored = mat.filter(F.col("vec_id") != qid).mapInArrow(
        score, f"vec_id long, label {label_type}, dot long, n2 long"
    )
    return (
        scored.select(
            "vec_id",
            "label",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2").cast("double")) * nq),
                9,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_TOP_K)
    )


@register("maintenance_knn_quantize", oracle=_KNN_ORACLE)
def maintenance_knn_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance pass for the brute-force KNN (r12): quantize the
    corpus once into the staged fixed-point matrix (vec_id, label, xi,
    n2) and answer the query through it — one Arrow int64 matmul over
    the published matrix instead of llm_knn_cosine's posexplode/join
    plan (measured in SCALE.md r12). Append-only ingest
    folds in by quantizing ONLY the new vectors and appending — the
    artifact is row-wise independent, the simplest IVM of all. Oracle:
    the same exact-arithmetic SQL as llm_knn_cosine — equality IS the
    staged matrix's bit-identity claim."""
    mat = _knn_matrix(spark, sf_dir)
    qid, qi = _query_row(spark, sf_dir)
    return _knn_arrow_read(mat, qid, qi)


@register("maintenance_knn_ingest", oracle=_KNN_ORACLE)
def maintenance_knn_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-ONLY ingest for the staged KNN matrix, exercised end-to-end
    (the rollup-ingest evidence grade for the simplest IVM there is):
    the corpus splits 90/10 by a deterministic key predicate, the 10%
    "ingest batch" is materialized as its own directory (the landing
    zone), the base matrix is built from the 90%, and the update
    quantizes ONLY the delta and unions it in — the raw embeddings
    history is absent from the update plan (pytest-pinned), because the
    fixed-point matrix is row-wise independent: no merge arithmetic at
    all, just append. Oracle: the full-corpus exact-arithmetic top-10 —
    equality proves the incrementally-built matrix answers identically
    to the one-shot build."""
    from ..sources import staging

    pred = F.col("vec_id") % 10 == 0
    delta = staging.stage_parquet(
        spark, "ingest", sf_dir, ("embeddings",), "embeddings_delta",
        lambda: table(spark, sf_dir, "embeddings").filter(pred),
    )
    base = staging.stage_parquet(
        spark, "ingest", sf_dir, ("embeddings",), "knn_base_matrix",
        lambda: _fxp_matrix_frame(
            table(spark, sf_dir, "embeddings").filter(~pred)
        ),
    )
    merged = base.unionByName(_fxp_matrix_frame(delta))
    qid, qi = _query_row(spark, sf_dir)
    return _knn_arrow_read(merged, qid, qi)


# Integer replay of the hyperplane-LSH bucket arithmetic (r8): since
# _bucket_codes_udf went fixed-point, every step — projection signs,
# bucket codes, candidate join, cosine rescore — is exact integer (or
# single-IEEE-op-on-identical-operands) arithmetic, so the whole op
# oracles like the minhash pipeline does. Projection literals are
# RE-DERIVED arithmetically in SQL from _proj's formula (no 1024-row
# literal table): k = (2654435761·(t·1000 + b·64 + d)) % 2001 − 1000.
_LSH_ORACLE = f"""
    WITH proj AS (
      SELECT t.t, b.b, d.d,
             ((2654435761 * (t.t * 1000 + b.b * 64 + d.d)) % 2001) - 1000 AS k
      FROM (SELECT UNNEST(range(0, {_N_TABLES})) AS t) t,
           (SELECT UNNEST(range(0, {_N_BITS})) AS b) b,
           (SELECT UNNEST(range(0, {_DIM})) AS d) d
    ),
    flat0 AS (
      SELECT vec_id, UNNEST(embedding::DOUBLE[]) AS val,
             UNNEST(range(0, {_DIM})) AS d
      FROM embeddings
    ),
    flat AS (
      SELECT vec_id, d, CAST(FLOOR(val * {_FXP} + 0.5) AS BIGINT) AS qv
      FROM flat0
    ),
    bits AS (
      SELECT f.vec_id, p.t, p.b,
             CASE WHEN SUM(f.qv * p.k) >= 0 THEN 1 ELSE 0 END AS bit
      FROM flat f JOIN proj p ON p.d = f.d
      GROUP BY f.vec_id, p.t, p.b
    ),
    buckets AS (
      SELECT vec_id, t, SUM(bit * (1 << b)) + t * 100 AS bucket
      FROM bits GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    norms AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM flat GROUP BY vec_id),
    scored AS (
      SELECT c.va, c.vb,
             CAST(SUM(fa.qv * fb.qv) AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cos_sim
      FROM cand c
      JOIN flat fa ON fa.vec_id = c.va
      JOIN flat fb ON fb.vec_id = c.vb AND fb.d = fa.d
      JOIN norms na ON na.vec_id = c.va
      JOIN norms nb ON nb.vec_id = c.vb
      GROUP BY c.va, c.vb, na.n2, nb.n2
    ),
    sym AS (
      SELECT va, vb, cos_sim FROM scored
      UNION ALL
      SELECT vb AS va, va AS vb, cos_sim FROM scored
    )
    SELECT va AS vec_id, vb AS neighbor_id, ROUND(cos_sim, 9) AS cos_sim
    FROM sym
    QUALIFY ROW_NUMBER() OVER (PARTITION BY va
                               ORDER BY cos_sim DESC, vb ASC) = 1
"""


@register("llm_knn_all_pairs_lsh", oracle=_LSH_ORACLE)
def llm_knn_all_pairs_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = _N_TABLES,
    n_bits: int = _N_BITS,
) -> DataFrame:
    """ANN via random-hyperplane LSH: 4 tables × 4-bit sign signatures.
    Candidates = pairs sharing any table's bucket; exact cosine inside
    buckets; per-vector best neighbor kept. The bucket join is the only
    pairwise step — at 100 TB you tune tables/bits so buckets stay
    O(100) rows; everything else is linear. The (n_tables, n_bits)
    knobs are exposed so the recall-curve property test can sweep
    bucket widths (tests/test_llm_ops.py: recall must degrade
    monotonically as buckets narrow — the LSH tradeoff itself).
    Oracle (EXACT since r8): the fixed-point bucket arithmetic replays
    as integer SQL (_LSH_ORACLE — projections re-derived from _proj's
    formula, signs on int64 sums, relational dot rescore), the same
    graduation the minhash pipeline made in r1; the recall pytest stays
    as the semantic check on top."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # one Arrow-vectorized pass computes all tables' bucket codes. The
    # stride namespaces tables inside the single `bucket` join column,
    # so it must exceed the signature range (2^n_bits) — otherwise
    # table t's high codes collide with table t+1's low codes and
    # never-cobucketed vectors become candidates (spurious recall).
    codes = _bucket_codes_udf(n_tables, n_bits, table_stride=max(100, 1 << n_bits))
    buckets = e.select(
        "vec_id", "embedding", F.explode(codes("embedding")).alias("bucket")
    )

    a = buckets.toDF("va", "xa", "bucket")
    b = buckets.toDF("vb", "xb", "bucket")
    pairs = (
        a.join(b, ["bucket"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", _fxp_cosine("xa", "xb").alias("cos_sim"))
        .groupBy("va", "vb")
        .agg(F.first("cos_sim").alias("cos_sim"))  # dedup multi-table hits
    )
    # symmetrize, keep each vector's best neighbor
    sym = pairs.unionByName(
        pairs.select(
            F.col("vb").alias("va"), F.col("va").alias("vb"), "cos_sim"
        )
    )
    best = sym.groupBy("va").agg(
        F.max_by("vb", F.struct(F.col("cos_sim"), (-F.col("vb")).alias("tb"))).alias(
            "neighbor_id"
        ),
        F.round(F.max("cos_sim"), 9).alias("cos_sim"),
    )
    return best.select(F.col("va").alias("vec_id"), "neighbor_id", "cos_sim")


@register(
    "llm_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id,
             UNNEST(embedding::DOUBLE[]) AS val,
             UNNEST(range(0, 64)) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim, SUM(val) / COUNT(*) AS c
      FROM flat GROUP BY label, dim
    ),
    dists AS (
      SELECT f.label, f.vec_id, sqrt(SUM((f.val - c.c) * (f.val - c.c))) AS d
      FROM flat f JOIN cent c ON f.label = c.label AND f.dim = c.dim
      GROUP BY f.label, f.vec_id
    )
    SELECT d.label,
           COUNT(*) AS n_vecs,
           ROUND(SUM(d.d) / COUNT(*), 6) AS avg_dist,
           ROUND((SELECT sqrt(SUM(c.c * c.c)) FROM cent c
                  WHERE c.label = d.label), 6) AS centroid_norm
    FROM dists d GROUP BY d.label
    """,
)
def llm_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + mean distance-to-centroid. posexplode →
    (label, dim) partial aggregation — the distributed way to average
    vectors (never collect, never assemble on one node). Rounded: the
    grouped double sums are order-dependent at the 1e-15 level."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        ),
    )
    cent = flat.groupBy("label", "dim").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("c")
    )
    # r17 (guide §3.3 — explode before a join multiplies the shuffle):
    # the distance pass used to join the 64×-exploded (label, dim, val)
    # rows against cent on (label, dim) — a shuffle of dims × vectors
    # rows — and re-aggregate them back to one row per vector. Instead
    # the per-label centroid folds into ONE array row (|labels| rows,
    # broadcast), each vector joins it on label without leaving its
    # partition, and Σ(val − c)² runs as a zip_with/aggregate fold over
    # the 64 dims in place. Same arithmetic per dim; the per-vector sum
    # is now in fixed dim order where the grouped F.sum was
    # partition-order-dependent — both land identically after the
    # 6-decimal rounding (the docstring's 1e-15 note).
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("carr")
    )
    dists = (
        e.join(F.broadcast(cent_arr), "label")
        .select(
            "label",
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.transform("embedding", lambda x: x.cast("double")),
                        "carr",
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("d"),
        )
    )
    norms = cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm")
    )
    return (
        dists.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d") / F.count(F.lit(1)), 6).alias("avg_dist"),
        )
        .join(norms, "label")
        .select("label", "n_vecs", "avg_dist", "centroid_norm")
    )


@register(
    "llm_dedup_embedding",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
             embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) > 0.98  -- loose prefilter only
    )
    SELECT vec_a, vec_b,
           ROUND(
             CAST({_fxp_dot_sql('va', 'vb')} AS DOUBLE)
             / (sqrt(CAST({_fxp_dot_sql('va', 'va')} AS DOUBLE))
                * sqrt(CAST({_fxp_dot_sql('vb', 'vb')} AS DOUBLE))),
             6) AS cos_sim
    FROM cand
    WHERE ROUND(CAST({_fxp_dot_sql('va', 'vb')} AS DOUBLE)
             / (sqrt(CAST({_fxp_dot_sql('va', 'va')} AS DOUBLE))
                * sqrt(CAST({_fxp_dot_sql('vb', 'vb')} AS DOUBLE))),
             6) >= 0.99
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.99). The corpus
    gets deterministic duplicate vectors injected (exact copies at
    vec_id + MAX(vec_id)+1 for every 10th id — data-derived offset, see
    llm_semdedup for why a constant collides at scale; the natural max
    cosine in this data is ~0.51, so only injected dups cross the
    threshold and the LSH candidate set provably contains them:
    identical vectors share every bucket).

    Scale shape: hyperplane-LSH bucket join proposes candidates (the
    oracle's O(n²) cross join is the sf0.01-only referee, never the
    plan); exact cosine confirms. This is the embedding-dedup stage of a
    training-data pipeline."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    off = e.agg((F.max("vec_id") + F.lit(1)).alias("off"))
    corpus = e.unionByName(
        e.filter(F.col("vec_id") % 10 == 0)
        .crossJoin(F.broadcast(off))
        .select((F.col("vec_id") + F.col("off")).alias("vec_id"), "embedding")
    )
    # 2 tables × 8-bit signatures in one vectorized pass; duplicate
    # vectors share every bucket under ANY consistent bucketing, so the
    # verified output is bucketing-independent (the oracle's O(n²) cross
    # join is the sf0.01-only referee).
    codes = _bucket_codes_udf(2, 8, table_stride=1000)
    buckets = corpus.select(
        "vec_id", "embedding", F.explode(codes("embedding")).alias("bucket")
    )
    a = buckets.toDF("vec_a", "va", "bucket")
    b = buckets.toDF("vec_b", "vb", "bucket")
    return (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", F.round(_fxp_cosine("va", "vb"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= 0.99)
        .groupBy("vec_a", "vec_b")
        .agg(F.first("cos_sim").alias("cos_sim"))
    )


# Exact integer replay of the IVF pipeline (r8, same graduation as the
# LSH op): cell ranking uses the cells' fixed-point SUM vectors (cosine
# is scale-invariant, so sum ≡ mean with NO division — the old
# double-mean centroid was the one order-dependent float in the op),
# norms ride 128-bit (Spark decimal(38,0) / DuckDB HUGEINT: a 100×
# cell's Σqv reaches ~1e10, its square 1e20 > int64), and the
# within-cell rescore is llm_knn_cosine's exact formula.
_IVF_ORACLE = f"""
    WITH flat0 AS (
      SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) AS val,
             UNNEST(range(0, {_DIM})) AS d
      FROM embeddings
    ),
    flat AS (
      SELECT label, vec_id, d,
             CAST(FLOOR(val * {_FXP} + 0.5) AS BIGINT) AS qval
      FROM flat0
    ),
    q AS (
      SELECT d, qval AS qq FROM flat
      WHERE vec_id = {_SQL_QUERY_VEC_ID}
    ),
    cellsum AS (
      SELECT label, d, SUM(qval) AS sq FROM flat GROUP BY label, d
    ),
    cells AS (
      SELECT c.label,
             CAST(SUM(c.sq * q.qq) AS DOUBLE)
               / (sqrt(CAST(SUM(c.sq * c.sq) AS DOUBLE))
                  * sqrt(CAST(SUM(q.qq * q.qq) AS DOUBLE))) AS cell_score
      FROM cellsum c JOIN q ON q.d = c.d
      GROUP BY c.label
    ),
    probe AS (SELECT label FROM cells ORDER BY cell_score DESC, label LIMIT 3),
    rescored AS (
      SELECT f.vec_id, f.label,
             CAST(SUM(f.qval * q.qq) AS DOUBLE) AS dot,
             CAST(SUM(f.qval * f.qval) AS DOUBLE) AS n2
      FROM flat f
      JOIN probe p ON p.label = f.label
      JOIN q ON q.d = f.d
      WHERE f.vec_id <> {_SQL_QUERY_VEC_ID}
      GROUP BY f.vec_id, f.label
    )
    SELECT vec_id, label,
           ROUND(dot / (sqrt(n2)
                 * sqrt((SELECT CAST(SUM(qq * qq) AS DOUBLE) FROM q))), 9)
             AS cos_sim
    FROM rescored
    ORDER BY cos_sim DESC, vec_id LIMIT {_TOP_K}
"""


@register("llm_knn_ivf", oracle=_IVF_ORACLE)
def llm_knn_ivf(spark: SparkSession, sf_dir: str, nprobe: int = 3) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label cells (the label
    column stands in for a k-means codebook — same plan shape), probe
    the nprobe nearest cells, exact cosine only within them. At 100 TB
    the inverted lists are partition-pruned reads (cell id = partition
    key); the scan touches nprobe/k of the data. nprobe is exposed for
    the recall-curve property test (probing every cell must reproduce
    brute force EXACTLY — recall 1.0 — and recall must be monotone in
    nprobe).

    Exact since r8 (was rows-only): cell ranking scores the query
    against each cell's fixed-point SUM vector — cosine is
    scale-invariant, so the sum IS the mean direction and the old
    double-precision mean (the one summation-order-dependent float in
    the op) disappears; cell norms accumulate in decimal(38,0) (a 100×
    cell's Σqv squares past int64; DuckDB mirrors with its automatic
    HUGEINT sums), and the within-cell rescore is llm_knn_cosine's
    integer formula verbatim. Every number either side computes is an
    exact integer or a single IEEE op on identical operands — hence the
    EXACT oracle, with the recall pytest kept as the semantic check."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        ),
    ).withColumn("qval", F.floor(F.col("val") * _FXP + 0.5).cast("long"))
    cellsum = flat.groupBy("label", "dim").agg(F.sum("qval").alias("sq"))
    qid, qi = _query_row(spark, sf_dir)
    qf = flat.filter(F.col("vec_id") == qid).select(
        "dim", F.col("qval").alias("qq")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    scored = (
        cellsum.join(F.broadcast(qf), "dim")
        .groupBy("label")
        .agg(
            (
                F.sum(dec("sq") * F.col("qq")).cast("double")
                / (
                    F.sqrt(F.sum(dec("sq") * F.col("sq")).cast("double"))
                    * F.sqrt(F.sum(F.col("qq") * F.col("qq")).cast("double"))
                )
            ).alias("cell_score")
        )
        .orderBy(F.col("cell_score").desc(), "label")
        .limit(nprobe)
    )
    probe_labels = scored.select("label")
    qn2 = int((qi.astype(object) * qi.astype(object)).sum())  # exact int
    rescored = (
        flat.join(F.broadcast(probe_labels), "label")  # pruned read at scale
        .filter(F.col("vec_id") != qid)
        .join(F.broadcast(qf), "dim")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("qval") * F.col("qq")).alias("dot"),
            F.sum(F.col("qval") * F.col("qval")).alias("n2"),
        )
    )
    cos = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("n2").cast("double"))
            * F.sqrt(F.lit(qn2).cast("double"))
        ),
        9,
    )
    return (
        rescored.select("vec_id", "label", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_TOP_K)
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _kmeans_cte_sql(iters: int) -> str:
    """Unrolled DuckDB twin of _kmeans's rounds (r8, same graduation as
    BPE/LSH/IVF): centroids are EXACT RATIONALS S/n kept as (sum
    vector, count) — never divided — and the assignment metric
    |v − S/n|² compares as |n·v − S|²/n², an exact 128-bit integer
    numerator (HUGEINT here, decimal(38,0) in Spark) over an int64
    denominator, turned into one deterministic IEEE division per
    candidate. MATERIALIZED per round like the BPE oracle (each round's
    tables are referenced twice). Returns the WITH-clause prefix ending
    at a{iters} (final assignment) / c{iters} (final cells), shared by
    the llm_kmeans summary tail and the llm_knn_ivf_kmeans probe
    tail."""
    parts = [f"""
e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * {_FXP} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
flat AS MATERIALIZED (
  SELECT vec_id, t.d, qv[t.d + 1] AS q
  FROM e, LATERAL (SELECT UNNEST(range(0, {_DIM})) AS d) t
),
seeds AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KMEANS_K}
),
seedc AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid,
         vec_id
  FROM seeds
),
c0 AS MATERIALIZED (
  SELECT s.cid, f.d, CAST(1 AS BIGINT) AS n, CAST(f.q AS HUGEINT) AS sv
  FROM seedc s JOIN flat f ON f.vec_id = s.vec_id
)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
a{i} AS MATERIALIZED (
  SELECT vec_id, cid, n, num FROM (
    SELECT f.vec_id, c.cid, c.n,
           SUM((c.n * f.q - c.sv) * (c.n * f.q - c.sv)) AS num
    FROM flat f JOIN c{i-1} c ON c.d = f.d
    GROUP BY f.vec_id, c.cid, c.n
  )
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY CAST(num AS DOUBLE) / CAST(n * n AS DOUBLE), cid) = 1
),
c{i} AS MATERIALIZED (
  SELECT a.cid, f.d, COUNT(*) AS n, SUM(f.q) AS sv
  FROM a{i} a JOIN flat f ON f.vec_id = a.vec_id
  GROUP BY a.cid, f.d
)""")
    return "WITH " + ",".join(parts)


def _kmeans_oracle(iters: int) -> str:
    """Per-cluster (size, inertia) summary over the shared unrolled
    rounds — the llm_kmeans tail."""
    return _kmeans_cte_sql(iters) + f"""
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(num) AS DOUBLE) / CAST(MIN(n) * MIN(n) AS DOUBLE)
         / 1000000000000.0 AS inertia
FROM a{iters} GROUP BY cid"""


def _ivf_kmeans_oracle(iters: int, nprobe: int) -> str:
    """IVF over the LEARNED codebook: rank the k-means cells by
    query·sum-vector cosine (cosine is scale-invariant, so c{{iters}}'s
    exact integer sum vector IS the mean direction — the same
    graduation llm_knn_ivf made for label cells), probe the top
    `nprobe`, exact-rescore the probed members with llm_knn_cosine's
    integer formula. Every intermediate is an exact integer (HUGEINT
    here, decimal(38,0) in Spark) until the one IEEE division per
    candidate."""
    return _kmeans_cte_sql(iters) + f""",
q AS (
  SELECT f.d, f.q AS qq FROM flat f
  WHERE f.vec_id = {_SQL_QUERY_VEC_ID}
),
cellscore AS (
  SELECT c.cid,
         CAST(SUM(c.sv * q.qq) AS DOUBLE)
           / (sqrt(CAST(SUM(c.sv * c.sv) AS DOUBLE))
              * sqrt(CAST(SUM(q.qq * q.qq) AS DOUBLE))) AS cell_score
  FROM c{iters} c JOIN q ON q.d = c.d
  GROUP BY c.cid
),
probe AS (SELECT cid FROM cellscore
          ORDER BY cell_score DESC, cid LIMIT {nprobe}),
rescored AS (
  SELECT f.vec_id, a.cid,
         CAST(SUM(f.q * q.qq) AS DOUBLE) AS dot,
         CAST(SUM(f.q * f.q) AS DOUBLE) AS n2
  FROM a{iters} a
  JOIN probe p ON p.cid = a.cid
  JOIN flat f ON f.vec_id = a.vec_id
  JOIN q ON q.d = f.d
  WHERE a.vec_id <> {_SQL_QUERY_VEC_ID}
  GROUP BY f.vec_id, a.cid
)
SELECT vec_id, cid AS cluster_id,
       ROUND(dot / (sqrt(n2)
             * sqrt((SELECT CAST(SUM(qq * qq) AS DOUBLE) FROM q))), 9)
         AS cos_sim
FROM rescored
ORDER BY cos_sim DESC, vec_id LIMIT {_TOP_K}"""


@register("llm_kmeans", oracle=_kmeans_oracle(3))
def llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's algorithm, 3 iterations, k=8) over
    the embedding table — the iterative-ML representative beyond the
    label-propagation op. Deterministic throughout: init picks the k
    hash-smallest vec_ids' vectors; all arithmetic is fixed-point /
    exact-rational (below); argmin ties break on centroid id.

    Scale shape (the MapReduce Lloyd's standard): ASSIGN = broadcast the
    k-row centroid table against the vector scan (n x k candidate rows,
    min_by per vector — no shuffle of the vectors themselves); UPDATE =
    posexplode to (cluster, dim) partial sums — the same
    no-driver-assembly pattern as llm_centroids. The plan stays fully
    lazy: 3 unrolled iterations chain linearly (each references the
    previous centroid table once), so there is no action, checkpoint, or
    driver loop state — a pure DataFrame program.

    Exact since r8 (was rows-only): centroids are EXACT RATIONALS —
    the (sum vector S, count n) pair, never divided — and assignment
    compares |v − S/n|² as the exact integer |n·v − S|² over n², one
    deterministic IEEE division per candidate. This is textbook
    Lloyd's on the quantized points (the previous double-precision
    centroid mean was the single summation-order-dependent float in
    the op), so the DuckDB oracle unrolls the 3 rounds exactly
    (_kmeans_oracle) AND the inertia-monotonicity pytest now holds by
    theorem rather than approximately. Numerators ride decimal(38,0)
    (DuckDB: HUGEINT) — a 100× cell's n·q reaches ~1e10 and its square
    1e20, past int64."""
    return _kmeans(spark, sf_dir, _KMEANS_ITERS)


def _kmeans(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    assigned, _ = _kmeans_state(spark, sf_dir, iters)
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum("num").cast("double")
                / (F.min("n") * F.min("n")).cast("double")
                / F.lit(1000000000000.0)
            ).alias("inertia"),
        )
    )


def _kmeans_state(spark: SparkSession, sf_dir: str, iters: int):
    """(assigned, cells) after `iters` Lloyd rounds — the final
    assignment frame (vec_id, qv, cid, n, num) and the cells derived
    FROM it (cid, n, S sum vector): the a{iters}/c{iters} pair the
    oracle unrolls. Shared by llm_kmeans (summary tail) and
    llm_knn_ivf_kmeans (probe tail)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * _FXP + 0.5).cast("long")
        ).alias("qv"),
    )

    def num_expr(S, qv, n):
        # |n·v − S|² as exact decimal(38,0): per-dim diff fits long
        # (n·q ≲ 1e10 at 100×), its square may not — square in decimal
        diff = F.zip_with(S, qv, lambda s, q: n * q - s)
        return F.aggregate(
            diff,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x.cast("decimal(38,0)") * x,
        )

    # deterministic init: vectors of the k hash-smallest vec_ids.
    # orderBy().limit(k) plans as TakeOrderedAndProject (per-partition
    # heaps, k-row merge) — never a global window; the row_number that
    # assigns cid 0..k-1 runs over the k-row result only.
    seeds = e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(
        _KMEANS_K
    )
    tiny_w = Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    cells = seeds.select(
        (F.row_number().over(tiny_w) - 1).alias("cid"),
        F.lit(1).cast("long").alias("n"),
        F.col("qv").alias("S"),
    )

    assigned = None
    for _ in range(iters):
        # evaluate the numerator ONCE per candidate row, then reduce
        scored = e.crossJoin(F.broadcast(cells)).select(
            "vec_id",
            "qv",
            "cid",
            "n",
            num_expr(F.col("S"), F.col("qv"), F.col("n")).alias("num"),
        ).withColumn(
            "dd",
            F.col("num").cast("double")
            / (F.col("n") * F.col("n")).cast("double"),
        )
        assigned = scored.groupBy("vec_id").agg(
            F.first("qv").alias("qv"),
            F.min_by(
                F.struct("cid", "n", "num"), F.struct("dd", "cid")
            ).alias("m"),
        ).select(
            "vec_id",
            "qv",
            F.col("m.cid").alias("cid"),
            F.col("m.n").alias("n"),
            F.col("m.num").alias("num"),
        )
        cells = _cells_from_assigned(assigned)
    return assigned, cells


def _cells_from_assigned(assigned: DataFrame) -> DataFrame:
    """The Lloyd UPDATE step: exact-rational (n, S sum vector) cells
    from an assignment frame — posexplode to (cluster, dim) partial
    sums, no driver assembly. Shared by the _kmeans_state loop and
    llm_knn_ivf_kmeans's rebuild over the checkpointed assignment."""
    return (
        assigned.select("cid", F.posexplode("qv").alias("dim", "q"))
        .groupBy("cid", "dim")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("q").alias("sv"))
        .groupBy("cid")
        .agg(
            F.max("cnt").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "sv"))),
                lambda s: s.sv,
            ).alias("S"),
        )
    )


_IVF_KMEANS_NPROBE = 3

def _ivf_kmeans_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means assignment frame, trained once per session and
    embeddings content and localCheckpoint'ed so the probe path's two
    references (cell ranking, member rescoring) never re-run the Lloyd
    rounds. Memoized: the checkpoint is a session-lifetime artifact (a
    codebook), not a per-query allocation, so repeated invocations do
    not stack a fresh checkpoint's storage blocks on the executors."""
    return session_memo(
        spark, sf_dir, ("embeddings",), "ivf_kmeans_assign",
        lambda: _kmeans_state(spark, sf_dir, _KMEANS_ITERS)[0]
        .localCheckpoint(eager=False),
    )


@register(
    "llm_knn_ivf_kmeans",
    oracle=_ivf_kmeans_oracle(_KMEANS_ITERS, _IVF_KMEANS_NPROBE),
)
def llm_knn_ivf_kmeans(
    spark: SparkSession, sf_dir: str, nprobe: int = _IVF_KMEANS_NPROBE
) -> DataFrame:
    """IVF over a LEARNED codebook — llm_knn_ivf with the k-means cells
    (llm_kmeans's final assignment) in place of the label column. This
    is the composition the 10× recall ladder motivates (SCALE.md r10):
    the label-as-codebook quantizer's recall-per-fraction degrades when
    the cells stop tracking the data's directions; a learned codebook
    is the production IVF answer, and this key makes the engine's own
    k-means BE that codebook, end-to-end exact.

    Plan shape at 100 TB: the codebook is k rows (broadcast); cell
    ranking is a k×64 aggregate; only the probed cells' members are
    exploded and rescored (the member explode happens AFTER the
    broadcast semi-join on probed cids, so the scan of (n/k)·nprobe
    vectors is the cost — the same inverted-list pruning as the label
    variant, but against learned lists). Exact oracle: cells rank by
    query·sum-vector cosine over exact integers (scale-invariance of
    cosine = the same no-division graduation as llm_knn_ivf), rescore
    is llm_knn_cosine's integer formula; assignment rounds unroll in
    SQL via _kmeans_cte_sql."""
    # Train once, reuse: the probe path references the assignment twice
    # (cells for ranking, member lists for rescoring); without
    # materialization the lazy 3-round DAG re-executes per reference.
    # Checkpoint the ASSIGNMENT only and rebuild cells from it (one
    # aggregate) so the training plan runs exactly once — the
    # production IVF posture anyway: the codebook is an artifact you
    # build once, not part of the query. Memoized per (session, corpus)
    # so repeat calls share one checkpoint (no storage-block buildup).
    assigned = _ivf_kmeans_assigned(spark, sf_dir)
    cells = _cells_from_assigned(assigned)
    qid, qi = _query_row(spark, sf_dir)
    qf = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == qid)
        .select(
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * _FXP + 0.5).cast(
                        "long"
                    ),
                )
            ).alias("dim", "qq")
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    cellflat = cells.select("cid", F.posexplode("S").alias("dim", "sv"))
    probe = (
        cellflat.join(F.broadcast(qf), "dim")
        .groupBy("cid")
        .agg(
            (
                F.sum(dec("sv") * F.col("qq")).cast("double")
                / (
                    F.sqrt(F.sum(dec("sv") * F.col("sv")).cast("double"))
                    * F.sqrt(F.sum(F.col("qq") * F.col("qq")).cast("double"))
                )
            ).alias("cell_score")
        )
        .orderBy(F.col("cell_score").desc(), "cid")
        .limit(nprobe)
        .select("cid")
    )
    qn2 = int((qi.astype(object) * qi.astype(object)).sum())  # exact int
    mem_flat = (
        assigned.join(F.broadcast(probe), "cid")  # pruned lists at scale
        .filter(F.col("vec_id") != qid)
        .select("vec_id", "cid", F.posexplode("qv").alias("dim", "qval"))
    )
    rescored = (
        mem_flat.join(F.broadcast(qf), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(F.col("qval") * F.col("qq")).alias("dot"),
            F.sum(F.col("qval") * F.col("qval")).alias("n2"),
        )
    )
    cos = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("n2").cast("double"))
            * F.sqrt(F.lit(qn2).cast("double"))
        ),
        9,
    )
    return (
        rescored.select(
            "vec_id", F.col("cid").alias("cluster_id"), cos.alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_TOP_K)
    )


# llm_semdedup hot-cell guard (r17, guide §2.5): cells larger than this
# pair through the triangle-blocked join (B = ceil(cn / cap) blocks →
# per-task pair work bounded by ~cap²·d MACs); everything smaller keeps
# the plain one-key within-cell join. 4096²/2 · 128-dim int64 dots ≈
# 10⁹ MACs ≈ single-digit seconds per task — the largest block a
# straggler budget tolerates. Balanced cells here are O(100) vectors,
# so the local plan is bit-identical to the unguarded one.
_SEMDEDUP_CELL_CAP = 4096


@register(
    "llm_semdedup",
    oracle="""
    WITH sub AS (
      SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 4 = 0
      UNION ALL
      SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
             label, embedding
      FROM embeddings WHERE vec_id % 20 = 0
    ),
    dims AS (
      SELECT vec_id, label, d AS dim,
             CAST(FLOOR(CAST(embedding[d + 1] AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS q
      FROM sub, LATERAL (SELECT UNNEST(range(0, len(embedding)))) t(d)
    ),
    norms AS (
      SELECT vec_id, SUM(q * q) AS n2 FROM dims GROUP BY vec_id
    ),
    dots AS (
      SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
             SUM(a.q * b.q) AS dot
      FROM dims a JOIN dims b
        ON a.label = b.label AND a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY a.label, a.vec_id, b.vec_id
    )
    SELECT d.label, d.vec_a, d.vec_b,
           d.dot / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2) AS cosine_q
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
    WHERE d.dot > 0
      AND 400 * d.dot * d.dot >= 361 * na.n2 * nb.n2
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication partitioned
    by quantizer cell — embeddings are clustered coarsely (the label
    column stands in for the k-means codebook, as in llm_knn_ivf), and
    exact pairwise cosine runs ONLY inside each cell. Pairs with cosine
    >= 0.95 are semantic duplicates.

    Cross-engine exactness: dims are quantized to integers (×100); the
    threshold test 400·dot² >= 361·|a|²·|b|² is pure int64 arithmetic
    (no sqrt, no epsilon — bounds chosen so no product exceeds 2⁶³),
    and the reported cosine divides exact integers under one
    correctly-rounded IEEE sqrt, identical in both engines.

    Scale: cost is Σ_cells |cell|² — the whole point of SemDeDup: the
    quantizer bounds the quadratic term to within-cell work, and cells
    are processed independently (embarrassingly parallel across the
    cluster). r17: one HOT cell is no longer one task — cells beyond
    _SEMDEDUP_CELL_CAP vectors pair through a triangle-blocked join
    (see the inline comment) that spreads their quadratic work over
    B(B+1)/2 independent join keys; balanced cells keep the plain
    one-key join (B = 1). When cells grow too big structurally,
    re-quantize finer or fall back to the LSH-confirm pipeline
    (llm_dedup_embedding). The %4 subsample
    keeps the demo cells small (config, not architecture); injected
    exact copies at vec_id + MAX(vec_id)+1 are the ground-truth
    duplicates (the natural within-cell max cosine is ~0.47). The
    offset is DATA-DERIVED, not a constant: a fixed 100000 collided
    with real ids once the corpus passed 100k vectors (found at the
    measured 100x scale point, where it silently produced 0 rows — and
    the differential gate cannot catch this class, because the oracle
    replays the same formula and corrupts identically)."""
    base = table(spark, sf_dir, "embeddings")
    off = base.agg((F.max("vec_id") + F.lit(1)).alias("off"))
    e = base.filter(F.col("vec_id") % 4 == 0).select("vec_id", "label", "embedding").unionByName(
        base.filter(F.col("vec_id") % 20 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("vec_id") + F.col("off")).alias("vec_id"),
            "label",
            "embedding",
        )
    )
    # r16 (guide §2.3/§3.3 — never explode what an array fold can do):
    # the old plan exploded every vector to 128 (vec, dim) rows,
    # shuffled them into a (label, dim) self-join, and re-grouped 128
    # rows back into each pair's dot. Now vectors stay ARRAYS:
    # quantization and the norm are JVM array folds, the within-cell
    # pair join carries one row per vector, and each pair's dot is one
    # zip_with fold (0.81× in the same-window A/B, tools/perf.py ab).
    # Identical int64 arithmetic → identical rows (same products, same
    # sums, same sqrt). No materialization boundary on q: the join's
    # two references re-run a projected codegen parquet scan, which the
    # A/B measured cheaper than persist/localCheckpoint — and AQE's
    # runtime stage cache already dedupes the identical exchanges.
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 100 + 0.5) as bigint))"
        ).alias("qv"),
    ).withColumn(
        "n2",
        F.expr("aggregate(qv, cast(0 as bigint), (acc, x) -> acc + x * x)"),
    )
    # r17 cell-size guard (guide §2.5 — AQE's skew handling cannot
    # split one enormous join key, and a hot quantizer cell is exactly
    # that), CONF-GATED on spark.sparkflow.semdedup.cellCap: when a cap
    # is set, a tiny per-label count splits cells into COLD (cn ≤ cap —
    # the r16 plain within-cell join, byte-identical shape) and HOT,
    # which pair through a TRIANGLE-BLOCKED self-join: a cell of cn
    # vectors gets B = ⌈cn / cap⌉ hash blocks; the left side replicates
    # block i to keys (i, j≥i), the right side block j to keys
    # (i≤j, j), so every unordered pair meets on exactly one
    # (label, i, j) key — B(B+1)/2 independent keys spread the cell's
    # quadratic work across the cluster with per-task cost ≤ ~cap².
    # The default is UNGUARDED because at bench scale every extra
    # stage is pure fixed cost (measured: always-blocked 1.72×,
    # hot/cold split 1.88× interleaved — both on data whose cells are
    # O(100) vectors; ledger), while on a synthesized hot cell the
    # blocked path wins (see test_semdedup_hot_cell_guard_* and the
    # r17 ledger's skew rung). Production sets the cap
    # (_SEMDEDUP_CELL_CAP is the recommended value) the same way
    # shuffle parallelism is sized — per deployment, not per query.
    # Pair set is IDENTICAL under any cap: a label is entirely hot or
    # entirely cold (one cn per label); in the hot branch (i < j)
    # keeps cross-block pairs exactly once (va's block ≤ vb's block by
    # key construction), (i == j) falls back to the vec_a < vec_b
    # order, and least/greatest restore the ordered output columns
    # (dot, the int threshold and the n2 product are all symmetric).
    cap = int(spark.conf.get("spark.sparkflow.semdedup.cellCap", "0"))
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, x) -> acc + x)"
    )
    if cap <= 0:
        cold = q
        hot_pairs = None
    else:
        cells = q.groupBy("label").agg(F.count(F.lit(1)).alias("cn"))
        qs = q.join(F.broadcast(cells), "label")
        cold = qs.filter(F.col("cn") <= cap).drop("cn")
        hot = (
            qs.filter(F.col("cn") > cap)
            .withColumn("nb_", F.ceil(F.col("cn") / F.lit(cap)).cast("int"))
            .withColumn(
                "blk", F.pmod(F.xxhash64("vec_id"), F.col("nb_")).cast("int")
            )
        )
        ha = hot.select(
            F.col("vec_id").alias("va"), "label",
            F.col("qv").alias("qa"), F.col("n2").alias("ha_n2"),
            F.col("blk").alias("bi"),
            F.explode(F.sequence(F.col("blk"), F.col("nb_") - 1)).alias("bj"),
        )
        hb = hot.select(
            F.col("vec_id").alias("vb"), "label",
            F.col("qv").alias("qb"), F.col("n2").alias("hb_n2"),
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
            F.col("blk").alias("bj"),
        )
        hot_pairs = (
            ha.join(hb, ["label", "bi", "bj"])
            .filter((F.col("bi") < F.col("bj")) | (F.col("va") < F.col("vb")))
            .select(
                "label",
                F.least("va", "vb").alias("vec_a"),
                F.greatest("va", "vb").alias("vec_b"),
                F.col("ha_n2").alias("na2"),
                F.col("hb_n2").alias("nb2"),
                dot.alias("dot"),
            )
        )
    ca = cold.select(
        F.col("vec_id").alias("vec_a"), "label",
        F.col("qv").alias("qa"), F.col("n2").alias("na2"),
    )
    cb = cold.select(
        F.col("vec_id").alias("vec_b"), "label",
        F.col("qv").alias("qb"), F.col("n2").alias("nb2"),
    )
    pairs = (
        ca.join(cb, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("label", "vec_a", "vec_b", "na2", "nb2", dot.alias("dot"))
    )
    if hot_pairs is not None:
        pairs = pairs.unionByName(hot_pairs)
    return (
        pairs.filter(
            (F.col("dot") > 0)
            & (400 * F.col("dot") * F.col("dot") >= 361 * F.col("na2") * F.col("nb2"))
        )
        .select(
            "label",
            "vec_a",
            "vec_b",
            (
                F.col("dot")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))
            ).alias("cosine_q"),
        )
    )


def _hn_query_sample(e: DataFrame) -> DataFrame:
    """The hard-negatives query sample as a BOUNDED DataFrame: 1-in-50
    of the corpus, deterministically ordered, capped at
    `_HN_MAX_QUERIES` rows. Every driver-side materialization of the
    query matrix MUST go through this helper — the LIMIT is what keeps
    llm_hard_negatives' one collect() constant-sized at any corpus
    scale (tests/test_llm_ops.py::test_hard_negatives_query_sample_is_bounded
    asserts the plan carries a GlobalLimit and the row count is capped)."""
    return (
        e.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "label", "embedding")
        .orderBy("vec_id")
        .limit(_HN_MAX_QUERIES)
    )


@register(
    "llm_hard_negatives",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, label, embedding FROM embeddings
    ),
    dims AS (
      SELECT vec_id, label, d AS dim,
             CAST(FLOOR(CAST(embedding[d + 1] AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS q
      FROM sub, LATERAL (SELECT UNNEST(range(0, len(embedding)))) t(d)
    ),
    norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM dims GROUP BY vec_id),
    queries AS (SELECT vec_id, label FROM sub WHERE vec_id % 50 = 0
                ORDER BY vec_id LIMIT {_HN_MAX_QUERIES}),
    dots AS (
      SELECT qd.vec_id AS query_id, cd.vec_id AS cand_id,
             SUM(qd.q * cd.q) AS dot
      FROM dims qd
      JOIN queries qq ON qq.vec_id = qd.vec_id
      JOIN dims cd ON cd.dim = qd.dim AND cd.label <> qq.label
      GROUP BY qd.vec_id, cd.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.cand_id,
             d.dot / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2) AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.cand_id
    )
    SELECT query_id, cand_id AS hard_negative_id, cos_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) = 1
    """,
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training: for each
    query vector, the MOST similar vector of a DIFFERENT label — the
    negatives that actually teach the model a boundary (random negatives
    are too easy). Top-1 per query with a (cosine desc, id) tiebreak.

    Exactness: the same ×100 integer quantization as llm_semdedup makes
    every dot exact (|dot| ≤ 64·10⁶, n2 products < 2⁵³ so the double
    conversion is lossless); cosines divide exact ints under one IEEE
    sqrt, so the ranking (and thus the argmax) is bit-identical to the
    oracle regardless of which task scored which candidate.

    Scale shape (r10 verdict item 5 — fully DRIVER-FREE, the last
    driver-side materialization outside O(1) stats reads is gone): the
    query side is a bounded sample (`_hn_query_sample`: 1-in-50,
    ORDER BY vec_id LIMIT 4096, mirrored in the oracle — ≤2 MB at ANY
    corpus size) kept as a DataFrame and `F.broadcast` into the
    candidate join, so the sample flows executor→executor through
    Spark's broadcast machinery instead of a collect-and-inline closure
    (no driver round-trip, no memo-cache invalidation machinery). The
    non-equi condition (label <> q_label) makes it a
    BroadcastNestedLoopJoin — the dot product runs per joined row as
    JVM codegen over the two quantized arrays (zip_with + aggregate, no
    dim explode: nothing is 64×-amplified), and the per-query argmax is
    ONE hash aggregate with map-side partial max_by, so the only rows
    that reach the exchange are n_tasks·n_q partial winners — nothing
    quadratic is ever shuffled, and candidates stream through a straight
    parquet scan. Work is n_c·n_q·d MACs spread linearly across
    executors, the same asymptotics as the matmul kernel this replaces.
    When the query sample outgrows a broadcast (~10⁶ rows), shard the
    query side and union, or prune candidates per query with the IVF
    cells (llm_knn_ivf) / LSH buckets and exact-rescore — the
    approximate-recall variants of this same reduce."""
    e = table(spark, sf_dir, "embeddings")

    def quant(col):
        return F.transform(
            col, lambda x: F.floor(x.cast("double") * 100 + 0.5).cast("long")
        )

    def n2(col):
        return F.aggregate(
            col, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        )

    q = (
        _hn_query_sample(e)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            quant(F.col("embedding")).alias("q_vec"),
        )
        .withColumn("q_n2", n2(F.col("q_vec")))
    )
    c = (
        e.select(
            F.col("vec_id").alias("cand_id"),
            "label",
            quant(F.col("embedding")).alias("c_vec"),
        )
        .withColumn("c_n2", n2(F.col("c_vec")))
    )
    dot = F.aggregate(
        F.zip_with("c_vec", "q_vec", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .withColumn(
            "cos_sim",
            dot.cast("double")
            / F.sqrt((F.col("c_n2") * F.col("q_n2")).cast("double")),
        )
    )
    # (cos desc, cand_id asc) argmax as ONE max_by over a lexicographic
    # struct — partial-aggregable, so each task reduces its candidates
    # to ≤ n_q rows before the exchange
    best = scored.groupBy("query_id").agg(
        F.max_by(
            F.struct(F.col("cand_id"), F.col("cos_sim")),
            F.struct(F.col("cos_sim"), (-F.col("cand_id")).alias("nid")),
        ).alias("b")
    )
    return best.select(
        "query_id",
        F.col("b.cand_id").alias("hard_negative_id"),
        F.col("b.cos_sim").alias("cos_sim"),
    )


_PCA_ITER = 3
_PCA_Q = 100  # coordinate quantization: round(x*100) — |q| ≤ ~1e3


def _pca_tdiv(a: str, b: str, duck: bool) -> str:
    """Truncating integer division with IDENTICAL semantics in Spark SQL
    (`div` truncates toward zero) and DuckDB (`//` floors — differs on
    negatives, so both engines route negatives through abs)."""
    op = "//" if duck else "div"
    return (
        f"(CASE WHEN ({a}) < 0 THEN -((-({a})) {op} ({b})) "
        f"ELSE ({a}) {op} ({b}) END)"
    )


def _pca_iter_sql(dims: str, duck: bool) -> str:
    """Gram matrix + unrolled power iterations over a dims table
    (vec_id, dim, q) named by `dims` — shared between engine and oracle
    modulo the division operator."""
    parts = [
        f"gram AS (SELECT a.dim AS i, b.dim AS j, SUM(a.q * b.q) AS g"
        f" FROM {dims} a JOIN {dims} b ON a.vec_id = b.vec_id"
        f" GROUP BY a.dim, b.dim)",
        "v0 AS (SELECT i AS dim, CAST(1000000 AS BIGINT) AS v"
        " FROM gram WHERE j = 0)",
    ]
    for k in range(_PCA_ITER):
        w = f"(SELECT g.i AS dim, SUM(g.g * v.v) AS w FROM gram g" \
            f" JOIN v{k} v ON v.dim = g.j GROUP BY g.i)"
        m = f"(SELECT GREATEST({_pca_tdiv('MAX(ABS(w))', '1000000', duck)}, 1)" \
            f" AS m FROM {w} t)"
        parts.append(
            f"v{k + 1} AS (SELECT w.dim, "
            f"CAST({_pca_tdiv('w.w', '(SELECT m FROM m' + str(k) + ')', duck)}"
            f" AS BIGINT) AS v FROM {w} w)"
        )
        parts.insert(len(parts) - 1, f"m{k} AS (SELECT m FROM {m} s)")
    body = ",\n    ".join(parts)
    return (
        f"{body}\n"
        f"    SELECT dim, v AS component_e6 FROM v{_PCA_ITER}"
    )


@register(
    "llm_embedding_pca",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, d AS dim,
             CAST(FLOOR(CAST(embedding[d + 1] AS DOUBLE) * {_PCA_Q} + 0.5)
                  AS BIGINT) AS q
      FROM embeddings, LATERAL (SELECT UNNEST(range(0, len(embedding)))) t(d)
    ),
    {_pca_iter_sql('dims', duck=True)}
    """,
)
def llm_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud — MLlib's PCA
    recipe: (1) the 64×64 Gram matrix, (2) integer power iterations
    over it (coords ×100, vectors renormalized to ±1e6 by truncating
    division with explicitly matched negative semantics) →
    bit-identical to the unrolled-CTE oracle under any partitioning.

    r17 shape (guide §4.2 — one Arrow boundary beats 263 stage-cached
    exchanges): the r8 relational form unrolled the three power
    iterations as CTEs over a dims self-join; CTE inlining exploded the
    STATIC plan to 263 Exchanges / 264 scans whose runtime was rescued
    only by AQE's stage cache de-duplicating the identical subtrees
    (r16 central finding) — plan construction/optimization cost grew
    with the inlined-CTE count and any AQE-off context re-executed the
    gram pass ~7×. Now the whole computation is ONE job with one
    shuffle: a mapInArrow pass computes each task's PARTIAL Gram
    (float64 BLAS matmul — exact, because every partial sum is an
    integer ≤ 64·(corpus rows)·1e6·... < 2⁵³; quantization replays
    floor(x·100 + 0.5) on the same doubles Spark would produce), the
    4096-entry partials shuffle to ONE group, and applyInPandas sums
    them and runs the integer recursion (int64 matvec, |w| ≤
    64·|G|·2e6 < 2⁶³) with the same truncate-toward-zero division the
    SQL `div` used. pytest's bit-exact numpy replay pins the recursion.

    A curation tool, not decoration: the top component is the
    'dominant direction' whose removal (ABTT, Mu 2018) de-biases
    embedding spaces, and the projection onto it is a 1-D curriculum/
    diversity axis. Three iterations demonstrate the machinery; the
    convergence rate is the spectral-gap ratio (measured ~1.07 on this
    corpus — production raises ITER or deflates)."""
    e = table(spark, sf_dir, "embeddings").select("embedding")

    def gram_partials(batches):
        import numpy as np
        import pyarrow as pa

        G: dict[int, "np.ndarray"] = {}  # max-dim -> running partial
        for batch in batches:
            arr = batch.column(0)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            n = len(arr)
            if n == 0:
                continue
            offs = np.asarray(arr.offsets)
            vals = np.asarray(arr.values, dtype=np.float64)
            lens = np.diff(offs)
            for d in np.unique(lens):
                d = int(d)
                if d == 0:
                    continue
                rows = np.flatnonzero(lens == d)
                idx = (offs[rows][:, None] + np.arange(d)).ravel()
                V = vals[idx].reshape(len(rows), d)
                # floor(x·100 + 0.5): the same IEEE double ops Spark's
                # floor(cast(x as double) * 100 + 0.5) performs
                Q = np.floor(V * float(_PCA_Q) + 0.5)
                P = Q.T @ Q  # integer-valued float64, exact (< 2^53)
                if d not in G:
                    G[d] = np.zeros((d, d), dtype=np.int64)
                G[d] += P.astype(np.int64)
        if G:
            dmax = max(G)
            acc = np.zeros((dmax, dmax), dtype=np.int64)
            for d, P in G.items():
                acc[:d, :d] += P
            i = np.repeat(np.arange(dmax, dtype=np.int32), dmax)
            j = np.tile(np.arange(dmax, dtype=np.int32), dmax)
            yield pa.RecordBatch.from_arrays(
                [pa.array(i), pa.array(j), pa.array(acc.ravel())],
                names=["i", "j", "g"],
            )

    partials = e.mapInArrow(gram_partials, "i int, j int, g long")

    def power_iterate(pdf):
        import numpy as np
        import pandas as pd

        d = int(pdf["i"].max()) + 1
        G = np.zeros((d, d), dtype=np.int64)
        np.add.at(
            G,
            (pdf["i"].to_numpy(), pdf["j"].to_numpy()),
            pdf["g"].to_numpy(),
        )
        v = np.full(d, 1_000_000, dtype=np.int64)
        for _ in range(_PCA_ITER):
            w = G @ v
            m = max(int(np.abs(w).max()) // 1_000_000, 1)
            # truncating div matched to Spark SQL's `div` (toward zero)
            v = np.where(w < 0, -((-w) // m), w // m)
        return pd.DataFrame(
            {"dim": np.arange(d, dtype=np.int32), "component_e6": v}
        )

    return (
        partials.withColumn("gk", F.lit(0))
        .groupBy("gk")
        .applyInPandas(power_iterate, "dim int, component_e6 long")
    )
