"""Semantics tests for the LLM-pipeline operators: things the oracle
hash-compare can't express (LSH recall vs brute force, dedup actually
finding the synthesized duplicates, simhash locality)."""

from __future__ import annotations

import numpy as np
import pytest

import sparkflow


def _brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    ids = emb["vec_id"].to_numpy()
    X = np.stack(emb["embedding"].to_numpy()).astype("float64")
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    np.fill_diagonal(S, -2)
    order = np.argsort(-S, axis=1)
    return ids, ids[order[:, :10]]


def test_lsh_ann_recall(spark, sf_small):
    """LSH best-neighbor must be a genuinely near vector: contained in
    the true top-10 for >= 80% of vectors, with >= 95% coverage.
    (Measured ~0.97 / 1.00 on this data; thresholds leave slack.)"""
    ids, top10 = _brute_force(spark, sf_small)
    lsh = sparkflow.QUERIES["llm_knn_all_pairs_lsh"](spark, sf_small).toPandas()
    m = dict(zip(lsh["vec_id"], lsh["neighbor_id"]))
    assert len(m) >= 0.95 * len(ids)
    hits = [m[i] in set(t) for i, t in zip(ids, top10) if i in m]
    assert np.mean(hits) >= 0.80


def test_knn_cosine_matches_numpy(spark, sf_small):
    ids, top10 = _brute_force(spark, sf_small)
    got = sparkflow.QUERIES["llm_knn_cosine"](spark, sf_small).toPandas()
    true_top10 = set(top10[list(ids).index(0)])
    assert set(got["vec_id"]) == true_top10


def test_exact_dedup_finds_synthesized_copies(spark, sf_small):
    """Every doc_id % 7 == 0 original got an exact copy — each such hash
    group must have n_copies == 2 with the original as keeper."""
    got = sparkflow.QUERIES["llm_dedup_exact"](spark, sf_small).toPandas()
    dups = got[got["n_copies"] > 1]
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    expected_keepers = set(docs[docs["doc_id"] % 7 == 0]["doc_id"])
    assert set(dups["keeper_id"]) == expected_keepers
    assert (dups["n_copies"] == 2).all()


def test_near_dedup_finds_near_copies(spark, sf_small):
    """Every doc_id % 5 == 0 original has a near-copy (suffix appended):
    the pair (doc, doc+2000000) must be discovered by the LSH pipeline.
    Exact copies (%7) must also pair with jaccard 1.0."""
    got = sparkflow.QUERIES["llm_dedup_near"](spark, sf_small).toPandas()
    pairs = set(zip(got["doc_a"], got["doc_b"]))
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    near_expected = [(d, d + 2000000) for d in docs["doc_id"] if d % 5 == 0]
    found = sum((a, b) in pairs for a, b in near_expected)
    assert found >= 0.95 * len(near_expected), f"only {found}/{len(near_expected)}"
    exact_expected = [(d, d + 1000000) for d in docs["doc_id"] if d % 7 == 0]
    exact_found = {
        (a, b): j
        for a, b, j in zip(got["doc_a"], got["doc_b"], got["jaccard"])
        if (a, b) in set(exact_expected)
    }
    assert len(exact_found) == len(exact_expected)
    assert all(j == 1.0 for j in exact_found.values())


def test_simhash_locality(spark, sf_small):
    """Near-duplicate docs must have close fingerprints: hamming distance
    of (doc, doc+2000000) pairs well below that of random pairs."""
    got = sparkflow.QUERIES["llm_dedup_simhash"](spark, sf_small).toPandas()
    fp = dict(zip(got["doc_id"], got["simhash16"]))

    def ham(a, b):
        return bin(a ^ b).count("1")

    near = [ham(fp[d], fp[d + 2000000]) for d in fp if d < 1000000 and d % 5 == 0]
    rng = np.random.RandomState(42)
    base_ids = [d for d in fp if d < 1000000]
    rand = [
        ham(fp[a], fp[b])
        for a, b in zip(rng.choice(base_ids, 200), rng.choice(base_ids, 200))
        if a != b
    ]
    assert np.mean(near) < np.mean(rand) / 2


def test_quality_score_flags(spark, sf_small):
    got = sparkflow.QUERIES["llm_quality_score"](spark, sf_small).toPandas()
    assert got["keep_flag"].isin([0, 1]).all()
    assert (got["unique_ratio"] <= 1.0).all() and (got["unique_ratio"] > 0).all()


def test_multimodal_features_deterministic(spark, sf_small):
    a = sparkflow.QUERIES["llm_multimodal_features"](spark, sf_small).toPandas()
    b = sparkflow.QUERIES["llm_multimodal_features"](spark, sf_small).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    assert (a["fake_width"] == a["n_bytes"] % 640 + 1).all()


def test_ivf_ann_recall(spark, sf_small):
    """IVF top-10 must overlap the true top-10 substantially (probing
    3/10 cells; label-as-codebook is a weak quantizer on this data, so
    the bar is recall >= 0.5, measured before setting)."""
    ids, top10 = _brute_force(spark, sf_small)
    true_top = set(top10[list(ids).index(0)])
    got = sparkflow.QUERIES["llm_knn_ivf"](spark, sf_small).toPandas()
    overlap = len(set(got["vec_id"]) & true_top) / 10.0
    assert overlap >= 0.5, f"IVF recall {overlap}"


def test_ivf_recall_curve_monotone_in_nprobe(spark, sf_small):
    """Adversarial IVF invariant (round-3 verdict): recall must be
    MONOTONE in nprobe, pruning must actually prune (nprobe=1 strictly
    worse than probing everything), and probing EVERY cell must
    reproduce brute force exactly — recall 1.0, no approximation left.
    A broken cell scorer, a wrong inverted-list filter, or an in-cell
    scoring bug each breaks a different leg. (Measured curve on this
    data: 0.1 / 0.5 / 1.0 at nprobe 1/3/10.)"""
    from sparkflow.llm.similarity import llm_knn_ivf

    ids, top10 = _brute_force(spark, sf_small)
    true_top = set(top10[list(ids).index(0)])
    n_cells = int(
        sparkflow.catalog.table(spark, sf_small, "embeddings")
        .select("label")
        .distinct()
        .count()
    )

    def recall(nprobe):
        got = llm_knn_ivf(spark, sf_small, nprobe).toPandas()
        return len(set(got["vec_id"]) & true_top) / 10.0

    r1, r3, rall = recall(1), recall(3), recall(n_cells)
    assert rall == 1.0, f"full probe must equal brute force, got {rall}"
    assert r1 <= r3 <= rall, f"recall not monotone: {r1} {r3} {rall}"
    assert r1 < rall, "nprobe=1 matched full probe — pruning is a no-op"


def test_lsh_recall_curve_two_bucket_widths(spark, sf_small):
    """Adversarial LSH invariant (round-3 verdict): the recall/bucket
    tradeoff itself. At the shipped width (4 tables x 4 bits) recall
    must be high; doubling the signature to 8 bits (expected bucket
    occupancy /16) must DEGRADE recall measurably — narrower buckets
    means fewer candidates. Kills two plausible bugs existing floors
    can't: a constant hash (all vectors one bucket -> both widths
    score identically -> degradation assert fires) and a garbage hash
    (random buckets -> the wide-width floor fires). Measured:
    0.97 @ 4 bits, 0.58 @ 8 bits (post table-stride fix: the stride
    now exceeds 2^n_bits, so tables never alias in the bucket join)."""
    from sparkflow.llm.similarity import llm_knn_all_pairs_lsh

    ids, top10 = _brute_force(spark, sf_small)

    def run(bits):
        lsh = llm_knn_all_pairs_lsh(spark, sf_small, 4, bits).toPandas()
        m = dict(zip(lsh["vec_id"], lsh["neighbor_id"]))
        hits = [m[i] in set(t) for i, t in zip(ids, top10) if i in m]
        return len(m) / len(ids), float(np.mean(hits))

    cov4, rec4 = run(4)
    cov8, rec8 = run(8)
    assert rec4 >= 0.85, f"wide-bucket recall collapsed: {rec4}"
    assert cov4 >= 0.95 and cov8 >= 0.9, (cov4, cov8)
    assert rec8 <= rec4 - 0.05, (
        f"narrowing buckets 4->8 bits did not degrade recall "
        f"({rec4} -> {rec8}): bucketing is not splitting the space"
    )


def test_dedup_clusters_group_all_copies(spark, sf_small):
    """Docs divisible by 35 have BOTH an exact copy (+1e6) and a near
    copy (+2e6): all three must land in the SAME cluster. (The cluster
    root need not be the doc itself — the tiny synthetic vocabulary
    produces natural token-set duplicates that legitimately merge
    components further.)"""
    got = sparkflow.QUERIES["llm_dedup_clusters"](spark, sf_small).toPandas()
    cl = dict(zip(got["doc_id"], got["cluster_id"]))
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    both = [d for d in docs["doc_id"] if d % 35 == 0]
    assert both, "fixture must contain %35 docs"
    for d in both:
        assert d in cl and cl[d] == cl.get(d + 1000000) == cl.get(d + 2000000)
    # cluster ids are canonical: every cluster_id is itself a member doc
    ids = set(cl)
    assert all(c in ids for c in cl.values())


def test_split_fractions_and_determinism(spark, sf_small):
    pdf = sparkflow.QUERIES["llm_split_train_test"](spark, sf_small).toPandas()
    frac = pdf["split"].value_counts(normalize=True)
    assert 0.70 <= frac.get("train", 0) <= 0.90
    assert frac.get("val", 0) >= 0.03 and frac.get("test", 0) >= 0.03
    again = sparkflow.QUERIES["llm_split_train_test"](spark, sf_small).toPandas()
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )


def test_stratified_sample_balances_classes(spark, sf_small):
    pdf = sparkflow.QUERIES["llm_sample_stratified"](spark, sf_small).toPandas()
    sizes = pdf.groupby("lang").size()
    assert sizes.nunique() == 1  # every class sampled to the same count
    docs = sparkflow.catalog.table(spark, sf_small, "documents").toPandas()
    assert sizes.iloc[0] == docs.groupby("lang").size().min()


def test_pii_scrub_masks_digits(spark, sf_small):
    pdf = sparkflow.QUERIES["llm_pii_scrub"](spark, sf_small).toPandas()
    # every scrubbed prefix is digit-free, masks aside
    assert not pdf["scrub_prefix"].str.contains("[0-9]", regex=True).any()
    assert (pdf["n_digit_chars"] >= 0).all()


def test_kmeans_lloyds_invariants(spark, sf_small):
    """Lloyd's algorithm: total inertia is non-increasing in iteration
    count, clusters partition the input, k clusters exist."""
    from sparkflow.llm.similarity import _KMEANS_K, _kmeans

    n = sparkflow.catalog.table(spark, sf_small, "embeddings").count()
    final = sparkflow.QUERIES["llm_kmeans"](spark, sf_small).toPandas()
    assert len(final) == _KMEANS_K
    assert final["n_vecs"].sum() == n
    one = _kmeans(spark, sf_small, 1).toPandas()
    assert final["inertia"].sum() <= one["inertia"].sum() + 1e-9


def test_kmeans_inertia_monotone_every_round(spark, sf_small):
    """Adversarial Lloyd's invariant (round-3 verdict): inertia must be
    non-increasing at EVERY round, not just first-vs-last, and the
    first update step must actually move (a no-op assign or update
    freezes inertia — measured 808 -> 471 -> 467 on this data, so a
    frozen step is loudly distinguishable)."""
    from sparkflow.llm.similarity import _kmeans

    inertias = [
        float(_kmeans(spark, sf_small, it).toPandas()["inertia"].sum())
        for it in (1, 2, 3)
    ]
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-9, f"inertia increased: {inertias}"
    assert inertias[1] < inertias[0] * 0.9, (
        f"first Lloyd's update barely moved ({inertias}): "
        "assign or update step is a no-op"
    )


def test_dedup_clusters_reach_fixpoint(spark, sf_small):
    """The returned labels must be a min-label fixpoint: one more
    propagation round changes nothing (guards the pointer-doubling loop
    against silent non-convergence on deeper similarity chains)."""
    from pyspark.sql import functions as F

    from sparkflow.llm.dedup import _near_pairs_plan

    labels = sparkflow.QUERIES["llm_dedup_clusters"](spark, sf_small)
    pairs = _near_pairs_plan(spark, sf_small).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    lab = labels.select(F.col("doc_id").alias("doc"), "cluster_id")
    nbr = (
        edges.join(lab, edges.doc_b == lab.doc)
        .groupBy(F.col("doc_a").alias("doc"))
        .agg(F.min("cluster_id").alias("nbr_min"))
    )
    viol = lab.join(nbr, "doc").filter(F.col("nbr_min") < F.col("cluster_id")).count()
    assert viol == 0


def test_gopher_quality_rules_bind(spark, sf_small):
    """Each rule must actually reject some docs (thresholds are tuned to
    bind), and keep == conjunction of the four rules recomputed in pandas."""
    got = sparkflow.QUERIES["llm_gopher_quality"](spark, sf_small).toPandas()
    assert 0 < got["keep"].sum() < len(got)
    recomputed = (
        got["n_words"].between(20, 90)
        & got["mean_word_len"].between(4.0, 5.0)
        & (got["uniq_ratio"] >= 0.4)
        & (got["top_word_ratio"] <= 0.12)
    )
    assert (got["keep"] == recomputed).all()
    assert (got["uniq_ratio"] <= 1.0).all()
    assert (got["top_word_ratio"] * got["n_words"] >= 1).all()


def test_repetition_fractions_ordered(spark, sf_small):
    """Dup fractions are in [0,1) and higher-order n-grams repeat no more
    than lower-order ones (a trigram dup implies a bigram dup)."""
    got = sparkflow.QUERIES["llm_repetition"](spark, sf_small).toPandas()
    for c in ["dup_word_frac", "dup_bigram_frac", "dup_trigram_frac"]:
        assert (got[c] >= 0).all() and (got[c] < 1).all()
    assert (got["dup_trigram_frac"] <= got["dup_bigram_frac"] + 1e-12).all()
    assert (got["dup_bigram_frac"] <= got["dup_word_frac"] + 1e-12).all()


def test_decontaminate_excludes_benchmark_and_flags_known_overlap(spark, sf_small):
    """Benchmark docs (doc_id % 53 == 0) never appear in the output; the
    synthesized near-copies of benchmark docs are flagged contaminated."""
    got = sparkflow.QUERIES["llm_decontaminate"](spark, sf_small).toPandas()
    assert (got["doc_id"] % 53 != 0).all()
    assert got["contaminated"].any() and not got["contaminated"].all()
    assert ((got["n_hits"] > 0) == got["contaminated"]).all()
    assert (got["n_hits"] <= got["n_grams"]).all()


def test_chunking_covers_every_token(spark, sf_small):
    """Per doc: chunk count == ceil(n/16), sizes in [1,32], and summing
    the stride-disjoint prefix lengths re-covers the whole token count."""
    import math

    got = sparkflow.QUERIES["llm_chunking"](spark, sf_small).toPandas()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    n_toks = {r.doc_id: len(r.text.split(" ")) for r in docs.itertuples()}
    per = got.groupby("doc_id")
    assert got["chunk_tokens"].between(1, 32).all()
    for doc_id, g in per:
        n = n_toks[doc_id]
        assert len(g) == math.ceil(n / 16)
        assert g["chunk_idx"].max() == (n - 1) // 16
    # full reconstruction: the first 16 tokens of each chunk tile the doc
    sample = got[got["doc_id"] == got["doc_id"].iloc[0]].sort_values("chunk_idx")
    orig = docs[docs["doc_id"] == got["doc_id"].iloc[0]]["text"].iloc[0]
    rebuilt = " ".join(
        " ".join(t.split(" ")[:16]) for t in sample["chunk_text"]
    ).split(" ")
    assert rebuilt == orig.split(" ")


def test_dataset_mix_tracks_configured_rates(spark, sf_small):
    from sparkflow.llm.prep import _MIX_RATES

    got = sparkflow.QUERIES["llm_dataset_mix"](spark, sf_small).toPandas()
    for r in got.itertuples():
        assert abs(r.n_kept / r.n_total - _MIX_RATES[r.source]) < 0.2
    # aggregate mix must slope downward from src0 to src19 overall
    lo = got[got["source"].isin(["src0", "src1", "src2"])]
    hi = got[got["source"].isin(["src17", "src18", "src19"])]
    assert lo["n_kept"].sum() / lo["n_total"].sum() > hi["n_kept"].sum() / hi["n_total"].sum()


def test_quantize_range_and_saturation(spark, sf_small):
    got = sparkflow.QUERIES["llm_embedding_quantize"](spark, sf_small).toPandas()
    assert got["q"].between(-127, 127).all()
    peak = got.groupby("vec_id")["q"].apply(lambda s: s.abs().max())
    assert (peak == 127).all()


def test_packed_sequences_offsets_are_contiguous(spark, sf_small):
    got = sparkflow.QUERIES["llm_packed_sequences"](spark, sf_small).toPandas()
    for _, g in got.groupby("source"):
        g = g.sort_values("doc_id")
        expect = g["n_tokens"].cumsum().shift(fill_value=0)
        assert (g["tok_offset"].to_numpy() == expect.to_numpy()).all()
    assert (got["bin_id"] == got["tok_offset"] // 512).all()


def test_fuzzy_match_finds_exact_copies(spark, sf_small):
    """The synthesized exact copies (doc_id % 7 == 0 originals) share the
    full text, so they must surface as edit-distance-0 pairs."""
    got = sparkflow.QUERIES["llm_fuzzy_match"](spark, sf_small).toPandas()
    assert (got["doc_a"] < got["doc_b"]).all()
    assert got["edit_dist"].between(0, 20).all()
    zero = got[got["edit_dist"] == 0]
    assert len(zero) > 0


def test_repeated_spans_cover_synthesized_copies(spark, sf_small):
    """Exact copies (doc_id%7) share every 5-token span with their
    original, so the catalog must contain spans with n_docs >= 2, and
    occurrence counts always >= doc counts."""
    got = sparkflow.QUERIES["llm_repeated_spans"](spark, sf_small).toPandas()
    assert (got["n_docs"] >= 2).all()
    assert (got["n_occurrences"] >= got["n_docs"]).all()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    orig = docs[docs["doc_id"] % 7 == 0].iloc[0]["text"].split(" ")
    span0 = " ".join(orig[:5])
    assert (got["span"] == span0).any()


def test_priority_dedup_policy_overrides_min_id(spark, sf_small):
    """Re-ingested src0 copies must win their hash group unless the
    original is itself src0 (then the smaller doc_id keeps)."""
    got = sparkflow.QUERIES["llm_dedup_priority"](spark, sf_small).toPandas()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    dup_orig = docs[docs["doc_id"] % 7 == 0]
    assert len(got) == len(dup_orig)
    src = dict(zip(dup_orig["doc_id"], dup_orig["source"]))
    for r in got.itertuples():
        base = r.keeper_id % 1000000
        if src[base] == "src0":
            assert r.keeper_id == base  # tie on priority -> min doc_id
        else:
            assert r.keeper_id == base + 1000000 and r.keeper_source == "src0"


def test_semdedup_finds_exactly_the_injected_copies(spark, sf_small):
    """Within-cell exact cosine must flag every injected copy pair
    (cosine 1.0) and nothing else (natural max within-cell cosine is far
    below the 0.95 threshold)."""
    got = sparkflow.QUERIES["llm_semdedup"](spark, sf_small).toPandas()
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").toPandas()
    off = int(emb["vec_id"].max()) + 1  # data-derived injection offset
    expected = {
        (v, v + off) for v in emb["vec_id"] if v % 20 == 0
    }
    assert set(zip(got["vec_a"], got["vec_b"])) == expected
    assert (got["cosine_q"] == 1.0).all()


def test_hard_negatives_match_numpy_brute_force(spark, sf_small):
    """The top-1 cross-label neighbor per query must equal an independent
    numpy brute force over the same x100-quantized vectors (same
    cosine-desc, id-asc tiebreak)."""
    got = (
        sparkflow.QUERIES["llm_hard_negatives"](spark, sf_small)
        .toPandas()
        .set_index("query_id")
    )
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").toPandas()
    q = np.stack(
        [np.floor(np.asarray(v, dtype=np.float64) * 100 + 0.5) for v in emb["embedding"]]
    ).astype(np.int64)
    norms = (q * q).sum(axis=1)
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    order = np.argsort(ids, kind="stable")
    for qi in np.flatnonzero(ids % 50 == 0):
        dots = q @ q[qi]
        cos = dots / np.sqrt(norms.astype(np.float64) * norms[qi])
        mask = labels != labels[qi]
        # argmax by (cos desc, vec_id asc): scan in ascending-id order
        best, best_cos = None, -2.0
        for j in order:
            if mask[j] and cos[j] > best_cos:
                best, best_cos = ids[j], cos[j]
        row = got.loc[ids[qi]]
        assert row["hard_negative_id"] == best
        assert abs(row["cos_sim"] - best_cos) <= 1e-12


def test_hard_negatives_query_sample_is_bounded(spark, sf_small, monkeypatch):
    """100 TB guard (round-3 verdict; r10 verdict item 5 tightened it to
    DRIVER-FREE): llm_hard_negatives must materialize nothing on the
    driver — the query sample stays a DataFrame, capped by a constant
    and delivered to the candidate join as a BROADCAST. Four layers: the
    operator's source contains no collect/toPandas at all; the executed
    plan carries a BroadcastExchange/BroadcastNestedLoopJoin on the
    query side and NO dim explode; the sample's plan carries a
    GlobalLimit; and the cap truncates deterministically when forced
    below the sample size."""
    import inspect

    from sparkflow.llm import similarity

    src = inspect.getsource(similarity.llm_hard_negatives)
    for bad in (".collect()", ".toPandas()", ".head(", ".first()"):
        assert bad not in src, f"driver materialization {bad} reintroduced"

    plan = (
        sparkflow.QUERIES["llm_hard_negatives"](spark, sf_small)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan[:1200]
    assert "BroadcastExchange" in plan, plan[:1200]
    assert "Generate" not in plan, "dim explode reintroduced"

    e = similarity.table(spark, sf_small, "embeddings")
    sample_plan = (
        similarity._hn_query_sample(e)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "GlobalLimit" in sample_plan, sample_plan[:800]

    monkeypatch.setattr(similarity, "_HN_MAX_QUERIES", 3)
    got = sorted(r.vec_id for r in similarity._hn_query_sample(e).collect())
    all_ids = sorted(
        r.vec_id
        for r in e.filter("vec_id % 50 = 0").select("vec_id").collect()
    )
    assert got == all_ids[:3]


def test_embedding_pca_matches_numpy_fixed_point_replay(spark, sf_small):
    """The relational power iteration must be BIT-IDENTICAL to a numpy
    replay of the same integer recursion, and each step must not
    decrease the Rayleigh quotient (the power-iteration invariant)."""
    got = (
        sparkflow.QUERIES["llm_embedding_pca"](spark, sf_small)
        .toPandas()
        .sort_values("dim")["component_e6"]
        .to_numpy()
    )
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").toPandas()
    Q = np.floor(
        np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 100 + 0.5
    ).astype(np.int64)
    G = (Q.T @ Q).astype(object)  # python ints: no int64 overflow ambiguity
    v = np.full(64, 10**6, dtype=object)

    def tdiv(a, b):  # truncation toward zero, matching SQL `div`
        return -((-a) // b) if a < 0 else a // b

    rq = []
    for _ in range(3):
        w = G @ v
        rq.append(float(v @ G @ v) / float(v @ v))
        m = max(tdiv(max(abs(x) for x in w), 10**6), 1)
        v = np.array([tdiv(x, m) for x in w], dtype=object)
    assert [int(x) for x in got] == [int(x) for x in v]
    assert all(b >= a * (1 - 1e-9) for a, b in zip(rq, rq[1:]))


def test_near_dedup_short_docs_are_safely_ignored(spark, sf_small, monkeypatch):
    """Docs shorter than the shingle width must produce NO signature (and
    thus no candidate pairs) instead of junk shingles from a descending
    sequence() — the same empty-range semantics as the oracle."""
    from sparkflow.llm import dedup as D

    base = D.dup_corpus(spark, sf_small)
    extra = spark.createDataFrame(
        [(9000001, "ab"), (9000002, "ab"), (9000003, ""), (9000004, "abcd")],
        "doc_id LONG, text STRING",
    )
    monkeypatch.setattr(D, "dup_corpus", lambda s, d: base.unionByName(extra))
    out = D._near_pairs_plan(spark, sf_small).toPandas()
    short_ids = {9000001, 9000002, 9000003, 9000004}
    assert not ((set(out["doc_a"]) | set(out["doc_b"])) & short_ids)
    assert len(out) > 0  # the real near-dups are still found


def test_winnowing_fingerprint_guarantees(spark, sf_small):
    """Winnowing invariants: every fingerprint position is a valid gram
    start; every doc long enough for one full window has at least one
    fingerprint; density respects the ~2/(w+1) expectation loosely
    (never more fingerprints than windows); hashes are 20-bit."""
    got = sparkflow.QUERIES["llm_winnowing_fingerprint"](spark, sf_small).toPandas()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    lens = dict(zip(docs["doc_id"], docs["text"].str.len()))
    assert (got["fp_hash"] < 2**20).all() and (got["fp_hash"] >= 0).all()
    per_doc = got.groupby("doc_id").size()
    for doc_id, n_fp in per_doc.items():
        n_grams = lens[doc_id] - 4
        n_windows = n_grams - 3
        assert n_windows >= 1
        assert 1 <= n_fp <= n_windows
    # every doc with a full window must appear
    eligible = {d for d, ln in lens.items() if ln >= 8}
    assert set(per_doc.index) == eligible
    for _, r in got.iterrows():
        assert 1 <= r["fp_pos"] <= lens[r["doc_id"]] - 4


def test_winnowing_overlap_finds_synthesized_copies(spark, sf_small):
    """Exact copies (%7, identical text) must pair with containment
    1.0; near-copies (%5, suffix appended) must be found with high
    containment for >=95% of them. Random pairs must not dominate."""
    got = sparkflow.QUERIES["llm_winnowing_overlap"](spark, sf_small).toPandas()
    pairs = {(a, b): p for a, b, p in
             zip(got["doc_a"], got["doc_b"], got["containment_ppm"])}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    base = [d for d, ln in zip(docs["doc_id"], docs["text"].str.len()) if ln >= 8]
    exact = [(d, d + 1000000) for d in base if d % 7 == 0]
    near = [(d, d + 2000000) for d in base if d % 5 == 0]
    assert all(p in pairs and pairs[p] == 1000000 for p in exact), "exact copies"
    found = sum(p in pairs for p in near)
    assert found >= 0.95 * len(near), f"only {found}/{len(near)} near copies"
    for p in near:
        if p in pairs:
            assert pairs[p] >= 600000


def test_winnowing_aligned_catches_shifted_copy_positional_misses(spark):
    """The r7 shift-robust variant's reason to exist: a copy displaced
    by an inserted prefix shares ~no packed (hash, position)
    fingerprints with its source — the positional detector must MISS the
    pair — while the hash-bucketed detector must report it with the
    exact displacement as the winning shift and high containment.
    An unrelated document must pair with neither."""
    from sparkflow.llm.winnow import _overlap_aligned, _overlap_positional

    base = (
        "the quick brown fox jumps over the lazy dog while carrying "
        "seventeen glowing lanterns through the midnight forest toward "
        "a distant harbor full of sleeping boats"
    )
    prefix = "qqqq wwww eeee "  # 15 chars -> every copied gram shifts +15
    unrelated = (
        "completely different subject matter entirely about volcanic "
        "geology and the slow crystallization of basalt columns under "
        "pressure in ancient iceland formations"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, prefix + base), (3, unrelated)],
        "doc_id LONG, text STRING",
    )
    pos = _overlap_positional(docs).toPandas()
    ali = _overlap_aligned(docs).toPandas()
    assert (1, 2) not in set(zip(pos["doc_a"], pos["doc_b"])), (
        "positional detector unexpectedly caught the shifted copy — "
        "the aligned variant's premise needs re-checking"
    )
    rows = ali[(ali["doc_a"] == 1) & (ali["doc_b"] == 2)]
    assert len(rows) == 1, ali.to_dict("records")
    # doc_a=1 is the un-prefixed original: pos_a - pos_b = -len(prefix)
    assert int(rows["shift"].iloc[0]) == -len(prefix)
    assert int(rows["containment_ppm"].iloc[0]) >= 600_000
    assert not ((ali["doc_a"] == 1) & (ali["doc_b"] == 3)).any()
    assert not ((ali["doc_a"] == 2) & (ali["doc_b"] == 3)).any()


def test_vocab_growth_is_monotone_and_total_matches(spark, sf_small):
    """Distinct-token counts must be non-decreasing across quartiles
    within a source, and the Q4 row must equal an independently computed
    full distinct count per source."""
    got = (
        sparkflow.QUERIES["llm_vocab_growth"](spark, sf_small)
        .toPandas()
        .sort_values(["source", "quartile"])
    )
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").toPandas()
    full = {
        src: len({t for txt in g["text"] for t in txt.split(" ")})
        for src, g in docs.groupby("source")
    }
    n_docs = docs.groupby("source").size().to_dict()
    for src, g in got.groupby("source"):
        assert list(g["quartile"]) == [1, 2, 3, 4]
        vals = list(g["distinct_tokens"])
        assert vals == sorted(vals), f"{src} not monotone"
        assert vals[-1] == full[src]
        assert list(g["docs_at_cutoff"])[-1] == n_docs[src]


def test_containment_catches_embedded_excerpt_jaccard_misses(spark):
    """llm_dedup_containment's reason to exist: an excerpt embedded in
    a much larger document has J(A,B) <= |A|/|B| — structurally below
    the near-dup threshold (the length prefilter drops the pair before
    any verify join runs), while containment of the excerpt's gram set
    in the container's is exactly 1.0. An unrelated doc pairs with
    neither."""
    from sparkflow.llm.dedup import _JACCARD_MIN, _containment_pairs

    body = (
        "in the beginning the archive held four hundred scrolls each "
        "describing a separate expedition across the salt flats and "
        "every scroll ended with a careful inventory of rations camels "
        "and waterskins recorded by the quartermaster in fading red "
        "ink over many seasons of travel toward distant mountains"
    )
    excerpt = body[40:120]
    unrelated = (
        "orbital mechanics lecture notes covering hohmann transfers "
        "inclination changes plus worked examples in metric units for "
        "plane rotations near apoapsis of elliptical orbits"
    )
    docs = spark.createDataFrame(
        [(1, body), (2, excerpt), (3, unrelated)],
        "doc_id LONG, text STRING",
    )
    got = _containment_pairs(docs).toPandas()
    rows = got[(got["inner_id"] == 2) & (got["outer_id"] == 1)]
    assert len(rows) == 1, got.to_dict("records")
    assert rows["containment"].iloc[0] == 1.0
    na, nb = int(rows["n_inner"].iloc[0]), int(rows["n_outer"].iloc[0])
    assert na / nb < _JACCARD_MIN  # the Jaccard-family blind spot
    assert not ((got["inner_id"] == 3) | (got["outer_id"] == 3)).any()


def test_bpe_train_matches_reference_replay(spark, sf_small):
    """llm_bpe_train has no SQL oracle (iterative argmax loop), so the
    correctness bar is an exact merge-list replay: a pure-Python BPE
    trainer with the same contract — word-frequency preaggregation,
    corpus-weighted adjacent pair counts, argmax with (count desc,
    left, right) tie-break, greedy left-to-right non-overlapping merge,
    min count 2 — must produce the IDENTICAL list. Plus the analytic
    invariant: the winning pair count is non-increasing over rounds
    (each merge only removes occurrences or creates pairs bounded by
    the merged pair's own count)."""
    import collections

    import pandas as pd

    got = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in sparkflow.QUERIES["llm_bpe_train"](spark, sf_small).collect()
    ]

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    freq = collections.Counter()
    for t in docs["text"]:
        for w in t.split(" "):
            if len(w) >= 1:
                freq[w] += 1
    items = [(list(w), c) for w, c in freq.items()]
    merges = []
    for rank in range(12):
        pc = collections.Counter()
        for syms, c in items:
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        cands = [(p, n) for p, n in pc.items() if n >= 2]
        if not cands:
            break
        (a, b), n = min(cands, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, a + b, n))
        for i, (syms, c) in enumerate(items):
            acc = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            items[i] = (acc, c)

    assert got == merges, (got, merges)
    counts = [m[4] for m in got]
    assert counts == sorted(counts, reverse=True)
    assert len(got) == 12  # this corpus doesn't exhaust pairs in 12 rounds


def test_bpe_encode_matches_reference_replay(spark, sf_small):
    """llm_bpe_encode (rows-only, like the trainer it applies): a
    pure-Python replay of train-then-encode must produce identical
    per-doc (n_words, n_tokens, saved) — plus the sandwich invariant
    n_words <= n_tokens <= total word chars for every doc."""
    import collections

    import pandas as pd

    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["saved"])
        for r in sparkflow.QUERIES["llm_bpe_encode"](spark, sf_small).collect()
    }

    docs = pd.read_parquet(f"{sf_small}/documents.parquet")
    freq = collections.Counter()
    for t in docs["text"]:
        for w in t.split(" "):
            if len(w) >= 1:
                freq[w] += 1
    items = [(list(w), c) for w, c in freq.items()]
    merges = []
    for _ in range(12):
        pc = collections.Counter()
        for syms, c in items:
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        cands = [(p, n) for p, n in pc.items() if n >= 2]
        if not cands:
            break
        (a, b), _n = min(cands, key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((a, b))
        for i, (syms, c) in enumerate(items):
            acc = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            items[i] = (acc, c)

    def encode_len(word):
        syms = list(word)
        for a, b in merges:
            acc = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            syms = acc
        return len(syms)

    enc_cache = {}
    want = {}
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        words = [w for w in t.split(" ") if len(w) >= 1]
        n_tok = 0
        n_chars = 0
        for w in words:
            if w not in enc_cache:
                enc_cache[w] = encode_len(w)
            n_tok += enc_cache[w]
            n_chars += len(w)
        want[int(doc_id)] = (len(words), n_tok, n_chars - n_tok)
    assert got == want
    for n_words, n_tokens, saved in got.values():
        assert n_words <= n_tokens <= n_tokens + saved


def test_prefix_filter_bounds_exact_integer_arithmetic():
    """r8 advice (medium): every prefix-join bound must be EXACT integer
    arithmetic derived from the rational threshold t = num/den, because
    the float forms overestimate on boundary sizes — alpha =
    ceil(s*0.8/1.8) in doubles first diverges from the true
    ceil(4s/9) at s = 63, and an overestimated alpha rejects true
    pairs whose Jaccard is exactly t (exact-recall contract breach).
    Pins (a) the documented float divergence exists, (b) the shipped
    integer forms equal the rational ground truth for every size up to
    400k, far past any real shingle-set size at oracle scale."""
    import math
    from fractions import Fraction

    from sparkflow.llm.dedup import (
        _PREFIX_JACCARD, _PREFIX_T_DEN, _PREFIX_T_NUM)

    num, den = _PREFIX_T_NUM, _PREFIX_T_DEN
    assert Fraction(num, den) == Fraction(4, 5)
    assert _PREFIX_JACCARD == num / den

    # (a) the float alpha really is wrong, first at s=63 — the bug class
    float_alpha = math.ceil(63 * _PREFIX_JACCARD / (1.0 + _PREFIX_JACCARD))
    true_alpha = -((-num * 63) // (num + den))
    assert float_alpha == 29 and true_alpha == 28

    # (b) shipped integer forms == rational ground truth, exhaustively
    div = num + den
    for s in range(1, 400_001):
        want_alpha = -((-Fraction(num, den) / (1 + Fraction(num, den))
                        * s).__floor__())
        assert (num * s + div - 1) // div == want_alpha, s
    for n in range(1, 400_001):
        want_p = -((-Fraction(num, den) * n).__floor__())
        assert (num * n + den - 1) // den == want_p, n
    # size filter min*den >= max*num <=> min/max >= t, checked on the
    # boundary family where the float form can flip at large n
    for mx in (5, 500, 5_000_000):
        mn = mx * num // den
        assert mn * den >= mx * num
        assert (mn - 1) * den < mx * num


def test_exact_substr_spans_are_literal_matches(spark, sf_small):
    """Every emitted span must be a LITERAL common substring: the token
    slice [start_a, start_a+len) of doc_a equals [start_b, start_b+len)
    of doc_b — the actionable-cut-list contract ExactSubstr dedup sells
    (the oracle pins the arithmetic; this pins the semantics against the
    actual texts). Spans must also be left-maximal UP TO THE DF-CAP:
    when the tokens just before a span match, the anchor gram starting
    there must have been dropped by the cap (df > _XS_DF_CAP) — the
    only legitimate reason the island didn't extend left."""
    import sparkflow
    from sparkflow.llm.dedup import _XS_DF_CAP, _XS_K

    spans = sparkflow.QUERIES["llm_dedup_exact_substr"](
        spark, sf_small).toPandas()
    assert len(spans) > 0
    docs = (
        sparkflow.catalog.table(spark, sf_small, "documents")
        .toPandas().set_index("doc_id")["text"].str.split(" ").to_dict()
    )
    gram_df: dict[str, int] = {}
    for toks in docs.values():
        for g in {" ".join(toks[i:i + _XS_K])
                  for i in range(len(toks) - _XS_K + 1)}:
            gram_df[g] = gram_df.get(g, 0) + 1
    for _, r in spans.iterrows():
        ta, tb = docs[r["doc_a"]], docs[r["doc_b"]]
        sa, sb, ln = int(r["start_a"]), int(r["start_b"]), int(r["len_tokens"])
        assert ta[sa:sa + ln] == tb[sb:sb + ln], (r["doc_a"], r["doc_b"])
        if sa > 0 and sb > 0 and ta[sa - 1] == tb[sb - 1]:
            prev_gram = " ".join(ta[sa - 1:sa - 1 + _XS_K])
            assert gram_df.get(prev_gram, 0) > _XS_DF_CAP, (
                "span not left-maximal and the preceding gram was not "
                "df-capped", r["doc_a"], r["doc_b"])


def test_cut_spans_edits_are_consistent(spark, sf_small):
    """The applied cut must be internally consistent: token counts
    reconcile (n_after = n_before - cut_len = len(text_after tokens),
    empty-string docs counted as 0), the edited text is the original
    minus exactly the [cut_start, cut_start+cut_len) token slice, and
    the removed slice is the one the span catalog promised (it equals
    the aligned slice of some partner doc)."""
    import sparkflow

    cuts = sparkflow.QUERIES["llm_cut_spans"](spark, sf_small).toPandas()
    assert len(cuts) > 0
    docs = (
        sparkflow.catalog.table(spark, sf_small, "documents")
        .toPandas().set_index("doc_id")["text"].to_dict()
    )
    spans = sparkflow.QUERIES["llm_dedup_exact_substr"](
        spark, sf_small).toPandas()
    for _, r in cuts.iterrows():
        toks = docs[r["doc_id"]].split(" ")
        cs, cl = int(r["cut_start"]), int(r["cut_len"])
        assert r["n_before"] == len(toks)
        assert r["n_after"] == len(toks) - cl >= 0
        want = toks[:cs] + toks[cs + cl:]
        got = r["text_after"].split(" ") if r["text_after"] else []
        assert got == want, r["doc_id"]
        removed = toks[cs:cs + cl]
        partners = spans[(spans["doc_b"] == r["doc_id"])
                         & (spans["start_b"] == cs)
                         & (spans["len_tokens"] == cl)]
        assert len(partners) > 0, "cut does not match any catalog span"
        pa = partners.iloc[0]
        a_toks = docs[pa["doc_a"]].split(" ")
        sa = int(pa["start_a"])
        assert a_toks[sa:sa + cl] == removed


def test_ivf_kmeans_recall_and_full_probe_exact(spark, sf_small):
    """llm_knn_ivf_kmeans (r10): the learned-codebook IVF must (a) at
    the default nprobe=3 of k=8 cells find a substantial share of the
    true top-10, (b) reproduce brute force EXACTLY when probing every
    cell (recall 1.0 — no approximation left), and (c) actually prune
    at nprobe=1 (strictly worse than full probe). Same three-leg
    structure as the label-IVF test; the codebook here is the engine's
    own k-means assignment."""
    from sparkflow.llm.similarity import _KMEANS_K, llm_knn_ivf_kmeans

    ids, top10 = _brute_force(spark, sf_small)
    true_top = set(top10[list(ids).index(0)])

    def recall(nprobe):
        got = llm_knn_ivf_kmeans(spark, sf_small, nprobe).toPandas()
        return len(set(got["vec_id"]) & true_top) / 10.0

    r1, r3, rall = recall(1), recall(3), recall(_KMEANS_K)
    assert rall == 1.0, f"full probe must equal brute force, got {rall}"
    assert r1 <= r3 <= rall, f"recall not monotone: {r1} {r3} {rall}"
    assert r1 < rall, "nprobe=1 matched full probe — pruning is a no-op"
    assert r3 >= 0.5, f"kmeans-IVF recall at nprobe=3: {r3}"


def test_knn_posture_bit_identical_and_read_only(spark, private_corpus):
    """maintenance_knn_quantize (r12): its staged Arrow-matmul top-10 is
    BIT-identical to llm_knn_cosine's explode/join plan; llm_knn_cosine
    never publishes the fixed-point matrix, and never reads it once the
    maintenance key has."""
    import pandas as pd

    from sparkflow.sources import staging

    sf = private_corpus
    matrix = staging.shared_path("knn", sf, ("embeddings",), "fxp_matrix")

    def ordered(df):
        return df.toPandas().sort_values("vec_id").reset_index(drop=True)

    cold = ordered(sparkflow.QUERIES["llm_knn_cosine"](spark, sf))
    assert not staging.is_published(matrix)
    staged = sparkflow.QUERIES["maintenance_knn_quantize"](spark, sf)
    assert any(staging.SHARED_ROOT in p for p in staged.inputFiles())
    pd.testing.assert_frame_equal(cold, ordered(staged))
    assert staging.is_published(matrix)
    again = sparkflow.QUERIES["llm_knn_cosine"](spark, sf)
    assert not any(staging.SHARED_ROOT in p for p in again.inputFiles())
    pd.testing.assert_frame_equal(cold, ordered(again))


def test_knn_ingest_delta_only_and_identical(spark, sf_small):
    """maintenance_knn_ingest (r12): the update plan's file sources are
    the delta directory and the base matrix — the raw embeddings table
    is ABSENT (append-only IVM never rescans history) — and the
    incrementally-built matrix answers the top-10 identically to the
    one-shot full build."""
    import pandas as pd

    inc = sparkflow.QUERIES["maintenance_knn_ingest"](spark, sf_small)
    files = inc.inputFiles()  # full paths (the plan string truncates)
    assert any("embeddings_delta" in p for p in files), files
    assert any("knn_base_matrix" in p for p in files), files
    assert not any("embeddings.parquet" in p for p in files), files
    full = sparkflow.QUERIES["maintenance_knn_quantize"](spark, sf_small)
    pd.testing.assert_frame_equal(
        inc.toPandas().sort_values("vec_id").reset_index(drop=True),
        full.toPandas().sort_values("vec_id").reset_index(drop=True),
    )


def test_knn_arrow_prune_keeps_nan_cosines(spark):
    """Degenerate (zero-norm) vectors make the kernel's float cosine
    NaN. Pre-r14 a NaN kth turned the survivor-band comparison
    all-False and SILENTLY dropped the whole batch — wrong results
    while the cold plan's Spark-side division errors (ANSI) or ranks
    NaN first (non-ANSI, NaN > every double). The guard must keep
    degenerate rows so the staged path stays bit-identical to the cold
    expressions in BOTH modes (r13 advice)."""
    import numpy as np

    from sparkflow.llm.similarity import _TOP_K, _knn_arrow_read

    n, dim = 40, 4
    rows = []
    for i in range(n):
        if i == 7:
            xi = [0] * dim  # zero vector -> n2 = 0 -> NaN cosine
        else:
            xi = [(i * 31 + j * 7) % 11 - 5 for j in range(dim)]
            if all(x == 0 for x in xi):
                xi[0] = 1
        rows.append((i, i % 3, xi, sum(x * x for x in xi)))
    mat = spark.createDataFrame(
        rows, "vec_id long, label int, xi array<long>, n2 long"
    ).repartition(1)
    qi = rows[0][2]
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        # ANSI: parity is a LOUD error from the shared Spark division,
        # exactly like the cold plan — never a silently-pruned batch
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            _knn_arrow_read(mat, 0, qi).collect()
        # non-ANSI: Spark's x/0 division is NULL (sorted last in the
        # desc order), so the degenerate row must NOT displace any
        # finite neighbor — the finite top-k must equal brute force,
        # never a silently-emptied batch
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = _knn_arrow_read(mat, 0, qi).toPandas()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
    assert len(got) == _TOP_K
    q = np.asarray(qi, dtype=np.float64)
    nq = np.sqrt((q * q).sum())

    def r9(c):  # Spark ROUND = HALF_UP (away from zero)
        return np.sign(c) * np.floor(np.abs(c) * 1e9 + 0.5) / 1e9

    finite = []
    for i, _lb, xi, n2 in rows[1:]:
        if n2 == 0:
            continue
        v = np.asarray(xi, dtype=np.float64)
        finite.append((r9(v @ q / (np.sqrt(float(n2)) * nq)), i))
    finite.sort(key=lambda t: (-t[0], t[1]))
    want = [i for _c, i in finite[:_TOP_K]]
    assert list(got["vec_id"]) == want
    # ... and when fewer than k finite rows exist, the degenerate row
    # fills a slot (NULL cos_sim, sorted last) instead of vanishing
    small = spark.createDataFrame(
        [r for r in rows if r[0] in (0, 1, 2, 7)],
        "vec_id long, label int, xi array<long>, n2 long",
    ).repartition(1)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got_small = _knn_arrow_read(small, 0, qi).toPandas()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert set(got_small["vec_id"]) == {1, 2, 7}
    assert got_small.iloc[-1]["vec_id"] == 7
    assert got_small["cos_sim"].isna().iloc[-1]


def test_prefix_dict_broadcast_gate_paths(spark, sf_small):
    """llm_dedup_near_prefix's shingle-dictionary recode is conf-gated
    (r17 scale guard): the default forced-broadcast path and the
    spark.sparkflow.dedup.dictBroadcast=false shuffle-join fallback
    (the 100 TB posture when the vocabulary outgrows the broadcast
    ceiling) must return IDENTICAL pairs — the recode is injective
    under either join strategy."""
    key = "spark.sparkflow.dedup.dictBroadcast"
    hinted = sorted(
        map(tuple, sparkflow.QUERIES["llm_dedup_near_prefix"](spark, sf_small).collect())
    )
    spark.conf.set(key, "false")
    try:
        unhinted_df = sparkflow.QUERIES["llm_dedup_near_prefix"](spark, sf_small)
        assert "ResolvedHint" not in unhinted_df._jdf.queryExecution().analyzed().toString()
        unhinted = sorted(map(tuple, unhinted_df.collect()))
    finally:
        spark.conf.unset(key)
    assert hinted == unhinted
    assert len(hinted) > 0


def test_semdedup_cell_cap_guard_paths(spark, sf_small):
    """llm_semdedup's hot-cell guard is conf-gated
    (spark.sparkflow.semdedup.cellCap, r17): with a cap small enough
    that real cells go 'hot', the triangle-blocked pairing must appear
    in the plan AND return exactly the rows of the default unguarded
    within-cell join — the block decomposition covers every unordered
    pair exactly once under any cap."""
    key = "spark.sparkflow.semdedup.cellCap"
    base = sorted(
        map(tuple, sparkflow.QUERIES["llm_semdedup"](spark, sf_small).collect())
    )
    spark.conf.set(key, "8")
    try:
        df = sparkflow.QUERIES["llm_semdedup"](spark, sf_small)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "sequence(" in plan, plan[:2000]  # blocked replication present
        got = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.unset(key)
    assert len(base) > 0
    assert got == base


def test_centroids_match_numpy_reference(spark, sf_small):
    """llm_centroids' r17 distance pass (per-label centroid ARRAY
    broadcast + zip_with fold, replacing the 64x-exploded (label, dim)
    join) must match a transparent NumPy reference of the oracle's
    formula — per-label mean vector, per-vector Euclidean distance to
    it, 6-decimal rounding — on the real fixture."""
    import numpy as np
    import pandas as pd

    got = (
        sparkflow.QUERIES["llm_centroids"](spark, sf_small)
        .toPandas()
        .set_index("label")
        .sort_index()
    )
    raw = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    for label, grp in raw.groupby("label"):
        m = np.stack(grp["embedding"].to_numpy()).astype("float64")
        c = m.mean(axis=0)
        d = np.sqrt(((m - c) ** 2).sum(axis=1))
        row = got.loc[label]
        assert int(row["n_vecs"]) == len(grp)
        assert abs(row["avg_dist"] - round(d.mean(), 6)) <= 1e-6
        assert abs(row["centroid_norm"] - round(float(np.sqrt((c * c).sum())), 6)) <= 1e-6
    assert len(got) == raw["label"].nunique()


def test_winnowing_overlap_array_pairs_match_self_join(spark):
    """r17: both overlap detectors generate pairs from sorted per-bucket
    posting ARRAYS (posexplode + slice) instead of the fp/h self-join.
    Pin the rewritten operators row-identical to an inline reference
    built the OLD way (a⨝b on the capped key, doc_a < doc_b, sizes
    joined after the aggregate) on a corpus with exact copies, shifted
    copies, multi-way duplicate groups and an in-bucket repeated doc."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparkflow.llm.winnow import (
        _WFP_MAX_DF, _WFP_MIN_PPM, _WFP_MIN_SHARED,
        _fpset, _overlap_aligned, _overlap_positional,
    )

    base = (
        "pack my box with five dozen liquor jugs while the wizard "
        "quickly jinxed the gnomes before they vexed a fedora wearing "
        "sphinx of black quartz judging my vow near the riverbank"
    )
    rows = [(1, base), (2, base), (3, "zz " + base), (4, base + " zz"),
            (5, base[: len(base) // 2] + " unrelated tail of words here"),
            (6, "totally different text about alpine glaciers slowly "
                "carving granite valleys under pale winter light for "
                "many thousands of patient years")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    # reference: the pre-r17 self-join formulation, verbatim
    fpset = _fpset(docs)
    kept = (fpset.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _WFP_MAX_DF).select("fp"))
    indexed = fpset.join(kept, "fp").select("doc_id", "fp")
    sizes = indexed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = indexed.toDF("doc_a", "fp")
    b = indexed.toDF("doc_b", "fp")
    shared = (a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("shared_fps")))
    sa = sizes.toDF("doc_a", "sa")
    sb = sizes.toDF("doc_b", "sb")
    ppm = F.expr("shared_fps * 1000000 DIV least(sa, sb)")
    ref_pos = (shared.join(sa, "doc_a").join(sb, "doc_b")
               .filter((F.col("shared_fps") >= _WFP_MIN_SHARED)
                       & (ppm >= _WFP_MIN_PPM))
               .select("doc_a", "doc_b", "shared_fps",
                       ppm.alias("containment_ppm")))
    got_pos = _overlap_positional(docs)
    key = ["doc_a", "doc_b"]
    assert sorted(map(tuple, got_pos.collect())) == sorted(
        map(tuple, ref_pos.collect()))
    assert got_pos.count() > 0  # the corpus actually exercises pairing

    hx = fpset.select(
        "doc_id", F.expr("fp DIV 4294967296").alias("h"),
        (F.col("fp") % 4294967296).alias("pos"))
    kept_h = (hx.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") <= _WFP_MAX_DF).select("h"))
    idx_h = hx.join(kept_h, "h").select("doc_id", "h", "pos")
    sizes_h = idx_h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ah = idx_h.toDF("doc_a", "h", "pos_a")
    bh = idx_h.toDF("doc_b", "h", "pos_b")
    votes = (ah.join(bh, "h").filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b",
                      (F.col("pos_a") - F.col("pos_b")).alias("shift"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("aligned_fps")))
    w = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("aligned_fps").desc(), "shift")
    best = (votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))
    sa2 = sizes_h.toDF("doc_a", "sa")
    sb2 = sizes_h.toDF("doc_b", "sb")
    ppm2 = F.expr("aligned_fps * 1000000 DIV least(sa, sb)")
    ref_ali = (best.join(sa2, "doc_a").join(sb2, "doc_b")
               .filter((F.col("aligned_fps") >= _WFP_MIN_SHARED)
                       & (ppm2 >= _WFP_MIN_PPM))
               .select("doc_a", "doc_b", "shift", "aligned_fps",
                       ppm2.alias("containment_ppm")))
    got_ali = _overlap_aligned(docs)
    assert sorted(map(tuple, got_ali.collect())) == sorted(
        map(tuple, ref_ali.collect()))
    assert got_ali.count() > 0
