"""Round-11 additions: the cap threaded through the d03 consumer chain
(VERDICT r10 #5) — every pair-level consumer of the LSH candidate
relation accepts an optional star-cap and the whole chain is executed
end-to-end at the adversarial replication staging under the tightest
cap, the way d18's equivalence proof already is."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def adv_dir(spark, sf_dir):
    """The d18 adversarial shape: the corpus replicated 8-fold as
    near-duplicates, so every replica group LSH-collides and buckets
    exceed the tight cap — the staging where the uncapped clique's
    C(m,2) mass measurably explodes. embeddings symlinked through for
    the consumers that also read the semantic tier (d25)."""
    from nlp_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    reps = spark.range(8).withColumnRenamed("id", "rep")
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("rep")))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    staged = tempfile.mkdtemp(prefix="r11_capchain_")
    big.write.mode("overwrite").parquet(os.path.join(staged, "documents.parquet"))
    for t in ("embeddings",):
        os.symlink(
            os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
            os.path.join(staged, f"{t}.parquet"),
        )
    return staged


_CAP = 2  # the declared d18 cap — tightest, so the star path FIRES here


def test_cap_fires_at_adversarial_staging(spark, adv_dir):
    """Precondition for everything below: under the adversarial
    replication the capped feed is a STRICT subset of the clique feed
    (if not, every chain assertion would be vacuous)."""
    from nlp_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

    n_capped = lsh_candidate_pairs(spark, adv_dir, _CAP).count()
    n_clique = lsh_candidate_pairs(spark, adv_dir).count()
    assert 0 < n_capped < n_clique


def test_d24_components_cap_invariant_at_adversarial_staging(spark, adv_dir):
    """The component-level consumer loses NOTHING under the cap: d24
    over star-capped pairs equals d06 over the full clique, row for
    row, at the staging where most buckets exceed the cap."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d06_neardup_clusters,
        d24_cc_alternating_stars,
    )

    capped = {tuple(r) for r in d24_cc_alternating_stars(spark, adv_dir, cap=_CAP).collect()}
    clique = {tuple(r) for r in d06_neardup_clusters(spark, adv_dir).collect()}
    assert len(clique) > 0 and capped == clique


def test_d12_split_identical_under_cap(spark, adv_dir):
    """d12's split hangs off the component id and components are
    cap-invariant, so the capped split must equal the uncapped split
    ROW FOR ROW at the staging where the cap fires heavily — the
    strongest form of 'the 100 TB path changes nothing'."""
    from nlp_data_pipeline_spark.operators.dedup import d12_leakage_safe_split

    capped = {tuple(r) for r in d12_leakage_safe_split(spark, adv_dir, cap=_CAP).collect()}
    full = {tuple(r) for r in d12_leakage_safe_split(spark, adv_dir).collect()}
    assert len(full) > 0 and capped == full


def test_d21_by_cluster_zero_cross_survives_cap(spark, adv_dir):
    """d21's headline guarantee is component-level, so it must hold
    exactly under the cap: the by_cluster strategy declares zero
    cross-split rows even when the audited pair relation is the capped
    subset."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d21_split_contamination_audit,
    )

    rows = d21_split_contamination_audit(spark, adv_dir, cap=_CAP).collect()
    assert rows, "audit returned no rows"
    by_cluster = [r for r in rows if r["strategy"] == "by_cluster"]
    assert by_cluster and all(not r["is_cross"] for r in by_cluster)


def test_d26_cap_trade_is_conservative(spark, adv_dir):
    """d26's documented trade direction, measured: the truth side is
    cap-independent (postings machinery, not band pairs), candidates
    shrink, and measured recall under the cap is a LOWER bound on the
    uncapped config's recall."""
    from nlp_data_pipeline_spark.operators.dedup import d26_lsh_recall_eval

    capped = d26_lsh_recall_eval(spark, adv_dir, cap=_CAP).collect()[0]
    full = d26_lsh_recall_eval(spark, adv_dir).collect()[0]
    assert capped["n_true_pairs"] == full["n_true_pairs"]
    assert capped["n_candidates"] < full["n_candidates"]
    assert (capped["recall"] or 0.0) <= (full["recall"] or 0.0)


def test_remaining_chain_runs_end_to_end_under_cap(spark, adv_dir):
    """d22 / d25 / d27 / d28 — the rest of the threaded chain — each
    complete at the adversarial staging under the tight cap and return
    non-empty, shape-sane results (the uncapped clique is what made
    this staging hazardous; the capped feed must simply work)."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d22_lsh_band_curve,
        d25_lexical_semantic_overlap,
        d27_bbit_minhash,
        d28_edit_distance_verify,
    )

    curve = d22_lsh_band_curve(spark, adv_dir, cap=_CAP).collect()
    assert len(curve) == 3  # one row per band config
    assert all(r["n_candidates"] >= r["n_true_pairs"] >= 0 for r in curve)

    overlap = d25_lexical_semantic_overlap(spark, adv_dir, cap=_CAP).collect()
    assert {r["category"] for r in overlap} == {"both", "lexical_only", "semantic_only"}

    bbit = d27_bbit_minhash(spark, adv_dir, cap=_CAP)
    assert bbit.count() > 0

    verified = d28_edit_distance_verify(spark, adv_dir, cap=_CAP).collect()
    assert verified and all(
        0.0 <= r["norm_similarity"] <= 1.0 and r["edit_distance"] >= 0
        for r in verified
    )


# ---------------------------------------------------------------------------
# Round-11 MLlib-fit additions: n06 StringIndexer and n07
# MinMaxScaler — the second and third value-exact pyspark.ml FITS
# behind n05 (VERDICT r10 "What's missing" #1).
# ---------------------------------------------------------------------------
def _duck(sf_dir, views):
    import duckdb

    con = duckdb.connect()
    for v in views:
        con.execute(
            f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{sf_dir}/{v}.parquet')"
        )
    return con


def test_n06_matches_duckdb_oracle(spark, sf_dir):
    """The fitted StringIndexerModel's labelsArray over (lang, source)
    equals the SQL ranking cnt DESC, label ASC — value-for-value, the
    driver-style check."""
    from nlp_data_pipeline_spark.operators.nlp_model import (
        N06_SQL,
        n06_string_indexer_model,
    )

    got = sorted(tuple(r) for r in n06_string_indexer_model(spark, sf_dir).collect())
    want = sorted(
        tuple(r) for r in _duck(sf_dir, ["documents"]).execute(N06_SQL).fetchall()
    )
    assert got == want and len(got) > 0


def test_n06_equal_frequency_ties_sort_alphabetically(spark):
    """The oracle's tie-break (label ASC on equal counts) is exactly
    MLlib's documented frequencyDesc behavior (SPARK-29750). Pin it on
    a synthetic all-ties column so a regression in Spark's ordering
    surfaces here, not as a driver hash mismatch."""
    from pyspark.ml.feature import StringIndexer

    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("b",), ("a",), ("c",)], ["k"]
    )
    model = StringIndexer(inputCols=["k"], outputCols=["k_idx"]).fit(df)
    assert list(model.labelsArray[0]) == ["a", "b", "c"]


def test_n07_matches_duckdb_oracle_bit_exact(spark, sf_dir):
    """MinMaxScalerModel.originalMin/Max vs per-dim SQL MIN/MAX —
    compared with EXACT float equality (min/max are selections over
    identical float32 values widened to double; no tolerance needed)."""
    from nlp_data_pipeline_spark.operators.nlp_model import (
        N07_SQL,
        n07_minmax_scaler_model,
    )

    got = {r["dim"]: r for r in n07_minmax_scaler_model(spark, sf_dir).collect()}
    want = _duck(sf_dir, ["embeddings"]).execute(N07_SQL).fetchall()
    assert len(got) == len(want) > 0
    for dim, n_vecs, emb_min, emb_max, emb_range in want:
        g = got[dim]
        assert (
            g["n_vecs"] == n_vecs
            and g["emb_min"] == emb_min
            and g["emb_max"] == emb_max
            and g["emb_range"] == emb_range
        )
    # the fit's state is O(dim): one declared row per embedding dimension
    assert len(got) == 64


# ---------------------------------------------------------------------------
# Round-11: the d18 star cap applied to the SEMANTIC (dense-vector)
# tier — semantic_candidate_pairs(cap). The gate-12 100x execution
# probe measured s06's uncapped bucket clique at 233 s on
# exact-duplicate-replicated embeddings (probe_gate12_100x_r11.json),
# the dense twin of the d03 hot-bucket hazard.
# ---------------------------------------------------------------------------
_SEM_CAP = 2


@pytest.fixture(scope="module")
def dup_emb_dir(spark, sf_dir):
    """Embeddings replicated 8-fold as EXACT duplicates (remapped
    vec_ids) — every replica group shares one sign-bucket, so the
    uncapped clique is C(8m, 2) per bucket; documents symlinked."""
    from nlp_data_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    reps = spark.range(8).withColumnRenamed("id", "rep")
    big = e.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
        "embedding",
        "label",
    )
    staged = tempfile.mkdtemp(prefix="r11_semcap_")
    big.write.mode("overwrite").parquet(os.path.join(staged, "embeddings.parquet"))
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
        os.path.join(staged, "documents.parquet"),
    )
    return staged


def test_semantic_cap_star_path_fires_and_is_subset(spark, sf_dir):
    """At the test sf some sign-bucket exceeds cap=2 (non-vacuous), and
    the capped VERIFIED pairs are a strict subset of s06's — the
    documented recall trade, never new pairs."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s06_embedding_neardup_pairs,
        semantic_candidate_pairs,
    )

    exact = s06_embedding_neardup_pairs(spark, sf_dir)
    capped = semantic_candidate_pairs(spark, sf_dir, _SEM_CAP)
    n_exact, n_capped = exact.count(), capped.count()
    assert 0 < n_capped < n_exact, "cap must fire at test sf (else vacuous)"
    assert capped.exceptAll(exact).count() == 0


def test_semantic_cap_bounds_exact_duplicate_blowup(spark, dup_emb_dir):
    """On the exact-duplicate staging the star cap bounds pair mass to
    ~O(vectors) where the clique is quadratic in the duplication rate,
    and every exact-duplicate star edge verifies at cosine 1.0 (the
    keep/drop decision loses nothing in the hazard case)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s06_embedding_neardup_pairs,
        semantic_candidate_pairs,
    )

    capped = semantic_candidate_pairs(spark, dup_emb_dir, _SEM_CAP)
    n_capped = capped.count()
    n_exact = s06_embedding_neardup_pairs(spark, dup_emb_dir).count()
    assert n_capped < n_exact / 3, (n_capped, n_exact)
    # the hub's own exact copies always verify at cosine 1.0 (star
    # edges between byte-identical vectors): vec 0 is the global min
    # vec_id, so it hubs its bucket, and its 7 copies (500k apart by
    # construction) must all be present at exactly 1.0. A bucket can
    # hold copies of SEVERAL vectors — non-hub groups get hub-cosine
    # edges instead, which is the documented recall trade.
    from nlp_data_pipeline_spark.sources.catalog import load_table

    n_orig = load_table(spark, dup_emb_dir, "embeddings").count() // 8
    hub0 = {
        (r["vec_b"], r["cosine"])
        for r in capped.filter(F.col("vec_a") == 0).collect()
    }
    assert {(k * n_orig, 1.0) for k in range(1, 8)} <= hub0


def test_semantic_cap_plan_has_no_broadcasts(spark, sf_dir):
    """Both capped-path joins (clique self-join, hub lookup) are forced
    sort-merge: `small` is ~the whole corpus on benign data and `hubs`
    sits behind a derived estimate (the d22 defect class)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        semantic_candidate_pairs,
    )
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    plan = formatted_plan(semantic_candidate_pairs(spark, sf_dir, _SEM_CAP))
    assert "BroadcastExchange" not in plan


def test_d25_runs_under_both_caps(spark, dup_emb_dir):
    """d25 with both feeds capped completes on the exact-duplicate
    staging and keeps its fixed 3-category shape."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d25_lexical_semantic_overlap,
    )

    rows = d25_lexical_semantic_overlap(
        spark, dup_emb_dir, cap=2, sem_cap=_SEM_CAP
    ).collect()
    assert {r["category"] for r in rows} == {"both", "lexical_only", "semantic_only"}
    assert all(r["n_pairs"] >= 0 for r in rows)


def test_s09_exact_duplicates_dedup_at_any_k(spark, dup_emb_dir):
    """The SemDeDup k knob changes which NEAR-dups share a cluster, but
    byte-identical vectors assign to the same nearest centroid at ANY
    k — so on the 8x exact-duplicate staging every non-first copy is
    marked a duplicate at both the default and a 4x finer k, while the
    per-cluster pair space shrinks with k."""
    from nlp_data_pipeline_spark.operators.similarity import (
        N_CENTROIDS,
        s09_semantic_dedup,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    n = load_table(spark, dup_emb_dir, "embeddings").count()
    n_orig = n // 8
    for k in (None, N_CENTROIDS * 4):
        res = s09_semantic_dedup(spark, dup_emb_dir, k)
        dropped = res.filter(~F.col("keep")).count()
        # every copy (rep >= 1) has a lower-id exact duplicate in its
        # cluster: at least the 7/8 replica mass must be marked
        assert dropped >= n_orig * 7, (k, dropped)
        # cluster sizes shrink as k grows
        if k is not None:
            sizes = (
                res.groupBy("centroid_id").count().agg(F.max("count")).collect()[0][0]
            )
            base_sizes = (
                s09_semantic_dedup(spark, dup_emb_dir)
                .groupBy("centroid_id").count().agg(F.max("count")).collect()[0][0]
            )
            assert sizes <= base_sizes
