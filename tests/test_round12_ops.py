"""Round-12 surface: the d33 capped-split-parity declaration (VERDICT
r11 #4) and the semantic production cap's benign-corpus identity
(ADVICE r11: _S06_PRODUCTION_CAP must be exercised, not implied).
"""

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# d33: capped d12 vs the uncapped-closure oracle. The invariance
# equality itself is pinned on the adversarial staging in
# test_round11_ops::test_d12_split_identical_under_cap and proven on
# corpus data by the driver's hash row; these tests pin the
# DECLARATION surface — the star path genuinely fires at driver scale
# (else the parity proof is vacuous) and the oracle is D12_SQL
# verbatim (any drift between the two would silently weaken the proof
# to "capped vs capped").
# ---------------------------------------------------------------------------
def test_d33_star_path_fires_at_driver_sf(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.dedup import (
        _D18_BUCKET_CAP,
        _banded_signatures,
    )

    oversized = (
        _banded_signatures(spark, sf_dir)
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") > _D18_BUCKET_CAP)
        .count()
    )
    assert oversized > 0, "no band bucket exceeds the cap — d33 vacuous"


def test_d33_oracle_is_the_uncapped_closure():
    from nlp_data_pipeline_spark.operators.dedup import D12_SQL, ORACLES, QUERIES

    assert "d33_capped_split_parity" in QUERIES
    assert ORACLES["d33_capped_split_parity"] == D12_SQL


# ---------------------------------------------------------------------------
# Chain-shape escalation: min-label propagation needs O(diameter)
# rounds, so a pair graph chained by adversarial duplication (the
# 1000x neardup staging chains ~1000 replicas through pairwise band
# collisions) used to hard-fail the 20-round cap inside d06/d12/d18.
# _neardup_components now escalates to the O(log n) alternating-star
# contraction after 5 non-converged rounds — same component-min
# labeling (d24 shares d06's oracle text), guaranteed termination.
# ---------------------------------------------------------------------------
def test_neardup_components_escalates_on_long_chain(spark):
    from nlp_data_pipeline_spark.operators.dedup import _neardup_components

    n = 120  # diameter 119 >> both the old 20-round cap and the new 5
    chain = spark.range(n - 1).selectExpr(
        "id AS doc_a", "id + 1 AS doc_b"
    )
    got = _neardup_components(chain).collect()
    assert len(got) == n
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in got)


def test_neardup_components_fast_path_unchanged_on_shallow_graph(spark):
    """A benign (diameter-2) graph converges inside the propagation
    tier — the escalation must not engage, and labels stay exact."""
    from nlp_data_pipeline_spark.operators.dedup import _neardup_components

    star = spark.range(1, 6).selectExpr("0 AS doc_a", "id AS doc_b")
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in _neardup_components(star).collect()
    )
    assert got == [(i, 0, 6) for i in range(6)]


# ---------------------------------------------------------------------------
# Semantic production cap: at _S06_PRODUCTION_CAP = 256 the star path
# only engages on hazard-shaped buckets (exact/near-duplicate pileups).
# On a benign corpus — every sign-bucket under the cap, which sf0.001
# is — the capped feed must be IDENTICAL to s06's exact bucket-clique
# relation: the production default is lossless until the corpus
# actually presents the d25-probe hazard, at which point it degrades
# to the documented hub-star recall trade instead of quadratic pair
# mass (233 s at the 100x staging, probe_gate12_100x_r11.json).
# ---------------------------------------------------------------------------
def test_s06_production_cap_is_identity_on_benign_corpus(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.similarity import (
        _S06_PRODUCTION_CAP,
        N_PLANES,
        _plane_array,
        as_double,
        dot,
        s06_embedding_neardup_pairs,
        semantic_candidate_pairs,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    bucket = F.concat(
        *[
            F.when(
                dot(_plane_array(p), "emb") >= 0,
                "1",
            ).otherwise("0")
            for p in range(N_PLANES)
        ]
    )
    max_bucket = (
        e.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.max("m"))
        .first()[0]
    )
    assert max_bucket <= _S06_PRODUCTION_CAP, (
        "benign-corpus precondition broken — pick a bigger cap or a "
        "smaller fixture"
    )

    capped = semantic_candidate_pairs(spark, sf_dir, _S06_PRODUCTION_CAP)
    exact = s06_embedding_neardup_pairs(spark, sf_dir)
    assert capped.exceptAll(exact).count() == 0
    assert exact.exceptAll(capped).count() == 0
