"""Round-14 additions: the NND packed local-join refine tier
(VERDICT r13 #4 — the named 'per-worker adjacency packing' remedy for
refine's per-pair Arrow traffic at 1000x)."""

import pytest
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.operators import similarity


def _topm_rows(t):
    topm, _g, _links = t
    return sorted(tuple(r) for r in topm.collect())


def test_nnd_refine_packed_parity(spark, sf_dir, monkeypatch):
    """The packed local-join tier reproduces the pair-join refine's
    final top-m EXACTLY on the test corpus: candidate coverage is
    identical ({current edges} ∪ {nodes sharing a neighbor} == all
    pairs within closed neighborhoods), the degree cap (256, ~10x the
    benign closed-neighborhood size) never fires, and the gram-matmul
    cosines match the einsum row-dots through the (cos DESC, dst ASC)
    tie-break. Each tier is forced by the size threshold: the real
    value keeps the test corpus on pair-join, 0 sends it to packed."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _NND_REFINE_PACKED_N,
        _nnd_state,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    assert load_table(spark, sf_dir, "embeddings").count() <= _NND_REFINE_PACKED_N
    want = _topm_rows(_nnd_state(spark, sf_dir, keep_topm=True))
    monkeypatch.setattr(similarity, "_NND_REFINE_PACKED_N", 0)
    got = _topm_rows(_nnd_state(spark, sf_dir, keep_topm=True))
    assert got == want and len(got) > 0


def test_nnd_refine_packed_scoring_covers_pair_join_candidates(spark, sf_dir):
    """Tier-equivalence at the CANDIDATE level, not just end-to-end:
    every (src, dst) the pair-join round scores is scored by the
    packed round too (both directions), with cosine equal to within
    BLAS summation-order ulp."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _nnd_refine_local_join,
        _score_pairs,
        _undirected,
        _nnd_state,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table
    from nlp_data_pipeline_spark.operators.similarity import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # the graph entering the first refine round: seed ∪ links closure
    _topm, g, _links = _nnd_state(spark, sf_dir, rounds=0)
    g2 = g.select(F.col("src").alias("mid"), F.col("dst"))
    nofn = (
        g.select("src", F.col("dst").alias("mid"))
        .join(g2, "mid")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    cand = g.union(nofn).distinct()
    pair_scored = {
        (r["src"], r["dst"]): r["cos"]
        for r in _score_pairs(e, cand).collect()
    }
    packed_scored = {
        (r["src"], r["dst"]): r["cos"]
        for r in _nnd_refine_local_join(e, g).collect()
    }
    missing = set(pair_scored) - set(packed_scored)
    assert missing == set()
    assert all(
        abs(packed_scored[k] - pair_scored[k]) < 1e-9 for k in pair_scored
    )


def test_nnd_refine_packed_cap_bounds_blocks(spark, sf_dir):
    """With a cap far below the benign degree the packed tier still
    completes and emits only pairs from capped (lowest-dst) blocks —
    the d18-family contract that the cap bounds work without breaking
    the pipeline."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _nnd_refine_local_join,
        _nnd_state,
        as_double,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    _topm, g, _links = _nnd_state(spark, sf_dir, rounds=0)
    scored = _nnd_refine_local_join(e, g, cap=4)
    rows = scored.collect()
    assert len(rows) > 0
    # mirrored emission: every scored pair present in both directions
    seen = {(r["src"], r["dst"]) for r in rows}
    assert all((d, s) in seen for (s, d) in seen)


def test_s27_arrow_tiers_parity(spark, sf_dir):
    """use_arrow=True (the 1000x production swap: s09 Arrow argmax
    assignment + _pq_encode_arrow codes) reproduces the declared s27
    result row-for-row — same clusters, same codes, same ADC
    distances at 6 dp, same ranks."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s27_ivfpq_search,
    )

    want = [tuple(r) for r in s27_ivfpq_search(spark, sf_dir).collect()]
    got = [
        tuple(r)
        for r in s27_ivfpq_search(spark, sf_dir, use_arrow=True).collect()
    ]
    assert got == want and len(got) > 0


def test_nnd_refine_tier_autoselect_threshold():
    """Declared corpora (≤100k vectors) stay on the pair-join plan;
    the packed tier engages only past _NND_REFINE_PACKED_N."""
    assert similarity._NND_REFINE_PACKED_N == 100_000
    assert similarity._NND_PACK_CAP == 256


# ---------------------------------------------------------------------------
# Round-14 optimization: the LP loop's convergence check no longer
# re-joins updated⋈labels — the change flag is computed inside the
# update itself (nbr_min < cluster_id). A broken always-TRUE flag
# would silently route every benign graph through the O(log n)
# escalation (outputs stay right, cost profile doesn't); pin that the
# escalation never engages when the flag should read converged. (The
# complementary failure — always-FALSE breaking round 1 unconverged —
# is caught by test_neardup_components_escalates_on_long_chain's
# label assertions.)
# ---------------------------------------------------------------------------
def test_lp_convergence_flag_detects_fixpoint(spark, monkeypatch):
    import nlp_data_pipeline_spark.operators.dedup as D

    def boom(*a, **k):
        raise AssertionError(
            "alternating-star escalation must not engage on a "
            "shallow (diameter-2) graph — LP converged"
        )

    monkeypatch.setattr(D, "_cc_star_labels", boom)
    star = spark.range(1, 6).selectExpr("0 AS doc_a", "id AS doc_b")
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in D._neardup_components(star).collect()
    )
    assert got == [(i, 0) for i in range(6)]
