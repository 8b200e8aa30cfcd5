"""Round-13: the s09 SemDeDup scale tiers.

The round-12 semantic 1000x probe never completed (its committed
artifact was zero bytes — VERDICT r12 "What's wrong" #1). Root cause,
established this round: at 2M vectors with the k = n/500 knob the
assignment materializes n·k = 8e9 scored rows through a row_number
window SORT (~4 TB shuffle), and under near-duplicate replication the
argmax CONCENTRATES replicas into few clusters, so the within-cluster
clique is quadratic regardless of k. Two production tiers fix it,
both exercised here and by tools/probe_semcap_1000x.py:

  - _s09_assign escalation (k > _S09_ASSIGN_ARROW_K): Arrow-BLAS
    argmax — row-for-row parity with the window tier (same
    tie-break, float64 matmul), n-row result instead of an n·k sort.
  - cluster_cap: per-cluster star to the min-vec_id hub past the cap —
    subset-of-clique pairs, keep/drop errs toward keeping, exact
    duplicates still all drop (the d18/s06 star-cap family).
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.operators import similarity
from nlp_data_pipeline_spark.operators.similarity import (
    _S09_ASSIGN_ARROW_K,
    _S09_CLUSTER_CAP,
    s09_semantic_dedup,
)


def _rows(df):
    return sorted(
        (r["vec_id"], r["centroid_id"], r["n_lower_neardups"], r["keep"])
        for r in df.collect()
    )


def test_s09_arrow_assignment_parity(spark, sf_dir, monkeypatch):
    """The Arrow-BLAS production assignment (float64 matmul argmax)
    matches the declared window tier row-for-row on the test corpus —
    summation-order drift (~1 ulp) can flip an argmax only on a
    cosine tie that tight, and the corpus has none. The tier is forced
    by its size threshold, and the plan shows it ran."""
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    want = _rows(s09_semantic_dedup(spark, sf_dir))
    monkeypatch.setattr(similarity, "_S09_ASSIGN_ARROW_K", 0)
    df = s09_semantic_dedup(spark, sf_dir)
    assert "MapInPandas" in formatted_plan(df)
    got = _rows(df)
    assert got == want and len(got) > 0


def test_s09_declared_tier_stays_catalyst(spark, sf_dir):
    """The declared/oracle tier must carry ZERO Python plan stages —
    the Arrow kernels are production-only (bench n_python audit)."""
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    plan = formatted_plan(s09_semantic_dedup(spark, sf_dir))
    assert "MapInPandas" not in plan and "Python" not in plan


def test_s09_cluster_cap_identity_when_no_cluster_exceeds_it(spark, sf_dir):
    """cluster_cap above every cluster size is the IDENTITY — the cap
    engages only on oversized clusters (the s06/d18 contract)."""
    want = _rows(s09_semantic_dedup(spark, sf_dir))
    got = _rows(s09_semantic_dedup(spark, sf_dir, cluster_cap=10**9))
    assert got == want


@pytest.fixture(scope="module")
def pileup_dir(spark, sf_dir):
    """Embeddings replicated 6-fold as EXACT duplicates — the
    duplication pileup the cluster cap exists for: every replica group
    assigns to one centroid, so clusters blow past any fixed cap."""
    from nlp_data_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    reps = spark.range(6).withColumnRenamed("id", "rep")
    big = e.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
        "embedding",
        "label",
    )
    staged = tempfile.mkdtemp(prefix="r13_s09cap_")
    big.write.mode("overwrite").parquet(
        os.path.join(staged, "embeddings.parquet")
    )
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
        os.path.join(staged, "documents.parquet"),
    )
    return staged


def test_s09_cluster_cap_star_semantics_on_pileup(spark, pileup_dir):
    """On the 6x exact-duplicate pileup with a cap below the pileup
    size: (a) the star tier genuinely fires, (b) capped pairs are a
    subset — any vector the capped tier DROPS the full clique drops
    too, (c) exact-duplicate copies of the hub still all drop at
    cosine 1.0 (zero lost drops in the hazard case for hub groups)."""
    full = s09_semantic_dedup(spark, pileup_dir, n_centroids=32)
    capped = s09_semantic_dedup(
        spark, pileup_dir, n_centroids=32, cluster_cap=8
    )
    fm = {r["vec_id"]: r for r in full.collect()}
    cm = {r["vec_id"]: r for r in capped.collect()}
    assert fm.keys() == cm.keys()
    # same clustering (the cap changes pair EDGES, not assignment)
    assert all(fm[v]["centroid_id"] == cm[v]["centroid_id"] for v in fm)
    # star counts never exceed clique counts; drops are a subset
    assert all(
        cm[v]["n_lower_neardups"] <= fm[v]["n_lower_neardups"] for v in fm
    )
    dropped_capped = {v for v in cm if not cm[v]["keep"]}
    dropped_full = {v for v in fm if not fm[v]["keep"]}
    assert dropped_capped <= dropped_full
    # the star tier fired: with 6 copies per group, 32 centroids and cap=8 every
    # cluster is oversized, so capped counts are 0/1 everywhere
    assert max(cm[v]["n_lower_neardups"] for v in cm) == 1
    assert max(fm[v]["n_lower_neardups"] for v in fm) > 1
    # hub groups lose nothing: each cluster's hub keeps, and every
    # exact copy of the hub (vec_id ≡ hub mod n_orig) drops at 1.0
    from nlp_data_pipeline_spark.sources.catalog import load_table

    n_orig = load_table(spark, pileup_dir, "embeddings").count() // 6
    hubs = {}
    for v, r in cm.items():
        c = r["centroid_id"]
        if c not in hubs or v < hubs[c]:
            hubs[c] = v
    for c, hub in hubs.items():
        assert cm[hub]["keep"], (c, hub)
        for rep in range(6):
            copy = hub % n_orig + rep * n_orig
            if copy != hub and cm[copy]["centroid_id"] == c:
                assert not cm[copy]["keep"], (c, hub, copy)


def test_s09_production_constants_are_live(spark, sf_dir, monkeypatch):
    """_S09_CLUSTER_CAP / _S09_ASSIGN_ARROW_K are the wired production
    knobs (ADVICE r11/r12 on _S06_PRODUCTION_CAP: caps must be
    exercised, not implied): the probe passes them through, and on the
    benign declared corpus the production cap is the identity."""
    want = _rows(s09_semantic_dedup(spark, sf_dir))
    monkeypatch.setattr(similarity, "_S09_ASSIGN_ARROW_K", 0)
    got = _rows(
        s09_semantic_dedup(spark, sf_dir, cluster_cap=_S09_CLUSTER_CAP)
    )
    assert got == want
    assert _S09_ASSIGN_ARROW_K >= 64  # declared tier stays on the window
    assert _S09_CLUSTER_CAP >= 2 * 500  # cap clears the SemDeDup
    # target cluster size (the probe's k knob), so the star engages
    # only on genuine pileups, never on benign clusters


# ---------------------------------------------------------------------------
# Round-13: d32's wired posting cap (VERDICT r12 #8 — the header had
# documented d18's hot-bucket cap as d32's production remedy without
# implementing it; the cap parameter is the wiring, executed at 1000x
# adversarial duplication in probe_d32cap_1000x_r13.json).
# ---------------------------------------------------------------------------
def _d32_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_d32_cap_identity_on_benign(spark, sf_dir):
    """With every base posting list under the cap the capped feed is
    the IDENTITY — the d18/s06/s09 cap-family contract."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d32_incremental_dedup_delta,
    )

    want = _d32_rows(d32_incremental_dedup_delta(spark, sf_dir))
    capped_df = d32_incremental_dedup_delta(spark, sf_dir, cap=256)
    # the capped tier reports its own firing count (ADVICE r13: no
    # silent caps) — benign corpus means zero band keys tripped it
    capped = capped_df.collect()
    assert all(r["n_capped_band_keys"] == 0 for r in capped)
    got = sorted(
        tuple(r) for r in capped_df.drop("n_capped_band_keys").collect()
    )
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def neardup_delta_dir(spark, sf_dir):
    """16 NEAR-duplicate variants (' v{i}' suffix — distinct sha256,
    shared shingles) of each of 4 source texts, ids interleaving the
    base/delta parity split, padded with 40 novel docs: every variant
    group floods its band keys past a small cap on BOTH sides."""
    from nlp_data_pipeline_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(44)
    rows = d.collect()
    out = []
    nxt = 0
    for r in rows[:4]:
        for i in range(16):
            out.append((nxt, r["text"] + f" v{i}", r["lang"], r["source"]))
            nxt += 1
    for r in rows[4:]:
        out.append((nxt, r["text"], r["lang"], r["source"]))
        nxt += 1
    df = spark.createDataFrame(
        out, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    staged = tempfile.mkdtemp(prefix="r13_d32cap_")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(staged, "documents.parquet")
    )
    return staged


def test_d32_cap_preserves_pileup_verdicts(spark, neardup_delta_dir):
    """On the near-duplicate pileup with cap=2 (far below the 8 base
    copies per variant group): the capped tier completes, classifies
    every pileup delta doc exactly as the uncapped tier does (variants
    share their shingles, so representative-only verification loses
    nothing in the hazard case), and never invents duplicates."""
    from nlp_data_pipeline_spark.operators.dedup import (
        d32_incremental_dedup_delta,
    )

    full = {r["source"]: r for r in
            d32_incremental_dedup_delta(spark, neardup_delta_dir).collect()}
    capped = {r["source"]: r for r in
              d32_incremental_dedup_delta(
                  spark, neardup_delta_dir, cap=2).collect()}
    assert capped.keys() == full.keys()
    for src in full:
        f, c = full[src], capped[src]
        assert c["n_delta"] == f["n_delta"]
        assert c["n_exact_dup"] == f["n_exact_dup"]  # sha tier, cap-blind
        # capped candidates are rep-verified only: never MORE near-dups
        assert c["n_near_dup"] <= f["n_near_dup"]
    # the hazard groups themselves: every delta variant is a near-dup
    # of its base copies under BOTH tiers (verdict preserved where the
    # cap actually fires)
    tot_near_full = sum(r["n_near_dup"] for r in full.values())
    tot_near_capped = sum(r["n_near_dup"] for r in capped.values())
    assert tot_near_full >= 4 * 8  # 4 groups x 8 delta variants
    assert tot_near_capped == tot_near_full
    # and the cap REPORTS that it fired (ADVICE r13: no silent caps) —
    # every variant group's band keys hold 8 base postings > cap=2
    assert all(r["n_capped_band_keys"] > 0 for r in capped.values())


# ---------------------------------------------------------------------------
# Round-13/15: the NND seed Arrow tier (VERDICT r12 #8 — the graph-ANN
# family's scale gap: k_build = n/256 makes the window-tier assignment
# n²/256 HOF cosine folds; round 15 fused assignment and pack into one
# Arrow stage and made it the default tier, VERDICT r14 #1).
# ---------------------------------------------------------------------------
def _nnd_seed_pack_window(e, cents, probe):
    """Catalyst reference for similarity._nnd_seed_pack_arrow: top-probe
    centroids per vector by a (ccos DESC, cid ASC) row_number window,
    then the assignment ⋈ embeddings join packed per cid into
    (ids, flat)."""
    from pyspark.sql.window import Window

    from nlp_data_pipeline_spark.operators.similarity import dot, norm

    ccos = dot("cemb", "emb") / (norm("cemb") * norm("emb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = (
        e.join(F.broadcast(cents))
        .select("vec_id", "cid", ccos.alias("ccos"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= probe)
        .select("vec_id", "cid")
    )
    vecs = F.collect_list(F.struct("vec_id", "emb")).alias("vecs")
    return (
        assign.join(e, "vec_id")
        .groupBy("cid")
        .agg(vecs)
        .select(
            F.transform("vecs", lambda v: v["vec_id"]).alias("ids"),
            F.flatten(F.transform("vecs", lambda v: v["emb"])).alias("flat"),
        )
    )


def test_nnd_seed_pack_arrow_parity(spark, sf_dir, monkeypatch):
    """The fused Arrow seed-pack reproduces the whole NND state (top-m,
    graph, links) row-for-row vs a Catalyst window-join reference: the
    masked argmax over cid-ascending columns is exactly the window's
    (ccos DESC, cid ASC) order, and the groupBy(cid) pack holds the
    same block membership as the assignment ⋈ embeddings join."""
    from nlp_data_pipeline_spark.operators.similarity import _nnd_state

    def _g(t):
        topm, g, links = t
        return (
            sorted(tuple(r) for r in topm.collect()),
            sorted(tuple(r) for r in g.collect()),
            sorted(tuple(r) for r in links.collect()),
        )

    got = _g(_nnd_state(spark, sf_dir))
    monkeypatch.setattr(similarity, "_nnd_seed_pack_arrow", _nnd_seed_pack_window)
    want = _g(_nnd_state(spark, sf_dir))
    assert got == want and len(got[0]) > 0


def test_nnd_seed_only_build_tier(spark, sf_dir):
    """rounds=0 (the 1000x probe's all-BLAS tier) yields a valid
    non-empty UNDIRECTED graph covering the corpus."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _knn_graph_nnd,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    g = _knn_graph_nnd(spark, sf_dir, rounds=0)
    rows = {(r["src"], r["dst"]) for r in g.collect()}
    assert len(rows) > 0
    assert all((d, s) in rows for (s, d) in rows)  # symmetric closure
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len({s for s, _ in rows}) == n  # every vector has an edge
