"""Physical-plan shape assertions — the 100 TB design contract.

These tests fail when a regression silently de-broadcasts a dim join,
breaks filter pushdown / column pruning, or introduces a Python stage
into a hot path. SURVEY.md §4.2's "free from Catalyst" claims, enforced.
"""

from pyspark.sql import functions as F

from nlp_data_pipeline_spark.operators import relational, text_analytics, similarity
from nlp_data_pipeline_spark.plans.explain import (
    formatted_plan,
    has_python_eval,
    pushed_filters,
    scans_columns,
    uses_broadcast_join,
)


def test_q05_dim_joins_broadcast(spark, sf_dir):
    df = relational.q05_regional_revenue(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q03_customer_broadcast(spark, sf_dir):
    df = relational.q03_segment_revenue_top10(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_q02_filters_pushed_to_scan(spark, sf_dir):
    df = relational.q02_filter_project(spark, sf_dir)
    pf = pushed_filters(df)
    assert "p_size" in pf and "IsNotNull" in pf or "GreaterThanOrEqual" in pf


def test_q06_column_pruning(spark, sf_dir):
    df = relational.q06_forecast_revenue(spark, sf_dir)
    rs = scans_columns(df)
    # only the 4 needed lineitem columns are read, not all 11
    assert "l_extendedprice" in rs and "l_orderkey" not in rs and "l_returnflag" not in rs


def test_text_pipeline_has_no_python_stage(spark, sf_dir):
    df = text_analytics.t01_token_freq_top10(spark, sf_dir)
    assert not has_python_eval(df)  # regex/array exprs stay JVM-side


def test_similarity_has_no_python_stage(spark, sf_dir):
    df = similarity.s01_cosine_topk(spark, sf_dir)
    assert not has_python_eval(df)


def test_multimodal_is_arrow_not_row_python(spark, sf_dir):
    from nlp_data_pipeline_spark.operators import multimodal

    df = multimodal.m02_decode_stub_pipeline(spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan        # Arrow-batched
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_q01_partial_aggregation(spark, sf_dir):
    # map-side combine before the shuffle: two HashAggregate stages
    df = relational.q01_pricing_summary(spark, sf_dir)
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    # AQE must shrink the 32 configured shuffle partitions for tiny data:
    # after execution the final agg stage runs with far fewer partitions
    df = relational.q01_pricing_summary(spark, sf_dir)
    df.collect()  # finalize THIS DataFrame's adaptive plan (a write runs
    # its own separate QueryExecution and would leave this one unexecuted)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "AQEShuffleRead coalesced" in executed


def test_q29_salt_join_is_shuffle_not_broadcast(spark, sf_dir):
    # the salted-join demo must actually shuffle on (event_type, salt):
    # a broadcast of the replicated dim would hide the skew mitigation
    from nlp_data_pipeline_spark.operators import relational_ext

    df = relational_ext.q29_salted_skew_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan


def test_q30_bucketed_join_eliminates_join_shuffles(spark, sf_dir):
    # both facts bucketed on the join key with equal bucket counts:
    # the sort-merge join must read buckets directly — its two join-side
    # Exchanges disappear relative to the identical plain-scan join
    from nlp_data_pipeline_spark.operators import relational_ext
    from nlp_data_pipeline_spark.sources.catalog import load_table

    bucketed = relational_ext.q30_bucketed_colocated_join(spark, sf_dir)
    bplan = formatted_plan(bucketed)
    assert "SortMergeJoin" in bplan and "Bucketed: true" in bplan

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    plain = (
        l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority").count()
    )
    assert bplan.count("Exchange") < formatted_plan(plain).count("Exchange")


def test_t17_cms_is_single_pass(spark, sf_dir):
    # the sketch build must be ONE groupBy((d,bucket)) pass over the
    # cached vocab-sized tf, not d chained self-joins: at most 3 shuffle
    # exchanges total (tf build, 256-cell sketch agg, estimate agg) and
    # the sketch side must come back as a broadcast
    import re

    df = text_analytics.t17_count_min_sketch(spark, sf_dir)
    plan = formatted_plan(df)
    shuffles = [
        ln for ln in plan.splitlines() if re.match(r"\(\d+\) Exchange", ln.strip())
    ]
    assert len(shuffles) <= 3, plan
    assert "BroadcastExchange" in plan


def test_d05_shingle_jaccard_shuffle_budget(spark, sf_dir):
    # long-form explode + two aggregations + one join: the pairwise
    # Jaccard must stay an equi-join on shingle, never a cartesian
    from nlp_data_pipeline_spark.operators import dedup

    plan = formatted_plan(dedup.d05_shingle_jaccard_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q32_exists_decorrelates_to_semi_and_anti_joins(spark, sf_dir):
    # EXISTS/NOT EXISTS must become one semi + one anti join pass over
    # lineitem — never a per-row subquery or nested-loop shape
    from nlp_data_pipeline_spark.operators import relational_ext

    plan = formatted_plan(relational_ext.q32_exists_order_audit(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_d08_incremental_probes_are_equi_joins(spark, sf_dir):
    # batch-vs-corpus probes must be hash/band-key equi-joins; any
    # nested-loop shape would scale with batch x corpus
    from nlp_data_pipeline_spark.operators import dedup

    plan = formatted_plan(dedup.d08_incremental_dedup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_s07_centroid_tables_stay_broadcast(spark, sf_dir):
    # both centroid joins and the probe join must broadcast the tiny
    # side; the corpus side must never shuffle for the scoring joins
    df = similarity.s07_ivf_probe_search(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_e07_scan_is_partition_pruned(spark, sf_dir):
    # the date filter must reach the partitioned scan as PartitionFilters
    # (pruned day directories are never opened)
    from nlp_data_pipeline_spark.operators import events

    df = events.e07_partitioned_day_scan(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "dt" in plan


def test_t21_pii_is_scan_parallel_no_shuffle(spark, sf_dir):
    """The scrub chain must stay a narrow per-row map: no Exchange, no
    Python stage — pure JVM regex over the scan."""
    from nlp_data_pipeline_spark.operators.text_analytics import t21_pii_redaction

    plan = formatted_plan(t21_pii_redaction(spark, sf_dir))
    assert "Exchange" not in plan
    assert not has_python_eval(t21_pii_redaction(spark, sf_dir))


def test_q35_nullsafe_join_is_not_cartesian(spark, sf_dir):
    """<=> must plan as a hash/merge join on the key, never a
    nested-loop cartesian with a post-filter."""
    from nlp_data_pipeline_spark.operators.relational_ext import q35_nullsafe_join

    plan = formatted_plan(q35_nullsafe_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d10_benchmark_set_is_broadcast(spark, sf_dir):
    """The benchmark shingle set must broadcast: the corpus side of the
    decontamination join may be 100 TB and must not shuffle on shingle."""
    from nlp_data_pipeline_spark.operators.dedup import d10_benchmark_decontamination

    assert uses_broadcast_join(d10_benchmark_decontamination(spark, sf_dir))


def test_q50_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """q50's contract: with the skew thresholds scaled down to the toy
    data's bytes (at production scale the 256 MB/5x defaults fire with
    no configuration), AQE must detect the hot join partition at
    runtime and split it — the final adaptive plan shows
    SortMergeJoin(skew=true) over an `AQEShuffleRead skewed`. The
    confs are restored afterward so sibling tests see the defaults."""
    from nlp_data_pipeline_spark.operators.relational_ext import q50_aqe_skew_join

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        df = q50_aqe_skew_join(spark, "/root/testdata/sf0.01")
        rows = df.collect()
        assert len(rows) > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan
    assert "AQEShuffleRead skewed" in plan or "skewed" in plan, plan


def test_q50_result_is_conf_invariant(spark, sf_dir):
    """The skew split is a physical rewrite only: results under the
    split-firing confs equal results under the defaults (where the
    join stays cold — which is how the driver's oracle gate runs it)."""
    from nlp_data_pipeline_spark.operators.relational_ext import q50_aqe_skew_join

    base = sorted(tuple(r) for r in q50_aqe_skew_join(spark, sf_dir).collect())
    assert len(base) > 0
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        split = sorted(tuple(r) for r in q50_aqe_skew_join(spark, sf_dir).collect())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert split == base


def test_q51_cbo_stats_flip_join_strategy(spark, sf_dir):
    """q51's contract: with catalog column stats + CBO the selective
    dim filter's estimate collapses below the broadcast threshold and
    the join compiles to BroadcastHashJoin with no hint; the identical
    query with CBO off (size-only estimation: a filter inherits its
    child's sizeInBytes) stays SortMergeJoin."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        _Q51_CONFS,
        _q51_join,
        _q51_orders_table,
        _scoped_confs,
    )

    _q51_orders_table(spark, sf_dir)
    with _scoped_confs(spark, _Q51_CONFS):
        p = _q51_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p
    with _scoped_confs(spark, {**_Q51_CONFS, "spark.sql.cbo.enabled": "false"}):
        p = _q51_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p


def test_s33_nnd_python_is_arrow_only_no_cartesian(spark, sf_dir):
    """s33's quality row rides the NN-descent build: its only Python
    stages are the Arrow-batched MapInPandas refinement kernels — never
    row-at-a-time eval — and the mutual self-join + full-outer compare
    must not degrade to a cartesian product."""
    from nlp_data_pipeline_spark.operators import similarity as sim

    df = sim.s33_mutual_knn_nnd_recall(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_d32_delta_classification_no_python_no_cartesian(spark, sf_dir):
    """d32 classifies |delta| rows against the materialized base index:
    every probe is an equi-join on sha/band keys — never a cartesian
    re-scan of the base, never a Python stage."""
    from nlp_data_pipeline_spark.operators import dedup

    df = dedup.d32_incremental_dedup_delta(spark, sf_dir)
    plan = formatted_plan(df)
    assert not has_python_eval(df)
    assert "CartesianProduct" not in plan


def test_u11_nested_udf_is_arrow_not_row_python(spark, sf_dir):
    """u11 exists to pin the nested array<struct> Arrow surface: the
    UDF must compile to ArrowEvalPython (vectorized batches), never the
    row-at-a-time pickling path."""
    from nlp_data_pipeline_spark.operators import relational_ext

    df = relational_ext.u11_nested_arrow_udf(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_u06_cogroup_is_arrow_cogroup(spark, sf_dir):
    """u06's per-key attribution is FlatMapCoGroupsInPandas — the
    Arrow cogroup operator — not a row-Python eval."""
    from nlp_data_pipeline_spark.operators import relational_ext

    df = relational_ext.u06_cogrouped_attribution(spark, sf_dir)
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_s17_seed_centroids_stay_broadcast(spark, sf_dir):
    """s17's K seed/refined centroids are dim-sized: every assignment
    pass must broadcast them (a shuffled join on a K-row table would
    add two exchanges per refine round at scale)."""
    from nlp_data_pipeline_spark.operators import similarity as sim

    df = sim.s17_kmeans_refine(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_v24_unpivot_compiles_to_expand(spark, sf_dir):
    """v24's multi-measure UNPIVOT must compile to a local Expand over
    the (already tiny) wide aggregate — no Python, no extra join."""
    from nlp_data_pipeline_spark.operators import sql_api

    df = sql_api.v24_sql_unpivot(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert not has_python_eval(df)


def test_d22_never_broadcasts_corpus_sized_relations(spark, sf_dir):
    """d22 joins its candidate pairs against three CORPUS-sized
    relations (shingle postings, per-doc shingle counts, minhash
    signatures). The 100x rename-mode probe caught Catalyst
    broadcasting the ~27M-row postings relation on a bad file-bytes
    estimate (notEnoughMemoryToBuildAndBroadcastTable); round 10 then
    retired the r9 remedy (forced broadcast of the pair side) because
    the pair relation is itself unbounded on duplication-heavy corpora
    (ADVICE r09, the d32 class). Every join is forced sort-merge: the
    plan must contain no BroadcastExchange at any scale."""
    from nlp_data_pipeline_spark.operators import dedup

    plan = formatted_plan(dedup.d22_lsh_band_curve(spark, sf_dir))
    lines = plan.splitlines()
    bcasts = [
        lines[i + 1]
        for i, line in enumerate(lines)
        if "BroadcastExchange" in line and line.startswith("(")
    ]
    assert bcasts == [], bcasts


def _broadcast_inputs(df):
    """Column lists of every BroadcastExchange in the formatted plan."""
    import re

    lines = formatted_plan(df).splitlines()
    out = []
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) BroadcastExchange", line):
            out.append(lines[i + 1] if i + 1 < len(lines) else "")
    return out


def test_s11_never_broadcasts_corpus_embeddings(spark, sf_dir):
    """s11's exact-audit tail must broadcast only bounded relations
    (codewords, per-query distance tables, the N_QUERIES-filtered
    query vectors, the k x queries topk accumulator) — never the raw
    corpus (vec_id, emb). The 100x audit caught both an unfiltered
    broadcast(q) (the whole corpus relabeled) and Catalyst
    broadcasting e into the winner re-join."""
    import re

    from nlp_data_pipeline_spark.operators import similarity as sim

    for cols in _broadcast_inputs(sim.s11_pq_adc_search(spark, sf_dir)):
        # bare `emb#` is the raw corpus column; `qemb#` (bounded,
        # query-side) is fine
        assert not ("vec_id#" in cols and re.search(r"(?<![a-zA-Z_])emb#", cols)), cols


def test_s17_broadcasts_only_centroids(spark, sf_dir):
    """s17's corpus-by-corpus vec_id joins (a1-e, a1-a2) are forced to
    sort-merge; only the K-row centroid relations may broadcast."""
    from nlp_data_pipeline_spark.operators import similarity as sim

    for cols in _broadcast_inputs(sim.s17_kmeans_refine(spark, sf_dir)):
        assert "cid#" in cols and "cemb#" in cols, cols


def test_d15_has_no_broadcasts(spark, sf_dir):
    """d15's block self-join sides and its block-size filter are all
    corpus-scaled: every join is forced to sort-merge; the plan must
    contain no BroadcastExchange at any scale."""
    from nlp_data_pipeline_spark.operators import dedup

    assert _broadcast_inputs(dedup.d15_fuzzy_prefix_pairs(spark, sf_dir)) == []


def test_s28_s30_never_broadcast_corpus_embeddings(spark, sf_dir):
    """s28's survivor re-join and s30's topk re-join must broadcast
    the bounded (K x queries) side — never the corpus (vec_id, emb).
    Caught by the 100x broadcast audit."""
    import re

    from nlp_data_pipeline_spark.operators import similarity as sim

    for fn in (sim.s28_binary_hamming_search, sim.s30_quantization_error_budget):
        for cols in _broadcast_inputs(fn(spark, sf_dir)):
            assert not (
                "vec_id#" in cols and re.search(r"(?<![a-zA-Z_])emb#", cols)
            ), (fn.__name__, cols)


def test_d18_has_no_broadcasts(spark, sf_dir):
    """d18's clique self-join sides are ~the whole banded corpus on
    benign data (every bucket under the cap) — forced sort-merge; the
    star branch is window-local over the checkpointed bucket stats.
    The plan must contain no BroadcastExchange at any scale."""
    from nlp_data_pipeline_spark.operators import dedup

    banded = dedup._banded_signatures(spark, sf_dir)
    pairs = dedup._capped_band_pairs(banded, dedup._D18_BUCKET_CAP)
    assert _broadcast_inputs(pairs) == []


def test_d32_never_broadcasts_corpus_sized_relations(spark, sf_dir):
    """d32's band-key self-join, postings intersection, size dims, and
    base-sha join are all corpus-scaled, and the pair-keyed relations
    (cand, inter, near_ids) are UNBOUNDED on duplication-heavy corpora
    (ADVICE r09 — the forced broadcast of cand would OOM exactly where
    it was meant to help; hint-free, Catalyst broadcast the corpus
    postings instead on an estimate miss). Both sides unbounded →
    every join forced to sort-merge: the plan must contain NO
    BroadcastExchange at any scale."""
    from nlp_data_pipeline_spark.operators import dedup

    assert _broadcast_inputs(dedup.d32_incremental_dedup_delta(spark, sf_dir)) == []


def test_derived_estimate_relations_never_broadcast(spark, sf_dir):
    """Round-10 backlog audit rule: an unbounded relation behind a
    DERIVED (post-aggregate) size estimate never rides the estimate
    into a broadcast — Catalyst mis-broadcast all four of these at
    100× because groupBy output estimates don't grow with input the
    way scan estimates do. Pins: q58's per-user dim join, t54's
    5-gram-type join, p04's per-doc boiler join, and q61's per-user
    firsts join all stay sort-merge (no broadcast may carry their
    aggregate columns)."""
    from nlp_data_pipeline_spark.operators import (
        doc_pipeline,
        relational_ext,
        text_analytics,
    )

    for fn, cols in (
        (relational_ext.q58_null_skew_outer_join, ("user_events#",)),
        (text_analytics.t54_dup_ngram_fraction, ("is_shared#",)),
        (doc_pipeline.p04_curation_pipeline, ("boiler_frac#",)),
        (relational_ext.q61_retention_cohorts, ("cohort_week#", "user_id#")),
    ):
        for inputs in _broadcast_inputs(fn(spark, sf_dir)):
            assert not all(c in inputs for c in cols), (fn.__name__, inputs)


def test_sf_scaled_relations_respect_broadcast_threshold(spark, sf_dir):
    """q03's customer, q05's customer+supplier, and q55's SCD2 dim are
    SF-scaled and must carry NO forced broadcast hint: with the
    threshold floored, every one of those joins flips to sort-merge
    (a forced hint would ignore the threshold — the exact failure the
    round-9 hint audit removed). q05's nation/region joins stay
    broadcast: they are bounded dims with deliberate hints."""
    import re

    from nlp_data_pipeline_spark.operators import relational_ext
    from nlp_data_pipeline_spark.operators.relational import (
        q03_segment_revenue_top10,
        q05_regional_revenue,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        def joins(df):
            return [
                l
                for l in formatted_plan(df).splitlines()
                if re.search(r"\) (Broadcast|SortMerge|ShuffledHash)\w*Join", l)
            ]

        j03 = joins(q03_segment_revenue_top10(spark, sf_dir))
        assert all("SortMergeJoin" in l for l in j03), j03

        j05 = joins(q05_regional_revenue(spark, sf_dir))
        assert sum("SortMergeJoin" in l for l in j05) == 3, j05   # l⋈o, ⋈c, ⋈s
        assert sum("BroadcastHashJoin" in l for l in j05) == 2, j05  # nation, region

        j55 = joins(relational_ext.q55_effectivity_join(spark, sf_dir))
        assert all("SortMergeJoin" in l for l in j55), j55
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_plan_fingerprint_is_stable_and_strips_run_noise(spark, sf_dir):
    """One query built twice in one session hashes to one plan_md5
    (fresh exprIds every build), and the run-noise rules blank a
    path-derived `_bkt_<hex>` table name and a checkpoint call site."""
    from nlp_data_pipeline_spark.plans.explain import normalize_plan, plan_fingerprint

    first = plan_fingerprint(relational.q05_regional_revenue(spark, sf_dir))
    second = plan_fingerprint(relational.q05_regional_revenue(spark, sf_dir))
    assert first == second and first["n_exchanges"] > 0

    text = (
        "Scan parquet spark_catalog.default.orders_bkt_0a1b2c3d4e\n"
        "Scan ExistingRDD [id#12] localCheckpoint at NativeMethodAccessorImpl.java:0, x\n"
    )
    norm = normalize_plan(text)
    assert "orders_bkt_<key>" in norm and "0a1b2c3d4e" not in norm
    assert "localCheckpoint at <site>, x" in norm and "Native" not in norm
    assert "[id#]" in norm
