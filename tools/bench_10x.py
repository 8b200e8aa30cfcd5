"""10x-scale probe for the HEAVY LLM-pipeline operators.

BASELINE.md's original 10x probe covered only Q1-shape aggregates and
one fact-fact join; the dedup/text/ANN operators — the actual 100 TB
workload — had never been measured past sf0.1. This tool replicates
the sf0.1 `documents` and `embeddings` tables FACTOR-fold with remapped
ids (docs get a per-replica suffix token so replicas are near-dups, not
byte-dups — the realistic shape for dedup operators), writes them as
32-file parquet (real-table layout, scan parallelism preserved), runs
each heavy query at both 1x and FACTOR-x, and reports:

    per-query seconds (min of 2) + shuffle (Exchange) count + whether
    the normalized physical plan is IDENTICAL at both scales.

Identical plan + sub-linear-to-linear time growth = the operator's
stage structure holds at scale; a new Exchange or a super-linear blowup
is a scale defect. Results are recorded in BASELINE.md ("10x heavy-
operator probe").

Usage:  python tools/bench_10x.py            # all heavy queries
        python tools/bench_10x.py d05 s02    # prefix filter
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

HEAVY = [
    "t22_boilerplate_prune",
    "t28_repetition_filter",
    "t30_lm_novelty_score",
    "t32_rag_chunking",
    "d05_shingle_jaccard_topk",
    "d06_neardup_clusters",
    "d12_leakage_safe_split",
    "s02_top_similar_pairs",
    "s11_pq_adc_search",
    "t34_bpe_merge_pairs",
    "t35_shuffle_shards",
    "t36_sentence_dedup",
    "d13_source_overlap_matrix",
    "s14_int8_quantized_search",
    "r13_training_shards_sink",
    # round-7 additions
    "t38_bpe_encode",
    "d15_fuzzy_prefix_pairs",
    "s15_rrf_fusion",
    "s16_graph_ann_recall",
    # round-8 staged additions (documents/embeddings-shaped only; u06/
    # r15/r16 read events or stage fixed streaming scaffolding, so the
    # replicated-table probe doesn't apply to them)
    "d16_cdc_chunks",
    "s17_kmeans_refine",
    "s18_mmr_rerank",
    "s19_pagerank",
    # round-10 staged (documents-shaped)
    "t39_collocation_pmi",
    "m09_wav_header_parse",
    "d17_containment_pairs",
    "s20_ivf_operating_curve",
    # round-11 staged (documents-shaped; q48/q49/a05/q50 read the
    # unreplicated orders/lineitem/events tables, so the probe doesn't
    # apply to them)
    "t40_ols_sufficient_stats",
    "t42_bigram_surprisal",
    "t43_quality_score_inference",
    "t44_source_temperature_mix",
    "t45_token_budget_waterfill",
    "s21_hard_negative_mining",
    "s22_label_centroid_similarity",
    # round-12 staged (documents/embeddings-shaped; m10 reads committed
    # fixtures and q52 audits its own staged write, so the replicated-
    # table probe doesn't apply to them)
    "t46_quality_threshold_curve",
    "t47_span_corruption_plan",
    "d20_bloom_decontamination",
    "s23_beam_width_curve",
    "s24_topical_source_mix",
    # late-round-8 gate-11 additions (q53 reads the unreplicated
    # events table, so the replicated-table probe doesn't apply)
    "t48_packing_efficiency_curve",
    "s25_mutual_knn_pairs",
    "a07_reservoir_sample",
    "d21_split_contamination_audit",
    "d22_lsh_band_curve",
    "t49_ngram_coverage_curve",
    # round-13 staged (s26 scans embeddings; d24/t50 scan documents;
    # m11/r19 are bounded doc_id<K fixtures, v19 reads the
    # unreplicated orders table, and q54 reads events, so the
    # replicated-table probe doesn't apply to those)
    "s26_label_retrieval_eval",
    "d24_cc_alternating_stars",
    "t50_length_bucketed_batches",
    # round-14 staged (documents/embeddings-shaped; m12/r20 audit
    # bounded fixtures or their own staged writes, and e23/e24/q57/v20
    # read the unreplicated events table, so the replicated-table
    # probe doesn't apply to those)
    "t51_token_fertility",
    "t53_token_gini",
    "a09_kmv_intersection",
    "a10_kmv_k_curve",
    "d26_lsh_recall_eval",
    "s28_binary_hamming_search",
    "s29_binary_recall_eval",
    # round-15 staged (documents/embeddings-shaped)
    "t54_dup_ngram_fraction",
    "d27_bbit_minhash",
    "m13_jpeg_header_parse",
    "s30_quantization_error_budget",
    # round-16 staged (documents/embeddings-shaped; e26/e27/v22/q60/
    # u10 read the unreplicated events table, r21/r22/r23/v21/p08/
    # q58/q59 read unreplicated or self-staged relations)
    "t56_signal_correlation",
    "s31_ivf_list_balance",
    "d29_cluster_purity",
    "m14_npy_header_parse",
    "t57_pattern_flag_profile",
    "t58_dedup_token_budget",
    "a12_sketch_crosscheck",
    "d30_lsh_index_merge",
    # round-17 staged (documents/embeddings-shaped; q61/e28/v23 read
    # the unreplicated events table, m15 is a bounded fixture)
    "t59_shared_header_keys",
    "d31_shingle_df_histogram",
    "a13_sample_error_curve",
    "s32_rerank_window_curve",
    "n05_idf_model",
    "n06_string_indexer_model",
    "n07_minmax_scaler_model",
    # round-9 additions
    "s33_mutual_knn_nnd_recall",
    "d32_incremental_dedup_delta",
    # round-9 session-3 backfill: the remaining documents/embeddings-
    # shaped ops that had no 10x row yet (m10/m11/m12/m15/p08
    # stay excluded — bounded fixtures or self-staged relations; e*/q5x/
    # r19-r23/v18-v24/u10-u11 read unreplicated tables or are API-surface
    # demos the replicated-table probe doesn't apply to)
    "d23_best_copy_dedup",
    "d25_lexical_semantic_overlap",
    "d28_edit_distance_verify",
    "s27_ivfpq_search",
    "t52_lang_confusion",
    "t55_char_class_mix",
    "p07_dataset_card",
    "p09_token_waterfall",
    "a06_kmv_distinct_sketch",
    "a08_kmv_sketch_merge",
    "a11_bloom_fpr_curve",
    # round-9 session-3: _stage now also replicates EVENTS (remapped
    # event_id/user_id → factor-fold user population), unlocking the
    # batch events-analytics ops previously excluded as
    # "unreplicated events table". The true-streaming e01–e22 queries
    # stay excluded (micro-batch wall-clock, not a batch plan probe).
    "e23_conversion_funnel",
    "e24_late_data_accounting",
    "e25_transition_matrix",
    "e26_hourly_profile",
    "e27_error_burst_detector",
    "e28_interarrival_histogram",
    "e29_behavior_entropy",
    "q53_sessionize_batch",
    "q57_running_distinct",
    "q60_time_weighted_average",
    "q61_retention_cohorts",
    # round-10 additions: ops whose derived-estimate broadcasts the
    # backlog audit fixed (a05 stays excluded — unreplicated TPC-H)
    "q58_null_skew_outer_join",
    "p04_curation_pipeline",
]


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


_FP_KEYS = ("plan_md5", "struct_md5", "n_exchanges")


def _stage(spark, sf_dir: str, factor: int) -> str:
    """Replicate documents+embeddings factor-fold into a 32-file layout.

    Document replica text, by SPARK_GRAFT_STAGE_MODE:
      neardup (default) — suffix " v{rep}" per replica: replicas are
        near-duplicates of each other, the stress shape for dedup
        CANDIDATE handling (every replica group LSH-collides, candidate
        mass grows ~factor² per group).
      rename — prefix every token with "r{rep}_" (rep>0): a BIJECTIVE
        per-replica vocabulary renaming. Within a rep the corpus is
        isomorphic to the original (every true near-dup pair survives
        exactly), across reps no two docs share a single token, let
        alone a shingle — so true near-dup pairs grow exactly LINEARLY
        (847 × factor at sf0.1) and LSH candidates stay ∝ true pairs
        while the corpus grows factor-fold. This is the honest-VOLUME
        shape for the LSH dedup family. Constructions that do NOT
        work, both measured: cyclic rotation (preserves every shingle
        except the ~k−1 spanning the cut, Jaccard ≈1 → 365× pair
        growth, same as neardup) and hash-sorting tokens by
        xxhash64(token||rep) (a per-rep GLOBAL vocab order collapses
        all same-rep docs into similar hash-ordered runs of the shared
        vocabulary → 23,041× pair growth).
    """
    import pyspark.sql.functions as F

    from nlp_data_pipeline_spark.sources.catalog import load_table

    from nlp_data_pipeline_spark.scratch import scratch_path

    mode = os.environ.get("SPARK_GRAFT_STAGE_MODE", "neardup")
    out = scratch_path(f"scale{factor}x_{mode}_{os.getpid()}")

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    if mode == "rename":
        toks = F.split(F.col("text"), " ")
        prefix = F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit("_"))
        rep_text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.array_join(
                F.transform(toks, lambda x: F.concat(prefix, x)), " "
            )
        )
    else:
        rep_text = F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" v"), F.col("rep"))
        )
    # repartition the SMALL base BEFORE the broadcast crossJoin so all
    # 32 tasks generate replicas in parallel and the write needs no
    # post-join shuffle of the factor-fold data (round 13: the old
    # replicate-then-repartition shape ran the whole 100M-row events
    # generation + shuffle sort in ONE map task — 25+ CPU-minutes
    # serial, the r12 semcap probe's hidden staging cost). Same rows,
    # same 32-file layout, order within files differs (no probe reads
    # order).
    big_docs = (
        docs.repartition(32).crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            rep_text.alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text"))
    )
    big_docs.write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    big_emb = (
        emb.repartition(32).crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            # nudge one dimension per replica so vectors are distinct
            # (sim ties would otherwise explode top-k tie handling)
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + F.col("rep") * F.lit(1e-3)).otherwise(x),
            ).cast("array<float>").alias("embedding"),
            "label",
        )
    )
    big_emb.write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # events: replicate with remapped event_id/user_id so the USER
    # population grows factor-fold (the realistic scale axis for the
    # per-user window / sessionize / funnel / cohort operators) while
    # each replica keeps the original timestamp distribution — time-
    # window bucket counts then scale exactly factor-fold and any new
    # Exchange or super-linear blowup is an operator defect, not a
    # data-shape artifact.
    ev = load_table(spark, sf_dir, "events")
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1
    big_ev = ev.repartition(32).crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("rep") * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    big_ev.write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def main() -> int:
    import __spark_entry__ as e
    from nlp_data_pipeline_spark.plans.explain import plan_fingerprint
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    prefixes = tuple(sys.argv[1:])
    names = [n for n in HEAVY if not prefixes or n.startswith(prefixes)]

    spark = get_spark("bench10x")
    queries = e.queries()

    # Stage BOTH scales through the same 32-file writer: the raw driver
    # tables are single-row-group files whose scans cap at 1 task, so
    # timing raw-1x against staged-10x would compare layouts, not data
    # volume (first cut of this tool did exactly that and measured 10x
    # as FASTER than 1x).
    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[10x] staged 1x+{factor}x tables in {time.time()-t0:.1f}s\n")

    # warm the Python worker pool so the first Arrow query isn't charged
    def _ident(it):
        yield from it

    spark.range(10).mapInPandas(_ident, "id long").count()

    def _timed(fn, d) -> float:
        s = time.time()
        _force(fn(spark, d))
        return time.time() - s

    results: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        row = {}
        for tag, d in (("1x", base), (f"{factor}x", staged)):
            t = min(_timed(fn, d), _timed(fn, d))  # min-of-2 vs host noise
            fp = plan_fingerprint(fn(spark, d))
            row[tag] = {"sec": round(t, 2), **{k: fp[k] for k in _FP_KEYS}}
        if row["1x"]["struct_md5"] != row[f"{factor}x"]["struct_md5"]:
            # Re-fingerprint BOTH scales from fresh plan instances before
            # declaring instability: RewriteDistinctAggregates assigns its
            # Expand gid-groups in an exprId-hash order, so the session's
            # FIRST instance of a multi-countDistinct plan can order its
            # projections differently from every later instance (observed
            # on p07: gid1=h/gid2=lang first time, gid1=lang/gid2=h after)
            # — pure instance noise, identical semantics. A real
            # scale-dependent change (q57's size-estimate-driven
            # BroadcastHashJoin→SortMergeJoin flip) survives
            # re-instantiation, so retrying cannot mask a true defect.
            # The FIRST-instance hashes are kept (ADVICE r09) so
            # cross-round diffs can see which ops needed the retry and
            # what the pre-retry fingerprints were — a plan that
            # alternates per instantiation is then visible in the
            # artifact, not laundered into plan_stable=true.
            row["pre_retry"] = {
                tag: {
                    "plan_md5": row[tag]["plan_md5"],
                    "struct_md5": row[tag]["struct_md5"],
                }
                for tag in ("1x", f"{factor}x")
            }
            for tag, d in (("1x", base), (f"{factor}x", staged)):
                fp = plan_fingerprint(fn(spark, d))
                row[tag].update({k: fp[k] for k in _FP_KEYS})
            row["refingerprinted"] = True
        row["plan_stable"] = (
            row["1x"]["struct_md5"] == row[f"{factor}x"]["struct_md5"]
        )
        # Byte-level comparison surfaced SEPARATELY: plan_stable blanks
        # numeric literals (data-dependent constants legitimately shift
        # with scale), which also hides an UNINTENDED threshold/bucket
        # constant drift. plan_identical keeps that visible — False with
        # plan_stable=True means "same tree, some constant moved", which
        # cross-round diffs should be able to see (ADVICE r08).
        row["plan_identical"] = (
            row["1x"]["plan_md5"] == row[f"{factor}x"]["plan_md5"]
        )
        row["growth"] = round(row[f"{factor}x"]["sec"] / max(row["1x"]["sec"], 1e-9), 1)
        results[name] = row
        sys.stderr.write(f"[10x] {name}: {json.dumps(row)}\n")

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "factor": factor,
                "stage_mode": os.environ.get("SPARK_GRAFT_STAGE_MODE", "neardup"),
                "results": results,
            },
            indent=1,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
