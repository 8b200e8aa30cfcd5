"""Physical-plan inspection helpers.

The 100 TB contract is enforced here: tests assert that dimension joins
broadcast, that filters reach the parquet scan, and that Python never
appears in a hot path — not by eyeballing `.explain()` output but
programmatically, so a regression that silently de-broadcasts a join or
breaks pushdown fails CI.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def scans_columns(df: DataFrame) -> str:
    """ReadSchema line(s) — verifies column pruning reached the scan."""
    plan = formatted_plan(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "ReadSchema" in line)


def has_python_eval(df: DataFrame) -> bool:
    """True when the plan contains a Python-worker stage (UDF boundary)."""
    plan = formatted_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan


def codegen_stage_count(df: DataFrame) -> int:
    return formatted_plan(df).count("WholeStageCodegen")


# Rewrites that strip run noise from formatted plan text, so the SAME
# plan shape hashes identically across sessions, runs and data dirs.
_NOISE_RULES = [
    (r"#\d+", "#"),
    (r"plan_id=\d+", "plan_id="),
    (r"\[id=#?\d*\]", ""),
    (r"file:[\w\-./=]*", "<path>"),
    (r"/tmp/[\w\-./=]*", "<path>"),
    # lambda vars carry a session-global counter (x_5, x_7, ...)
    (r"lambda [a-zA-Z]+_\d+#", "lambda v#"),
    # localCheckpoint / Python-created scans embed the session-global
    # RDD id (MapPartitionsRDD[159])
    (r"RDD\[\d+\]", "RDD[]"),
    # checkpoint and createDataFrame scans record a CALL SITE that
    # flips from 'NativeMethodAccessorImpl.java:0' to '<unknown>:0'
    # once the JVM JIT replaces the reflective py4j accessor
    # mid-session. [^,\n], not [^,]: a class without \n would swallow
    # the next plan line up to its first comma and mask real diffs.
    (r"localCheckpoint at [^,\n]*", "localCheckpoint at <site>"),
    (r"applySchemaToPythonRDD at [^,\n]*", "applySchemaToPythonRDD at <site>"),
    # q30/q51 catalog tables are named <table>_bkt_/_cbo_ + md5(sf_dir),
    # a path-derived identity in the scan node title
    (r"_(bkt|cbo)_[0-9a-f]{6,12}", r"_\1_<key>"),
]


def normalize_plan(text: str) -> str:
    """Formatted plan text with the _NOISE_RULES run noise removed."""
    for pattern, repl in _NOISE_RULES:
        text = re.sub(pattern, repl, text)
    return text


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:12]


def plan_fingerprint(df: DataFrame) -> dict:
    """Stable physical-plan identity of ``df`` plus its shape counts.

    ``plan_md5`` hashes the normalized plan; ``struct_md5`` also blanks
    numeric literals, because data-dependent constants legitimately
    differ between scales (s19 folds 1/n into its PageRank init), so it
    compares the plan TREE across scales. ``n_reused`` counts shuffles
    computed once and read twice; they are included in ``n_exchanges``.
    """
    p = normalize_plan(formatted_plan(df))
    return {
        "plan_md5": _md5(p),
        "struct_md5": _md5(re.sub(r"-?\d+(\.\d+)?([Ee][+-]?\d+)?", "N", p)),
        "n_ckpt": p.count("localCheckpoint at <site>"),
        "n_exchanges": p.count("Exchange"),
        "n_reused": p.count("ReusedExchange"),
        "n_python": p.count("Python") + p.count("ArrowEval"),
    }


# Queries whose plan_md5 is KNOWN to drift without a code change; a
# changed fingerprint for any other query is unexplained and deserves
# a look at the plan.
KNOWN_PLAN_NOISE = {
    # RewriteDistinctAggregates orders its Expand gid-groups by exprId
    # hash, so a session's first compile of a multi-distinct aggregate
    # can permute them (verified by rebuilding each query in one
    # session: the only diff is the Expand gid-group column order)
    "a02_hll_sketch_rollup": "distinct-agg Expand gid instance ordering",
    "t41_vocab_growth": "distinct-agg Expand gid instance ordering",
    "q56_small_file_compaction": "distinct-agg Expand gid instance ordering",
    "p07_dataset_card": "distinct-agg Expand gid instance ordering",
    # a warm tags memo hands back the same cached DataFrame, and each
    # re-run of its adaptive plan numbers its ResultQueryStage anew
    # (verified: the only diff between a cold and a warm build)
    "n02_doc_tags": "tags memo state (warm vs cold)",
    "d06_neardup_clusters": "label-propagation iteration count in lineage",
    "d12_leakage_safe_split": "embeds d06",
    "q30_bucketed_colocated_join": "one-time bucketed-table build",
    "q37_observed_metrics": "observation ids",
    "d05_shingle_jaccard_topk": "localCheckpoint ids in lineage",
    "p04_curation_pipeline": "localCheckpoint ids in lineage (embeds t22)",
    "s12_bm25_topk": "localCheckpoint ids in lineage",
    "t22_boilerplate_prune": "localCheckpoint ids in lineage",
    "t31_dsir_importance": "localCheckpoint ids in lineage",
    "d09_minhash_calibration": "localCheckpoint ids in lineage",
    "d13_source_overlap_matrix": "localCheckpoint ids in lineage",
    "s14_int8_quantized_search": "quantization grid inlined as data-derived literals",
}
