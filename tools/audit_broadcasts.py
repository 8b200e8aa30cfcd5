"""Standing pre-declaration broadcast audit (VERDICT r09 #5).

For every operator named on the command line (default: the gate-10
batch), build the query plan against a 100x-staged copy of the sf0.1
tables and list every BroadcastExchange input column set, so each can
be classified bounded-vs-corpus before the batch goes live. Explain
only — plans are compiled, not executed (operators whose construction
embeds an eager localCheckpoint do run that subtree).

Usage:  python tools/audit_broadcasts.py [op ...]
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 100),
        SPARK_GRAFT_STAGE_MODE (default rename — honest volume)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_STAGE_MODE", "rename")

from bench_10x import _stage  # noqa: E402

GATE10 = [
    "q48_zorder_layout",
    "q49_interval_overlap_join",
    "q50_aqe_skew_join",
    "q51_cbo_stats_join",
    "a05_bloom_semijoin",
    "a06_kmv_distinct_sketch",
    "t40_ols_sufficient_stats",
    "t42_bigram_surprisal",
    "t43_quality_score_inference",
    "t44_source_temperature_mix",
    "t45_token_budget_waterfill",
    "s21_hard_negative_mining",
    "s22_label_centroid_similarity",
    "s33_mutual_knn_nnd_recall",
    "d32_incremental_dedup_delta",
]


def main() -> int:
    import __spark_entry__ as e
    from nlp_data_pipeline_spark.plans.explain import formatted_plan
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    names = sys.argv[1:] or GATE10

    spark = get_spark("audit-broadcasts")
    staged = _stage(spark, sf_dir, factor)
    # _stage replicates documents/embeddings/events; symlink the other
    # tables (TPC-H dims/facts) at ORIGINAL scale so every op can be
    # explained. Broadcast decisions on those are estimate-driven at 1x
    # sizes — the CBO tier, whose at-scale flip is pinned separately by
    # test_sf_scaled_relations_respect_broadcast_threshold.
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet") and not os.path.exists(os.path.join(staged, t)):
            # abspath: a relative SPARK_GRAFT_SF_DIR would otherwise make
            # the link target resolve relative to the staged temp dir and
            # dangle (ADVICE r10)
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, t)),
                os.path.join(staged, t),
            )

    fns = e.queries()

    out: dict = {}
    for name in names:
        try:
            plan = formatted_plan(fns[name](spark, staged))
        except Exception as exc:  # surface, don't abort the sweep
            out[name] = {"error": str(exc)[:300]}
            continue
        lines = plan.splitlines()
        bx = []
        for i, line in enumerate(lines):
            if re.match(r"\(\d+\) BroadcastExchange", line):
                bx.append(lines[i + 1].strip() if i + 1 < len(lines) else "")
        out[name] = {"n_broadcasts": len(bx), "broadcast_inputs": bx}
        sys.stderr.write(f"[audit] {name}: {len(bx)} broadcast(s)\n")

    print(json.dumps({"sf_dir": sf_dir, "factor": factor,
                      "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
                      "audit": out}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
