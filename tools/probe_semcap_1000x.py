"""Adversarial 1000x probe for the SEMANTIC (dense-vector) capped tier
— the d25-hazard counterpart of probe_capchain at the same scale.

The staging replicates embeddings factor-fold with a 1e-3 first-dim
nudge per replica: replicas are NEAR-duplicates (cosine ~= 1), so
every replica group shares one sign-bucket and the UNCAPPED s06
bucket clique is quadratic in the duplication rate (233 s at 100x,
probe_gate12_100x_r11.json — the measured hazard). Executed here at
1000x (2M vectors) against the PRODUCTION knobs:

  - semantic_candidate_pairs(_S06_PRODUCTION_CAP): the star-capped
    feed — pair mass must stay O(vectors) (ADVICE r12: the production
    cap must be exercised, not implied — this artifact is its
    executed evidence),
  - s09_semantic_dedup(n_centroids = n/target,
    cluster_cap=_S09_CLUSTER_CAP): the SemDeDup tier with the
    round-13 production stack — Arrow-BLAS argmax assignment (the
    row_number window tier shuffles n*k scored rows, ~4 TB at this
    staging, and the per-pair HOF cosine fold is ~2.7k pairs/s/core
    — the measured cause of the round-12 probe never completing),
    packed per-cluster gram kernels under the cap, star-to-hub above
    it.

The uncapped s06 and fixed-k s09 are deliberately NOT run at this
staging — their quadratic pair work is the measured hazard; the
capped/escalated paths completing IS the point. The window assignment
cannot run here either: _s09_assign picks it only for k ≤
_S09_ASSIGN_ARROW_K, and the staged k is far above that. Per-op
seconds, result rows, and the normalized fingerprint at 1x vs 1000x
land in the output artifact (written by probe_io.emit_artifact, which
refuses to exit 0 on an empty/unparseable file — the round-12 empty-
artifact guard).

Usage:  python tools/probe_semcap_1000x.py [out.json]
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 1000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_STAGE_MODE", "neardup")

from bench_10x import _stage  # noqa: E402
from nlp_data_pipeline_spark.plans.explain import plan_fingerprint  # noqa: E402
from probe_io import emit_artifact  # noqa: E402


def main() -> int:
    from nlp_data_pipeline_spark.operators.similarity import (
        _S06_PRODUCTION_CAP,
        _S09_ASSIGN_ARROW_K,
        _S09_CLUSTER_CAP,
        s09_semantic_dedup,
        semantic_candidate_pairs,
    )
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_semcap_1000x.json")
    )
    cap = _S06_PRODUCTION_CAP
    k_target = 500  # SemDeDup per-cluster size target (s09 knob rationale)
    spark = get_spark("probe-semcap-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[semcap] staged 1x+{factor}x in {time.time()-t0:.1f}s\n")

    def run(tag: str, d: str) -> dict:
        n_vecs = load_table(spark, d, "embeddings").count()
        row: dict = {"n_vecs": n_vecs}
        t0 = time.time()
        capped = semantic_candidate_pairs(spark, d, cap)
        n_pairs = capped.count()
        row["capped_pairs"] = {
            "sec": round(time.time() - t0, 1),
            "pairs": n_pairs,
            # the cap's contract: pair mass O(vectors) at ANY
            # duplication profile (star emission per sign-bucket)
            "pairs_per_vec": round(n_pairs / n_vecs, 3),
        }
        fp = plan_fingerprint(semantic_candidate_pairs(spark, d, cap))
        row["capped_pairs"]["struct_md5"] = fp["struct_md5"]
        row["capped_pairs"]["n_exchanges"] = fp["n_exchanges"]

        k = max(8, n_vecs // k_target)
        t0 = time.time()
        dedup = s09_semantic_dedup(
            spark, d, n_centroids=k, cluster_cap=_S09_CLUSTER_CAP
        )
        counts = dedup.groupBy("keep").count().collect()
        kept = {r["keep"]: r["count"] for r in counts}
        row["semantic_dedup"] = {
            "sec": round(time.time() - t0, 1),
            "n_centroids": k,
            "assign_tier": "arrow_blas" if k > _S09_ASSIGN_ARROW_K else "window",
            "rows_kept": kept.get(True, 0),
            "rows_dropped": kept.get(False, 0),
        }
        fp = plan_fingerprint(
            s09_semantic_dedup(
                spark, d, n_centroids=k, cluster_cap=_S09_CLUSTER_CAP
            )
        )
        row["semantic_dedup"]["struct_md5"] = fp["struct_md5"]
        row["semantic_dedup"]["n_exchanges"] = fp["n_exchanges"]
        sys.stderr.write(f"[semcap] {tag}: {json.dumps(row)}\n")
        return row

    # HEAVY SCALE FIRST: the 1x phase's localCheckpoints and s09 cache
    # pin storage memory for the rest of the session, and the 2M-row
    # work then starves into a spill spiral (the round-12 run of the
    # old probe: 32 stuck tasks, 13 CPU-hours, disk filled). The
    # staged phase therefore runs on the fresh session; the tiny 1x
    # phase is indifferent to leftovers, and an explicit clearCache +
    # gc sits between them anyway.
    big = run(f"{factor}x", staged)
    spark.catalog.clearCache()
    import gc

    gc.collect()
    results = {"1x": run("1x", base), f"{factor}x": big}
    for op in ("capped_pairs", "semantic_dedup"):
        results["plan_stable_" + op] = (
            results["1x"][op]["struct_md5"]
            == results[f"{factor}x"][op]["struct_md5"]
        )

    growth_pairs = (
        results[f"{factor}x"]["capped_pairs"]["sec"]
        / max(results["1x"]["capped_pairs"]["sec"], 0.1)
    )
    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "cap": cap,
        "cluster_cap": _S09_CLUSTER_CAP,
        "k_target": k_target,
        "excluded": {
            "s06_embedding_neardup_pairs": "uncapped bucket clique — "
            "the measured quadratic hazard (233 s at 100x); the "
            "capped tier completing is the point",
            "s09 fixed-k": "per-cluster pair work quadratic in corpus "
            "scale at fixed k; the k knob is the round-11 remedy",
            "s09 window assignment at 1000x": "n*k = 8e9 scored "
            "rows — a ~4 TB window shuffle / CPU-months of per-pair "
            "HOF cosine folds; the Arrow-BLAS tier is the round-13 "
            "remedy and the only tier _s09_assign picks at this k",
        },
        "plan_note": "semantic_dedup plans DIFFER 1x vs 1000x BY "
        "DESIGN: the 1x corpus stays on the declared window-assignment "
        "tier (k=8 <= _S09_ASSIGN_ARROW_K) while the 1000x staging "
        "escalates to the Arrow-BLAS tier — the two-tier design is the "
        "subject under test, not plan noise (the d06->d24 escalation "
        "pattern). capped_pairs runs one plan at both scales.",
        "results": results,
        "classification": {
            "capped_pairs": (
                "linear-bounded: pairs/vec "
                + str(results[f"{factor}x"]["capped_pairs"]["pairs_per_vec"])
                + f" at {factor}x vs "
                + str(results["1x"]["capped_pairs"]["pairs_per_vec"])
                + f" at 1x; {round(growth_pairs, 1)}x time on {factor}x data"
            ),
            "semantic_dedup": (
                "completed at "
                + str(results[f"{factor}x"]["semantic_dedup"]["sec"])
                + " s on "
                + str(results[f"{factor}x"]["n_vecs"])
                + " vectors via the "
                + results[f"{factor}x"]["semantic_dedup"]["assign_tier"]
                + " assignment + cluster-cap tiers (the round-12 "
                "attempt never finished)"
            ),
        },
    }
    payload["headline"] = (
        f"semantic capped tier executed at {factor}x "
        f"({results[f'{factor}x']['n_vecs']} vectors): star-capped pair "
        f"feed {results[f'{factor}x']['capped_pairs']['sec']} s, SemDeDup "
        f"{results[f'{factor}x']['semantic_dedup']['sec']} s"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
