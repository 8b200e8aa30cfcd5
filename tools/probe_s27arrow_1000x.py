"""Adversarial 1000x probe for s27 IVFPQ search on the Arrow
production tiers (round 14, VERDICT r13 #8: extend the 1000x tier to
s27 as the module gets touched — round 14 added use_arrow to s27).

The declared s27 tier scores its two corpus-scaled loops as
higher-order (x−y)² / cosine folds: coarse assignment is
n·N_CENTROIDS folds and PQ encoding is n·PQ_M·PQ_K folds — 288M folds
at 2M vectors against the measured ~2.7k folds/s/core wall
(CPU-hours on this box; excluded, same class as the s09/NND window
tiers). use_arrow=True swaps assignment to the s09 BLAS argmax kernel
and encoding to _pq_encode_arrow (broadcast codebook, per-batch
squared-distance matrices); probes, ADC tables, and the
cluster-confined candidate scan stay Catalyst at every scale. Parity
of the two tiers is row-for-row at 1x (also pinned by
test_s27_arrow_tiers_parity on the declared corpus).

Usage:  python tools/probe_s27arrow_1000x.py [out.json]
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
    from nlp_data_pipeline_spark.operators.similarity import s27_ivfpq_search
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_s27arrow_1000x.json")
    )
    spark = get_spark("probe-s27arrow-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    mid = _stage(spark, sf_dir, max(2, factor // 10))
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(
        f"[s27arrow] staged 1x+{factor//10}x+{factor}x in {time.time()-t0:.1f}s\n"
    )

    def run(tag: str, d: str, arrow: bool) -> dict:
        n_vecs = load_table(spark, d, "embeddings").count()
        t0 = time.time()
        # lists, not tuples: probe_io verifies the artifact by JSON
        # round-trip equality, and tuples deserialize as lists
        rows = [list(r) for r in s27_ivfpq_search(spark, d, use_arrow=arrow).collect()]
        sec = round(time.time() - t0, 1)
        fp = plan_fingerprint(s27_ivfpq_search(spark, d, use_arrow=arrow))
        row = {
            "n_vecs": n_vecs,
            "tier": "arrow" if arrow else "declared-fold",
            "sec": sec,
            "n_rows": len(rows),
            "rows": rows,
            "struct_md5": fp["struct_md5"],
            "n_exchanges": fp["n_exchanges"],
        }
        sys.stderr.write(
            f"[s27arrow] {tag}: "
            + json.dumps({k: v for k, v in row.items() if k != "rows"})
            + "\n"
        )
        return row

    big = run(f"{factor}x_arrow", staged, arrow=True)
    spark.catalog.clearCache()
    midrow = run(f"{factor//10}x_arrow", mid, arrow=True)
    spark.catalog.clearCache()
    base_arrow = run("1x_arrow", base, arrow=True)
    base_decl = run("1x_declared", base, arrow=False)

    results = {
        "1x_declared": base_decl,
        "1x_arrow": base_arrow,
        "1x_tier_parity": base_arrow["rows"] == base_decl["rows"],
        f"{factor//10}x_arrow": midrow,
        f"{factor}x_arrow": big,
        "plan_stable_arrow": (
            base_arrow["struct_md5"]
            == midrow["struct_md5"]
            == big["struct_md5"]
        ),
    }
    # result rows are N_QUERIES·TOP_K = 25 tuples — tiny; keep the 1x
    # copies in the artifact, drop the big-scale ones (same schema)
    for k in (f"{factor//10}x_arrow", f"{factor}x_arrow"):
        results[k] = {kk: vv for kk, vv in results[k].items() if kk != "rows"}

    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "excluded": {
            f"declared fold tiers at {factor}x": "n·N_CENTROIDS "
            "assignment folds + n·PQ_M·PQ_K encode folds = 288M "
            "higher-order folds at 2M vectors vs the measured ~2.7k "
            "folds/s/core wall (CPU-hours on one box); the Arrow "
            "kernels are the wired swap, parity pinned at 1x and in "
            "test_s27_arrow_tiers_parity",
        },
        "results": results,
        "classification": (
            f"Arrow-tier IVFPQ search completed at {factor}x: "
            f"{big['sec']} s over {big['n_vecs']} vectors "
            f"({round(big['sec'] / max(base_arrow['sec'], 0.1), 1)}x "
            f"time on {factor}x data), 1x tier parity="
            f"{results['1x_tier_parity']}, plan_stable_arrow="
            f"{results['plan_stable_arrow']}"
        ),
    }
    payload["headline"] = (
        f"s27 IVFPQ (Arrow tiers) at {factor}x: {big['sec']} s over "
        f"{big['n_vecs']} vectors; 1x parity with the declared tier: "
        f"{results['1x_tier_parity']}"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
