"""Scale probe for the NN-descent graph build (s16/s23/s33's index) —
the graph-ANN family's entry in the 1000x execution program (VERDICT
r12 #8 named s16/s23's NND build as the next candidate).

Staging: neardup (adversarial duplication). What executes where:

  - 1000x (2M vectors): the SEED-ONLY build tier (rounds=0) — Arrow
    top-probe assignment (_nnd_seed_pack_arrow, the only seed path) +
    per-block BLAS gram top-m + deterministic cross-links. The 2-probe
    blocked seed alone recovers ~70% of the exact graph's edges
    (similarity.py header).
  - 100x (200k vectors): the FULL build (rounds=1 NN-descent refine)
    — refine's candidate scoring ships n·(m+links)² pairs of paired
    embeddings through Arrow (_score_pairs), linear in candidates but
    ~1 KB/pair: ~30 GB at 200k vectors (executes), ~2 TB-equivalent
    traffic at 2M on one box (excluded; per-worker adjacency packing
    is the named next tier).

Usage:  python tools/probe_nnd_1000x.py [out.json]
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
    from nlp_data_pipeline_spark.operators.similarity import _knn_graph_nnd
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_nnd_1000x.json")
    )
    spark = get_spark("probe-nnd-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    mid = _stage(spark, sf_dir, max(2, factor // 10))
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[nnd] staged 1x+{factor//10}x+{factor}x in {time.time()-t0:.1f}s\n")

    def run(tag: str, d: str, rounds: int) -> dict:
        n_vecs = load_table(spark, d, "embeddings").count()
        t0 = time.time()
        g = _knn_graph_nnd(spark, d, rounds=rounds)
        n_edges = g.count()
        sec = round(time.time() - t0, 1)
        # fingerprint the BUILT frame: _nnd_state executes eagerly
        # (localCheckpoints), so rebuilding for the fingerprint would
        # run the whole 1000x build twice — the first probe attempt
        # died of driver heartbeat starvation exactly there
        fp = plan_fingerprint(g)
        row = {
            "n_vecs": n_vecs,
            "rounds": rounds,
            "sec": sec,
            "edges": n_edges,
            "edges_per_vec": round(n_edges / n_vecs, 2),
            "struct_md5": fp["struct_md5"],
            "n_exchanges": fp["n_exchanges"],
        }
        sys.stderr.write(f"[nnd] {tag}: {json.dumps(row)}\n")
        return row

    # heavy first (fresh session), then clear between phases
    big = run(f"{factor}x_seed", staged, rounds=0)
    spark.catalog.clearCache()
    midrow = run(f"{factor//10}x_full", mid, rounds=1)
    spark.catalog.clearCache()
    results = {
        "1x_full": run("1x_full", base, rounds=1),
        "1x_seed": run("1x_seed", base, rounds=0),
        f"{factor//10}x_full": midrow,
        f"{factor}x_seed": big,
    }
    results["plan_stable_seed"] = (
        results["1x_seed"]["struct_md5"]
        == results[f"{factor}x_seed"]["struct_md5"]
    )
    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "excluded": {
            "rounds>=1 refine at 1000x": "candidate scoring ships "
            "n·(m+links)² ≈ 288M pairs × ~1 KB of paired embeddings "
            "through Arrow on one box; executes at 100x (~29M pairs), "
            "per-worker adjacency packing is the named next tier",
        },
        "plan_note": "seed plans at 1x and 1000x share the one (fused "
        "Arrow) seed tier; plan_stable_seed compares their structure "
        "with numeric literals blanked.",
        "results": results,
        "classification": (
            f"seed tier (all-BLAS) built a {results[f'{factor}x_seed']['edges']}"
            f"-edge graph over {results[f'{factor}x_seed']['n_vecs']} vectors in "
            f"{results[f'{factor}x_seed']['sec']} s at {factor}x; full refine "
            f"tier executed at {factor//10}x in "
            f"{results[f'{factor//10}x_full']['sec']} s"
        ),
    }
    payload["headline"] = (
        f"NND build at {factor}x (seed tier): "
        f"{results[f'{factor}x_seed']['sec']} s, "
        f"{results[f'{factor}x_seed']['edges_per_vec']} edges/vec; "
        f"full NN-descent at {factor//10}x: "
        f"{results[f'{factor//10}x_full']['sec']} s"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
