"""Adversarial 1000x probe for d32's WIRED posting cap (VERDICT r12
#8: extend the 1000x tier to d32's incremental ingest as the module
gets touched; round 13 touched dedup.py to wire the cap itself).

Staging: neardup mode — every document gains ~1000 near-duplicate
replicas (" v{rep}" suffix, distinct sha256), so each replica group's
band keys hold ~500 BASE postings and the uncapped delta⋈base band
join is ~250k pairs PER GROUP (~1.25e9 total at 5M docs) — the
measured d03-class hazard; it is deliberately not run at this scale.
The capped tier (cap = _D18_PRODUCTION_CAP) routes each hot band key
through its min-base_id representative, bounding pair mass at
O(postings · cap), and the sha tier keeps byte-identical replicas
cap-blind — the probe proves the whole incremental verdict pipeline
(sha -> banded candidates -> Jaccard verify -> per-source verdicts)
completes at 5M docs with a stable plan.

Usage:  python tools/probe_d32cap_1000x.py [out.json]
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
    from nlp_data_pipeline_spark.operators.dedup import (
        _D18_PRODUCTION_CAP,
        d32_incremental_dedup_delta,
    )
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_d32cap_1000x.json")
    )
    cap = _D18_PRODUCTION_CAP
    spark = get_spark("probe-d32cap-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[d32cap] staged 1x+{factor}x in {time.time()-t0:.1f}s\n")

    def run(tag: str, d: str) -> dict:
        n_docs = load_table(spark, d, "documents").count()
        t0 = time.time()
        rows = d32_incremental_dedup_delta(spark, d, cap=cap).collect()
        sec = round(time.time() - t0, 1)
        agg = {
            k: sum(r[k] for r in rows)
            for k in ("n_delta", "n_exact_dup", "n_near_dup", "n_novel")
        }
        # no-silent-caps (ADVICE r13): the capped tier now reports how
        # many band keys it actually rep-routed — same value every row
        agg["n_capped_band_keys"] = rows[0]["n_capped_band_keys"] if rows else 0
        fp = plan_fingerprint(
            d32_incremental_dedup_delta(spark, d, cap=cap)
        )
        row = {
            "n_docs": n_docs,
            "sec": sec,
            "sources": len(rows),
            **agg,
            "struct_md5": fp["struct_md5"],
            "n_exchanges": fp["n_exchanges"],
        }
        sys.stderr.write(f"[d32cap] {tag}: {json.dumps(row)}\n")
        return row

    big = run(f"{factor}x", staged)
    spark.catalog.clearCache()
    results = {"1x": run("1x", base), f"{factor}x": big}
    results["plan_stable"] = (
        results["1x"]["struct_md5"] == results[f"{factor}x"]["struct_md5"]
    )
    # the cap's verdict contracts, checked at scale: the delta half is
    # n_docs/2; neardup replicas of base docs must classify dup (near
    # or exact), never novel beyond the true-novel population
    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "cap": cap,
        "excluded": {
            "d32 uncapped at 1000x": "delta x base band cliques are "
            "~250k pairs per 1000-replica group (~1.25e9 total) — the "
            "measured d03-class hazard the cap exists for"
        },
        "results": results,
        "classification": (
            f"capped incremental ingest completed at "
            f"{results[f'{factor}x']['sec']} s on "
            f"{results[f'{factor}x']['n_docs']} docs "
            f"({round(results[f'{factor}x']['sec'] / max(results['1x']['sec'], 0.1), 1)}x "
            f"time on {factor}x data), plan_stable="
            + str(results["plan_stable"])
        ),
    }
    payload["headline"] = (
        f"d32 capped ingest at {factor}x: "
        f"{results[f'{factor}x']['sec']} s, verdicts "
        f"{results[f'{factor}x']['n_exact_dup']} exact / "
        f"{results[f'{factor}x']['n_near_dup']} near / "
        f"{results[f'{factor}x']['n_novel']} novel over "
        f"{results[f'{factor}x']['n_delta']} delta docs"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
