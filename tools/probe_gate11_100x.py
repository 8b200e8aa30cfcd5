"""Execute the ENTIRE gate-11 batch (declares in round 12) at the 100x
rename staging — execution, not explain-only: per-op seconds at 1x vs
100x, result row counts, and the normalized plan fingerprint at both
scales. s25_mutual_knn_pairs is excluded: its exact all-pairs tile is
the sanctioned truth tier (similarity.py header), cannot and should
not run at 100x — s33 is its declared production swap.

Usage: python tools/probe_gate11_100x.py
       python tools/probe_gate11_100x.py <op> [op ...]   # any declared ops
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_SCALE_FACTOR (default 100),
       SPARK_GRAFT_STAGE_MODE (default rename — honest volume)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_STAGE_MODE", "rename")

from bench_10x import _stage  # noqa: E402
from nlp_data_pipeline_spark.plans.explain import plan_fingerprint  # noqa: E402
from probe_io import emit_artifact  # noqa: E402

GATE11 = [
    "q52_file_metadata_audit",
    "q53_sessionize_batch",
    "t46_quality_threshold_curve",
    "t47_span_corruption_plan",
    "t48_packing_efficiency_curve",
    "t49_ngram_coverage_curve",
    "d20_bloom_decontamination",
    "d21_split_contamination_audit",
    "d22_lsh_band_curve",
    "s23_beam_width_curve",
    "s24_topical_source_mix",
    "n05_idf_model",
    "m10_image_patch_grid",
]


def main() -> int:
    import __spark_entry__ as e
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    names = sys.argv[1:] or GATE11

    spark = get_spark("probe-gate11-100x")
    fns = e.queries()

    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    # symlink non-replicated tables (events etc.) at original scale
    for d in (base, staged):
        for t in os.listdir(sf_dir):
            if t.endswith(".parquet") and not os.path.exists(os.path.join(d, t)):
                os.symlink(
                    os.path.abspath(os.path.join(sf_dir, t)), os.path.join(d, t)
                )

    out: dict = {}
    for name in names:
        row: dict = {}
        try:
            for tag, d in (("1x", base), (f"{factor}x", staged)):
                t0 = time.time()
                n = fns[name](spark, d).count()
                sec = time.time() - t0
                fp = plan_fingerprint(fns[name](spark, d))
                row[tag] = {
                    "sec": round(sec, 1),
                    "rows": n,
                    "struct_md5": fp["struct_md5"],
                    "n_exchanges": fp["n_exchanges"],
                }
            row["growth"] = round(
                row[f"{factor}x"]["sec"] / max(row["1x"]["sec"], 1e-9), 1
            )
            row["plan_stable"] = (
                row["1x"]["struct_md5"] == row[f"{factor}x"]["struct_md5"]
            )
        except Exception as exc:
            row["error"] = str(exc)[:300]
        out[name] = row
        sys.stderr.write(f"[g11-100x] {name}: {json.dumps(row)}\n")

    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "excluded": {
            "s25_mutual_knn_pairs": "sanctioned exact truth tier; "
            "s33 is the declared production swap"
        },
        "results": out,
    }
    # guarded self-written artifact (round 13): a killed run can no
    # longer land an empty evidence file; stdout copy kept for logs
    out_path = os.environ.get("SPARK_GRAFT_PROBE_OUT")
    if out_path:
        emit_artifact(out_path, payload)
    else:
        print(json.dumps(payload, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
