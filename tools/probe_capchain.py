"""Adversarial neardup-100x probe for the CAPPED consumer chain
(VERDICT r10 #5: the cap threaded through the d03 pair consumers).

Round 10 declared d18 and measured its capped pair relation surviving
the staging where d06's full clique is a heap OOM (~104M pre-distinct
pairs). This probe executes the THREADED CONSUMERS end-to-end at the
same staging under the declared cap=2 — the production configuration
of each:

  - d24_cc_alternating_stars(cap): the O(log n) component builder over
    capped pairs (components cap-invariant, the d18 theorem),
  - d12_leakage_safe_split(cap): split assignment off the capped CC
    (identical split by invariance),
  - d21_split_contamination_audit(cap): the audit (pair feed AND its
    internal d12 labels both capped) — by_cluster cross rows must be 0,
  - d27_bbit_minhash(cap): the signature-compression accuracy audit on
    star pairs.

Each runs at 1x AND the adversarial 100x staging with wall time and
plan fingerprints; plan stability across scales is recorded per op.
The uncapped chain is deliberately NOT run at 100x — its shared clique
relation is the measured round-9 OOM; the capped chain completing IS
the point. Results land in probe_capchain_r11.json.

Usage:  python tools/probe_capchain.py
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 100)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ["SPARK_GRAFT_STAGE_MODE"] = "neardup"

from bench_10x import _force, _stage  # noqa: E402
from nlp_data_pipeline_spark.plans.explain import plan_fingerprint  # noqa: E402


def main() -> int:
    from nlp_data_pipeline_spark.operators.dedup import (
        _D18_BUCKET_CAP,
        d12_leakage_safe_split,
        d21_split_contamination_audit,
        d24_cc_alternating_stars,
        d27_bbit_minhash,
    )
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    cap = _D18_BUCKET_CAP
    spark = get_spark("probe-capchain")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[capchain] staged 1x+{factor}x in {time.time()-t0:.1f}s\n")

    ops = {
        "d24_cc_alternating_stars": d24_cc_alternating_stars,
        "d12_leakage_safe_split": d12_leakage_safe_split,
        "d21_split_contamination_audit": d21_split_contamination_audit,
        "d27_bbit_minhash": d27_bbit_minhash,
    }
    results: dict[str, dict] = {}
    for tag, d in (("1x", base), (f"{factor}x", staged)):
        row: dict = {}
        for name, fn in ops.items():
            t = time.time()
            df = fn(spark, d, cap=cap)
            _force(df)
            sec = round(time.time() - t, 2)
            fp = plan_fingerprint(fn(spark, d, cap=cap))
            row[name] = {
                "sec": sec,
                "plan_md5": fp["plan_md5"],
                "struct_md5": fp["struct_md5"],
                "n_exchanges": fp["n_exchanges"],
            }
            sys.stderr.write(f"[capchain] {tag} {name}: {sec}s\n")
        # the audit's headline invariant, checked AT the staging: zero
        # by_cluster cross rows even with both feeds capped
        cross = (
            d21_split_contamination_audit(spark, d, cap=cap)
            .filter("strategy = 'by_cluster' AND is_cross")
            .count()
        )
        row["d21_by_cluster_cross_rows"] = cross
        results[tag] = row

    stability = {
        name: results["1x"][name]["struct_md5"]
        == results[f"{factor}x"][name]["struct_md5"]
        for name in ops
    }
    out = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": "neardup",
        "cap": cap,
        "plan_stable": stability,
        "note": (
            "the uncapped chain shares d06's clique relation, the measured "
            "round-9 heap OOM at this staging, and is not run; every "
            "threaded consumer completing under the cap with a stable plan "
            "and d21's zero by_cluster cross rows is the chain-level "
            "counterpart of probe_d18_adversarial_r10.json"
        ),
        "results": results,
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
