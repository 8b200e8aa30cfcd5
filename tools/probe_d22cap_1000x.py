"""Adversarial 1000x probe for d22's band-tuning curve on the CAPPED
candidate feed (round 14, VERDICT r13 #8: extend the 1000x tier to
d21/d22's band curve as the module gets touched — round 14 touched
dedup.py for d32's cap observability).

d22 evaluates three LSH band configurations (4x2, 1x8, 2x4) against
integer-exact Jaccard truth over the candidate pair set. Its scale
hazard is the feed itself: uncapped d03 cliques are C(members, 2) per
band bucket — ~500k pairs per 1000-replica bucket under adversarial
duplication (the measured d03-class hazard; excluded here exactly
like d32's uncapped tier). The d18 star-capped feed
(cap=_D18_PRODUCTION_CAP) bounds pair mass at O(docs x n_bands); the
curve's documented trade (header at d22_lsh_band_curve) is that
counts become lower bounds in capped buckets while the RELATIVE
ordering of band configs is preserved — the tuning decision is
unchanged. At 1x the corpus is benign (no bucket near the cap), so
capped == uncapped EXACTLY; this probe records that identity plus
capped execution at 100x and 1000x with plan fingerprints.

Usage:  python tools/probe_d22cap_1000x.py [out.json]
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
        d22_lsh_band_curve,
    )
    from nlp_data_pipeline_spark.session import get_spark
    from nlp_data_pipeline_spark.sources.catalog import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "1000"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_d22cap_1000x.json")
    )
    cap = _D18_PRODUCTION_CAP
    spark = get_spark("probe-d22cap-1000x")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    mid = _stage(spark, sf_dir, max(2, factor // 10))
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(
        f"[d22cap] staged 1x+{factor//10}x+{factor}x in {time.time()-t0:.1f}s\n"
    )

    def run(tag: str, d: str, c: int | None) -> dict:
        n_docs = load_table(spark, d, "documents").count()
        t0 = time.time()
        # lists, not tuples: probe_io verifies by JSON round-trip
        # equality, and tuples deserialize as lists
        rows = sorted([list(r) for r in d22_lsh_band_curve(spark, d, c).collect()])
        sec = round(time.time() - t0, 1)
        fp = plan_fingerprint(d22_lsh_band_curve(spark, d, c))
        row = {
            "n_docs": n_docs,
            "cap": c,
            "sec": sec,
            "rows": rows,
            "struct_md5": fp["struct_md5"],
            "n_exchanges": fp["n_exchanges"],
        }
        sys.stderr.write(f"[d22cap] {tag}: {json.dumps(row)}\n")
        return row

    import gc

    def _release():
        """Drop phase references so ContextCleaner can unpersist the
        localCheckpoint blocks (d22 checkpoints its pair feed) before
        the next phase — the 100x phase OOMed on a heap still holding
        the 1000x phase's blocks (first r14 attempts)."""
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # cheap phases FIRST, 1000x LAST (round-14 lesson, opposite of the
    # NND probe's heavy-first): d22's shingle-explosion shuffles are
    # the largest in the repo and shuffle files persist for the app's
    # lifetime — with the heavy phase first, the 100x phase ran out of
    # disk (attempt 2) and heap (attempt 1) on the 1000x run's
    # leftovers. The 24g driver + 600s network timeout already cover
    # the r13 heartbeat hazard heavy-first existed for.
    base_capped = run("1x_capped", base, cap)
    base_uncapped = run("1x_uncapped", base, None)
    _release()
    midrow = run(f"{factor//10}x_capped", mid, cap)
    _release()
    big = run(f"{factor}x_capped", staged, cap)

    def _ordering(row):
        """(n_bands, rows_per_band) -> recall, sorted by config — the
        tuning signal whose relative order the cap must preserve."""
        out = {}
        for r in row["rows"]:
            # declared schema: (n_bands, rows_per_band, n_candidates,
            # n_true_pairs, n_false_pos, n_true_missed)
            out[f"{r[0]}x{r[1]}"] = r[3]
        return sorted(out, key=lambda k: (out[k], k))

    results = {
        "1x_uncapped": base_uncapped,
        "1x_capped": base_capped,
        "1x_cap_identity": base_capped["rows"] == base_uncapped["rows"],
        f"{factor//10}x_capped": midrow,
        f"{factor}x_capped": big,
        "config_ordering_stable": (
            _ordering(base_capped) == _ordering(midrow) == _ordering(big)
        ),
        "plan_stable": (
            base_capped["struct_md5"]
            == midrow["struct_md5"]
            == big["struct_md5"]
        ),
    }
    # rows are tiny (3 configs) — keep them in the artifact verbatim
    payload = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": os.environ["SPARK_GRAFT_STAGE_MODE"],
        "cap": cap,
        "excluded": {
            f"uncapped d03 feed at {factor}x": "C(members,2) cliques "
            "per band bucket — ~500k pairs per 1000-replica bucket, "
            "the measured d03-class hazard the d18 star cap exists "
            "for (same exclusion class as probe_d32cap's)",
        },
        "results": results,
        "classification": (
            f"capped band curve completed at {factor}x: {big['sec']} s "
            f"on {big['n_docs']} docs "
            f"({round(big['sec'] / max(base_capped['sec'], 0.1), 1)}x "
            f"time on {factor}x data), 1x cap identity="
            f"{results['1x_cap_identity']}, config ordering stable="
            f"{results['config_ordering_stable']}, plan_stable="
            f"{results['plan_stable']}"
        ),
    }
    payload["headline"] = (
        f"d22 capped band curve at {factor}x: {big['sec']} s over "
        f"{big['n_docs']} docs; cap identity at 1x: "
        f"{results['1x_cap_identity']}"
    )
    emit_artifact(out_path, payload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
