"""Diff two bench_full_r*.json artifacts: the stable signal per round.

Wall-clock on this host swings 1.5–2× with tenant CPU steal (see
BASELINE.md "Host-noise caveat"), so regressions are judged on the
STRUCTURAL columns bench.py records per query: normalized physical-plan
fingerprint (plan_md5), Exchange count, and Python-stage count. This
tool reports, between two artifacts:

  - queries added / removed
  - exchange-count changes (a new shuffle = a real plan regression)
  - python-stage changes (Python appearing in a previously JVM-only
    plan = a real regression)
  - fingerprint-only drift (annotated: known benign, data-dependent)
  - timing outliers AFTER normalizing by the run's median ratio, so a
    uniformly slow host window doesn't flag every query

Usage:  python tools/plan_diff.py OLD.json NEW.json [--ratio-floor 1.5]
Exit:   1 if any exchange/python regression, else 0.
"""

from __future__ import annotations

import json
import statistics
import sys

# Fingerprint drift with an understood, data-dependent cause (plans
# re-verified by eye/test when first observed; see BASELINE.md).
KNOWN_FP_DRIFT = {
    "d06_neardup_clusters": "label-propagation iteration count in lineage",
    "d12_leakage_safe_split": "embeds d06",
    "n01_lda_topics": "LDA memo state (warm vs cold fit)",
    "n02_doc_tags": "LDA memo state (warm vs cold fit)",
    "n03_topic_metrics": "LDA memo state (warm vs cold fit)",
    "q30_bucketed_colocated_join": "one-time bucketed-table build",
    "q37_observed_metrics": "observation ids",
    "a02_hll_sketch_rollup": "localCheckpoint ids in lineage",
    "d05_shingle_jaccard_topk": "localCheckpoint ids in lineage",
    "p04_curation_pipeline": "localCheckpoint ids in lineage (embeds t22)",
    "s12_bm25_topk": "localCheckpoint ids in lineage",
    "t22_boilerplate_prune": "localCheckpoint ids in lineage",
    "t31_dsir_importance": "localCheckpoint ids in lineage",
    "d09_minhash_calibration": "localCheckpoint ids in lineage",
    "d13_source_overlap_matrix": "localCheckpoint ids in lineage",
    "s14_int8_quantized_search": "quantization grid inlined as data-derived literals",
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__)
        return 2
    floor = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--ratio-floor"):
            floor = float(a.split("=", 1)[1]) if "=" in a else floor
    old = json.load(open(args[0]))["queries"]
    new = json.load(open(args[1]))["queries"]
    added, removed = sorted(set(new) - set(old)), sorted(set(old) - set(new))
    common = sorted(set(old) & set(new))

    bad = []
    fp_drift = []
    for q in common:
        o, n = old[q], new[q]
        if n["n_exchanges"] != o["n_exchanges"]:
            bad.append(f"{q}: exchanges {o['n_exchanges']} -> {n['n_exchanges']}")
        if n["n_python"] != o["n_python"]:
            bad.append(f"{q}: python stages {o['n_python']} -> {n['n_python']}")
        if n["plan_md5"] != o["plan_md5"]:
            note = KNOWN_FP_DRIFT.get(q, "UNEXPLAINED — inspect the plan")
            fp_drift.append(f"{q}: {note}")

    ratios = {q: new[q]["sec"] / old[q]["sec"] for q in common if old[q]["sec"] > 0}
    med = statistics.median(ratios.values()) if ratios else 1.0
    outliers = sorted(
        ((q, r) for q, r in ratios.items() if r / med > floor),
        key=lambda t: -t[1],
    )

    print(f"queries: {len(old)} -> {len(new)}  (+{len(added)} / -{len(removed)})")
    for q in added:
        print(f"  + {q}")
    for q in removed:
        print(f"  - {q}")
    print(f"median time ratio (new/old): {med:.2f}  — host-window scale factor")
    print(f"\nstructural regressions: {len(bad)}")
    for b in bad:
        print(f"  !! {b}")
    print(f"\nfingerprint drift: {len(fp_drift)}")
    for f in fp_drift:
        print(f"  ~ {f}")
    print(f"\ntiming outliers beyond {floor}x of the median ratio: {len(outliers)}")
    for q, r in outliers:
        print(f"  ? {q}: {old[q]['sec']:.2f}s -> {new[q]['sec']:.2f}s ({r:.1f}x)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
