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
  - a core-count mismatch between the two runs, which alone moves the
    fingerprints of plans that print the default parallelism
  - timing outliers AFTER normalizing by the run's median ratio, so a
    uniformly slow host window doesn't flag every query

Usage:  python tools/plan_diff.py OLD.json NEW.json [--ratio-floor 1.5]
Exit:   1 if any exchange/python regression, else 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from nlp_data_pipeline_spark.plans.explain import KNOWN_PLAN_NOISE  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__)
        return 2
    floor = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--ratio-floor"):
            floor = float(a.split("=", 1)[1]) if "=" in a else floor
    old_doc, new_doc = json.load(open(args[0])), json.load(open(args[1]))
    old, new = old_doc["queries"], new_doc["queries"]
    # artifacts before the cpus field: unknown, and not compared
    cpus = (old_doc.get("cpus"), new_doc.get("cpus"))
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
            note = KNOWN_PLAN_NOISE.get(q, "UNEXPLAINED — inspect the plan")
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
    if None not in cpus and cpus[0] != cpus[1]:
        print(
            f"core count {cpus[0]} -> {cpus[1]}: plans that print the default "
            "parallelism drift with it, so fingerprint drift is not comparable"
        )
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
