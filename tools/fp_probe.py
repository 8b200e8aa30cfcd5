"""One-off fingerprint probe: compute the normalized plan md5
(plans.explain.plan_fingerprint, the one bench.py records) for the
named queries in THIS fresh session and print them beside the latest
bench_full artifact's values — distinguishes session-nondeterministic
fingerprints (md5 differs run-to-run) from one-time code flips (md5
stable now but != previous round's artifact).

Usage: python tools/fp_probe.py q1 q2 ...   (name prefixes, bench rules)
Env:   FP_PROBE_DUMP=<dir> also writes each normalized plan to <dir>.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> int:
    prefixes = tuple(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as e
    from nlp_data_pipeline_spark.plans.explain import (
        formatted_plan,
        normalize_plan,
        plan_fingerprint,
    )
    from nlp_data_pipeline_spark.session import get_spark

    spark = get_spark("fp-probe")
    if os.environ.get("SPARK_GRAFT_BENCH_PREP", "1") != "0":
        sf_dir = bench._prep_multifile(spark, sf_dir)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev_files = [
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(here, "bench_full_r*.json"))
        if (m := re.search(r"bench_full_r(\d+)\.json$", p))
    ]
    prev = {}
    if prev_files:
        with open(max(prev_files)[1]) as f:
            prev = json.load(f).get("queries", {})

    dump_dir = os.environ.get("FP_PROBE_DUMP")
    for name, fn in e.queries().items():
        if prefixes and not name.startswith(prefixes):
            continue
        df = fn(spark, sf_dir)
        fp = plan_fingerprint(df)
        pv = prev.get(name, {})
        print(
            json.dumps(
                {
                    "name": name,
                    "plan_md5": fp["plan_md5"],
                    "n_exchanges": fp["n_exchanges"],
                    "prev_md5": pv.get("plan_md5"),
                    "prev_exchanges": pv.get("n_exchanges"),
                    "match_prev": pv.get("plan_md5") == fp["plan_md5"],
                }
            )
        )
        if dump_dir:
            os.makedirs(dump_dir, exist_ok=True)
            with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                f.write(normalize_plan(formatted_plan(df)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
