"""d20/d32 checkpoint-vs-rescan A/B at 100x (VERDICT r14 #6).

Round 14 pinned each query's shared postings table with localCheckpoint
to collapse repeated corpus scans (d20 8->0 in-plan scans, d32 16->4);
at sf0.1 that traded ~0.2 s of checkpoint overhead for the removed
rescans (locally flat). This probe answers the ordered question: does
the checkpointed path stay <= the rescan path once the corpus is 100x,
i.e. does the checkpoint overhead scale FLAT while the rescan cost
scales with the corpus?

Staging: rename mode (honest volume — per-replica bijective vocabulary
renaming, true near-dup pairs grow linearly). The rescan variant is the
r13 shape, reproduced by monkeypatching DataFrame.localCheckpoint to
the identity INSIDE the operator call (checkpoints are semantic
no-ops, so both variants compute identical results; the probe asserts
that too).

Usage:  python tools/probe_ckpt_ab_100x.py [out.json]
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 100)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_STAGE_MODE", "rename")

from bench_10x import _stage  # noqa: E402


def main() -> int:
    from pyspark.sql import DataFrame

    from nlp_data_pipeline_spark.operators.dedup import (
        d20_bloom_decontamination,
        d32_incremental_dedup_delta,
    )
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(here, "probe_ckpt_ab_100x.json")
    )
    spark = get_spark("probe-ckpt-ab-100x")

    t0 = time.time()
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[ckpt-ab] staged {factor}x in {time.time()-t0:.1f}s\n")

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    orig_ckpt = DataFrame.localCheckpoint

    def run(fn, variant: str, reps: int = 2) -> dict:
        if variant == "rescan":
            DataFrame.localCheckpoint = lambda self, eager=True: self
        try:
            times = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(
                    f"ckpt-ab {fn.__name__} {variant}"
                )
                t0 = time.time()
                force(fn(spark, staged))
                times.append(round(time.time() - t0, 1))
            rows = sorted(tuple(r) for r in fn(spark, staged).collect())
        finally:
            DataFrame.localCheckpoint = orig_ckpt
        return {"times": times, "min": min(times), "rows": rows}

    out: dict = {
        "factor": factor,
        "stage_mode": "rename",
        "results": {},
    }
    for fn in (d20_bloom_decontamination, d32_incremental_dedup_delta):
        ck = run(fn, "checkpointed")
        rs = run(fn, "rescan")
        same = ck.pop("rows") == rs.pop("rows")
        out["results"][fn.__name__] = {
            "checkpointed": ck,
            "rescan": rs,
            "rows_identical": same,
            "checkpointed_leq_rescan": ck["min"] <= rs["min"],
        }
        sys.stderr.write(
            f"[ckpt-ab] {fn.__name__}: ckpt {ck} vs rescan {rs} "
            f"(rows_identical={same})\n"
        )

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out["results"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
