"""Adversarial neardup-100x probe for d18 (capped LSH pair emission).

Round 9 quantified d03's hot-bucket hazard under SPARK_GRAFT_STAGE_MODE=
neardup at factor 100 (every replica group LSH-collides): 87 buckets
over 256 docs, max bucket 1,494, ~104M pre-distinct clique pairs — the
pair mass that OOMed d06's isolated 8 GB heap. d18 routes oversized
buckets to star emission (m-1 pairs to the bucket-min hub); this probe
measures, at BOTH 1x and the adversarial 100x staging:

  - the bucket-size profile (max m, buckets > declared cap 2,
    buckets > production cap 256),
  - ANALYTIC pair masses from the bucket profile: full clique
    sum(C(m,2)) vs capped sum(m<=cap ? C(m,2) : m-1) at cap=2 and
    cap=256 — the O(m)-per-bucket bound the emission rule guarantees,
  - the MATERIALIZED distinct capped pair count + wall time,
  - d18 end-to-end (components) wall time + plan fingerprints.

d06 itself is deliberately NOT run at the adversarial 100x — its
clique relation is the measured heap-OOM; d18 completing here IS the
point. Results land in probe_d18_adversarial_r10.json.

Usage:  python tools/probe_d18_adversarial.py
Env:    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
        SPARK_GRAFT_SCALE_FACTOR (default 100)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

# the hazard shape under test: near-dup replicas, NOT the honest-volume
# bijective rename (which keeps buckets benign by construction)
os.environ["SPARK_GRAFT_STAGE_MODE"] = "neardup"

from bench_10x import _force, _stage  # noqa: E402
from nlp_data_pipeline_spark.plans.explain import plan_fingerprint  # noqa: E402


def main() -> int:
    import pyspark.sql.functions as F

    from nlp_data_pipeline_spark.operators.dedup import (
        _D18_BUCKET_CAP,
        _D18_PRODUCTION_CAP,
        _banded_signatures,
        _capped_band_pairs,
        d18_capped_lsh_components,
    )
    from nlp_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "100"))
    spark = get_spark("probe-d18-adversarial")

    t0 = time.time()
    base = _stage(spark, sf_dir, 1)
    staged = _stage(spark, sf_dir, factor)
    sys.stderr.write(f"[d18] staged 1x+{factor}x in {time.time()-t0:.1f}s\n")

    results: dict[str, dict] = {}
    for tag, d in (("1x", base), (f"{factor}x", staged)):
        row: dict = {}
        banded = _banded_signatures(spark, d).localCheckpoint()
        m = F.col("m")
        pair_of = lambda c: (c * (c - F.lit(1))) / F.lit(2)  # noqa: E731
        capped_mass = lambda cap: F.sum(  # noqa: E731
            F.when(m <= cap, pair_of(m)).otherwise(m - F.lit(1))
        ).cast("long")
        stats = (
            banded.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(m >= 2)
            .agg(
                F.count(F.lit(1)).alias("n_buckets_ge2"),
                F.max(m).alias("max_bucket"),
                F.sum((m > _D18_BUCKET_CAP).cast("long")).alias("n_over_declared_cap"),
                F.sum((m > _D18_PRODUCTION_CAP).cast("long")).alias(
                    "n_over_production_cap"
                ),
                F.sum(pair_of(m)).cast("long").alias("clique_pair_mass"),
                capped_mass(F.lit(_D18_BUCKET_CAP)).alias("capped_mass_at_2"),
                capped_mass(F.lit(_D18_PRODUCTION_CAP)).alias("capped_mass_at_256"),
            )
            .collect()[0]
            .asDict()
        )
        row["bucket_profile"] = stats

        t = time.time()
        row["capped_pairs_distinct"] = _capped_band_pairs(
            banded, _D18_BUCKET_CAP
        ).count()
        row["capped_pairs_sec"] = round(time.time() - t, 2)

        t = time.time()
        _force(d18_capped_lsh_components(spark, d))
        row["d18_e2e_sec"] = round(time.time() - t, 2)
        fp = plan_fingerprint(d18_capped_lsh_components(spark, d))
        row.update({k: fp[k] for k in ("plan_md5", "struct_md5", "n_exchanges")})
        results[tag] = row
        sys.stderr.write(f"[d18] {tag}: {json.dumps(row)}\n")

    out = {
        "sf_dir": sf_dir,
        "factor": factor,
        "stage_mode": "neardup",
        "declared_cap": _D18_BUCKET_CAP,
        "production_cap": _D18_PRODUCTION_CAP,
        "plan_stable": results["1x"]["struct_md5"]
        == results[f"{factor}x"]["struct_md5"],
        "note": (
            "d06's full-clique relation at this staging is the measured "
            "round-9 heap-OOM (~104M pre-distinct pairs) and is not run; "
            "clique_pair_mass reproduces that figure analytically from "
            "the bucket profile, capped_mass_* shows the O(m)-per-bucket "
            "bound d18's emission guarantees."
        ),
        "results": results,
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
