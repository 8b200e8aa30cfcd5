"""Dump normalized result rows for given queries to JSON, using either
the repo session factory (mode=repo) or a vanilla default-config session
(mode=vanilla) that approximates the driver's own SparkSession. Used to
diagnose driver-vs-local hash mismatches.

Usage: python tools/dump_rows.py <mode> <out.json> <sf_dir> <query...>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import _norm  # noqa: E402


def main():
    mode, out_path, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]

    from pyspark.sql import SparkSession

    if mode == "vanilla":
        spark = (
            SparkSession.builder.appName("driver_like")
            .master("local[32]")
            .getOrCreate()
        )
    else:
        from nlp_data_pipeline_spark.session import get_spark

        spark = get_spark("dump_rows")

    import __spark_entry__ as e

    qs = e.queries()
    out = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        cols = sorted(df.columns)
        idx = [df.columns.index(c) for c in cols]
        rows = sorted(
            tuple(repr(_norm(r[i])) for i in idx) for r in df.collect()
        )
        out[name] = {"cols": cols, "rows": rows}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
