"""CLI: render the static HTML corpus report (presentation layer).

Usage:
    python tools/render_report.py [sf_dir] [out.html]

Engine-side equivalent of the reference's Streamlit dashboard
(/root/reference/nlp_data_tagging.py:346-566): same feeds, offline
single-file output, zero extra dependencies.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_report.html"

    from nlp_data_pipeline_spark.report import write_report
    from nlp_data_pipeline_spark.session import get_spark

    spark = get_spark("report", shuffle_partitions=8)
    path = write_report(spark, sf_dir, out)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
