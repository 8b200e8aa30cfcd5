"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Queries and oracles are co-located with their operator modules in
``nlp_data_pipeline_spark/operators/*``; this file only aggregates.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_MODULES = [
    "nlp_data_pipeline_spark.operators.relational",
    "nlp_data_pipeline_spark.operators.relational_ext",
    "nlp_data_pipeline_spark.operators.text_analytics",
    "nlp_data_pipeline_spark.operators.dedup",
    "nlp_data_pipeline_spark.operators.similarity",
    "nlp_data_pipeline_spark.operators.events",
    "nlp_data_pipeline_spark.operators.nlp_model",
    "nlp_data_pipeline_spark.operators.multimodal",
    "nlp_data_pipeline_spark.operators.doc_pipeline",
    "nlp_data_pipeline_spark.operators.sql_api",
]


def _collect(attr: str) -> dict:
    """Merge every module's ``attr`` dict, in module order then dict order."""
    import importlib

    out: dict = {}
    for modname in _MODULES:
        out.update(getattr(importlib.import_module(modname), attr))
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Corpus token-frequency top-10: clean → tokenize → explode →
    group-count → ordered limit (reference R2-R6 + R21 end-to-end,
    /root/reference/nlp_data_tagging.py:49-76, :319-322).
    """
    from nlp_data_pipeline_spark.operators.text_analytics import t01_token_freq_top10

    return t01_token_freq_top10(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _collect("QUERIES")


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys get rows-only checks."""
    return _collect("ORACLES")
