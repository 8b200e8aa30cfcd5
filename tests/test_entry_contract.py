"""Driver-contract smoke tests: entry() shape, queries()/oracle_sql()
key discipline, and a fast sf0.001 oracle sweep for the pure-SQL ops."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from nlp_data_pipeline_spark.sources.catalog import TABLE_NAMES

FAST_ORACLE_QUERIES = [
    "q01_pricing_summary",
    "q10_topk_customers_per_nation",
    "t01_token_freq_top10",
    "d04_simhash",
    "s01_cosine_topk",
    "e02_session_windows",
    "m02_decode_stub_pipeline",
]


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert df.columns == ["token", "cnt"]


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_every_operator_is_declared():
    """queries() declares every top-level operator function (the
    ``x00_`` names) of every registry module, with no env var or file
    deciding the set. The one deliberate exception is
    p03_records_with_lda_tags, the model-dependent twin of the declared
    p03_records_with_tags (see its header in doc_pipeline.py)."""
    import importlib
    import inspect
    import re

    defined = set()
    for modname in entry_mod._MODULES:
        mod = importlib.import_module(modname)
        defined |= {
            name
            for name, fn in inspect.getmembers(mod, inspect.isfunction)
            if re.match(r"^[a-z]\d\d_", name) and fn.__module__ == modname
        }
    assert set(entry_mod.queries()) == defined - {"p03_records_with_lda_tags"}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", FAST_ORACLE_QUERIES)
def test_fast_oracle_equivalence(spark, sf_dir, duck, name):
    from tools.check_oracle import compare

    sdf = entry_mod.queries()[name](spark, sf_dir)
    res = duck.execute(entry_mod.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    issues = compare(name, sdf, res.fetchall(), cols)
    assert issues == [], issues


def test_rows_only_set_is_exactly_the_sanctioned_three():
    """Every declared query carries a DuckDB oracle EXCEPT the three
    sanctioned LDA-dependent ones (SURVEY §5.2-2) — a forgotten ORACLES
    entry would silently downgrade a query to the weaker rows-only
    check, which this pins."""
    qs = set(entry_mod.queries())
    oracled = set(entry_mod.oracle_sql())
    assert qs - oracled == {"n01_lda_topics", "n02_doc_tags", "n03_topic_metrics"}
