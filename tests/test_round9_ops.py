"""Round-9 additions: ADVICE-r08 hardening tests (n05 cross-engine
log boundary agreement) and round-9 session operators."""

import pytest
from pyspark.sql import functions as F  # noqa: F401 (fixture parity with siblings)


def _duck(sf_dir, views=("documents",)):
    import duckdb

    con = duckdb.connect()
    for v in views:
        con.execute(
            f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{sf_dir}/{v}.parquet')"
        )
    return con


def test_n05_log_agrees_across_engines_at_rounding_boundaries(spark, sf_dir):
    """ADVICE r08: n05 declares round(ln((m+1)/(df+1)), 6) where the ln
    runs in JVM Math.log (inside pyspark.ml IDF) on the Spark side and
    in DuckDB's libm on the oracle side. A last-ulp divergence at a
    5e-7 rounding boundary would flip the 6-dp hash even though df/m
    are exact. For every (df, m) pair the corpus ACTUALLY produces at
    this sf, rank by distance of frac(ln·1e6) from the .5 rounding
    boundary and assert Python math.log, the JVM (Spark SQL ln), and
    DuckDB ln agree at 6 dp on the 10 nearest-to-boundary pairs (plus
    the overall closest regardless of rank)."""
    import math

    from nlp_data_pipeline_spark.operators.nlp_model import _n05_sql

    pairs = sorted(
        set(
            _duck(sf_dir)
            .execute(f"SELECT df, n_docs FROM ({_n05_sql()})")
            .fetchall()
        )
    )
    assert pairs, "n05 oracle returned no (df, n_docs) pairs"

    def frac_dist(df, m):
        v = math.log((m + 1.0) / (df + 1.0)) * 1e6
        f = v - math.floor(v)
        return abs(f - 0.5)

    nearest = sorted(pairs, key=lambda p: frac_dist(*p))[:10]

    # One engine per batch: Python half-up (idf >= 0 always), JVM via
    # Spark SQL's ln + round (HALF_UP), DuckDB's ln + round (half-away,
    # identical to half-up for non-negative values).
    values_sql = ", ".join(f"({df}, {m})" for df, m in nearest)
    jvm = [
        r[0]
        for r in spark.sql(
            "SELECT round(ln((CAST(m AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 6) "
            f"FROM VALUES {values_sql} AS t(df, m) ORDER BY df, m"
        ).collect()
    ]
    duck = [
        r[0]
        for r in _duck(sf_dir)
        .execute(
            "SELECT round(ln((CAST(m AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 6) "
            f"FROM (VALUES {values_sql}) AS t(df, m) ORDER BY df, m"
        )
        .fetchall()
    ]
    ordered = sorted(nearest)
    py_ordered = [
        math.floor(math.log((m + 1.0) / (df + 1.0)) * 1e6 + 0.5) / 1e6
        for df, m in ordered
    ]
    assert py_ordered == jvm == duck, (
        f"6-dp ln disagreement on boundary pairs {ordered}: "
        f"py={py_ordered} jvm={jvm} duck={duck}"
    )
    # sanity: the ranking actually surfaced the closest observed pair
    assert frac_dist(*nearest[0]) == min(frac_dist(*p) for p in pairs)


def test_n05_declared_integers_are_model_state(spark, sf_dir):
    """The declared df/n_docs columns come from the fitted IDFModel
    itself (docFreq vector, numDocs scalar), not a side recompute —
    so they satisfy the model's own invariant ln((m+1)/(df+1)) == idf
    at 6 dp, row for row."""
    import math

    from nlp_data_pipeline_spark.operators.nlp_model import n05_idf_model

    rows = n05_idf_model(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = math.floor(
            math.log((r["n_docs"] + 1.0) / (r["df"] + 1.0)) * 1e6 + 0.5
        ) / 1e6
        assert abs(expect - r["idf"]) < 1e-9, (r["term"], r["df"], r["n_docs"])


def test_s33_matches_duckdb_oracle(spark, sf_dir):
    """s33: mutual-kNN over the linear-cost NN-descent build, declared
    as exact-truth count + integer-percent quality booleans (the r08
    verdict's s25 perf-twin ask)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        S33_SQL,
        s33_mutual_knn_nnd_recall,
    )

    got = [tuple(r) for r in s33_mutual_knn_nnd_recall(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("embeddings",)).execute(S33_SQL).fetchall()
    ]
    assert len(got) == 1 and got == want
    assert got[0][1] is True and got[0][2] is True


def test_s33_quality_margin_above_declared_floor(spark, sf_dir):
    """The declared 70% floor must not sit at the cliff edge: measured
    mutual recall AND precision at the test sf stay ≥ floor + 10 pts,
    so ordinary corpus drift cannot flip the declared booleans."""
    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.operators.similarity import (
        GRAPH_M,
        S33_MIN_PCT,
        _knn_directed,
        _mutual_pairs,
        _nnd_state,
    )

    topm, _g, _links = _nnd_state(spark, sf_dir, GRAPH_M)
    ap = _mutual_pairs(topm.select("src", "dst")).withColumn("in_ap", F.lit(1))
    ex = _mutual_pairs(
        _knn_directed(spark, sf_dir, GRAPH_M).select("src", "dst")
    ).withColumn("in_ex", F.lit(1))
    r = (
        ex.join(ap, ["src", "dst"], "full_outer")
        .agg(
            F.sum("in_ex").alias("n_true"),
            F.sum("in_ap").alias("n_ap"),
            F.sum(F.col("in_ex") * F.col("in_ap")).alias("n_hit"),
        )
        .collect()[0]
    )
    assert r["n_hit"] * 100 >= r["n_true"] * (S33_MIN_PCT + 10)
    assert r["n_hit"] * 100 >= r["n_ap"] * (S33_MIN_PCT + 10)


def test_nnd_state_directed_topm_feeds_the_declared_graph(spark, sf_dir):
    """The refactor contract: _knn_graph_nnd (s16's NSW graph) must be
    exactly the undirected closure of _nnd_state's topm plus the
    cross-links — the directed list s33 filters IS the graph s16
    searches, not a sibling build."""
    from nlp_data_pipeline_spark.operators.similarity import (
        _knn_graph_nnd,
        _nnd_state,
        _undirected,
    )

    topm, g, links = _nnd_state(spark, sf_dir)
    want = {(r["src"], r["dst"]) for r in _undirected(g.union(links)).distinct().collect()}
    got = {(r["src"], r["dst"]) for r in _knn_graph_nnd(spark, sf_dir).collect()}
    assert got == want
    closure = {(r["src"], r["dst"]) for r in _undirected(topm).collect()}
    assert closure <= want


def test_d32_matches_duckdb_oracle(spark, sf_dir):
    """d32: delta-vs-base incremental dedup classification (exact sha
    tier, banded-LSH + integer-Jaccard near tier, first-match
    precedence)."""
    from nlp_data_pipeline_spark.operators.dedup import (
        D32_SQL,
        d32_incremental_dedup_delta,
    )

    got = [tuple(r) for r in d32_incremental_dedup_delta(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(D32_SQL).fetchall()]
    assert got and got == want


def test_d32_verdicts_partition_the_delta(spark, sf_dir):
    """Every delta doc gets exactly one verdict: the three counts sum
    to n_delta per source, and n_delta totals the odd-doc_id rows."""
    from nlp_data_pipeline_spark.operators.dedup import d32_incremental_dedup_delta

    rows = d32_incremental_dedup_delta(spark, sf_dir).collect()
    for r in rows:
        assert r["n_exact_dup"] + r["n_near_dup"] + r["n_novel"] == r["n_delta"]
    n_odd = _duck(sf_dir).execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 1"
    ).fetchone()[0]
    assert sum(r["n_delta"] for r in rows) == n_odd


def test_u11_matches_duckdb_oracle(spark, sf_dir):
    """u11: nested array<struct> through a scalar pandas UDF, struct out
    — the nested Arrow round-trip surface, declared against a plain-SQL
    oracle."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        U11_SQL,
        u11_nested_arrow_udf,
    )

    got = [tuple(r) for r in u11_nested_arrow_udf(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("events",)).execute(U11_SQL).fetchall()
    ]
    assert got and got == want


def test_u11_last_type_is_order_not_luck(spark, sf_dir):
    """The last_type fact only matches if the UDF saw the sorted list
    order: recompute via Spark's own max_by and compare row-for-row."""
    from nlp_data_pipeline_spark.operators.relational_ext import u11_nested_arrow_udf
    from nlp_data_pipeline_spark.sources.catalog import load_table

    got = {
        r["user_id"]: r["last_type"]
        for r in u11_nested_arrow_udf(spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: r["lt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.expr("max_by(event_type, event_id)").alias("lt"))
        .collect()
    }
    assert got == want


def test_v24_matches_duckdb_oracle(spark, sf_dir):
    """v24: the SQL UNPIVOT clause in its multi-measure aliased form vs
    the classic UNION ALL longhand."""
    from nlp_data_pipeline_spark.operators.sql_api import V24_SQL, v24_sql_unpivot

    got = [tuple(r) for r in v24_sql_unpivot(spark, sf_dir).collect()]
    want = [
        tuple(r)
        for r in _duck(sf_dir, views=("orders",)).execute(V24_SQL).fetchall()
    ]
    assert got and got == want


def test_v24_unpivot_conserves_order_and_money_mass(spark, sf_dir):
    """Melting must conserve both measures: per-priority n_orders sums
    to the orders row count and cents sums to the DECIMAL total."""
    from nlp_data_pipeline_spark.operators.sql_api import v24_sql_unpivot

    rows = v24_sql_unpivot(spark, sf_dir).collect()
    n_total = sum(r["n_orders"] for r in rows)
    cents_total = sum(r["cents"] for r in rows)
    want_n, want_cents = _duck(sf_dir, views=("orders",)).execute(
        "SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) FROM orders"
    ).fetchone()
    assert n_total == want_n
    assert cents_total == want_cents
