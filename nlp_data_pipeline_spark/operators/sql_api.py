"""spark.sql() API surface — the engine's second front door.

Everything else in this repo uses the DataFrame DSL; these queries go
through SQL text + temp views to prove the whole surface (views, CTEs,
subqueries, UDTF registration) works identically — same Catalyst plans
underneath, so no scale caveats beyond the DSL twins'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nlp_data_pipeline_spark.sources.catalog import register_views


# --------------------------------------------------------------------------
# v01: pure-SQL analytics over registered views (CTE + subquery + join).
# Customers whose lifetime spend exceeds 2× their segment's average.
# --------------------------------------------------------------------------
def v01_sql_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH spend AS (
          SELECT c.c_custkey, c.c_mktsegment,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime
          FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey, c.c_mktsegment
        ),
        seg AS (
          SELECT c_mktsegment, CAST(SUM(lifetime) AS DOUBLE) / COUNT(*) AS seg_avg
          FROM spend GROUP BY c_mktsegment
        )
        SELECT s.c_custkey, s.c_mktsegment,
               ROUND(s.lifetime, 2) AS lifetime,
               ROUND(s.lifetime / g.seg_avg, 4) AS vs_segment
        FROM spend s JOIN seg g ON s.c_mktsegment = g.c_mktsegment
        WHERE s.lifetime > 2 * g.seg_avg
        ORDER BY s.c_mktsegment, s.c_custkey
        """
    )


V01_SQL = """
WITH spend AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
),
seg AS (
  SELECT c_mktsegment, CAST(SUM(lifetime) AS DOUBLE) / COUNT(*) AS seg_avg
  FROM spend GROUP BY c_mktsegment
)
SELECT s.c_custkey, s.c_mktsegment,
       ROUND(s.lifetime, 2) AS lifetime,
       ROUND(s.lifetime / g.seg_avg, 4) AS vs_segment
FROM spend s JOIN seg g ON s.c_mktsegment = g.c_mktsegment
WHERE s.lifetime > 2 * g.seg_avg
ORDER BY s.c_mktsegment, s.c_custkey
"""


# --------------------------------------------------------------------------
# v02: correlated scalar subquery — each part vs the average retail
# price of its brand.
# --------------------------------------------------------------------------
def v02_sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p1
        WHERE p_retailprice > 1.5 * (
          SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM part p2 WHERE p2.p_brand = p1.p_brand
        )
        ORDER BY p_brand, p_partkey
        """
    )


V02_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p1
WHERE p_retailprice > 1.5 * (
  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM part p2 WHERE p2.p_brand = p1.p_brand
)
ORDER BY p_brand, p_partkey
"""


# --------------------------------------------------------------------------
# v03: Python UDTF (Spark 3.5+) — a table function exploding text into
# (pos, sentence) rows. UDTFs are the slow path (row-at-a-time Python),
# kept OUT of hot pipelines; registered here to cover the API. The
# oracle reproduces the same split in SQL.
# --------------------------------------------------------------------------
def v03_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-DEMO: deliberate row-at-a-time Python UDTF, kept ONLY to
    cover the @udtf API surface. Not a hot-path pattern — the native
    sentence-split twin is t05's posexplode(split(...)) pipeline."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):  # noqa: A002
            for i, s in enumerate(re.split(r"[.!?]+", text or "")):
                s = s.strip()
                if len(s) > 10:
                    yield i, s

    spark.udtf.register("sentence_split", SentenceSplit)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, CAST(length(s.sentence) AS BIGINT) AS sent_len
        FROM documents d,
             LATERAL sentence_split(d.doc_id, substring(d.text, 1, 80)) s
        WHERE d.doc_id < 50
        ORDER BY d.doc_id, s.pos
        """
    )


V03_SQL = """
SELECT doc_id, pos, length(sentence) AS sent_len
FROM (
  SELECT doc_id,
         (u.i - 1)::INT AS pos,
         trim(parts[u.i]) AS sentence
  FROM (
    SELECT doc_id, string_split_regex(substring(text, 1, 80), '[.!?]+') AS parts
    FROM documents WHERE doc_id < 50
  ) t, (SELECT unnest(range(1, 100)) AS i) u
  WHERE u.i <= len(parts)
) z
WHERE length(sentence) > 10
ORDER BY doc_id, pos
"""


# --------------------------------------------------------------------------
# u05: ARROW-OPTIMIZED Python UDTF (Spark 4 `useArrow=True`) — the
# batch-transfer variant of v03's row UDTF: rows reach eval() through
# Arrow instead of pickled rows, the same serialization jump that makes
# pandas UDFs ~10-100x faster than row UDFs. The kernel chunks each
# document into fixed 32-token windows with per-chunk token counts —
# i.e., the sequence-packing front half as a table function. Oracle is
# the pure-SQL chunking, so the Arrow path's row fan-out is
# hash-checked exactly. API-coverage entry: the declared twin t29 does
# real packing natively; this pins the Arrow-UDTF surface.
# --------------------------------------------------------------------------
_U05_CHUNK = 32


def u05_arrow_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int", useArrow=True)
    class ChunkDoc:
        def eval(self, text: str):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(0, len(toks), _U05_CHUNK):
                yield i // _U05_CHUNK, len(toks[i : i + _U05_CHUNK])

    spark.udtf.register("chunk_doc", ChunkDoc)
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, CAST(c.n_tokens AS BIGINT) AS n_tokens
        FROM documents d, LATERAL chunk_doc(d.text) c
        WHERE d.doc_id < 100
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


U05_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> t != '') AS t
  FROM documents WHERE doc_id < 100
),
chunks AS (
  SELECT doc_id,
         CAST(u.i AS INT) AS chunk_idx,
         LEAST(len(t) - u.i * {_U05_CHUNK}, {_U05_CHUNK}) AS n_tokens
  FROM toks, (SELECT unnest(range(0, 1000)) AS i) u
  WHERE u.i * {_U05_CHUNK} < len(t)
)
SELECT doc_id, chunk_idx, CAST(n_tokens AS BIGINT) AS n_tokens
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# --------------------------------------------------------------------------
# v04: explicit GROUPING SETS — the general form of q08's ROLLUP /
# q09's CUBE: exactly the named aggregation levels, nothing more.
# One shuffle with grouping-set expansion (each input row contributes
# to each matching set).
# --------------------------------------------------------------------------
def v04_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), (o_orderstatus))
        ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


V04_SQL = """
SELECT c_mktsegment, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), (o_orderstatus))
ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
"""


# --------------------------------------------------------------------------
# v05: SQL PIVOT syntax — the spark.sql twin of q21's DataFrame pivot
# (same conditional-aggregation plan; proves the SQL front door parses
# and plans the clause). Absent day×type combos surface as NULL from
# PIVOT and are zero-filled to match the closed-form oracle.
# --------------------------------------------------------------------------
def v05_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT day,
               COALESCE(click, 0) AS click, COALESCE(error, 0) AS error,
               COALESCE(purchase, 0) AS purchase, COALESCE(signup, 0) AS signup,
               COALESCE(view, 0) AS view
        FROM (SELECT date_trunc('day', ts) AS day, event_type FROM events)
        PIVOT (COUNT(*) FOR event_type IN ('click' AS click, 'error' AS error,
               'purchase' AS purchase, 'signup' AS signup, 'view' AS view))
        ORDER BY day
        """
    )


V05_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY 1
ORDER BY day
"""


# --------------------------------------------------------------------------
# v06: LATERAL VIEW explode — a table-generating function in the FROM
# clause (the SQL spelling of the DataFrame explode every t* query
# uses). Per-source token counts next to the corpus-wide total each
# source is a share of; the total comes from an unpartitioned window
# over the tiny grouped result so the document scan runs exactly once
# (v02 covers the subquery surface).
# --------------------------------------------------------------------------
def v06_sql_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nlp_data_pipeline_spark.functions.text import STOP_WORDS_SORTED

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW stop_words AS SELECT * FROM VALUES "
        + ", ".join(f"('{w}')" for w in STOP_WORDS_SORTED)
        + " AS t(word)"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW doc_tokens AS
        SELECT doc_id, source, token
        FROM (
          SELECT doc_id, source,
                 filter(
                   split(trim(regexp_replace(regexp_replace(lower(regexp_replace(text,
                     '\\\\s+', ' ')), '[^\\\\p{L}\\\\p{N}_\\\\s\\\\.]', ' '), ' +', ' ')), ' '),
                   t -> length(t) > 2 AND t != ''
                 ) AS toks
          FROM documents
        ) LATERAL VIEW explode(toks) AS token
        WHERE token NOT IN (SELECT word FROM stop_words)
        """
    )
    # corpus total via an unpartitioned window over the per-source
    # aggregate (5 rows), NOT a scalar subquery: a scalar subquery over
    # doc_tokens re-runs the tokenizing scan of documents — at 100 TB
    # that doubles the most expensive stage. One scan, one shuffle.
    return spark.sql(
        """
        SELECT source,
               n_tokens,
               SUM(n_tokens) OVER () AS corpus_tokens,
               ROUND(n_tokens / SUM(n_tokens) OVER (), 6) AS share
        FROM (
          SELECT source, COUNT(*) AS n_tokens
          FROM doc_tokens
          GROUP BY source
        )
        ORDER BY source
        """
    )


from nlp_data_pipeline_spark.operators.text_analytics import _TOKENS_CTE  # noqa: E402

V06_SQL = f"""
{_TOKENS_CTE},
total AS (SELECT COUNT(*) AS corpus_tokens FROM tokens)
SELECT source, COUNT(*) AS n_tokens,
       ANY_VALUE(corpus_tokens) AS corpus_tokens,
       round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(corpus_tokens), 6) AS share
FROM tokens, total
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# v07: RECURSIVE CTE (Spark 4 WITH RECURSIVE) — a monthly date spine
# from MIN to MAX order month (~80 iterations, under the default
# spark.sql.cteRecursionLevelLimit=100), LEFT-joined to per-month order
# aggregates so gap months surface with zero counts — the canonical
# "report over a dense calendar" query shape that plain GROUP BY cannot
# produce. The recursion generates ONE ROW per month on the driver-side
# loop of iterations; the heavy table is only scanned once for the
# aggregate side, so the recursive part is never the scale bottleneck.
# The DuckDB twin uses its own WITH RECURSIVE with interval arithmetic
# (no add_months in DuckDB; engines differ in SQL text, must agree in
# rows).
# --------------------------------------------------------------------------
def v07_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Bounds are collected ONCE on the driver (a 2-scalar aggregate, not
    # a data collect) and inlined as literals. The first cut anchored
    # the recursion on a bounds CTE with a scalar subquery in the
    # recursive step — each of ~80 iterations re-planned against orders
    # and the query took 23 s at sf0.1. Recursion depth is also kept at
    # YEAR granularity (≤ a few dozen iterations ever, vs ~12× that for
    # months): Spark executes one driver-coordinated job per recursive
    # step, so depth — not row volume — is the cost driver; months then
    # fan out via a lateral explode inside the same iteration's rows.
    b = spark.sql(
        "SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) AS mn, "
        "CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE) AS mx FROM orders"
    ).first()
    return spark.sql(
        f"""
        WITH RECURSIVE years(y) AS (
          SELECT {b.mn.year}
          UNION ALL
          SELECT y + 1 FROM years WHERE y < {b.mx.year}
        ),
        spine AS (
          SELECT make_date(y, mo, 1) AS m
          FROM years LATERAL VIEW explode(sequence(1, 12)) AS mo
          WHERE make_date(y, mo, 1) BETWEEN DATE '{b.mn}' AND DATE '{b.mx}'
        ),
        per_month AS (
          SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          FROM orders GROUP BY 1
        )
        SELECT CAST(s.m AS STRING) AS month,
               COALESCE(p.n_orders, 0) AS n_orders,
               ROUND(COALESCE(p.revenue, 0.0), 2) AS revenue
        FROM spine s LEFT JOIN per_month p ON s.m = p.m
        ORDER BY s.m
        """
    )


V07_SQL = """
WITH RECURSIVE bounds AS (
  SELECT date_trunc('month', MIN(o_orderdate)) AS mn,
         date_trunc('month', MAX(o_orderdate)) AS mx
  FROM orders
),
spine(m) AS (
  SELECT mn FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine WHERE m < (SELECT mx FROM bounds)
),
per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT CAST(s.m AS VARCHAR) AS month,
       COALESCE(p.n_orders, 0) AS n_orders,
       ROUND(COALESCE(p.revenue, 0.0), 2) AS revenue
FROM spine s LEFT JOIN per_month p ON s.m = p.m
ORDER BY s.m
"""


# --------------------------------------------------------------------------
# v08: SQL-language scalar UDF (oracle-parity-tested in
# test_round6_ops.py::test_v08_matches_duckdb_oracle).
#
# Spark 4's `CREATE FUNCTION ... RETURN <expr>` (SQL UDFs,
# SPARK-46087): the function body is INLINED into the plan by the
# analyzer, so unlike every Python UDF it stays inside codegen — the
# one UDF mechanism with zero hot-path penalty at 100 TB. Demonstrated
# by registering a discounted-price function + a price-band
# classifier, then aggregating through both.
# --------------------------------------------------------------------------
def v08_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # decimal-in, decimal-out body: the 2-dp-valued double inputs cast
    # exactly, the multiply is exact decimal arithmetic — NEVER cast a
    # computed double product to decimal (Spark rounds half-up, DuckDB
    # half-even; .005 boundaries diverge)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(38,4) "
        "RETURN CAST(p AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN p >= 50000 THEN 'high' WHEN p >= 20000 THEN 'mid' ELSE 'low' END"
    )
    return spark.sql(
        """
        SELECT l_returnflag, price_band(l_extendedprice) AS band,
               COUNT(*) AS n_items,
               CAST(SUM(disc_price(l_extendedprice, l_discount)) AS DOUBLE)
                 AS disc_revenue
        FROM lineitem
        GROUP BY l_returnflag, price_band(l_extendedprice)
        ORDER BY l_returnflag, band
        """
    )


# oracle = the same query with the function bodies inlined (which is
# exactly what Spark's analyzer does with the SQL UDF)
V08_SQL = """
SELECT l_returnflag,
       CASE WHEN l_extendedprice >= 50000 THEN 'high'
            WHEN l_extendedprice >= 20000 THEN 'mid'
            ELSE 'low' END AS band,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS disc_revenue
FROM lineitem
GROUP BY 1, 2
ORDER BY l_returnflag, band
"""


# --------------------------------------------------------------------------
# v09: SQL TABLE function + LATERAL correlation (oracle-parity-tested in
# test_round6_ops.py::test_v09_matches_duckdb_oracle).
#
# Spark 4's `CREATE FUNCTION ... RETURNS TABLE` (SQL UDTF): a
# parameterized relation the analyzer inlines per call site, here
# invoked via LATERAL so each dimension row drives its own correlated
# top-k — the reusable-subquery API without any Python UDTF overhead.
# (A parameterized LIMIT is rejected as unfoldable; the body uses a
# window rank bound instead — the same plan a correlated top-k wants.)
# --------------------------------------------------------------------------
_V09_K = 3


def v09_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION top_orders_of(seg STRING, k INT)
        RETURNS TABLE (o_orderkey BIGINT, o_totalprice DOUBLE, rnk INT)
        RETURN SELECT o_orderkey, o_totalprice, rnk FROM (
          SELECT o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
          FROM orders WHERE o_orderpriority = seg
        ) WHERE rnk <= k
        """
    )
    return spark.sql(
        f"""
        SELECT p.priority, t.rnk, t.o_orderkey,
               ROUND(t.o_totalprice, 2) AS o_totalprice
        FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p,
             LATERAL top_orders_of(p.priority, {_V09_K}) t
        ORDER BY p.priority, t.rnk
        """
    )


V09_SQL = f"""
SELECT o_orderpriority AS priority,
       CAST(rnk AS INT) AS rnk, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= {_V09_K}
ORDER BY priority, rnk
"""


# --------------------------------------------------------------------------
# v10: SQL PIPE syntax (oracle-parity-tested in
# test_round6_ops.py::test_v10_matches_duckdb_oracle).
#
# Spark 4's pipe operator syntax (SPARK-49555, `|>`): linear
# FROM → WHERE → EXTEND → AGGREGATE … GROUP BY → ORDER BY chains that
# parse to EXACTLY the same logical plan as the classic query — pure
# front-end sugar, so Catalyst pushdown/pruning/codegen all apply
# unchanged. The oracle is the classic-SQL spelling of the same query,
# which doubles as the semantic proof of that equivalence.
# --------------------------------------------------------------------------
def v10_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM documents
        |> WHERE lang IN ('en', 'de', 'fr')
        |> EXTEND CAST(n_chars AS DOUBLE) / 100.0 AS hectochars
        |> AGGREGATE COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                     ROUND(AVG(hectochars), 4) AS avg_hectochars
           GROUP BY lang, source
        |> WHERE n_docs > 1
        |> ORDER BY lang, source
        """
    )


V10_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(CAST(n_chars AS DOUBLE) / 100.0), 4) AS avg_hectochars
FROM documents
WHERE lang IN ('en', 'de', 'fr')
GROUP BY lang, source
HAVING COUNT(*) > 1
ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# v11: parameterized SQL + IDENTIFIER clause (oracle-parity-tested in
# test_round6_ops.py::test_v11_matches_duckdb_oracle).
#
# Spark's named-parameter binding (`spark.sql(text, args={...})`,
# SPARK-41271) + the IDENTIFIER clause (SPARK-43205): values bind as
# typed literals (never string-spliced — the SQL-injection-safe path
# every templated pipeline should use) and IDENTIFIER() parameterizes
# the table/column NAME position, which plain parameter markers cannot
# occupy. The oracle is the same query with literals inlined — exactly
# what binding resolves to, so a hash match proves the mechanism is
# semantically transparent.
# --------------------------------------------------------------------------
def v11_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= :start_date AND o_orderdate < :end_date
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={
            "tbl": "orders",
            "start_date": "1995-01-01",
            "end_date": "1996-01-01",
            "status": "F",
        },
    )


V11_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# v12: GROUP BY ALL / ORDER BY ALL (oracle-parity-tested in
# test_round6_ops.py::test_v12_matches_duckdb_oracle).
#
# The analyst-ergonomics syntax (SPARK-41440): grouping keys inferred
# as every non-aggregate select item, ordering as the full select
# list — resolves to exactly the explicit query (which is what the
# oracle states), so it is front-end sugar with an unchanged plan.
# --------------------------------------------------------------------------
def v12_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE n_chars > 100
        GROUP BY ALL
        ORDER BY ALL
        """
    )


V12_SQL = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE n_chars > 100
GROUP BY lang, source
ORDER BY lang, source, n_docs, total_chars
"""


# --------------------------------------------------------------------------
# v13: SQL scripting (Spark 4, SPARK-48338) (oracle-parity-tested in
# test_round7_ops.py::test_v13_matches_duckdb_oracle).
#
# BEGIN…END procedural SQL: DECLARE a variable, WHILE-loop doubling a
# price threshold until fewer than 100 orders exceed it, return the
# landing threshold + count. Scripting is CONTROL FLOW around
# declarative statements — each loop iteration is one ordinary
# Catalyst-planned aggregate (log₂-bounded iterations here), so the
# 100 TB guidance stands: keep per-statement work declarative and use
# scripts only to sequence it. Oracle: DuckDB has no scripting, so the
# loop's fixpoint is restated closed-form over a pow(2, i) series —
# the semantic-equivalence proof. (v15 below declares its threshold
# UNROUNDED: max*0.5 is the bit-identical double on both engines,
# while rounding that computed quotient to 2dp is exact-half-reachable
# — the u09 divergence class.)
# --------------------------------------------------------------------------
def v13_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 1000.0;
          WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) >= 100 DO
            SET thr = thr * 2;
          END WHILE;
          SELECT thr AS threshold,
                 (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) AS n_above;
        END
        """
    )


V13_SQL = """
WITH series AS (
  SELECT 1000.0 * pow(2, CAST(i AS INT)) AS thr FROM range(0, 41) t(i)
),
counted AS (
  SELECT thr, (SELECT COUNT(*) FROM orders o WHERE o.o_totalprice > s.thr) AS n
  FROM series s
)
SELECT thr AS threshold, n AS n_above
FROM counted WHERE n < 100
ORDER BY thr LIMIT 1
"""


# --------------------------------------------------------------------------
# v14: pandas API on Spark (pyspark.pandas) (oracle-parity-tested in
# test_round7_ops.py::test_v14_matches_duckdb_oracle).
#
# The engine's THIRD front door beside the DataFrame DSL and
# spark.sql(): pandas-shaped code (groupby/agg/reset_index) that plans
# through the same Catalyst pipeline — the migration surface for
# pandas-native data teams. The query round-trips ps.DataFrame →
# groupby-agg → .to_spark() and the oracle proves the result is the
# plain SQL aggregate. Scale note: pandas-API ops compile to ordinary
# distributed plans (this one: a single hash aggregate); only APIs
# documented to collect (to_pandas, default sequential index) pull to
# the driver — avoided here.
# --------------------------------------------------------------------------
def v14_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps

    # index_col pins the frame's index to a real column: without it the
    # pandas API attaches its "distributed-sequence" default index — an
    # extra zipWithIndex-style computation attached to every downstream
    # plan purely to emulate pandas row numbers, pure waste at scale.
    psdf = ps.read_parquet(f"{sf_dir}/documents.parquet", index_col="doc_id")
    agg = psdf.groupby("source").agg(
        n_docs=("n_chars", "count"),
        total_chars=("n_chars", "sum"),
        avg_chars=("n_chars", "mean"),
    )
    # keep `source` as the frame's index and hand it back to Spark via
    # index_col — reset_index() would re-attach the default index and
    # reintroduce the sequence computation the read avoided.
    sdf = agg.to_spark(index_col="source")
    from pyspark.sql import functions as F

    return sdf.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.round(F.col("avg_chars"), 4).alias("avg_chars"),
    ).orderBy("source")


V14_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# v15: SQL session variables (DECLARE VARIABLE / SET VAR)
# (oracle-parity-tested in
# test_round7_ops.py::test_v15_matches_duckdb_oracle).
#
# The session-state surface scripting (v13) builds on, usable from
# plain multi-statement SQL: DECLARE a typed variable, SET it from a
# scalar subquery, reference it in later statements. The threshold is
# max(o_totalprice) * 0.5 deliberately: max is exact (no float
# summation) and *0.5 is a power-of-two scale, so both engines compute
# the bit-identical boundary and the > filter can never flip on ulp
# drift. Variables are driver-side scalars folded into the plan as
# literals — at 100 TB they parameterize pruning predicates for free
# (no JVM round trip per row, unlike a UDF-based parameter).
# --------------------------------------------------------------------------
def v15_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE price_thr DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_thr = (SELECT max(o_totalprice) * 0.5 FROM orders)")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               price_thr AS thr_used
        FROM orders
        WHERE o_totalprice > price_thr
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


V15_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       (SELECT max(o_totalprice) * 0.5 FROM orders) AS thr_used
FROM orders
WHERE o_totalprice > (SELECT max(o_totalprice) * 0.5 FROM orders)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# v16: POLYMORPHIC Python UDTF (static analyze, SPARK-44503)
# (oracle-parity-tested in
# test_round7_ops.py::test_v16_matches_duckdb_oracle).
#
# u05 covers the fixed-schema Arrow UDTF; this covers the half the
# API adds on top: `analyze()` computes the OUTPUT SCHEMA from the
# call's constant arguments at plan time — lead_tokens(ctext, 3)
# plans three string columns, lead_tokens(ctext, 5) five — the
# mechanism behind parse-to-columns table functions whose width is a
# query-site choice. eval yields one row per document (missing tokens
# as '' to match split_part's convention). Scale note: the UDTF runs
# row-parallel with no state; width-k is a plan-time constant so the
# downstream aggregate is an ordinary k-column hash aggregate.
# --------------------------------------------------------------------------
def v16_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    from nlp_data_pipeline_spark.functions.text import clean_text
    from nlp_data_pipeline_spark.sources.catalog import load_table

    class LeadTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(k.value):
                schema = schema.add(f"tok{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, k: int):
            toks = (text or "").split()
            yield tuple(toks[i] if i < len(toks) else "" for i in range(k))

    spark.udtf.register("lead_tokens", udtf(LeadTokens))
    load_table(spark, sf_dir, "documents").select(
        "doc_id", clean_text("text").alias("ctext")
    ).createOrReplaceTempView("v16_cleaned_docs")
    return spark.sql(
        """
        SELECT t.tok1, t.tok2, COUNT(*) AS n_docs
        FROM v16_cleaned_docs d, LATERAL lead_tokens(d.ctext, 2) t
        GROUP BY t.tok1, t.tok2
        ORDER BY n_docs DESC, tok1, tok2
        LIMIT 20
        """
    )


from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL  # noqa: E402

V16_SQL = f"""
WITH cleaned AS (SELECT doc_id, {_CLEAN_SQL} AS ctext FROM documents)
SELECT split_part(ctext, ' ', 1) AS tok1,
       split_part(ctext, ' ', 2) AS tok2,
       COUNT(*) AS n_docs
FROM cleaned
GROUP BY tok1, tok2
ORDER BY n_docs DESC, tok1, tok2
LIMIT 20
"""


# --------------------------------------------------------------------------
# v17: UDTF with a TABLE argument (SPARK-44233) (oracle-parity-tested in
# test_round7_ops.py::test_v17_matches_duckdb_oracle).
#
# The table-valued INPUT half of the UDTF surface (v03/u05/v16 cover
# scalar-argument UDTFs): `my_udtf(TABLE(t) PARTITION BY k)` streams
# each partition's rows through one stateful Python instance — eval()
# per row, terminate() emits the partition's result. This is the
# Pythonic per-group reduce for logic that wants ROW-BY-ROW state
# (parsers, sessionizers, legacy per-group code) without collecting
# the group into a single pandas frame first (u02's applyInPandas
# materializes the whole group; a UDTF streams it). Scale: one
# shuffle on the PARTITION BY key, state = one accumulator per open
# partition. The oracle restates the fold as a plain aggregate —
# provable because this accumulator is order-insensitive; anything
# order-SENSITIVE would need WITH ORDER BY inside the TABLE arg.
# --------------------------------------------------------------------------
def v17_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    class SourceProfile:
        def __init__(self):
            self.source = None
            self.n = 0
            self.chars = 0
            self.longest = -1
            self.longest_doc = None

        def eval(self, row):
            self.source = row["source"]
            self.n += 1
            self.chars += row["n_chars"]
            # tie-break: lowest doc_id among max-length docs
            key = (row["n_chars"], -row["doc_id"])
            if self.longest_doc is None or key > (self.longest, -self.longest_doc):
                self.longest = row["n_chars"]
                self.longest_doc = row["doc_id"]

        def terminate(self):
            yield self.source, self.n, self.chars, self.longest_doc

    spark.udtf.register(
        "source_profile",
        udtf(
            SourceProfile,
            returnType="source string, n_docs long, total_chars long, longest_doc_id long",
        ),
    )
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.source, s.n_docs, s.total_chars, s.longest_doc_id
        FROM source_profile(TABLE(documents) PARTITION BY source) s
        ORDER BY s.source
        """
    )


V17_SQL = """
WITH mx AS (SELECT source, MAX(n_chars) AS mc FROM documents GROUP BY source),
best AS (
  SELECT d.source, MIN(d.doc_id) AS longest_doc_id
  FROM documents d JOIN mx ON d.source = mx.source AND d.n_chars = mx.mc
  GROUP BY d.source
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       any_value(b.longest_doc_id) AS longest_doc_id
FROM documents d JOIN best b ON d.source = b.source
GROUP BY d.source
ORDER BY d.source
"""


# --------------------------------------------------------------------------
# v18: ANSI three-valued-logic battery. One shared SQL text both
# engines run verbatim, pinning the NULL semantics that silently
# corrupt pipelines when an engine (or a hand-rolled operator)
# deviates: NOT IN against a set CONTAINING NULL matches nothing
# (x <> NULL is UNKNOWN, so the conjunction can never be TRUE — the
# classic anti-join-rewrite trap, and why q04/q07 use NOT EXISTS
# shapes); IN against the same set still finds positive matches;
# COUNT(col) skips NULLs while COUNT(*) does not; COUNT(DISTINCT col)
# skips NULLs entirely but GROUP BY gathers them into ONE group
# (distinct-vs-grouping asymmetry); AVG ignores NULLs in both numerator
# and denominator. Declared as a single row of counts — every value is
# a BIGINT or an exactly-representable small average. The NULLs are
# manufactured with NULLIF (the TPC-H-ish tables ship none).
# q35 covers the null-safe JOIN operator (<=>); this battery covers
# the predicate/aggregate side of the same contract.
# --------------------------------------------------------------------------
_V18_SQL = """
WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0),
cust_null AS (SELECT c_custkey FROM cust UNION ALL SELECT NULL),
o AS (SELECT o_orderkey, o_custkey,
             NULLIF(o_orderpriority, '1-URGENT') AS prio,
             CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                  ELSE CAST(o_orderkey % 7 AS DOUBLE) END AS v
      FROM orders)
SELECT
  (SELECT COUNT(*) FROM o
    WHERE o_custkey IN (SELECT c_custkey FROM cust)) AS n_in,
  (SELECT COUNT(*) FROM o
    WHERE o_custkey NOT IN (SELECT c_custkey FROM cust)) AS n_not_in,
  (SELECT COUNT(*) FROM o
    WHERE o_custkey IN (SELECT c_custkey FROM cust_null)) AS n_in_nullset,
  (SELECT COUNT(*) FROM o
    WHERE o_custkey NOT IN (SELECT c_custkey FROM cust_null))
    AS n_not_in_nullset,
  (SELECT COUNT(*) FROM o) AS n_rows,
  (SELECT COUNT(prio) FROM o) AS n_prio_nonnull,
  (SELECT COUNT(DISTINCT prio) FROM o) AS n_prio_distinct,
  (SELECT COUNT(*) FROM (SELECT prio FROM o GROUP BY prio) g) AS n_groups,
  (SELECT AVG(v) FROM o) AS avg_skips_nulls
"""


def v18_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V18_SQL)


V18_SQL = _V18_SQL


# --------------------------------------------------------------------------
# v19: error-safe `try_*` functions. Under ANSI mode (the Spark 4
# default) arithmetic overflow, bad casts, division by zero, and
# out-of-bounds element access THROW — correct for catching bugs,
# fatal for a 100 TB batch job where one malformed row otherwise
# kills a 12-hour run at hour 11. The engineered alternative to
# flipping ANSI off is the `try_*` family (try_divide / try_cast /
# try_add / try_element_at): per-expression NULL-on-error with the
# strict semantics kept everywhere else. This battery counts each
# failure mode over `orders` so a semantics regression (a try_*
# starting to throw, or swallowing successes) flips exact counts.
# Unlike v18 the SQL text is NOT shared: DuckDB has TRY_CAST but no
# try_divide/try_add, so the oracle states the same counts via
# explicit CASE guards — the pair proves the null-injection sites
# agree, not just that both engines parse one dialect.
# --------------------------------------------------------------------------
_V19_SQL = """
SELECT
  COUNT(*) AS n_rows,
  COUNT(try_divide(o_totalprice, o_orderkey % 5)) AS n_div_ok,
  COUNT(*) - COUNT(try_divide(o_totalprice, o_orderkey % 5)) AS n_div_null,
  COUNT(try_cast(o_orderpriority AS INT)) AS n_cast_word_ok,
  COUNT(try_cast(substring(o_orderpriority, 1, 1) AS INT)) AS n_cast_digit_ok,
  COUNT(try_add(9223372036854775807, o_orderkey)) AS n_add_ok,
  COUNT(try_element_at(array(o_orderkey, o_orderkey + 1),
                       CAST(1 + o_orderkey % 3 AS INT))) AS n_elem_ok
FROM orders
"""


def v19_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V19_SQL)


V19_SQL = """
SELECT
  COUNT(*) AS n_rows,
  CAST(COALESCE(SUM(CASE WHEN o_orderkey % 5 != 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_div_ok,
  CAST(COALESCE(SUM(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_div_null,
  CAST(COUNT(TRY_CAST(o_orderpriority AS INT)) AS BIGINT) AS n_cast_word_ok,
  CAST(COUNT(TRY_CAST(substring(o_orderpriority, 1, 1) AS INT)) AS BIGINT)
    AS n_cast_digit_ok,
  -- BIGINT_MAX + k overflows for every k >= 1; the generator's keys
  -- include a single 0 (MAX + 0 is representable)
  CAST(COALESCE(SUM(CASE WHEN o_orderkey <= 0 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_add_ok,
  -- try_element_at over a 2-element array at index 1 + k%3 (1, 2, 3):
  -- indexes 1 and 2 succeed, 3 is out-of-bounds and null-folds (index
  -- 0 is a compile-style INVALID_INDEX_OF_ZERO error that even the
  -- try_ form refuses, so it never appears here)
  CAST(COALESCE(SUM(CASE WHEN o_orderkey % 3 != 2 THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS n_elem_ok
FROM orders
"""


# --------------------------------------------------------------------------
# v21: observe() / Observation metrics. The API every
# production pipeline needs and almost nobody declares: named metrics
# accumulated DURING a real pass (df.observe(Observation, aggs...)) —
# row counts, value masses, null tallies — collected at zero extra
# cost (no second scan, no count() re-run) as the job's own action
# executes. Staged here: an events pass whose action is a parquet
# write to scratch (a realistic sink), with the observation riding
# it; the declared row IS the observed metrics. The oracle computes
# the same aggregates with plain SQL — equality proves the
# observation saw every row exactly once (a re-scan or partial scan
# would double or drop).
#
# Hash-gate discipline: counts are BIGINTs; the value mass goes
# through DECIMAL(18,2) (the money rule). Scale: observe() is the
# 100-TB answer to "how many rows did this job actually write" —
# accumulator-based, zero extra passes; never run count() after an
# action you could have observed.
# --------------------------------------------------------------------------
def v21_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.scratch import scratch_path
    from nlp_data_pipeline_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    obs = Observation("v21")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("value_mass"),
        F.sum((F.col("event_type") == "signup").cast("long")).alias("n_signups"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
    )
    root = scratch_path(f"v21_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    observed.write.parquet(root)  # the real action the metrics ride
    m = obs.get
    # decimal-exact inside the pass, declared as DOUBLE at the edge
    # (the V01 money rule — the driver compares float64 kinds)
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["value_mass"]),
                int(m["n_signups"]),
                int(m["n_null_value"]),
            )
        ],
        "n_rows long, value_mass double, n_signups long, n_null_value long",
    )


V21_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_mass,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_signups,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value
FROM events
"""


# --------------------------------------------------------------------------
# v23: explicit NULL-ordering battery. The silent portability
# trap in every ORDER BY: engines DISAGREE on default null placement
# (Spark sorts NULLs FIRST ascending, DuckDB LAST), so any ranking
# over a nullable key is engine-dependent unless NULLS FIRST/LAST is
# spelled out. This battery nullifies a value column on a
# deterministic rule, then declares rankings under BOTH explicit
# placements from one shared ANSI text — green only because every
# ORDER BY names its null placement; drop either clause and the two
# engines produce different rank-1 rows.
# Scale: ordinary window sorts; the lesson is the spelling, not the
# plan.
# --------------------------------------------------------------------------
_V23_TEXT = """
WITH e AS (
  SELECT event_id, user_id,
         CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events
  WHERE event_id < 200
),
ranked AS (
  SELECT event_id, user_id, v,
         ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, event_id)
           AS rn_nulls_first,
         ROW_NUMBER() OVER (ORDER BY v ASC NULLS LAST, event_id)
           AS rn_nulls_last
  FROM e
)
SELECT event_id, user_id, v, rn_nulls_first, rn_nulls_last,
       v IS NULL AS is_null_key
FROM ranked
ORDER BY event_id
"""


def v23_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V23_TEXT)


V23_SQL = _V23_TEXT


# --------------------------------------------------------------------------
# v22: argmax/conditional aggregate battery. The modern aggregate
# family the classic suite never touches: count_if (predicate count
# without CASE), bool_and/bool_or (universal/existential per group),
# and max_by/min_by (argmax/argmin — "the event type of the user's
# LAST event" in one aggregate, no self-join, no window). One shared
# ANSI text runs on both engines (the v18/v20 battery pattern).
# Determinism note: max_by/min_by are only deterministic when the
# ordering key is UNIQUE within the group — keyed here on the
# globally-unique event_id, never on a timestamp that could tie.
# Scale: all five are ordinary partial-aggregable functions — one
# shuffle on the group key; max_by replaces the rank-1-window
# anti-pattern (sort per group) with a running argmax (O(1) state).
# --------------------------------------------------------------------------
_V22_TEXT = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(count_if(value > 5) AS BIGINT) AS n_high_value,
       bool_and(value IS NOT NULL) AS all_valued,
       bool_or(event_type = 'purchase') AS ever_purchased,
       max_by(event_type, event_id) AS last_event_type,
       min_by(event_type, event_id) AS first_event_type
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def v22_aggregate_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V22_TEXT)


V22_SQL = _V22_TEXT


# --------------------------------------------------------------------------
# v20: bag-semantics set operations. q14 covers DISTINCT set ops; the
# ALL variants are a different operator family with different physical
# plans (INTERSECT ALL / EXCEPT ALL keep multiplicities — Spark lowers
# them to count-matching aggregations, not joins) and they are what
# data-reconciliation actually needs: "how many rows of batch A
# survive in batch B COUNTING DUPLICATES". One shared ANSI text runs
# on both engines (the v18 battery pattern), grouped so the declared
# rows are the per-type multiplicity accounting of A∩B, A∖B, B∖A.
# Scale: each ALL-op is one aggregation on the compared key — no
# pairwise join; exactly as shuffle-bound as a groupBy at 100 TB.
# --------------------------------------------------------------------------
_V20_TEXT = """
WITH a AS (SELECT event_type FROM events WHERE value > 5),
b AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
eab AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
eba AS (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
SELECT op, event_type, n FROM (
  SELECT 'intersect_all' AS op, event_type, COUNT(*) AS n FROM ia GROUP BY event_type
  UNION ALL
  SELECT 'except_a_minus_b' AS op, event_type, COUNT(*) AS n FROM eab GROUP BY event_type
  UNION ALL
  SELECT 'except_b_minus_a' AS op, event_type, COUNT(*) AS n FROM eba GROUP BY event_type
) u
ORDER BY op, event_type
"""


def v20_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V20_TEXT)


V20_SQL = _V20_TEXT


# --------------------------------------------------------------------------
# v24: SQL UNPIVOT clause. q34 melts with the DataFrame `unpivot()` API;
# the SQL-text spelling is its own surface: Spark's relational
# UNPIVOT clause (SPARK-39877), exercised here in its FULL form —
# MULTI-measure ((n_orders, cents) per status) with aliased source
# column groups — over a conditional-aggregation wide table of
# orders by priority × status. The oracle is the classic UNION ALL
# longhand (the v10 semantic-equivalence pattern: same relation, two
# spellings — DuckDB's UNPIVOT dialect differs, so the longhand is
# also the portability statement). Money goes through DECIMAL(18,2)
# and declares as exact BIGINT cents (the q60 discipline); the wide
# CTE is ONE shared text both engines run verbatim.
# Scale: UNPIVOT is a zero-shuffle local expand (k rows out per row
# in) — the cheap direction; the wide CTE is one map-combined
# aggregation on a tiny key space.
# --------------------------------------------------------------------------
_V24_WIDE = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         CAST(SUM(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c_f,
         CAST(SUM(CASE WHEN o_orderstatus = 'O'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c_o,
         CAST(SUM(CASE WHEN o_orderstatus = 'P'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS c_p
  FROM orders
  GROUP BY o_orderpriority
)
"""

_V24_TEXT = (
    _V24_WIDE
    + """
SELECT o_orderpriority, status, n_orders, cents
FROM wide UNPIVOT ((n_orders, cents) FOR status IN
  ((n_f, c_f) AS `F`, (n_o, c_o) AS `O`, (n_p, c_p) AS `P`))
ORDER BY o_orderpriority, status
"""
)


def v24_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_V24_TEXT)


V24_SQL = (
    _V24_WIDE
    + """
SELECT o_orderpriority, status, n_orders, cents FROM (
  SELECT o_orderpriority, 'F' AS status, n_f AS n_orders, c_f AS cents FROM wide
  UNION ALL
  SELECT o_orderpriority, 'O' AS status, n_o AS n_orders, c_o AS cents FROM wide
  UNION ALL
  SELECT o_orderpriority, 'P' AS status, n_p AS n_orders, c_p AS cents FROM wide
) u
ORDER BY o_orderpriority, status
"""
)


QUERIES = {
    "v01_sql_big_spenders": v01_sql_big_spenders,
    "v02_sql_correlated_subquery": v02_sql_correlated_subquery,
    "v03_sentence_udtf": v03_sentence_udtf,
    "v04_grouping_sets": v04_grouping_sets,
    "v05_sql_pivot": v05_sql_pivot,
    "v06_sql_lateral_explode": v06_sql_lateral_explode,
    "v07_recursive_month_spine": v07_recursive_month_spine,
    "u05_arrow_udtf_chunks": u05_arrow_udtf_chunks,
    "v08_sql_scalar_udf": v08_sql_scalar_udf,
    "v09_sql_table_function": v09_sql_table_function,
    "v10_pipe_syntax": v10_pipe_syntax,
    "v11_parameterized_sql": v11_parameterized_sql,
    "v12_group_by_all": v12_group_by_all,
    "v13_sql_scripting": v13_sql_scripting,
    "v14_pandas_api": v14_pandas_api,
    "v15_sql_variables": v15_sql_variables,
    "v16_polymorphic_udtf": v16_polymorphic_udtf,
    "v17_udtf_table_argument": v17_udtf_table_argument,
    "v19_try_functions": v19_try_functions,
    "v20_bag_set_ops": v20_bag_set_ops,
    "v21_observe_metrics": v21_observe_metrics,
    "v22_aggregate_battery": v22_aggregate_battery,
    "v18_null_semantics": v18_null_semantics,
    "v23_null_ordering": v23_null_ordering,
    "v24_sql_unpivot": v24_sql_unpivot,
}

ORACLES = {
    "v01_sql_big_spenders": V01_SQL,
    "v02_sql_correlated_subquery": V02_SQL,
    "v03_sentence_udtf": V03_SQL,
    "v04_grouping_sets": V04_SQL,
    "v05_sql_pivot": V05_SQL,
    "v06_sql_lateral_explode": V06_SQL,
    "v07_recursive_month_spine": V07_SQL,
    "u05_arrow_udtf_chunks": U05_SQL,
    "v08_sql_scalar_udf": V08_SQL,
    "v09_sql_table_function": V09_SQL,
    "v10_pipe_syntax": V10_SQL,
    "v11_parameterized_sql": V11_SQL,
    "v12_group_by_all": V12_SQL,
    "v13_sql_scripting": V13_SQL,
    "v14_pandas_api": V14_SQL,
    "v15_sql_variables": V15_SQL,
    "v16_polymorphic_udtf": V16_SQL,
    "v17_udtf_table_argument": V17_SQL,
    "v19_try_functions": V19_SQL,
    "v20_bag_set_ops": V20_SQL,
    "v21_observe_metrics": V21_SQL,
    "v22_aggregate_battery": V22_SQL,
    "v18_null_semantics": V18_SQL,
    "v23_null_ordering": V23_SQL,
    "v24_sql_unpivot": V24_SQL,
}
