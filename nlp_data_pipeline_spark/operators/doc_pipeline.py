"""End-to-end document pipeline — the reference application's main()
flow as ONE declarative DataFrame program.

Reference structure (/root/reference/nlp_data_tagging.py:387-431):
pass 1 per document: extract → preprocess → tokenize → summarize,
building the results record (:410-418); pass 2: corpus topic fit then
per-doc tags (:421-429); then export projection + CSV (:515-535).

Here pass 1 is a single narrow select (no shuffle at all), pass 2 is
the MLlib fit/transform barrier (inherent — model state must exist
before inference), and the export is a projection + csv sink. The
reference's sequential per-file loop disappears: every stage is
partition-parallel.

p01/p02 are the oracle surface: every deterministic column of the
reference's export schema (:515-526). p03 adds the tags column via the
reference's deterministic fallback-tag path (oracle-exact; the LDA
variant stays internal). r01 exercises the csv sink+source round trip.
a01 covers the approximate-aggregate envelope (HLL distinct,
approximate percentiles) verified in-row against exact oracled twins.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.functions.text import clean_text, tokenize, tokenize_joined, truncate_at_word
from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL, _STOP_SQL
from nlp_data_pipeline_spark.sources.catalog import load_table
from nlp_data_pipeline_spark.sources.writers import write_csv
from nlp_data_pipeline_spark.scratch import scratch_path

_SUMMARY_SQL = """
CASE WHEN length(ctext) > 150 THEN
  CASE WHEN strpos(reverse(substring(ctext, 1, 150)), ' ') > 0
       THEN substring(ctext, 1, 150 - strpos(reverse(substring(ctext, 1, 150)), ' ')) || '...'
       ELSE substring(ctext, 1, 150) || '...'
  END
ELSE ctext END
"""


def _tmp_stage(name: str) -> str:
    """Per-process staging dir, wiped on entry: repeated bench/test runs
    REUSE the same path instead of accumulating mkdtemp copies under
    /tmp (the r09 lesson, applied to every roundtrip stage here)."""
    import shutil

    path = scratch_path(f"{name}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


# --------------------------------------------------------------------------
# p01: per-document pipeline records (reference :410-418, minus tags).
# filename ≅ "doc_<id>.txt" (the driver corpus has no file names).
# The summary column takes the early-exit branch on this corpus; the
# general path is the same machinery as t05.
# --------------------------------------------------------------------------
def p01_document_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ctext = clean_text("text")
    return d.select(
        F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")).alias("filename"),
        ctext.alias("cleaned_text"),
        tokenize_joined(ctext).alias("processed_text"),
        truncate_at_word(ctext, 150).alias("summary"),
        F.length("text").cast("long").alias("text_length"),
        F.length(truncate_at_word(ctext, 150)).cast("long").alias("summary_length"),
    )


P01_SQL = f"""
WITH cleaned AS (SELECT doc_id, text, {_CLEAN_SQL} AS ctext FROM documents),
toks AS (
  SELECT doc_id, text, ctext,
         list_filter(string_split(ctext, ' '),
                     t -> length(t) > 2 AND lower(t) NOT IN ({_STOP_SQL}) AND t != '') AS tok_list
  FROM cleaned
)
SELECT 'doc_' || doc_id || '.txt' AS filename,
       ctext AS cleaned_text,
       array_to_string(tok_list, ' ') AS processed_text,
       {_SUMMARY_SQL} AS summary,
       length(text) AS text_length,
       length({_SUMMARY_SQL}) AS summary_length
FROM toks
"""


# --------------------------------------------------------------------------
# p02: export projection (reference :515-526): the CSV schema the app
# offers for download, tags excluded (model-dependent → p03).
# --------------------------------------------------------------------------
def p02_export_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = p01_document_records(spark, sf_dir)
    return rec.select(
        F.col("filename").alias("Filename"),
        F.col("summary").alias("Summary"),
        F.col("text_length").alias("Original_Length"),
        F.col("summary_length").alias("Summary_Length"),
        F.round(F.col("summary_length") / F.col("text_length"), 3).alias("Compression_Ratio"),
    )


P02_SQL = f"""
WITH cleaned AS (SELECT doc_id, text, {_CLEAN_SQL} AS ctext FROM documents)
SELECT 'doc_' || doc_id || '.txt' AS "Filename",
       {_SUMMARY_SQL} AS "Summary",
       length(text) AS "Original_Length",
       length({_SUMMARY_SQL}) AS "Summary_Length",
       round(CAST(length({_SUMMARY_SQL}) AS DOUBLE) / length(text), 3) AS "Compression_Ratio"
FROM cleaned
"""


# --------------------------------------------------------------------------
# p03: full records WITH tags — the complete reference app output
# (:426-429 + :515-526). The declared query uses the reference's own
# deterministic fallback-tag path (generate_tags with no model falls
# back to frequency tags, :214-215 → fallback_tags :217-237, our t11),
# so the whole export row — including tags — is oracle-exact. The
# LDA-tag variant (model-dependent, rows-only by nature) is kept as
# p03_records_with_lda_tags below, NOT declared in QUERIES.
# --------------------------------------------------------------------------
def p03_records_with_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from nlp_data_pipeline_spark.operators.text_analytics import t11_fallback_tags

    rec = p01_document_records(spark, sf_dir).withColumn(
        "doc_id", F.regexp_extract("filename", r"doc_(\d+)\.txt", 1).cast("long")
    )
    ranked = t11_fallback_tags(spark, sf_dir)  # (doc_id, tag, cnt, tag_rank)
    tags = ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tag_rank", "tag"))),
                lambda s: s.tag,
            ),
            ", ",
        ).alias("tags_joined")  # :521 ', '.join in rank order
    )
    return rec.join(tags, "doc_id").select(
        "filename", "summary", "tags_joined", "text_length", "summary_length"
    )


P03_SQL = f"""
WITH cleaned AS (SELECT doc_id, text, {_CLEAN_SQL} AS ctext FROM documents),
toklists AS (
  SELECT doc_id, text, ctext,
         list_filter(string_split(ctext, ' '),
                     t -> length(t) > 2 AND lower(t) NOT IN ({_STOP_SQL}) AND t != '') AS t
  FROM cleaned
),
terms AS (
  SELECT doc_id, unnest(t || list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS term
  FROM toklists
),
counts AS (SELECT doc_id, term, COUNT(*) AS cnt FROM terms GROUP BY doc_id, term),
ranked AS (
  SELECT doc_id, term,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, term ASC) AS tag_rank
  FROM counts
),
tags AS (
  SELECT doc_id, string_agg(term, ', ' ORDER BY tag_rank) AS tags_joined
  FROM ranked WHERE tag_rank <= 5 GROUP BY doc_id
)
SELECT 'doc_' || c.doc_id || '.txt' AS filename,
       {_SUMMARY_SQL} AS summary,
       g.tags_joined,
       length(c.text) AS text_length,
       length({_SUMMARY_SQL}) AS summary_length
FROM cleaned c JOIN tags g USING (doc_id)
"""


def p03_records_with_lda_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDA-tag export variant (reference :426-429 when a model IS fitted).

    Model-dependent output — verified by invariant unit tests
    (tests/test_nlp_model.py), not by the SQL oracle; see module
    docstring of nlp_model.py for why cross-library numeric equality
    is meaningless here.
    """
    from nlp_data_pipeline_spark.operators.nlp_model import n02_doc_tags

    rec = p01_document_records(spark, sf_dir).withColumn(
        "doc_id", F.regexp_extract("filename", r"doc_(\d+)\.txt", 1).cast("long")
    )
    tags = n02_doc_tags(spark, sf_dir)
    return rec.join(tags, "doc_id").select(
        "filename",
        "summary",
        F.col("tags_csv").alias("tags_joined"),  # :521 ', '.join
        "text_length",
        "summary_length",
    )


# --------------------------------------------------------------------------
# r01: csv sink → source round trip (reference R25 sink + §2.B csv
# reader). Integer columns only, so the round trip is value-exact; the
# oracle computes the same aggregate straight from parquet.
# --------------------------------------------------------------------------
def r01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = p01_document_records(spark, sf_dir).select(
        "filename", "text_length", "summary_length"
    )
    out = _tmp_stage("csv_export")
    write_csv(rec, out)
    back = spark.read.option("header", True).schema(
        "filename string, text_length long, summary_length long"
    ).csv(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("text_length").alias("total_chars"),
        F.sum("summary_length").alias("total_summary_chars"),
    )


R01_SQL = f"""
WITH cleaned AS (SELECT doc_id, text, {_CLEAN_SQL} AS ctext FROM documents)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(length({_SUMMARY_SQL})) AS BIGINT) AS total_summary_chars
FROM cleaned
"""


# --------------------------------------------------------------------------
# r02: corrupt-record JSON ingestion — robust reading, the property a
# 100 TB pipeline cannot skip (bad records are a statistical certainty
# at scale). A JSONL export is built with a deterministic fault
# injection (every doc_id ≡ 3 mod 7 gets a truncated line), then read
# back PERMISSIVE with an explicit _corrupt_record column: good rows
# parse, bad rows land in the corrupt column instead of killing the
# job. The oracle knows the fault pattern and states the expected
# good/corrupt split and the good-row checksum directly.
# --------------------------------------------------------------------------
def r02_corrupt_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    line = F.when(
        F.col("doc_id") % 7 == 3,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "source": "')),
    ).otherwise(F.to_json(F.struct("doc_id", "source")))
    out = _tmp_stage("json_ingest")
    d.select(line.alias("value")).write.mode("overwrite").text(out)

    back = spark.read.schema(
        "doc_id long, source string, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record").json(out)
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("doc_id"))).alias(
            "good_docid_sum"
        ),
        F.count_distinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("source"))
        ).alias("n_good_sources"),
    )


R02_SQL = """
SELECT COUNT(*) FILTER (doc_id % 7 != 3) AS n_good,
       COUNT(*) FILTER (doc_id % 7 = 3) AS n_corrupt,
       CAST(SUM(doc_id) FILTER (doc_id % 7 != 3) AS BIGINT) AS good_docid_sum,
       COUNT(DISTINCT source) FILTER (doc_id % 7 != 3) AS n_good_sources
FROM documents
"""


# --------------------------------------------------------------------------
# a01: approximate aggregates — HLL++ distinct + approx percentiles —
# verified against exact twins IN THE SAME RESULT ROW. Sketch estimates
# are engine-specific (Spark HLL++ vs DuckDB HLL differ), so the
# declared columns are (a) the exact stats, oracle-checked value-for-
# value, and (b) booleans asserting the Spark sketch lands within
# tolerance of the exact value — the oracle states TRUE. Exact
# percentiles use Spark's interpolated percentile(), which matches
# DuckDB's quantile_cont value-for-value (the q27 precedent). At 100
# TB the sketches replace the
# exact twins wherever ±2% is acceptable — approx_count_distinct is a
# fixed-size mergeable sketch (no giant distinct shuffle) and
# percentile_approx a KLL-style summary; the exact twins here are the
# small-data verification harness for them.
# --------------------------------------------------------------------------
def a01_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_extendedprice"
    )
    # COUNT(DISTINCT) gets its OWN aggregation, joined back on the
    # 3-row group keys: combining it with the percentile aggregates
    # forces the planner's distinct-expand through the ObjectHashAggregate
    # percentile state and disables partial aggregation for the whole
    # plan (measured 14s combined vs 1.8s split at sf0.1, identical
    # results). Two cheap parallel scans beat one crippled one — and at
    # 100 TB the distinct pass is the standard two-stage partial-distinct
    # shuffle while the percentile pass stays a plain hash agg.
    pcts = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts_est"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95, 0.99], 10000
        ).alias("pct_est"),
        F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))"
        ).alias("pct_exact"),
    )
    distincts = l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    agg = pcts.join(distincts, "l_returnflag")
    within = lambda est, exact, tol: (
        F.abs(est.cast("double") - exact) <= F.lit(tol) * exact
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        F.round(F.element_at("pct_exact", 1), 4).alias("p50"),
        F.round(F.element_at("pct_exact", 2), 4).alias("p95"),
        F.round(F.element_at("pct_exact", 3), 4).alias("p99"),
        within(F.col("approx_parts_est"), F.col("exact_parts"), 0.05).alias(
            "hll_within_5pct"
        ),
        (
            within(F.element_at("pct_est", 1), F.element_at("pct_exact", 1), 0.01)
            & within(F.element_at("pct_est", 2), F.element_at("pct_exact", 2), 0.01)
            & within(F.element_at("pct_est", 3), F.element_at("pct_exact", 3), 0.01)
        ).alias("pct_sketch_within_1pct"),
    ).orderBy("l_returnflag")


A01_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       TRUE AS hll_within_5pct,
       TRUE AS pct_sketch_within_1pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# a02: mergeable HLL sketch rollup — the property that makes sketches
# the 100 TB answer to COUNT(DISTINCT): per-day Datasketches HLL
# sketches (hll_sketch_agg) are built in ONE pass, then UNIONED
# (hll_union_agg) into the global estimate WITHOUT re-reading raw data
# — the pattern for pre-aggregated distinct-user rollups (store the
# day-level sketch binary, answer week/month/all-time by merging).
# a01 verifies sketch ACCURACY; a02 verifies sketch ALGEBRA: the
# merged-estimate column asserts estimate(union(daily)) equals
# estimate(direct-over-raw) — exact for same-lgK Datasketches unions.
# Estimates themselves are engine-specific, so (a01 discipline) the
# declared columns are exact values + booleans the oracle states TRUE.
# --------------------------------------------------------------------------
_A02_LGK = 14  # Datasketches lgConfigK: rel. err ≈ 1.04/√2^14 ≈ 0.8%


def a02_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr(f"hll_sketch_agg(user_id, {_A02_LGK})").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    ).localCheckpoint()  # day-grain; consumed by the per-day rows AND
    # the union-merge — without this both branches re-aggregate the
    # events corpus. The direct pass below stays a second corpus scan
    # BY DESIGN (rollup-equals-direct is the property under test).
    within = lambda est, exact: (
        F.abs(est.cast("double") - exact) <= F.lit(0.05) * exact
    )
    daily_rows = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day_label"),
        "exact_users",
        within(F.expr("hll_sketch_estimate(sk)"), F.col("exact_users")).alias(
            "hll_within_5pct"
        ),
        F.lit(True).alias("rollup_matches_direct"),
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("merged_est")
    )
    direct = ev.agg(
        F.expr(f"hll_sketch_estimate(hll_sketch_agg(user_id, {_A02_LGK}))").alias(
            "direct_est"
        ),
        F.count_distinct("user_id").alias("exact_total"),
    )
    total_row = merged.crossJoin(direct).select(
        F.lit("TOTAL").alias("day_label"),
        F.col("exact_total").alias("exact_users"),
        within(F.col("direct_est"), F.col("exact_total")).alias("hll_within_5pct"),
        (F.col("merged_est") == F.col("direct_est")).alias("rollup_matches_direct"),
    )
    # 'TOTAL' sorts after all 'yyyy-MM-dd' labels ('T' > '9')
    return daily_rows.unionByName(total_row).orderBy("day_label")


A02_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_label,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct,
       TRUE AS rollup_matches_direct
FROM events
GROUP BY 1
UNION ALL
SELECT 'TOTAL', COUNT(DISTINCT user_id), TRUE, TRUE FROM events
ORDER BY day_label
"""


# --------------------------------------------------------------------------
# r03: ORC sink → source round trip — Spark's second columnar format
# (ORC support is built into the distribution). Same discipline as r01:
# integer/string columns only so the round trip is value-exact, and the
# oracle computes the same aggregate straight from the parquet truth.
# --------------------------------------------------------------------------
def r03_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("text_len")
    )
    out = _tmp_stage("orc_export")
    d.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_len").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("source")
    )


R03_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r04: SCHEMA EVOLUTION — two parquet batches with different schemas
# (an old writer without `lang`, a new writer with it) read back as one
# dataset via mergeSchema: missing columns become NULLs, the exact
# semantics a long-lived 100 TB lake must rely on when producers roll
# out schema changes. The deterministic split (even doc_ids = old
# schema) lets the oracle state the merged result in closed form.
# --------------------------------------------------------------------------
def r04_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = _tmp_stage("schema_evo")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "batch=old"))
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "batch=new"))
    back = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "batch=old"), os.path.join(out, "batch=new")
    )
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("docid_sum"))
        .orderBy(F.asc_nulls_first("lang"))
    )


R04_SQL = """
SELECT CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS docid_sum
FROM documents
GROUP BY 1
ORDER BY lang NULLS FIRST
"""


# --------------------------------------------------------------------------
# r05: CDC UPSERT (MERGE INTO semantics) without a table format: a
# deterministic change batch — updates (orderkey % 13 = 0 → status 'X')
# and inserts (clones of orderkey % 97 = 0 shifted by +10M) — applied
# to the orders base as left join (WHEN MATCHED THEN UPDATE) + union
# (WHEN NOT MATCHED THEN INSERT). Scale: this is exactly what Delta/
# Iceberg MERGE compiles to (join on the merge key + file rewrite);
# expressing it as a plain plan keeps the engine format-agnostic. The
# oracle states the merged table's per-status profile in closed form.
# --------------------------------------------------------------------------
def r05_cdc_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", F.lit("X").alias("new_status")
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    merged = (
        o.join(updates, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce("new_status", "o_orderstatus").alias("o_orderstatus"),
            "o_totalprice",
        )
        .unionByName(inserts)
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


R05_SQL = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# r06: JSON-lines roundtrip — the interchange format every ingestion
# boundary speaks. Documents metadata is exported as JSONL (one object
# per line, the layout web-crawl corpora arrive in), read back with an
# EXPLICIT schema (never infer at scale: inference is an extra full
# scan and a schema-drift hazard), and aggregated per language. The
# oracle states the same profile straight off the parquet base, so the
# check proves the sink+source pair is lossless for these types.
# --------------------------------------------------------------------------
def r06_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = _tmp_stage("json_export")
    d.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id long, lang string, source string, n_chars long").json(
        out
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


R06_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# r07: dynamic partition overwrite — the idempotent-backfill primitive
# of a partitioned lake: re-running one day's pipeline must replace
# exactly that day's partition and leave every other partition's files
# untouched. With partitionOverwriteMode=dynamic, `overwrite` only
# rewrites partitions present in the incoming DataFrame (static mode
# would truncate the whole table — the classic backfill footgun).
# Here: write all days, then restate the earliest day with doubled
# values; the read-back must show exactly one restated day. Scale: the
# restatement job touches one partition regardless of table size.
# --------------------------------------------------------------------------
def r07_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.to_date("ts").alias("day")
    )
    out = _tmp_stage("dyn_overwrite")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # repartition on the partition column first: without it every
        # input task writes a file into every day directory (tasks ×
        # days small files — the classic partitioned-write mistake that
        # drowns a 100 TB table's listing in millions of tiny files);
        # with it each day is one task → one file per partition dir.
        ev.repartition("day").write.partitionBy("day").mode("overwrite").parquet(out)
        first_day = ev.agg(F.min("day")).first()[0]  # scalar, not a data collect
        restated = ev.filter(F.col("day") == F.lit(first_day)).withColumn(
            "value", F.col("value") * 2
        )
        restated.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("day")
    )


R07_SQL = """
WITH ev AS (
  SELECT event_id, user_id, value, CAST(ts AS DATE) AS day FROM events
),
restated AS (
  SELECT day,
         CASE WHEN day = (SELECT MIN(day) FROM ev) THEN value * 2 ELSE value END AS value
  FROM ev
)
SELECT CAST(day AS VARCHAR) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM restated
GROUP BY day
ORDER BY day
"""


# --------------------------------------------------------------------------
# r08: custom PYTHON DATA SOURCE (Spark 4 DataSource API) end-to-end —
# documents' stat columns staged as plain TSV shards, read back through
# the registered `docstats` connector (sources/custom_datasource.py:
# one InputPartition per shard, Python line parsing, Arrow transfer),
# then aggregated. The oracle computes the same aggregate from the
# original table, so a hash match proves the custom connector is
# lossless and the partition fan-out correct.
# --------------------------------------------------------------------------
def r08_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocStatsDataSource,
    )

    # Stage fresh on every invocation into a per-process dir. The previous
    # version cached the stage keyed on md5(sf_dir) with a never-invalidated
    # marker — silently stale after the driver regenerates the testdata at
    # the same path, and racy across concurrent runs sharing /tmp. Staging
    # is O(selected columns), a fraction of the query's cost; correctness
    # beats the cache. escape='"' makes Spark double embedded quotes, the
    # exact dialect csv.reader's default parses (custom_datasource.py).
    stage = scratch_path(f"docstats_{os.getpid()}")
    d = load_table(spark, sf_dir, "documents")
    (
        d.select("doc_id", "source", "n_chars")
        .repartition(8)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("escape", '"')
        .csv(stage)
    )
    spark.dataSource.register(DocStatsDataSource)
    df = spark.read.format("docstats").load(stage)
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


R08_SQL = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r09: custom Python DATA SINK — the write half of the Spark 4 Python
# DataSource API (sources/custom_datasource.py::DocStatsWriter):
# task-local temp shards promoted by a driver-side two-phase commit
# (rename-on-commit, overwrite clears the previous generation), the
# same protocol that makes batch file sinks exactly-once. The declared
# result round-trips: write through the sink, read back through the
# r08 reader, aggregate — a hash match proves the full custom
# write→commit→read loop is lossless.
# --------------------------------------------------------------------------
def r09_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocStatsDataSource,
    )

    spark.dataSource.register(DocStatsDataSource)
    # Deterministic per-process dir, cleaned on entry — a fresh
    # tempfile.mkdtemp per call leaked a full column copy under /tmp on
    # every bench/correctness invocation.
    root = scratch_path(f"docsink_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "shards")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    (
        d.repartition(4)
        .write.format("docstats")
        .mode("overwrite")
        .save(out)
    )
    back = spark.read.format("docstats").load(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("doc_id") * F.col("n_chars")).alias("weighted_checksum"),
    )


R09_SQL = """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id * n_chars) AS BIGINT) AS weighted_checksum
FROM documents
"""


# --------------------------------------------------------------------------
# p04: the CURATION PIPELINE as one composed plan — the round-trip
# deliverable the individual operators exist for. Four stages in
# strict precedence (exact-dup → length → repetition → boilerplate),
# each the declared rule of its standalone query (d01's keep-lowest
# hash-dup, t24-style length floor, t18's duplicate-bigram ratio,
# t22's cross-document boilerplate fraction), composed into a single
# per-doc verdict with stage attribution: drop_reason names the FIRST
# failing stage, so downstream accounting can attribute corpus loss
# per rule. One oracle states the whole composition, proving the
# stages compose without interference. Scale shape: the row-local
# rules ride the same single scan; the only shuffles are d01's hash
# window and t22's doc-frequency pass — exactly the stage ordering
# DEPLOYMENT.md prescribes (cheap row-local first, shuffle-bearing
# later).
# --------------------------------------------------------------------------
_P04_MIN_TOKENS = 10


def p04_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from nlp_data_pipeline_spark.functions.text import ngrams, tokenize
    from nlp_data_pipeline_spark.operators.text_analytics import (
        t22_boilerplate_prune,
    )

    d = load_table(spark, sf_dir, "documents")
    # clean once, tokenize from the materialized column (the inline
    # double clean_text ran the 3-regex chain twice per row — the HOF
    # wrapper around tokenize blocks codegen CSE across the two)
    base = d.select("doc_id", clean_text("text").alias("ctext")).select(
        "doc_id", "ctext", tokenize("ctext").alias("t")
    )
    bi = ngrams("t", 2)
    # project to scalars BEFORE the exact-dup window: the hash
    # partitioning on h otherwise shuffles every token array and the
    # cleaned text just to compare doc_ids (guide §2.3 — shuffle keys
    # and metadata, not payloads). The bigram array is materialized so
    # its two consumers don't rebuild it.
    pre = (
        base.select("doc_id", F.md5("ctext").alias("h"),
                    F.size("t").cast("long").alias("n_tokens"), bi.alias("bi"))
        .select(
            "doc_id", "h", "n_tokens",
            F.size("bi").alias("nb"),
            F.size(F.array_distinct("bi")).alias("nd"),
        )
    )
    flagged = (
        pre.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("h")))
        .select(
            "doc_id",
            (F.col("doc_id") != F.col("keeper")).alias("is_exact_dup"),
            "n_tokens",
            F.when(
                F.col("nb") >= 2,
                F.lit(1.0) - F.col("nd") / F.col("nb"),
            )
            .otherwise(F.lit(0.0))
            .alias("bigram_dup_ratio"),
        )
    )
    boiler = t22_boilerplate_prune(spark, sf_dir).select(
        "doc_id", "boiler_frac"
    )
    verdict = F.when(F.col("is_exact_dup"), F.lit("exact_dup")).when(
        F.col("n_tokens") < _P04_MIN_TOKENS, F.lit("too_short")
    ).when(F.col("bigram_dup_ratio") > 0.5, F.lit("repetitive")).when(
        F.coalesce(F.col("boiler_frac"), F.lit(0.0)) > 0.5, F.lit("boilerplate")
    ).otherwise(F.lit("kept"))
    return (
        # corpus ⋈ corpus on doc_id (boiler is a per-doc post-aggregate
        # whose derived estimate mis-broadcast at 100× in p08/p09's
        # audits) — forced merge
        flagged.join(boiler.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            verdict.alias("drop_reason"),
        )
        .withColumn("keep", F.col("drop_reason") == "kept")
        .orderBy("doc_id")
    )


P04_SQL = f"""
WITH cleaned AS (SELECT doc_id, source, {_CLEAN_SQL} AS ctext FROM documents),
toklists AS (
  SELECT doc_id, source, ctext,
         list_filter(string_split(ctext, ' '),
                     t -> length(t) > 2 AND lower(t) NOT IN ({_STOP_SQL}) AND t != '') AS t
  FROM cleaned
),
base AS (
  SELECT doc_id, source, ctext, t, len(t) AS n_tokens,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              WHEN len(t) = 2
              THEN [t[1] || ' ' || t[2]]
              ELSE [] END AS b
  FROM toklists
),
flagged AS (
  SELECT doc_id, source, t, n_tokens,
         doc_id != MIN(doc_id) OVER (PARTITION BY md5(ctext)) AS is_exact_dup,
         CASE WHEN len(b) >= 2
              THEN 1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b)
              ELSE 0.0 END AS bigram_dup_ratio
  FROM base
),
segs AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS seg
  FROM toklists WHERE len(t) >= 3
),
docseg AS (SELECT DISTINCT doc_id, source, seg FROM segs),
srcdocs AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM docseg GROUP BY source),
dfreq AS (SELECT source, seg, COUNT(*) AS df FROM docseg GROUP BY source, seg),
boilseg AS (
  SELECT d.source, d.seg
  FROM dfreq d JOIN srcdocs s USING (source)
  WHERE d.df >= GREATEST(2, CEIL(0.05 * s.n_docs))
),
boilfrac AS (
  SELECT s.doc_id,
         CAST(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS boiler_frac
  FROM segs s LEFT JOIN boilseg b ON s.source = b.source AND s.seg = b.seg
  GROUP BY s.doc_id
),
final AS (
  SELECT f.doc_id, f.n_tokens,
         CASE WHEN f.is_exact_dup THEN 'exact_dup'
              WHEN f.n_tokens < {_P04_MIN_TOKENS} THEN 'too_short'
              WHEN f.bigram_dup_ratio > 0.5 THEN 'repetitive'
              WHEN COALESCE(bf.boiler_frac, 0.0) > 0.5 THEN 'boilerplate'
              ELSE 'kept' END AS drop_reason
  FROM flagged f LEFT JOIN boilfrac bf ON f.doc_id = bf.doc_id
)
SELECT doc_id, n_tokens, drop_reason, drop_reason = 'kept' AS keep
FROM final
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# r11: COMPRESSED text ingestion — gzip JSONL round trip, the
# CommonCrawl-WET/-WARC-shaped path every web-scale corpus arrives
# through. Spark infers the codec from the .gz extension on both write
# and read; the declared aggregate hash-matching the oracle (computed
# from the uncompressed source table) proves the codec path is
# lossless. Staged fresh per invocation into a per-process dir (the
# r08 staleness lesson). Scale note: gzip is NOT splittable — one file
# = one task — so the stage writes 8 shards; the real-cluster guidance
# (module README) is many medium .gz shards or zstd/bzip2 when
# splittable compression is required.
# --------------------------------------------------------------------------
def r11_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = scratch_path(f"gzjsonl_{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    (
        d.select("doc_id", "source", "n_chars")
        .repartition(8)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(stage)
    )
    back = spark.read.schema("doc_id bigint, source string, n_chars bigint").json(
        stage
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("doc_id") * F.col("n_chars")).alias("weighted_checksum"),
        )
        .orderBy("source")
    )


R11_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id * n_chars) AS BIGINT) AS weighted_checksum
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r10: real-PDF ingestion, driver-checkable — the LAST §2.A reference
# operator (R1, /root/reference/nlp_data_tagging.py:37-47) with a
# correctness row. Reads the repo-committed deterministic PDF fixtures
# (tests/fixtures/pdfs/, built by tools/make_pdf_fixtures.py: plain Tj,
# backslash/octal escapes, TJ array) through the binaryFile source +
# Arrow-batched extract_pdf_text, then derives per-file stats. The
# oracle is closed-form (VALUES of the known fixture texts), so a hash
# match proves the full binary-scan → Flate-inflate → text-operator
# decode path byte-exactly. sf_dir is unused by design: the fixtures ARE
# the dataset (the driver corpus ships no PDFs).
# --------------------------------------------------------------------------
def r10_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nlp_data_pipeline_spark.sources.readers import (
        extract_pdf_text,
        read_binary_files,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    pdf_dir = os.path.normpath(os.path.join(here, "..", "..", "tests", "fixtures", "pdfs"))
    files = read_binary_files(spark, pdf_dir, glob="*.pdf")
    texts = extract_pdf_text(files)
    return (
        texts.select(
            F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
            # trim() strips spaces only; the extractor's page join leaves
            # a trailing '\n' — strip ALL edge whitespace
            F.regexp_replace("raw_text", r"^\s+|\s+$", "").alias("text"),
        )
        .select(
            "filename",
            "text",
            F.length("text").cast("long").alias("n_chars"),
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
        )
        .orderBy("filename")
    )


R10_SQL = """
SELECT * FROM (VALUES
  ('fixture_alpha.pdf',   'Spark reads fixture alpha.',           CAST(26 AS BIGINT), CAST(4 AS BIGINT)),
  ('fixture_bravo.pdf',   'Bravo (escaped) text: 100% parsed.',   CAST(34 AS BIGINT), CAST(5 AS BIGINT)),
  ('fixture_charlie.pdf', 'Charlie delta fixture.',               CAST(22 AS BIGINT), CAST(3 AS BIGINT))
) AS t(filename, text, n_chars, n_words)
ORDER BY filename
"""


# --------------------------------------------------------------------------
# a03: sketch set algebra — HLL INTERSECTION via inclusion-exclusion
# (oracle-parity-tested in
# test_round6_ops.py::test_a03_matches_duckdb_oracle).
#
# HLL sketches union natively (a02) but NOT intersect; the standard
# answer is inclusion-exclusion over union estimates:
# |A∩B| ≈ est(A) + est(B) − est(A∪B). For every event-type pair:
# exact audience overlap (oracle-exact) plus the sketch estimate's
# tolerance flag. Error compounds through the subtraction, so the
# bound is stated against the UNION size (the quantity the absolute
# errors scale with), not the intersection. At 100 TB this is the
# overlap-analysis primitive: per-type sketches are built in ONE pass
# and every pairwise intersection comes from tiny sketch merges — no
# per-pair corpus rescan.
# --------------------------------------------------------------------------
def a03_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.expr(f"hll_sketch_agg(user_id, {_A02_LGK})").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("exact_users").alias("exact_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("exact_users").alias("exact_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    exact_inter = ev.alias("x").join(
        ev.alias("y"),
        (F.col("x.user_id") == F.col("y.user_id"))
        & (F.col("x.event_type") < F.col("y.event_type")),
    ).select(
        F.col("x.event_type").alias("type_a"),
        F.col("y.event_type").alias("type_b"),
        "x.user_id",
    ).distinct().groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("exact_inter")
    )
    est_inter = (
        F.expr("hll_sketch_estimate(sk_a)")
        + F.expr("hll_sketch_estimate(sk_b)")
        - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    )
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    )
    return (
        pairs.join(exact_inter, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            "exact_inter",
            (
                F.abs(est_inter - F.col("exact_inter"))
                <= F.lit(0.1) * exact_union
            ).alias("inter_est_within_10pct_of_union"),
        )
        .orderBy("type_a", "type_b")
    )


A03_SQL = """
WITH audiences AS (
  SELECT event_type, user_id FROM events GROUP BY event_type, user_id
),
sizes AS (
  SELECT event_type, COUNT(*) AS n FROM audiences GROUP BY event_type
),
inter AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS exact_inter
  FROM audiences x JOIN audiences y
    ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       sa.n AS exact_a, sb.n AS exact_b, i.exact_inter,
       TRUE AS inter_est_within_10pct_of_union
FROM inter i
JOIN sizes sa ON i.type_a = sa.event_type
JOIN sizes sb ON i.type_b = sb.event_type
ORDER BY i.type_a, i.type_b
"""


# --------------------------------------------------------------------------
# r12: native XML ingestion (oracle-parity-tested in
# test_round6_ops.py::test_r12_matches_duckdb_oracle).
#
# Spark 4 ships the spark-xml connector in-core (SPARK-44265): rowTag
# streaming parse, schema projection, the same DataSourceV2 pushdown
# surface as json. Round trip: write a projection of documents as XML
# shards, read back with an EXPLICIT schema (inference is a second full
# scan — never at 100 TB), and aggregate; the oracle computes the same
# aggregate from the parquet source table, so a hash match proves the
# XML write→parse path lossless. Staged fresh per invocation into a
# per-process dir (the r08 staleness lesson). XML files are not
# splittable within a row by design; 8 shards keeps task parallelism.
# --------------------------------------------------------------------------
def r12_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = scratch_path(f"xmlstage_{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    (
        d.select("doc_id", "lang", "n_chars")
        .repartition(8)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(stage)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id bigint, lang string, n_chars bigint")
        .load(stage)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("doc_id") * F.col("doc_id")).alias("id_sq_checksum"),
        )
        .orderBy("lang")
    )


R12_SQL = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id * doc_id) AS BIGINT) AS id_sq_checksum
FROM documents
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# r13: training-shard materialization (oracle-parity-tested in
# test_round6_ops.py::test_r13_matches_duckdb_oracle).
#
# The LAST step of the training-data pipeline: take p04's kept
# documents, assign t35's deterministic shard, physically WRITE the
# shard-partitioned parquet layout (partitionBy — one directory per
# shard, the layout training loaders consume), then read the landed
# files back and emit the MANIFEST (per-shard doc count, char sum,
# id-weighted checksum) a data card ships with. The oracle computes
# the same manifest from the SOURCE table through p04's keep rule —
# a hash match proves keep-filter → shard-assign → partitioned write →
# read-back end-to-end lossless. Scale: the write is one shuffle on
# shard (8 dirs → thousands at 100 TB via the same constant), and the
# manifest aggregates the landed data, not the source.
# --------------------------------------------------------------------------
_R13_SHARDS = 8
_R13_SEED = 42


def r13_training_shards_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out = scratch_path(f"r13_shards_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    kept = p04_curation_pipeline(spark, sf_dir).filter("keep").select("doc_id")
    d = load_table(spark, sf_dir, "documents").join(kept, "doc_id")
    shard = (
        (F.col("doc_id") + F.lit(_R13_SEED)) * F.lit(2654435761)
    ) % F.lit(4294967296) % F.lit(_R13_SHARDS)
    (
        d.select("doc_id", "source", "n_chars", shard.cast("int").alias("shard"))
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("doc_id") * F.col("n_chars")).alias("weighted_checksum"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_docs",
            "total_chars",
            "weighted_checksum",
        )
        .orderBy("shard")
    )


R13_SQL = f"""
WITH p04_out AS ({P04_SQL})
SELECT CAST((d.doc_id + {_R13_SEED}) * 2654435761 % 4294967296 % {_R13_SHARDS} AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(d.doc_id * d.n_chars) AS BIGINT) AS weighted_checksum
FROM documents d JOIN p04_out p ON d.doc_id = p.doc_id
WHERE p.keep
GROUP BY 1
ORDER BY shard
"""


# --------------------------------------------------------------------------
# r14: metadata-column file lineage (oracle-parity-tested in
# test_round6_ops.py::test_r14_matches_duckdb_oracle).
#
# Spark's hidden `_metadata` struct (SPARK-37273): every file-source
# row carries file_path/file_size/row_index without any data-side
# lineage column — the provenance/debugging surface a 100 TB corpus
# needs (which file produced this bad row?). Demonstrated on a
# DETERMINISTIC 4-file layout (doc_id % 4 split, one file each) and
# verified through order-robust aggregates: per-file row_index is
# always 0..n_f-1, so n_files, Σ row_index = Σ n_f(n_f-1)/2 and
# max row_index = max(n_f)-1 are all closed-form from the per-group
# counts — no dependence on physical row order or file naming.
# --------------------------------------------------------------------------
def r14_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _tmp_stage("r14_lineage")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    for k in range(4):
        (
            d.filter(F.col("doc_id") % 4 == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(stage, f"g{k}"))
        )
    # four explicit paths, not a glob: the glob string trips a noisy
    # FileStreamSink metadata probe on the literal path
    back = spark.read.parquet(*[os.path.join(stage, f"g{k}") for k in range(4)]).select(
        "doc_id",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    per_file = back.groupBy("file_path").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("row_index").alias("min_ri"),
        F.max("row_index").alias("max_ri"),
        F.sum("row_index").alias("sum_ri"),
    )
    return per_file.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.sum((F.col("min_ri") == 0).cast("long")).alias("files_starting_at_0"),
        F.max("max_ri").alias("max_row_index"),
        F.sum("sum_ri").alias("sum_row_index"),
    )


R14_SQL = """
WITH groups AS (
  SELECT doc_id % 4 AS g, COUNT(*) AS n_f FROM documents GROUP BY doc_id % 4
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_f) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS files_starting_at_0,
       CAST(MAX(n_f) - 1 AS BIGINT) AS max_row_index,
       CAST(SUM(n_f * (n_f - 1) / 2) AS BIGINT) AS sum_row_index
FROM groups
"""


# --------------------------------------------------------------------------
# p05: corpus snapshot diff (oracle-parity-tested in
# test_round6_ops.py::test_p05_matches_duckdb_oracle).
#
# Dataset-versioning diff: given two corpus snapshots, classify every
# document as unchanged / changed (same id, different content hash) /
# removed / added, rolled up per source — the release audit a managed
# training corpus publishes between crawls (what Delta's table history
# gives you, computed relationally over plain parquet snapshots). The
# "next crawl" snapshot is synthesized DETERMINISTICALLY from the
# current one (drop id%11==3, edit id%7==2, add a copy of id%13==5
# under a new id) so the oracle is closed-form; the diff itself is a
# full-outer join on doc_id comparing sha256 content hashes — ONE
# shuffle, the same shape at any corpus size.
# --------------------------------------------------------------------------
def p05_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    h = F.sha2(F.col("text").cast("binary"), 256)
    snap_a = d.select("doc_id", "source", h.alias("h"))
    kept = d.filter(F.col("doc_id") % 11 != 3)
    edited = F.when(
        F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    added = d.filter(F.col("doc_id") % 13 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "source", "text"
    )
    snap_b = (
        kept.select("doc_id", "source", edited.alias("text"))
        .unionByName(added)
        .select("doc_id", "source", F.sha2(F.col("text").cast("binary"), 256).alias("h"))
    )
    a = snap_a.select("doc_id", F.col("source").alias("src_a"), F.col("h").alias("h_a"))
    b = snap_b.select("doc_id", F.col("source").alias("src_b"), F.col("h").alias("h_b"))
    diff = a.join(b, "doc_id", "full_outer").select(
        F.coalesce("src_a", "src_b").alias("source"),
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") == F.col("h_b"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )
    return (
        diff.groupBy("source")
        .pivot("status", ["unchanged", "changed", "removed", "added"])
        .count()
        .fillna(0)
        .orderBy("source")
    )


P05_SQL = """
WITH b AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 2 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 11 != 3
  UNION ALL
  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id % 13 = 5
),
diff AS (
  SELECT COALESCE(a.source, b.source) AS source,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.text = b.text THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM documents a FULL OUTER JOIN b USING (doc_id)
)
SELECT source,
       COUNT(*) FILTER (status = 'unchanged') AS unchanged,
       COUNT(*) FILTER (status = 'changed') AS changed,
       COUNT(*) FILTER (status = 'removed') AS removed,
       COUNT(*) FILTER (status = 'added') AS added
FROM diff
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r15: custom STREAMING source via the Python Data Source API
# (oracle-parity-tested in
# test_round7_ops.py::test_r15_matches_duckdb_oracle).
#
# r08 covers the batch half of the API; this is the streaming half
# (DataSourceStreamReader): the `docfeed` source serves the documents
# table as doc_id stripes with dict offsets, each micro-batch's
# stripes split into executor-side pyarrow range reads
# (sources/custom_datasource.py::DocFeedStreamSource). The query
# drains the feed with Trigger-Once into a memory sink (test
# scaffolding — a real pipeline writes parquet/foreachBatch, e11/r13)
# and re-aggregates per source; the oracle proves the streamed rows
# are exactly the table. A fresh per-call checkpoint keeps reruns
# deterministic — reusing one would resume past the drained offset and
# emit an empty batch by design.
# --------------------------------------------------------------------------
def r15_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocFeedStreamSource,
    )

    spark.dataSource.register(DocFeedStreamSource)
    max_id = (
        load_table(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    )
    n_stripes = 4
    stripe_docs = max_id // n_stripes + 1
    # constant per-pid names, wiped/dropped on entry: per-CALL suffixes
    # accumulated a full-table memory sink and checkpoint per bench
    # iteration (the staging-hygiene rule); rmtree keeps the fresh-
    # checkpoint resume semantics without the buildup
    name = f"docfeed_sink_{os.getpid()}"
    spark.catalog.dropTempView(name)
    ckpt = scratch_path(f"docfeed_ckpt_{os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    query = (
        spark.readStream.format("docfeed")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("stripe_docs", stripe_docs)
        .option("n_stripes", n_stripes)
        .option("splits_per_stripe", 2)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


R15_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r16: custom STREAMING sink via the Python Data Source API
# (oracle-parity-tested in
# test_round7_ops.py::test_r16_matches_duckdb_oracle).
#
# The last cell of the Python-DataSource 2×2 matrix (batch read r08,
# batch write r09, stream read r15, stream write THIS): the docfeed
# stream drains through `docshards`, a DataSourceStreamWriter whose
# per-micro-batch two-phase commit renames task temp files into
# batch-id-stamped shard names (idempotent under micro-batch replay —
# exactly-once landing). The landed TSV layout is the `docstats`
# batch reader's, so the query round-trips stream-write → batch-read
# and the oracle proves the full loop lossless against the source
# table. Fresh per-call sink + checkpoint dirs keep reruns exact.
# --------------------------------------------------------------------------
def r16_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocFeedStreamSource,
        DocShardsStreamSink,
        DocStatsDataSource,
    )

    for src in (DocFeedStreamSource, DocShardsStreamSink, DocStatsDataSource):
        spark.dataSource.register(src)
    max_id = (
        load_table(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    )
    n_stripes = 4
    sink = scratch_path(f"docshards_{os.getpid()}")
    shutil.rmtree(sink, ignore_errors=True)
    ckpt = scratch_path(f"docshards_ckpt_{os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    query = (
        spark.readStream.format("docfeed")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("stripe_docs", max_id // n_stripes + 1)
        .option("n_stripes", n_stripes)
        .option("splits_per_stripe", 2)
        .load()
        .writeStream.format("docshards")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    back = spark.read.format("docstats").load(sink)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


R16_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r17: recursive file discovery + glob filtering (oracle-parity-tested
# in test_round7_ops.py::test_r17_matches_duckdb_oracle).
#
# Real corpora arrive as messy directory TREES (crawl dumps nested by
# date/domain, mixed with sidecar files). This covers the discovery
# controls: `recursiveFileLookup` walks arbitrary nesting (ignoring
# partition-style dir names) and `pathGlobFilter` admits only the
# wanted extension — the decoy .txt beside the .jsonl shards must
# contribute NOTHING. The stage writes documents as jsonl at three
# nesting depths plus a poison decoy whose rows would shift every
# aggregate if globbing leaked. Discovery cost at 100 TB is a
# driver-side listing concern: deep trees with millions of files want
# fewer, flatter directories or a manifest-based source (r08/r15) —
# the options here are correctness controls, not a listing
# accelerator.
# --------------------------------------------------------------------------
def r17_recursive_glob_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = scratch_path(f"rectree_{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    for sub, rem in (("", 0), ("year/", 1), ("year/domain/", 2)):
        (
            d.filter(F.col("doc_id") % 3 == rem)
            .coalesce(1)
            .write.mode("overwrite")
            .json(os.path.join(stage, sub + "shard"))
        )
    # poison decoy: same schema, wrong extension — must NOT be read
    decoy_dir = os.path.join(stage, "year", "decoy")
    os.makedirs(decoy_dir, exist_ok=True)
    with open(os.path.join(decoy_dir, "poison.txt"), "w") as fh:
        fh.write('{"doc_id": 999999, "source": "poison", "n_chars": 1}\n')
    back = (
        spark.read.schema("doc_id bigint, source string, n_chars bigint")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(stage)
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


R17_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r18: corrupt-FILE-resilient ingestion (oracle-parity-tested in
# test_round7_ops.py::test_r18_matches_duckdb_oracle).
#
# r02 handles corrupt RECORDS inside a parseable file; this covers the
# coarser failure real landing zones produce — a whole unreadable
# file (truncated upload, non-parquet bytes with a .parquet name)
# sitting among good shards. `ignoreCorruptFiles` skips files whose
# footer/magic can't be read instead of failing the job; the staged
# directory plants exactly that poison file, and the oracle proves
# the result is precisely the good shards' rows — nothing dropped
# beyond the corrupt file, nothing fabricated. At 100 TB pair this
# with a landed-file manifest (r13/r14) so skipped files are COUNTED,
# not silently forgotten: resilience without reconciliation is
# data loss with extra steps.
# --------------------------------------------------------------------------
def r18_corrupt_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = scratch_path(f"corruptdir_{os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d.repartition(4).write.mode("overwrite").parquet(stage)
    # poison: a .parquet-named file that is not parquet at all
    with open(os.path.join(stage, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"NOT A PARQUET FILE \x00\x01\x02" * 64)
    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("doc_id bigint, source string, n_chars bigint")
        .parquet(stage)
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


R18_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# p06: declarative dataflow-graph pipeline (oracle-parity-tested in
# test_round7_ops.py::test_p06_matches_duckdb_oracle).
#
# The Declarative-Pipelines PATTERN without the Spark-Connect
# dependency (pyspark.pipelines executes only under connect/grpcio —
# COVERAGE.md probe): a curation pipeline declared as named stages
# with explicit dependencies and run by plans/dataflow.run_graph,
# which validates the graph (cycles, unknown inputs) before any Spark
# work and resolves shared upstream stages as ONE reused DataFrame.
# The pipeline itself is the standard keep/drop sweep: clean+tokenize
# once, a quality gate and an exact-dup keeper both consuming that
# single cleaned stage, folded into a per-source verdict summary.
# --------------------------------------------------------------------------
_P06_MIN_TOKENS = 20  # p10 of the corpus: the gate drops ~10% of docs, so the
# hash check is sensitive to the quality rule (10 would keep everything)


def p06_dataflow_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from nlp_data_pipeline_spark.plans.dataflow import Stage, run_graph

    def cleaned(inp):
        return inp["documents"].select(
            "doc_id",
            "source",
            clean_text("text").alias("ctext"),
            F.size(tokenize(clean_text("text"))).cast("long").alias("n_tokens"),
        )

    def quality(inp):
        return inp["cleaned"].select(
            "doc_id", (F.col("n_tokens") >= _P06_MIN_TOKENS).alias("ok_quality")
        )

    def dedup(inp):
        w = Window.partitionBy(F.md5("ctext"))
        return inp["cleaned"].select(
            "doc_id",
            (F.col("doc_id") == F.min("doc_id").over(w)).alias("ok_unique"),
        )

    def verdict(inp):
        return (
            inp["cleaned"]
            .select("doc_id", "source")
            .join(inp["quality"], "doc_id")
            .join(inp["dedup"], "doc_id")
            .select(
                "doc_id",
                "source",
                (F.col("ok_quality") & F.col("ok_unique")).alias("kept"),
                "ok_quality",
                "ok_unique",
            )
        )

    def summary(inp):
        v = inp["verdict"]
        return (
            v.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("kept").cast("long")).alias("n_kept"),
                F.sum((~F.col("ok_quality")).cast("long")).alias("n_low_quality"),
                F.sum((~F.col("ok_unique")).cast("long")).alias("n_exact_dups"),
            )
            .orderBy("source")
        )

    graph = run_graph(
        [
            Stage("cleaned", cleaned, ["documents"]),
            Stage("quality", quality, ["cleaned"]),
            Stage("dedup", dedup, ["cleaned"]),
            Stage("verdict", verdict, ["cleaned", "quality", "dedup"]),
            Stage("summary", summary, ["verdict"]),
        ],
        {"documents": load_table(spark, sf_dir, "documents")},
    )
    return graph["summary"]


P06_SQL = f"""
WITH cleaned AS (
  SELECT doc_id, source, {_CLEAN_SQL} AS ctext FROM documents
),
toks AS (
  SELECT doc_id,
         (SELECT COUNT(*) FROM (
            SELECT unnest(string_split(c.ctext, ' ')) AS w) t
          WHERE length(w) > 2 AND lower(w) NOT IN ({_STOP_SQL}) AND w != ''
         ) AS n_tokens
  FROM cleaned c
),
verdict AS (
  SELECT c.doc_id, c.source,
         t.n_tokens >= {_P06_MIN_TOKENS} AS ok_quality,
         c.doc_id = MIN(c.doc_id) OVER (PARTITION BY md5(c.ctext)) AS ok_unique
  FROM cleaned c JOIN toks t USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ok_quality AND ok_unique THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN NOT ok_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       CAST(SUM(CASE WHEN NOT ok_unique THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
FROM verdict
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# a06: KMV (k-minimum-values) distinct sketch. Completes the sketch
# family (a01 HLL++/KLL, a02 HLL rollup, a03 HLL algebra, a04 approx
# top-k, a05 Bloom) with the ORDER-STATISTICS estimator — and unlike
# HLL, whose bit layout is JVM-internal (a01–a03 had to declare
# tolerance booleans), KMV is built entirely from md5, which both
# engines compute identically: the sketch state (the k-th smallest
# hash) AND the estimate (k-1)/frac_k are themselves oracle-exact,
# value-for-value. Domain: distinct word BIGRAMS per source (the
# n-gram-LM state-sizing question).
#
# Scale: the k smallest hashes of a union are the k smallest of the
# per-partition k-minima, so KMV is a bounded mergeable partial
# aggregate — at 100 TB the sketch path needs no distinct shuffle at
# all (keep k longs per partition, merge). The exact twin declared
# beside it here is the verification harness and is what forces this
# toy plan's distinct; production drops it.
# --------------------------------------------------------------------------
KMV_K = 64
_KMV_SCALE = 4294967296.0  # 2^32: first-8-hex-chars hash → [0, 1)


def a06_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    h = F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long")
    ranked = bg.select("source", "bg", h.alias("h")).select(
        "source",
        "h",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("h", "bg"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("exact_distinct"),
    )
    est = (
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_SCALE) / F.col("h").cast("double")
    )
    return (
        ranked.filter(F.col("rn") == KMV_K)
        .select(
            "source",
            "exact_distinct",
            F.col("h").alias("kth_hash"),
            F.round(est, 4).alias("kmv_estimate"),
            (
                F.abs(est - F.col("exact_distinct").cast("double"))
                <= F.lit(0.5) * F.col("exact_distinct").cast("double")
            ).alias("within_50pct"),
        )
        .orderBy("source")
    )


A06_SQL = f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT source, bg FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, bg) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS exact_distinct
  FROM (
    SELECT source, bg,
           CAST(('0x' || substring(md5(bg), 1, 8)) AS BIGINT) AS h
    FROM bg
  ) hashed
)
SELECT source, exact_distinct, h AS kth_hash,
       round({float(KMV_K - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE), 4)
         AS kmv_estimate,
       abs({float(KMV_K - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE)
           - CAST(exact_distinct AS DOUBLE))
         <= 0.5 * CAST(exact_distinct AS DOUBLE) AS within_50pct
FROM ranked WHERE rn = {KMV_K}
ORDER BY source
"""


# --------------------------------------------------------------------------
# a07: deterministic hash-reservoir sample. Every eval/labeling/
# inspection loop needs a fixed-size uniform sample per stratum. The
# textbook reservoir algorithm is a SEQUENTIAL scan with mutable
# state — unimplementable as a distributed operator without giving up
# determinism. The distributed replacement is min-K-by-hash: keep the
# K documents with the smallest md5(seed|doc_id) per source. Same
# uniform-without-replacement distribution (the hash induces a
# uniform random permutation of the stratum), plus three properties
# sequential reservoirs lack: reruns are byte-identical with no RNG
# state to ship, the sample is MERGEABLE across shards/batches
# (min-K of a union = min-K of the per-part min-Ks — a06's KMV
# order-statistics machinery with doc ids attached), and membership
# is testable per row without the sample (h < the kth hash).
#
# Scale: one scan + one shuffle. The per-source row_number window
# sorts only for the toy plan; at 100 TB the same answer comes from
# partial per-partition top-K (TakeOrderedAndProject shape) merged on
# the reducer — the sort never sees the full corpus. Declared draw
# keys are md5 hex (engine-identical), ranks are exact ints.
# --------------------------------------------------------------------------
A07_SAMPLE_K = 20
_A07_SEED = "a07"


def a07_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    draw = F.md5(
        F.concat_ws("|", F.lit(_A07_SEED), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy("draw", "doc_id")
    return (
        d.select("doc_id", "source", draw.alias("draw"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= A07_SAMPLE_K)
        .select("source", "sample_rank", "doc_id", "draw")
        .orderBy("source", "sample_rank")
    )


A07_SQL = f"""
WITH drawn AS (
  SELECT doc_id, source,
         md5('{_A07_SEED}' || '|' || CAST(doc_id AS VARCHAR)) AS draw
  FROM documents
),
ranked AS (
  SELECT source, doc_id, draw,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY draw, doc_id)
           AS sample_rank
  FROM drawn
)
SELECT source, sample_rank, doc_id, draw
FROM ranked
WHERE sample_rank <= {A07_SAMPLE_K}
ORDER BY source, sample_rank
"""


# --------------------------------------------------------------------------
# r19: multiline quoted-CSV ingestion. r01 roundtrips
# newline-free CSV; real exports carry fields with EMBEDDED newlines,
# commas, and quotes, and those require the reader's `multiLine` mode
# (each record may span physical lines, so files are no longer
# line-splittable). A note field that contains all three hazards is
# synthesized per document, written through the CSV writer with
# RFC-4180 doubled-quote escaping (escape = quote char), read back
# with multiLine + the same escape, and re-parsed into its
# components — the declared row equals the source row only if the
# writer's quoting and the reader's record assembly are BOTH exact.
#
# Scale note the option implies: multiLine CSV cannot be split inside
# a file (a newline no longer delimits records), so parallelism is
# per-FILE — export many moderate files, never one giant CSV; the
# parquet-first pipelines elsewhere in this repo avoid the format
# for anything but interchange edges.
# --------------------------------------------------------------------------
_R19_N_DOCS = 20


def r19_multiline_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _R19_N_DOCS
    )
    note = F.concat(
        F.lit("L1:"),
        F.col("source"),
        F.lit("\nL2,\""),
        F.col("n_chars").cast("string"),
        F.lit("\""),
    )
    out = _tmp_stage("multiline_csv")
    (
        d.select("doc_id", note.alias("note"))
        .coalesce(1)
        .write.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .mode("overwrite")
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema("doc_id long, note string")
        .csv(out)
    )
    lines = F.split(F.col("note"), "\n")
    return (
        back.select(
            "doc_id",
            F.substring(lines[0], 4, 1000).alias("source"),
            F.regexp_extract(lines[1], r'^L2,"(\d+)"$', 1)
            .cast("long")
            .alias("n_chars"),
            F.size(lines).cast("long").alias("n_lines"),
        )
        .orderBy("doc_id")
    )


R19_SQL = f"""
SELECT doc_id, source, n_chars, CAST(2 AS BIGINT) AS n_lines
FROM documents
WHERE doc_id < {_R19_N_DOCS}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# p07: dataset card. The per-source manifest every published
# corpus ships (datasheet/dataset-card practice): sizes, token and
# char mass, exact-duplicate load, and language spread — one row per
# source, all exact counts, the table a consumer reads BEFORE
# deciding mixture weights (t44) and budgets (t45). d01 answers
# "which docs are dups" corpus-wide; this declares the per-source
# accounting view of the same sha256 identity.
#
# Scale: ONE corpus scan into a single per-source aggregation; the
# distinct-text and distinct-lang counts ride the same groupBy
# (count_distinct expands rows map-side but there is no
# object-hash aggregate in this plan to break partial aggregation —
# the a01 split rule applies only when percentile-class state is
# present). No joins, no windows.
# --------------------------------------------------------------------------
def p07_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(toks).cast("long").alias("nt"),
        F.sha2(F.col("text").cast("binary"), 256).alias("h"),
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique_texts"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dup_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("nc").alias("n_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


def _p07_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    return f"""
WITH base AS (
  SELECT source, lang,
         CAST(n_chars AS BIGINT) AS nc,
         CAST(len(list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != ''))
              AS BIGINT) AS nt,
         sha256(text) AS h
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT h) AS n_unique_texts,
       COUNT(*) - COUNT(DISTINCT h) AS n_exact_dup_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(SUM(nc) AS BIGINT) AS n_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM base
GROUP BY source
ORDER BY source
"""


P07_SQL = _p07_sql()


# --------------------------------------------------------------------------
# a08: KMV sketch MERGE. a06 builds one KMV sketch per source; this
# declares the property that makes KMV deployable at 100 TB: the
# union rule "merge per-part sketches, keep the k smallest" is EXACT
# — min-K(∪ sets) = min-K(∪ per-part min-Ks). The Spark side
# deliberately computes the GLOBAL estimate only through the merge
# path (per-source k-smallest survivors → union → re-select k
# smallest; never a direct global pass), while the oracle computes
# it directly over the full global distinct-bigram domain — the
# driver's hash equality IS the mergeability proof, the same
# declared-algebra pattern as d24-vs-d06.
#
# Scale: the merge path touches sources × K rows after the
# per-source windows — the shuffle that replaces a global distinct
# at the merge step; per-source sketches are what per-shard jobs
# would persist, and any subset of sources merges the same way
# (incremental corpus growth updates the global count without
# rescanning history).
# --------------------------------------------------------------------------
def a08_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    h = F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long")
    hashed = bg.select("source", "bg", h.alias("h"))
    per_src = (
        hashed.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("source").orderBy("h", "bg")),
        )
        .filter(F.col("rn") <= KMV_K)
        .select("bg", "h")
        .distinct()
    )
    merged = per_src.select(
        "h",
        F.row_number().over(Window.orderBy("h", "bg")).alias("rn"),
    ).filter(F.col("rn") == KMV_K)
    exact = (
        base.select(F.explode(pairs_expr).alias("bg"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    est = F.lit(float(KMV_K - 1)) * F.lit(_KMV_SCALE) / F.col("h").cast("double")
    return merged.crossJoin(exact).select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.col("h").alias("kth_hash"),
        F.round(est, 4).alias("kmv_estimate"),
        (
            F.abs(est - F.col("exact_distinct").cast("double"))
            <= 0.5 * F.col("exact_distinct").cast("double")
        ).alias("within_50pct"),
    )


def _a08_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    return f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT bg FROM (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
ranked AS (
  SELECT h,
         ROW_NUMBER() OVER (ORDER BY h, bg) AS rn,
         COUNT(*) OVER () AS exact_distinct
  FROM (
    SELECT bg, CAST(('0x' || substring(md5(bg), 1, 8)) AS BIGINT) AS h FROM bg
  ) hashed
)
SELECT CAST(exact_distinct AS BIGINT) AS exact_distinct,
       h AS kth_hash,
       round({float(KMV_K - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE), 4)
         AS kmv_estimate,
       abs({float(KMV_K - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE)
           - CAST(exact_distinct AS DOUBLE))
         <= 0.5 * CAST(exact_distinct AS DOUBLE) AS within_50pct
FROM ranked WHERE rn = {KMV_K}
"""


A08_SQL = _a08_sql()


# --------------------------------------------------------------------------
# a09: KMV INTERSECTION estimate. a06 sizes each source's distinct-
# bigram vocabulary and a08 proves union-mergeability; this closes the
# set-algebra: pairwise |A∩B| from the same sketches. Rule: merge the
# two k-min sketches, keep the k smallest of the union; ρ = how many
# of those k survivors appear in BOTH sides' sketches; then
# |A∩B| ≈ (ρ/k) · Û where Û = (k-1)·2³²/h_k is the union estimate —
# the standard KMV intersection estimator (Beyer et al., SIGMOD'07).
# The pairwise source-overlap question is d13's (shared shingles)
# asked at sketch cost: 20 sources → 190 pairs scored from 20·k longs.
#
# Hash-gate discipline: the sketch state, ρ, and the estimates are
# all deterministic functions of md5 — both engines compute them
# value-identically (the a06 pattern). The exact intersection is
# declared beside the estimate as the verification harness.
# Scale: after the per-source k-min windows the pairwise pass touches
# sources × k rows — all-pairs overlap WITHOUT an all-pairs join on
# data; the exact twin's bigram self-join is toy-only, production
# drops it. Sketches persist per shard; any pair (or subset union)
# scores without rescanning the corpus.
# --------------------------------------------------------------------------
def a09_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    h = F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long")
    hashed = bg.select("source", "bg", h.alias("h"))
    km = (
        hashed.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("source").orderBy("h", "bg")),
        )
        .filter(F.col("rn") <= KMV_K)
        .select("source", "bg", "h")
    )
    srcs = hashed.select("source").distinct().withColumnRenamed("source", "other")
    # each sketch entry, replicated once per unordered pair it serves
    items = (
        km.crossJoin(F.broadcast(srcs))
        .filter(F.col("other") != F.col("source"))
        .select(
            F.least("source", "other").alias("sa"),
            F.greatest("source", "other").alias("sb"),
            "bg",
            "h",
        )
    )
    sides = items.groupBy("sa", "sb", "bg", "h").agg(
        F.count(F.lit(1)).alias("n_side")
    )
    ranked = sides.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("sa", "sb").orderBy("h", "bg")),
    )
    kth = F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).cast("double")
    est_union = F.lit(float(KMV_K - 1)) * F.lit(_KMV_SCALE) / kth
    rho = F.sum(
        F.when((F.col("rn") <= KMV_K) & (F.col("n_side") == 2), 1).otherwise(0)
    ).cast("long")
    sketch = ranked.groupBy("sa", "sb").agg(
        rho.alias("rho"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("union_kth_hash"),
        F.round(est_union, 4).alias("kmv_union_est"),
        F.round(rho.cast("double") / F.lit(float(KMV_K)) * est_union, 4).alias(
            "kmv_inter_est"
        ),
    )
    exact = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.bg") == F.col("b.bg"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        sketch.join(exact, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "rho",
            "union_kth_hash",
            "kmv_union_est",
            "kmv_inter_est",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
        )
        .orderBy("source_a", "source_b")
    )


def _a09_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    return f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT source, bg FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
hashed AS (
  SELECT source, bg, CAST(('0x' || substring(md5(bg), 1, 8)) AS BIGINT) AS h
  FROM bg
),
km AS (
  SELECT source, bg, h FROM (
    SELECT source, bg, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, bg) AS rn
    FROM hashed
  ) r WHERE rn <= {KMV_K}
),
srcs AS (SELECT DISTINCT source AS other FROM documents),
items AS (
  SELECT least(k.source, s.other) AS sa,
         greatest(k.source, s.other) AS sb,
         k.bg, k.h
  FROM km k CROSS JOIN srcs s
  WHERE s.other != k.source
),
sides AS (
  SELECT sa, sb, bg, h, COUNT(*) AS n_side
  FROM items GROUP BY sa, sb, bg, h
),
ranked AS (
  SELECT sa, sb, h, n_side,
         ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h, bg) AS rn
  FROM sides
),
sketch AS (
  SELECT sa, sb,
         CAST(SUM(CASE WHEN rn <= {KMV_K} AND n_side = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS rho,
         MAX(CASE WHEN rn = {KMV_K} THEN h END) AS union_kth_hash,
         round({float(KMV_K - 1)} * {_KMV_SCALE}
               / CAST(MAX(CASE WHEN rn = {KMV_K} THEN h END) AS DOUBLE), 4)
           AS kmv_union_est,
         round(CAST(SUM(CASE WHEN rn <= {KMV_K} AND n_side = 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / {float(KMV_K)}
               * ({float(KMV_K - 1)} * {_KMV_SCALE}
                  / CAST(MAX(CASE WHEN rn = {KMV_K} THEN h END) AS DOUBLE)), 4)
           AS kmv_inter_est
  FROM ranked GROUP BY sa, sb
),
exact AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS exact_intersection
  FROM hashed a JOIN hashed b ON a.bg = b.bg AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.sa AS source_a, s.sb AS source_b, s.rho, s.union_kth_hash,
       s.kmv_union_est, s.kmv_inter_est,
       COALESCE(e.exact_intersection, 0) AS exact_intersection
FROM sketch s LEFT JOIN exact e ON s.sa = e.sa AND s.sb = e.sb
ORDER BY source_a, source_b
"""


A09_SQL = _a09_sql()


# --------------------------------------------------------------------------
# a10: KMV accuracy-vs-K operating curve. a06 fixes K=64; the
# capacity-planning question is the CURVE: a KMV sketch costs K longs
# per partition per group, so the K the pipeline deploys should be
# the smallest one whose error is acceptable. One ranked relation
# serves every K (the k-th order statistic for K=16/32/64 is just
# rn∈{16,32,64} of the same window — the sweep costs nothing beyond
# a06's plan, the d19/s20 one-pass-curve pattern). Estimates are the
# same engine-exact md5 order statistics as a06; the within-50pct
# audit boolean rides each row.
# Scale: identical to a06 — the toy plan's distinct is the exact
# twin's harness; production keeps max(K) longs per partition and
# reads every smaller K out of the same sketch for free (a KMV of
# size K contains every KMV of size K' < K — that containment is
# what this curve exploits).
# --------------------------------------------------------------------------
_A10_KS = (16, 32, 64)


def a10_kmv_k_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    h = F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long")
    ranked = bg.select("source", "bg", h.alias("h")).select(
        "source",
        "h",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("h", "bg"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("exact_distinct"),
    )
    est = lambda k: F.lit(float(k - 1)) * F.lit(_KMV_SCALE) / F.col("h").cast(
        "double"
    )
    curves = [
        ranked.filter(F.col("rn") == k).select(
            "source",
            F.lit(k).cast("long").alias("k"),
            "exact_distinct",
            F.col("h").alias("kth_hash"),
            F.round(est(k), 4).alias("kmv_estimate"),
            (
                F.abs(est(k) - F.col("exact_distinct").cast("double"))
                <= F.lit(0.5) * F.col("exact_distinct").cast("double")
            ).alias("within_50pct"),
        )
        for k in _A10_KS
    ]
    out = curves[0]
    for c in curves[1:]:
        out = out.unionAll(c)
    return out.orderBy("source", "k")


def _a10_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    arms = " UNION ALL ".join(
        f"""
SELECT source, CAST({k} AS BIGINT) AS k, exact_distinct, h AS kth_hash,
       round({float(k - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE), 4)
         AS kmv_estimate,
       abs({float(k - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE)
           - CAST(exact_distinct AS DOUBLE))
         <= 0.5 * CAST(exact_distinct AS DOUBLE) AS within_50pct
FROM ranked WHERE rn = {k}"""
        for k in _A10_KS
    )
    return f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT source, bg FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, bg) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS exact_distinct
  FROM (
    SELECT source, bg,
           CAST(('0x' || substring(md5(bg), 1, 8)) AS BIGINT) AS h
    FROM bg
  ) hashed
)
SELECT * FROM ({arms}) curve
ORDER BY source, k
"""


A10_SQL = _a10_sql()


# --------------------------------------------------------------------------
# a11: Bloom-filter FPR operating curve. a05 deploys Spark's
# built-in Bloom semijoin at one size; the sizing decision it hides
# is THE Bloom question: bits-per-key vs false-positive rate. This op
# measures it from first principles with a portable two-hash Bloom
# (k=2, h_i = md5('b_i|'·x) prefix mod m) built over src0's distinct
# bigrams and probed with src1's true negatives, at m ∈ {256, 1024,
# 4096} — the measured FPR curve next to the load factor that
# explains it. Every piece is md5 integer arithmetic, so the filter
# state AND the measured FPR are engine-exact (the a06 discipline —
# no engine-internal sketch bits are compared, unlike a01–a03's
# tolerance booleans).
#
# Scale: the curve costs |members| + |probes| hash rows per arm —
# the whole audit is sketch-sized. Production reads this table to
# pick bits-per-key BEFORE building a 100-TB-side Bloom pushdown;
# the d20 decontamination tier and a05 pruning join are the
# consumers of that choice.
# --------------------------------------------------------------------------
_A11_MS = (256, 1024, 4096)


def a11_bloom_fpr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    members = bg.filter(F.col("source") == "src0").select("bg").localCheckpoint()
    probes = (
        bg.filter(F.col("source") == "src1")
        .select("bg")
        .join(members, "bg", "left_anti")
        .localCheckpoint()
    )
    h = lambda seed, m: F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), F.col("bg"))), 1, 8), 16, 10
    ).cast("long") % m
    arms = []
    for m in _A11_MS:
        bits = (
            members.select(h("b1", m).alias("bit"))
            .union(members.select(h("b2", m).alias("bit")))
            .distinct()
        )
        hashed_probes = probes.select(
            "bg", h("b1", m).alias("h1"), h("b2", m).alias("h2")
        )
        fps = hashed_probes.join(
            bits.withColumnRenamed("bit", "h1"), "h1", "left_semi"
        ).join(bits.withColumnRenamed("bit", "h2"), "h2", "left_semi")
        arm = (
            members.agg(F.count(F.lit(1)).alias("n_members"))
            .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
            .crossJoin(probes.agg(F.count(F.lit(1)).alias("n_probes")))
            .crossJoin(fps.agg(F.count(F.lit(1)).alias("n_false_pos")))
            .select(
                F.lit(m).cast("long").alias("m_bits"),
                "n_members",
                "n_bits_set",
                "n_probes",
                "n_false_pos",
                (
                    F.col("n_false_pos").cast("double")
                    / F.col("n_probes").cast("double")
                ).alias("fpr"),
            )
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("m_bits")


def _a11_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    arm = """
SELECT CAST({m} AS BIGINT) AS m_bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
       (SELECT CAST(COUNT(DISTINCT bit) AS BIGINT) FROM (
          SELECT CAST(('0x' || substring(md5('b1|' || bg), 1, 8)) AS BIGINT)
                 % {m} AS bit FROM members
          UNION ALL
          SELECT CAST(('0x' || substring(md5('b2|' || bg), 1, 8)) AS BIGINT)
                 % {m} AS bit FROM members
        ) b) AS n_bits_set,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM probes p
        WHERE CAST(('0x' || substring(md5('b1|' || p.bg), 1, 8)) AS BIGINT) % {m}
              IN (SELECT CAST(('0x' || substring(md5('b1|' || bg), 1, 8))
                       AS BIGINT) % {m} FROM members
                  UNION
                  SELECT CAST(('0x' || substring(md5('b2|' || bg), 1, 8))
                       AS BIGINT) % {m} FROM members)
          AND CAST(('0x' || substring(md5('b2|' || p.bg), 1, 8)) AS BIGINT) % {m}
              IN (SELECT CAST(('0x' || substring(md5('b1|' || bg), 1, 8))
                       AS BIGINT) % {m} FROM members
                  UNION
                  SELECT CAST(('0x' || substring(md5('b2|' || bg), 1, 8))
                       AS BIGINT) % {m} FROM members)
       ) AS n_false_pos
"""
    arms = " UNION ALL ".join(arm.format(m=m) for m in _A11_MS)
    return f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT source, bg FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
members AS (SELECT bg FROM bg WHERE source = 'src0'),
probes AS (
  SELECT bg FROM bg WHERE source = 'src1'
  AND bg NOT IN (SELECT bg FROM members)
)
SELECT m_bits, n_members, n_bits_set, n_probes, n_false_pos,
       CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE) AS fpr
FROM ({arms}) curve
ORDER BY m_bits
"""


A11_SQL = _a11_sql()


# --------------------------------------------------------------------------
# p09: TOKEN-mass curation waterfall. p08 counts DOCUMENTS
# per drop stage; the number a training plan actually budgets is
# TOKENS, and the two disagree wildly when a stage drops megadocs
# (one boilerplate-heavy doc can outweigh a thousand short dups).
# Declared: per p04 stage, the exact token mass dropped and the mass
# surviving past it — p08's set arithmetic re-weighted by the
# verdict relation's own n_tokens column (p04 already carries it;
# no extra scan).
#
# Hash-gate discipline: BIGINT conditional sums off the composed
# already-green P04 relation (oracle nests P04_SQL verbatim — the
# p08/t52 pattern). Scale: rides p04's plan; the report is a scalar
# aggregate + a 4-row stack.
# --------------------------------------------------------------------------
def p09_token_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = p04_curation_pipeline(spark, sf_dir).select("drop_reason", "n_tokens")
    stages = ("exact_dup", "too_short", "repetitive", "boilerplate")
    aggs = [F.sum("n_tokens").alias("total_tokens")] + [
        F.sum(
            F.when(F.col("drop_reason") == s, F.col("n_tokens")).otherwise(0)
        ).alias(f"d{i}")
        for i, s in enumerate(stages, start=1)
    ]
    row = v.agg(*aggs)
    cum = {i: " + ".join(f"d{j}" for j in range(1, i + 1)) for i in range(1, 5)}
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', d{i}, total_tokens - ({cum[i]})"
        for i, s in enumerate(stages, start=1)
    )
    return row.selectExpr(
        f"stack(4, {stack_args})"
        " AS (stage, stage_name, tokens_dropped, tokens_surviving)"
    ).orderBy("stage")


def _p09_sql() -> str:
    stages = ("exact_dup", "too_short", "repetitive", "boilerplate")
    conds = {
        i: " + ".join(
            f"SUM(CASE WHEN drop_reason = '{stages[j - 1]}'"
            f" THEN n_tokens ELSE 0 END)"
            for j in range(1, i + 1)
        )
        for i in range(1, 5)
    }
    arms = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS stage, '{s}' AS stage_name,"
        f" CAST(SUM(CASE WHEN drop_reason = '{s}' THEN n_tokens ELSE 0 END)"
        f" AS BIGINT) AS tokens_dropped,"
        f" CAST(SUM(n_tokens) - ({conds[i]}) AS BIGINT) AS tokens_surviving"
        f" FROM p04_out"
        for i, s in enumerate(stages, start=1)
    )
    return f"""
WITH p04_out AS ({P04_SQL})
SELECT * FROM ({arms}) w
ORDER BY stage
"""


P09_SQL = _p09_sql()


# --------------------------------------------------------------------------
# a13: deterministic sampling-error curve. a07 fixes the sample
# size; the sizing question is the CURVE: how fast does the
# hash-sample's estimate of a corpus statistic (mean tokens per doc)
# approach the population value as K grows? One md5-ranked relation
# serves every K (the a10 prefix rule: the K=10 sample IS the first
# 10 rows of the K=40 sample — nested samples, so the curve is
# consistent by construction). Declared per K: exact sample token
# sum, the sample and population means (each ONE division of exact
# BIGINTs), and the absolute error.
#
# Scale: the ranked relation is the a07 min-K-by-hash machinery —
# partial per-partition top-K at 100 TB; the curve costs nothing
# beyond max(K) rows. Error declared, not asserted: the corpus
# decides what K buys.
# --------------------------------------------------------------------------
_A13_KS = (10, 20, 40)
_A13_SEED = "a13"


def a13_sample_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from nlp_data_pipeline_spark.functions.text import word_count

    d = load_table(spark, sf_dir, "documents")
    drawn = d.select(
        "doc_id",
        word_count("text").cast("long").alias("t"),
        F.md5(
            F.concat_ws("|", F.lit(_A13_SEED), F.col("doc_id").cast("string"))
        ).alias("draw"),
    )
    ranked = drawn.withColumn(
        "rn", F.row_number().over(Window.orderBy("draw", "doc_id"))
    ).filter(F.col("rn") <= max(_A13_KS)).localCheckpoint()
    pop = d.select(word_count("text").cast("long").alias("t")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("pop_tokens")
    )
    arms = []
    for k in _A13_KS:
        arm = (
            ranked.filter(F.col("rn") <= k)
            .agg(F.sum("t").alias("sample_tokens"))
            .crossJoin(F.broadcast(pop))
            .select(
                F.lit(k).cast("long").alias("sample_k"),
                "sample_tokens",
                (F.col("sample_tokens").cast("double") / F.lit(float(k))).alias(
                    "sample_mean"
                ),
                (
                    F.col("pop_tokens").cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("pop_mean"),
                F.abs(
                    F.col("sample_tokens").cast("double") / F.lit(float(k))
                    - F.col("pop_tokens").cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("abs_error"),
            )
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("sample_k")


def _a13_sql() -> str:
    arms = " UNION ALL ".join(
        f"""
SELECT CAST({k} AS BIGINT) AS sample_k,
       (SELECT CAST(SUM(t) AS BIGINT) FROM ranked WHERE rn <= {k})
         AS sample_tokens,
       CAST((SELECT SUM(t) FROM ranked WHERE rn <= {k}) AS DOUBLE)
         / {float(k)} AS sample_mean,
       (SELECT CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) FROM toks)
         AS pop_mean,
       abs(CAST((SELECT SUM(t) FROM ranked WHERE rn <= {k}) AS DOUBLE)
             / {float(k)}
           - (SELECT CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              FROM toks)) AS abs_error"""
        for k in _A13_KS
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t != '')) AS BIGINT) AS t
  FROM documents
),
ranked AS (
  SELECT t,
         ROW_NUMBER() OVER (
           ORDER BY md5('{_A13_SEED}' || '|' || CAST(doc_id AS VARCHAR)),
                    doc_id) AS rn
  FROM toks
)
SELECT * FROM ({arms}) curve
ORDER BY sample_k
"""


A13_SQL = _a13_sql()


# --------------------------------------------------------------------------
# r23: custom record-separator ingestion. Concatenated-document
# exports can't use '\n' as the record boundary (documents contain
# newlines); the convention is a control character — here ASCII 0x1E
# (record separator) — and Spark's text reader takes it via the
# `lineSep` option. Staged: 12 documents concatenated into ONE file
# with 0x1E boundaries, read back with lineSep, and each recovered
# record re-identified by CONTENT (sha256 joined to the source table
# — the filename identity of r22 doesn't exist inside one file).
# Declared: per-record doc_id, exact length, sha — the byte-exact
# split proof. Scale: lineSep text is splittable on the separator
# scan like any text source; the single-file fixture is the
# bounded-manifest pattern (m12/r22).
# --------------------------------------------------------------------------
_R23_N_DOCS = 12


def r23_linesep_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _tmp_stage("r23")
    os.makedirs(root)
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _R23_N_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    with open(os.path.join(root, "records.txt"), "w", encoding="utf-8") as f:
        f.write("\x1e".join(r["text"] for r in rows))
    read = spark.read.option("lineSep", "\x1e").text(root)
    # identity side scoped to the staged docs: content-sha join is
    # 1:1 here (verified unique at every SF; a wider dim could fan out
    # on corpus-level exact duplicates)
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _R23_N_DOCS)
        .select("doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("sha"))
    )
    return (
        read.select(
            F.sha2(F.col("value").cast("binary"), 256).alias("sha"),
            F.length("value").cast("long").alias("n_chars"),
        )
        .join(d, "sha")
        .select("doc_id", "n_chars", F.col("sha").alias("content_sha256"))
        .orderBy("doc_id")
    )


R23_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       sha256(text) AS content_sha256
FROM documents
WHERE doc_id < {_R23_N_DOCS}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# a12: sketch cross-validation (HLL vs KMV vs exact). The suite
# carries two distinct-count sketches with opposite trade-offs:
# engine-native HLL++ (a01-a03 — fastest, but its state is
# JVM-internal so only tolerance booleans can be declared) and the
# portable md5 KMV (a06-a10 — engine-exact, mergeable, but needs K
# longs per group). This table puts all three on one row per source
# so the sketch-choice decision is read, not argued: exact distinct
# (hash-exact), the KMV estimate (hash-exact), and HLL's
# within-15%-of-exact audit boolean (the a01 tolerance pattern — the
# oracle declares the claim, Spark's row verifies it against its own
# exact column).
# Scale: all three ride ONE distinct-bigram relation; HLL and exact
# are one aggregation, KMV is the a06 window. At 100 TB only the
# sketches run (exact is the verification harness) — pick HLL for
# cheapest state, KMV when merge/auditability matters.
# --------------------------------------------------------------------------
def a12_sketch_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(clean_text("text"), " "), lambda x: x != "")
    base = d.select("source", toks.alias("t"))
    pairs_expr = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    bg = base.select("source", F.explode(pairs_expr).alias("bg")).distinct()
    h = F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long")
    ranked = bg.select("source", "bg", h.alias("h")).select(
        "source",
        "h",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("h", "bg"))
        .alias("rn"),
    )
    kmv = ranked.filter(F.col("rn") == KMV_K).select(
        "source",
        F.round(
            F.lit(float(KMV_K - 1)) * F.lit(_KMV_SCALE) / F.col("h").cast("double"),
            4,
        ).alias("kmv_estimate"),
    )
    agg = bg.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact_distinct"),
        F.approx_count_distinct("bg").alias("hll"),
    )
    return (
        agg.join(kmv, "source")
        .select(
            "source",
            "exact_distinct",
            "kmv_estimate",
            (
                F.abs(F.col("hll").cast("double") - F.col("exact_distinct").cast("double"))
                <= F.lit(0.15) * F.col("exact_distinct").cast("double")
            ).alias("hll_within_15pct"),
        )
        .orderBy("source")
    )


def _a12_sql() -> str:
    from nlp_data_pipeline_spark.operators.text_analytics import _CLEAN_SQL

    return f"""
WITH toks AS (
  SELECT source, list_filter(string_split({_CLEAN_SQL}, ' '), x -> x != '') AS t
  FROM documents
),
bg AS (
  SELECT DISTINCT source, bg FROM (
    SELECT source,
           unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
    FROM toks WHERE len(t) >= 2
  ) u
),
ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, bg) AS rn
  FROM (
    SELECT source, bg,
           CAST(('0x' || substring(md5(bg), 1, 8)) AS BIGINT) AS h
    FROM bg
  ) hashed
),
kmv AS (
  SELECT source,
         round({float(KMV_K - 1)} * {_KMV_SCALE} / CAST(h AS DOUBLE), 4)
           AS kmv_estimate
  FROM ranked WHERE rn = {KMV_K}
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM bg
  GROUP BY source
)
SELECT a.source, a.exact_distinct, k.kmv_estimate,
       TRUE AS hll_within_15pct
FROM agg a JOIN kmv k USING (source)
ORDER BY a.source
"""


A12_SQL = _a12_sql()


# --------------------------------------------------------------------------
# r20: parquet schema-evolution merge. Long-lived datasets
# evolve: a column added mid-corpus means the lake holds files with
# BOTH schemas, and the reader must widen rather than fail. Staged
# here: generation 1 writes (doc_id, source) for even doc_ids,
# generation 2 writes (doc_id, source, lang) for odd ones; the read
# goes through `mergeSchema=true`, which unions the file footers and
# fills the missing column with NULL for legacy files. The declared
# audit proves the widening: per source, total rows survive, evolved/
# legacy row counts split exactly by the generation rule, and lang is
# non-NULL precisely on generation-2 rows.
#
# Scale: schema merge is a FOOTER operation (Spark samples footers at
# planning, not data), so evolution costs nothing at read beyond the
# union'd schema; writers never rewrite history — the property that
# makes additive evolution viable on a 100-TB lake. Oracle computes
# the same audit from the raw table with the generation rule inlined.
# --------------------------------------------------------------------------
def r20_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _tmp_stage("r20")
    g1, g2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    d = load_table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source").write.parquet(g1)
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "lang"
    ).write.parquet(g2)
    merged = spark.read.option("mergeSchema", "true").parquet(g1, g2)
    return (
        merged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("lang").isNotNull().cast("long")).alias("n_evolved"),
            F.sum(F.col("lang").isNull().cast("long")).alias("n_legacy"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


R20_SQL = """
SELECT source,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_legacy,
       COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_langs
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# r21: record-level malformed-CSV audit (PERMISSIVE mode). r18 covers
# FILE-level corruption (ignoreCorruptFiles); the other resilience
# tier is RECORD-level: a feed where some rows fail the schema must
# load the good rows and QUARANTINE the bad ones, not abort (FAILFAST)
# or silently drop (DROPMALFORMED). Staged here: 1-in-5 rows carry a
# non-numeric value in a BIGINT column; the PERMISSIVE read parses
# what it can, nulls the failed field, and captures the raw line in
# `_corrupt_record`. The declared audit proves the quarantine exactly:
# row conservation, good/corrupt split on the generation rule, parsed
# mass from good rows only.
#
# Oracle: the corpus-derived generation rule is closed-form, so DuckDB
# declares the expected audit from `documents` directly. Spark quirk
# encoded here: a query touching `_corrupt_record` must materialize
# the parse first (Spark refuses corrupt-column-only filters on lazy
# CSV) — the .cache() is load-bearing, not an optimization.
# Scale: malformed handling is per-record and scan-local; the corrupt
# column costs nothing on clean rows. Quarantine-table-then-alert is
# the standard 100-TB feed contract.
# --------------------------------------------------------------------------
_R21_N_DOCS = 40


def r21_permissive_csv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _tmp_stage("r21")
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _R21_N_DOCS
    )
    lines = d.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            "source",
            F.when(F.col("doc_id") % 5 == 0, F.lit("oops")).otherwise(
                F.col("n_chars").cast("string")
            ),
        ).alias("value")
    )
    lines.write.text(root)
    parsed = spark.read.csv(
        root,
        schema="id LONG, src STRING, nc LONG, _corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
            "n_corrupt"
        ),
        F.sum(F.coalesce(F.col("nc"), F.lit(0))).alias("parsed_char_mass"),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("src"))
        ).alias("n_good_sources"),
    )


R21_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 5 != 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS parsed_char_mass,
       COUNT(DISTINCT CASE WHEN doc_id % 5 != 0 THEN source END)
         AS n_good_sources
FROM documents WHERE doc_id < {_R21_N_DOCS}
"""


# --------------------------------------------------------------------------
# p08: curation waterfall. p04 verdicts every document with its FIRST
# failing filter (exact_dup → too_short → repetitive → boilerplate →
# kept); this is the report a curation run publishes from those
# verdicts: per pipeline stage, how many documents that stage dropped
# and how many survived past it — the cumulative funnel that shows
# which filter does the work and where a threshold change would bite.
# Because p04 assigns first-failure reasons, the waterfall is exact
# set arithmetic: surviving_after_k = total − Σ_{j≤k} dropped_j.
#
# Hash-gate discipline: pure BIGINT conditional sums off p04's
# already-green verdict relation; the oracle composes P04_SQL
# verbatim as a CTE (the t52 pattern) so both sides inherit identical
# verdict rules. Scale: rides p04's one-pass plan; the report itself
# is a scalar aggregate + a 5-row stack.
# --------------------------------------------------------------------------
_P08_STAGES = ("exact_dup", "too_short", "repetitive", "boilerplate")


def p08_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = p04_curation_pipeline(spark, sf_dir).select("drop_reason")
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.sum((F.col("drop_reason") == s).cast("long")).alias(f"d{i}")
        for i, s in enumerate(_P08_STAGES, start=1)
    ]
    row = v.agg(*aggs)
    cum = {i: " + ".join(f"d{j}" for j in range(1, i + 1)) for i in range(1, 5)}
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{s}', d{i}, total - ({cum[i]})"
        for i, s in enumerate(_P08_STAGES, start=1)
    )
    return row.selectExpr(
        f"stack({len(_P08_STAGES)}, {stack_args})"
        " AS (stage, stage_name, n_dropped, n_surviving)"
    ).orderBy("stage")


def _p08_sql() -> str:
    conds = {
        i: " + ".join(
            f"SUM(CASE WHEN drop_reason = '{_P08_STAGES[j - 1]}' THEN 1 ELSE 0 END)"
            for j in range(1, i + 1)
        )
        for i in range(1, 5)
    }
    arms = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS stage, '{s}' AS stage_name,"
        f" CAST(SUM(CASE WHEN drop_reason = '{s}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_dropped,"
        f" CAST(COUNT(*) - ({conds[i]}) AS BIGINT) AS n_surviving"
        f" FROM p04_out"
        for i, s in enumerate(_P08_STAGES, start=1)
    )
    return f"""
WITH p04_out AS ({P04_SQL})
SELECT * FROM ({arms}) w
ORDER BY stage
"""


P08_SQL = _p08_sql()


# --------------------------------------------------------------------------
# r22: whole-file text ingestion. Document corpora often land as ONE
# FILE PER DOCUMENT (crawl dumps, OCR outputs, per-article exports);
# line-oriented spark.read.text would shred every document at \n.
# The `wholetext` option reads each file as a single row, and the
# hidden `_metadata.file_path` column carries the identity that
# one-doc-per-file layouts encode in the FILENAME. Staged: 10
# documents written byte-exactly as individual .txt files, read back
# wholetext, doc_id recovered from the filename, integrity declared
# as exact length + sha256 per document against the source table.
#
# Scale: wholetext means a file must fit a single row buffer — the
# right reader for document-sized files, never for multi-GB ones
# (those go through binaryFile + a splitting kernel). Small-file
# count, not size, is the real 100-TB hazard here: ingest once, then
# compact (q56) into row-grouped parquet.
# --------------------------------------------------------------------------
_R22_N_DOCS = 10


def r22_wholetext_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _tmp_stage("r22")
    os.makedirs(root)
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _R22_N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:  # bounded per-file fixture write (the m12 pattern)
        with open(
            os.path.join(root, f"doc_{r['doc_id']:06d}.txt"),
            "w",
            encoding="utf-8",
        ) as f:
            f.write(r["text"])
    read = spark.read.option("wholetext", "true").text(root)
    return (
        read.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"doc_(\d+)\.txt$", 1
            )
            .cast("long")
            .alias("doc_id"),
            F.length("value").cast("long").alias("n_chars"),
            F.sha2(F.col("value").cast("binary"), 256).alias("content_sha256"),
        )
        .orderBy("doc_id")
    )


R22_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       sha256(text) AS content_sha256
FROM documents
WHERE doc_id < {_R22_N_DOCS}
ORDER BY doc_id
"""


QUERIES = {
    "p01_document_records": p01_document_records,
    "p02_export_projection": p02_export_projection,
    "p03_records_with_tags": p03_records_with_tags,
    "p04_curation_pipeline": p04_curation_pipeline,
    "r01_csv_roundtrip": r01_csv_roundtrip,
    "r02_corrupt_json_ingest": r02_corrupt_json_ingest,
    "r03_orc_roundtrip": r03_orc_roundtrip,
    "r04_schema_evolution": r04_schema_evolution,
    "r05_cdc_upsert_merge": r05_cdc_upsert_merge,
    "r06_json_roundtrip": r06_json_roundtrip,
    "r07_partition_overwrite": r07_partition_overwrite,
    "r08_python_datasource": r08_python_datasource,
    "r09_python_datasink": r09_python_datasink,
    "r10_pdf_extract": r10_pdf_extract,
    "r11_gzip_jsonl_roundtrip": r11_gzip_jsonl_roundtrip,
    "a01_approx_stats": a01_approx_stats,
    "a02_hll_sketch_rollup": a02_hll_sketch_rollup,
    "r12_xml_roundtrip": r12_xml_roundtrip,
    "r13_training_shards_sink": r13_training_shards_sink,
    "r14_file_lineage": r14_file_lineage,
    "a03_hll_intersection": a03_hll_intersection,
    "p05_snapshot_diff": p05_snapshot_diff,
    "r15_python_stream_source": r15_python_stream_source,
    "r16_python_stream_sink": r16_python_stream_sink,
    "r17_recursive_glob_ingest": r17_recursive_glob_ingest,
    "r18_corrupt_file_ingest": r18_corrupt_file_ingest,
    "p06_dataflow_pipeline": p06_dataflow_pipeline,
    "a06_kmv_distinct_sketch": a06_kmv_distinct_sketch,
    "r19_multiline_csv_ingest": r19_multiline_csv_ingest,
    "p07_dataset_card": p07_dataset_card,
    "a08_kmv_sketch_merge": a08_kmv_sketch_merge,
    "a09_kmv_intersection": a09_kmv_intersection,
    "a10_kmv_k_curve": a10_kmv_k_curve,
    "r20_schema_evolution_merge": r20_schema_evolution_merge,
    "r21_permissive_csv_audit": r21_permissive_csv_audit,
    "r22_wholetext_ingest": r22_wholetext_ingest,
    "p08_curation_waterfall": p08_curation_waterfall,
    "a11_bloom_fpr_curve": a11_bloom_fpr_curve,
    "a12_sketch_crosscheck": a12_sketch_crosscheck,
    "r23_linesep_ingest": r23_linesep_ingest,
    "a13_sample_error_curve": a13_sample_error_curve,
    "p09_token_waterfall": p09_token_waterfall,
    "a07_reservoir_sample": a07_reservoir_sample,
}

ORACLES = {
    "p01_document_records": P01_SQL,
    "p02_export_projection": P02_SQL,
    "p03_records_with_tags": P03_SQL,
    "p04_curation_pipeline": P04_SQL,
    "r01_csv_roundtrip": R01_SQL,
    "r02_corrupt_json_ingest": R02_SQL,
    "r03_orc_roundtrip": R03_SQL,
    "r04_schema_evolution": R04_SQL,
    "r05_cdc_upsert_merge": R05_SQL,
    "r06_json_roundtrip": R06_SQL,
    "r07_partition_overwrite": R07_SQL,
    "r08_python_datasource": R08_SQL,
    "r09_python_datasink": R09_SQL,
    "r10_pdf_extract": R10_SQL,
    "r11_gzip_jsonl_roundtrip": R11_SQL,
    "a01_approx_stats": A01_SQL,
    "a02_hll_sketch_rollup": A02_SQL,
    "r12_xml_roundtrip": R12_SQL,
    "r13_training_shards_sink": R13_SQL,
    "r14_file_lineage": R14_SQL,
    "a03_hll_intersection": A03_SQL,
    "p05_snapshot_diff": P05_SQL,
    "r15_python_stream_source": R15_SQL,
    "r16_python_stream_sink": R16_SQL,
    "r17_recursive_glob_ingest": R17_SQL,
    "r18_corrupt_file_ingest": R18_SQL,
    "p06_dataflow_pipeline": P06_SQL,
    "a06_kmv_distinct_sketch": A06_SQL,
    "r19_multiline_csv_ingest": R19_SQL,
    "p07_dataset_card": P07_SQL,
    "a08_kmv_sketch_merge": A08_SQL,
    "a09_kmv_intersection": A09_SQL,
    "a10_kmv_k_curve": A10_SQL,
    "r20_schema_evolution_merge": R20_SQL,
    "r21_permissive_csv_audit": R21_SQL,
    "r22_wholetext_ingest": R22_SQL,
    "p08_curation_waterfall": P08_SQL,
    "a11_bloom_fpr_curve": A11_SQL,
    "a12_sketch_crosscheck": A12_SQL,
    "r23_linesep_ingest": R23_SQL,
    "a13_sample_error_curve": A13_SQL,
    "p09_token_waterfall": P09_SQL,
    "a07_reservoir_sample": A07_SQL,
}
