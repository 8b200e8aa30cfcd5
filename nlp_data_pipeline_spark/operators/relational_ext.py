"""Extended relational coverage: pivot, analytic window functions,
map/array types, and the salted-aggregation skew pattern.

SURVEY.md §2.B fill-ins beyond operators/relational.py. Scale notes
inline; q25 is the canonical hot-key mitigation written as a
deterministic two-phase aggregation whose SEMANTICS are identical to
the naive groupBy (the oracle proves it), while its physical shape
splits each hot key across `salt` reducers before merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nlp_data_pipeline_spark.sources.catalog import load_table
from nlp_data_pipeline_spark.scratch import scratch_path

D182 = "decimal(18,2)"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------------------
# q21: pivot — events per day × event_type as columns.
# Scale: pivot with an EXPLICIT value list is one shuffle + conditional
# aggregation; an implicit list adds a distinct-scan job first. Always
# pass the list at scale.
# --------------------------------------------------------------------------
def q21_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .fillna(0, EVENT_TYPES)
        .orderBy("day")
    )


Q21_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       {', '.join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY 1
ORDER BY day
"""


# --------------------------------------------------------------------------
# q34: unpivot (melt) — the inverse of q21's pivot, wide event matrix
# back to long (day, event_type, n_events) form. Round-trip property:
# unpivot(pivot(events)) minus the zero-fill equals the plain long-form
# aggregate, which is exactly what the oracle states. Narrow per-row
# transform (no extra shuffle beyond q21's aggregation); at 100 TB the
# wide matrix is day-count sized, so the melt is driver-trivial.
# --------------------------------------------------------------------------
def q34_unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q21_pivot_event_matrix(spark, sf_dir)
    return (
        wide.unpivot("day", list(EVENT_TYPES), "event_type", "n_events")
        .filter(F.col("n_events") > 0)
        .orderBy("day", "event_type")
    )


Q34_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# q35: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — the join
# variant data engineers reach for when the key is nullable and NULL
# means a real category ("unknown") that must match itself. Plain
# equality silently drops every NULL row; the null-safe form keeps
# them, and THAT row is the one this query exists to show. Spark plans
# <=> as an ordinary hash join (NULL hashes like any value), so the
# scale shape is identical to q03's equi-join.
# --------------------------------------------------------------------------
def q35_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # nullable derived key: bucket 0 plays "unknown" → NULL
    k = F.when(F.col("o_custkey") % 50 == 0, F.lit(None)).otherwise(
        F.col("o_custkey") % 50
    )
    left = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    right = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return (
        left.join(right, left.k.eqNullSafe(right.k))
        .select(left.k.alias("k"), "n_f", "n_o")
        .orderBy(F.asc_nulls_first("k"))
    )


Q35_SQL = """
WITH keyed AS (
  SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL ELSE o_custkey % 50 END AS k,
         o_orderstatus
  FROM orders
),
l AS (SELECT k, COUNT(*) AS n_f FROM keyed WHERE o_orderstatus = 'F' GROUP BY k),
r AS (SELECT k, COUNT(*) AS n_o FROM keyed WHERE o_orderstatus = 'O' GROUP BY k)
SELECT l.k, n_f, n_o
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
ORDER BY l.k NULLS FIRST
"""


# --------------------------------------------------------------------------
# q22: analytic window functions — ntile / percent_rank / cume_dist.
# All rank-derived ratios are exact integer divisions → cross-engine
# deterministic doubles.
# --------------------------------------------------------------------------
def q22_analytic_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).cast("long").alias("balance_quartile"),  # DuckDB NTILE is BIGINT
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("c_custkey").over(w).alias("richest_custkey"),
        )
        .filter(F.col("c_custkey") < 200)
    )


Q22_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal, balance_quartile, pct_rank, cume, richest_custkey
FROM (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         NTILE(4) OVER w AS balance_quartile,
         round(PERCENT_RANK() OVER w, 6) AS pct_rank,
         round(CUME_DIST() OVER w, 6) AS cume,
         FIRST_VALUE(c_custkey) OVER w AS richest_custkey
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
) t
WHERE c_custkey < 200
"""


# --------------------------------------------------------------------------
# q23: map + array types in flight — from_json to MapType, element_at,
# map_keys; array sequence/slice/position. Final schema stays scalar so
# the oracle is dialect-portable.
# --------------------------------------------------------------------------
def q23_map_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    seq = F.sequence(F.lit(1), (F.col("k") % 5) + 1)
    n = (F.col("k") % 5) + 1
    # "last two elements": negative slice start counts from the end, so
    # start at -2 unless the array has a single element
    last2 = F.slice(seq, F.when(n >= 2, F.lit(-2)).otherwise(F.lit(-1)), 2)
    return (
        e.select(
            "event_id",
            F.element_at(m, "k").alias("k"),
            F.size(F.map_keys(m)).cast("long").alias("n_props"),
        )
        .withColumn("seq_sum", F.aggregate(seq, F.lit(0), lambda a, x: a + x).cast("long"))
        .withColumn("seq_last2_size", F.size(last2))
        .filter(F.col("event_id") < 500)
    )


Q23_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       len(json_keys(props)) AS n_props,
       CAST((m * (m + 1)) // 2 AS BIGINT) AS seq_sum,
       CASE WHEN m >= 2 THEN 2 ELSE m END AS seq_last2_size
FROM (
  SELECT event_id, props,
         (CAST(json_extract_string(props, '$.k') AS INT) % 5) + 1 AS m
  FROM events
) t
WHERE event_id < 500
"""


# --------------------------------------------------------------------------
# q24: frame-bounded first/last — order value vs the customer's first
# and most recent order (rangeBetween on event-time ordering).
# --------------------------------------------------------------------------
def q24_first_last_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_all = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.filter(F.col("o_custkey") < 150)
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(w_all).alias("first_order_price"),
            F.last("o_totalprice").over(w_all).alias("latest_order_price"),
            F.count(F.lit(1)).over(w_all).alias("lifetime_orders"),
        )
    )


Q24_SQL = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_order_price,
       LAST_VALUE(o_totalprice) OVER w AS latest_order_price,
       COUNT(*) OVER w AS lifetime_orders
FROM orders
WHERE o_custkey < 150
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --------------------------------------------------------------------------
# q25: salted two-phase aggregation — the hot-key mitigation.
# events has only 5 event_type values (extreme key skew: every reducer
# hotspot lands on 5 tasks). Phase 1 aggregates on (key, salt) spreading
# each hot key over SALT_BUCKETS reducers; phase 2 merges the partials.
# Semantics == plain groupBy (decimal sums are associative), which the
# oracle verifies. At 100 TB this turns a 5-task shuffle into a
# 5×SALT_BUCKETS-task shuffle; AQE's skew-join handles the join-side
# analogue automatically.
# --------------------------------------------------------------------------
SALT_BUCKETS = 16


def q25_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.col("value").cast(D182)).alias("pv"),
        F.min("ts").alias("pmin"),
        F.max("ts").alias("pmax"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pc").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
            F.min("pmin").alias("first_ts"),
            F.max("pmax").alias("last_ts"),
        )
        .orderBy("event_type")
    )


Q25_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q26: multi-resolution time rollup — daily aggregates DERIVED from
# hourly partials (the hypertable / continuous-aggregate pattern).
# At 100 TB you materialize the hourly level once and every coarser
# resolution reuses it: decimal partial-sums re-aggregate exactly, so
# the oracle (direct daily aggregation from raw rows) proves the
# two-level rollup is lossless.
# --------------------------------------------------------------------------
def q26_time_rollup_from_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.col("value").cast(D182)).alias("pv"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("pc").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


Q26_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# q27: exact percentiles (interpolated) — the exact twin of a01's
# approximate sketch. Both engines use the standard linear-interpolation
# definition; inputs are 2-dp doubles so interpolation arithmetic is
# cross-engine deterministic, rounded at the edge.
# Scale: exact percentiles need a full sort per group — use a01's
# percentile_approx beyond memory-sized groups.
# --------------------------------------------------------------------------
def q27_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


Q27_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q28: outer joins — LEFT join preserving empty nations and a FULL
# OUTER against a filtered supplier slice so both null sides appear.
# Scale: outer joins can't use semi-join pruning; null-producing sides
# still broadcast when small (nation here).
# --------------------------------------------------------------------------
def q28_outer_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    # no broadcast hint here: the PRESERVED side of an outer join cannot
    # be the broadcast build side (Spark supports left_outer only with
    # build-right), so hinting nation would just be ignored with a warning
    cust_per_nation = (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )
    supp_per_nation = s.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
    return (
        cust_per_nation.join(
            supp_per_nation, F.col("n_nationkey") == F.col("s_nationkey"), "full_outer"
        )
        .select(
            F.coalesce("n_nationkey", "s_nationkey").alias("nationkey"),
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
        )
        .orderBy("nationkey")
    )


Q28_SQL = """
WITH cust AS (
  SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_customers
  FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
  GROUP BY n_nationkey, n_name
),
supp AS (
  SELECT s_nationkey, COUNT(*) AS n_rich_suppliers
  FROM supplier WHERE s_acctbal > 5000
  GROUP BY s_nationkey
)
SELECT COALESCE(n_nationkey, s_nationkey) AS nationkey,
       n_name,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers
FROM cust FULL OUTER JOIN supp ON n_nationkey = s_nationkey
ORDER BY nationkey
"""


# --------------------------------------------------------------------------
# u01: custom UDAF via an Arrow grouped-agg pandas_udf — price-weighted
# mean order value per priority. The sanctioned custom-aggregate path:
# Arrow ships each group as numpy arrays, the kernel is vectorized
# (no per-row Python), and partial aggregation doesn't apply (grouped-agg
# UDFs see whole groups) — so at scale keep groups bounded or prefer
# built-ins. Values are 2-dp; float64 accumulation error is ~1e-9 of
# the magnitude, so round(4) makes the oracle exact.
# --------------------------------------------------------------------------
def u01_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: this module uses postponed
    # annotations, which the signature-inferring form can't parse
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean_price(price, qty_weight):
        return float((price * qty_weight).sum() / qty_weight.sum())

    o = load_table(spark, sf_dir, "orders")
    weight = (F.col("o_orderkey") % 7 + 1).cast("double")  # deterministic weight
    # pandas grouped-agg UDFs can't mix with JVM aggregates in one agg():
    # count via a second pandas kernel on the weight column
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def group_count(w):
        return len(w)

    return (
        o.withColumn("w", weight)
        .groupBy("o_orderpriority")
        .agg(
            F.round(weighted_mean_price("o_totalprice", "w"), 4).alias("weighted_mean_price"),
            group_count("w").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


U01_SQL = """
SELECT o_orderpriority,
       round(SUM(o_totalprice * ((o_orderkey % 7 + 1))) / SUM((o_orderkey % 7 + 1)), 4) AS weighted_mean_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q29: salted skew JOIN — the join-side mitigation q25 demonstrates for
# aggregation (and DEPLOYMENT.md names for fact-fact joins). events'
# join key (event_type, 5 values) is extremely skewed: a plain shuffle
# join lands each key on ONE reducer. Mitigation: replicate the dim
# side SALT_BUCKETS× (explode) and salt the fact side deterministically
# with pmod(event_id, SALT_BUCKETS); the join key becomes
# (event_type, salt) so each hot key spreads over SALT_BUCKETS
# reducers. shuffle_hash hint keeps the demo honest (the tiny dim would
# otherwise broadcast and hide the salt); semantics == plain join,
# which the oracle proves. At 100 TB this is the manual fallback when
# AQE's skew-join splitting can't help (e.g. bucketed tables).
# --------------------------------------------------------------------------
def q29_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dim = e.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(D182)).cast("double") / F.count(F.lit(1))).alias(
            "type_avg"
        )
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    fact = e.withColumn("salt", F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS)))
    joined = fact.join(dim_salted.hint("shuffle_hash"), ["event_type", "salt"])
    return (
        joined.groupBy("event_type", "type_avg")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") > F.col("type_avg"), 1).otherwise(0)).alias(
                "n_above_avg"
            ),
        )
        .select(
            "event_type",
            "n_events",
            "n_above_avg",
            F.round("type_avg", 6).alias("type_avg"),
        )
        .orderBy("event_type")
    )


Q29_SQL = """
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS type_avg
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg,
       round(d.type_avg, 6) AS type_avg
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, d.type_avg
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# q30: bucketed CO-LOCATED fact-fact join — the orders⋈lineitem strategy
# DEPLOYMENT.md prescribes at 100 TB, verified as code. Both facts are
# written ONCE as bucketed tables on the join key (8 buckets at test
# scale; thousands at 100 TB); a same-key same-bucket-count join then
# needs NO shuffle exchange on either side — bucket i joins bucket i.
# The merge hint keeps the sort-merge path (broadcast would hide the
# layout win at toy scale); the oracle proves the result equals the
# plain join. Plan contract: tests/test_plans.py pins the reduced
# Exchange count.
# --------------------------------------------------------------------------
N_JOIN_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem as external bucketed tables (once per
    session × sf_dir; the layout step IS part of the operator — at
    deployment it is the one-time table build every later join reuses)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o_name, l_name = f"orders_bkt_{key}", f"lineitem_bkt_{key}"
    if not spark.catalog.tableExists(o_name):
        base = scratch_path(f"bucketed_{key}")
        (
            load_table(spark, sf_dir, "orders")
            .write.mode("overwrite")
            .bucketBy(N_JOIN_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(base, "orders"))
            .saveAsTable(o_name)
        )
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.mode("overwrite")
            .bucketBy(N_JOIN_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(base, "lineitem"))
            .saveAsTable(l_name)
        )
    return o_name, l_name


def q30_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_name).select("o_orderkey", "o_orderpriority")
    l = spark.table(l_name)
    joined = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
    revenue = F.col("l_extendedprice").cast(D182) * (
        F.lit(1).cast(D182) - F.col("l_discount").cast(D182)
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


Q30_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# u02: applyInPandas grouped-map — per-group standardization (z-score),
# the canonical "model-ish per-group kernel Python actually owns" shape:
# one shuffle on the group key, each group processed as a pandas frame.
# Exactness contract: integer quantities sum exactly in int64; both
# engines evaluate the identical float64 formula
# (q - sum/n) / sqrt((sumsq - sum²/n)/n), so values are bit-equal
# before the 6-dp presentation rounding.
# --------------------------------------------------------------------------
def u02_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"].to_numpy()
        qi = q.astype("int64")  # driver data: integral quantities
        n = len(qi)
        s = qi.sum()
        sq = (qi * qi).sum()
        mean = s / n
        std = np.sqrt((sq - s * s / n) / n)
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "l_returnflag": pdf["l_returnflag"],
                "zscore": np.round((q - mean) / std, 6),
            }
        )

    return l.groupBy("l_returnflag").applyInPandas(
        zscore, "l_orderkey long, l_linenumber long, l_returnflag string, zscore double"
    )


U02_SQL = """
WITH stats AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS s,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber, l.l_returnflag,
       round((l_quantity - CAST(s AS DOUBLE) / n)
             / sqrt((sq - CAST(s AS DOUBLE) * s / n) / n), 6) AS zscore
FROM lineitem l JOIN stats USING (l_returnflag)
"""


# --------------------------------------------------------------------------
# q31: join-key SKEW PROFILER — the diagnostic you run BEFORE choosing
# a join strategy at 100 TB: per-key counts, their spread, and the
# skew ratio (max/avg). Two cheap aggregations (partial-agg'd count,
# then scalar stats over the vocabulary-sized key table); the output
# tells you whether q25/q29-style salting or plain AQE suffices.
# --------------------------------------------------------------------------
def q31_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.min("cnt").alias("min_per_key"),
        F.max("cnt").alias("max_per_key"),
        F.round(F.sum("cnt").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_per_key"
        ),
        F.round(
            F.max("cnt").cast("double")
            / (F.sum("cnt").cast("double") / F.count(F.lit(1))),
            6,
        ).alias("skew_ratio"),
    )


Q31_SQL = """
WITH per_key AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MIN(cnt) AS min_per_key,
       MAX(cnt) AS max_per_key,
       round(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS avg_per_key,
       round(CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 6) AS skew_ratio
FROM per_key
"""


# --------------------------------------------------------------------------
# q33: time-valued RANGE frame — per event, activity within the
# TRAILING HOUR of the same user (count + value sum). This is the
# per-row sliding time window (rate limiting, burst detection) that
# rows-frames can't express when events are irregularly spaced. Both
# engines order by integer epoch-seconds so the frame bound is the
# identical [ts-3600s, ts] closed interval. Scale: one shuffle on
# user_id; the frame scan is sort-local per partition.
# --------------------------------------------------------------------------
def q33_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return e.filter(F.col("user_id") < 20).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
        F.sum(F.col("value").cast(D182)).over(w).cast("double").alias("value_last_hour"),
    )


Q33_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS events_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_last_hour
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# q32: EXISTS / NOT EXISTS decorrelation — the TPC-H Q4 shape. Per
# order priority: how many orders have at least one item shipped >60
# days after the order date (EXISTS → left-semi join) and how many have
# no returned item at all (NOT EXISTS → left-anti join). Scale: both
# subqueries decorrelate to one pass each over lineitem keyed on
# l_orderkey — never a per-row subquery loop; the filters (shipdate
# window, returnflag) are pushed below the joins so the semi/anti probe
# sides are pre-shrunk.
# --------------------------------------------------------------------------
def q32_exists_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    late = (
        o.join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.date_add("o_orderdate", 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    no_ret = (
        o.join(
            l.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_anti",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_no_returns"))
    )
    total = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        total.join(late, "o_orderpriority", "left")
        .join(no_ret, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_orders",
            F.coalesce("n_late", F.lit(0)).alias("n_late"),
            F.coalesce("n_no_returns", F.lit(0)).alias("n_no_returns"),
        )
        .orderBy("o_orderpriority")
    )


Q32_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (EXISTS (
         SELECT 1 FROM lineitem l
         WHERE l.l_orderkey = o.o_orderkey
           AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)) AS n_late,
       COUNT(*) FILTER (NOT EXISTS (
         SELECT 1 FROM lineitem l
         WHERE l.l_orderkey = o.o_orderkey
           AND l.l_returnflag = 'R')) AS n_no_returns
FROM orders o
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# u03: scalar Pandas UDF — the Arrow-vectorized series→series kernel,
# the ONLY acceptable shape when custom Python must run per-row at
# scale (whole Arrow batches cross the boundary; numpy does the math).
# Tier-based fee: demonstrative, deliberately simple — both engines
# evaluate the identical IEEE double ops, so the oracle is exact.
# --------------------------------------------------------------------------
def u03_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit SCALAR functionType: postponed annotations (module-wide
    # `from __future__ import annotations`) break hint inference
    @pandas_udf("double", PandasUDFType.SCALAR)
    def fee(balance):
        return balance * balance.gt(5000.0).map({True: 0.05, False: 0.01})

    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") < 500)
        .select(
            "c_custkey",
            "c_acctbal",
            F.round(fee("c_acctbal"), 4).alias("account_fee"),
        )
        .orderBy("c_custkey")
    )


U03_SQL = """
SELECT c_custkey, c_acctbal,
       round(c_acctbal * CASE WHEN c_acctbal > 5000.0 THEN 0.05 ELSE 0.01 END, 4)
         AS account_fee
FROM customer
WHERE c_custkey < 500
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# u04: Arrow-optimized row UDF (@udf(useArrow=True), Spark 3.5+) — the
# remaining UDF API variant: per-row Python semantics with Arrow batch
# transport (≈2-3× pickled row serialization, still ≫ slower than u03's
# vectorized kernel — registered as API coverage, kept out of hot
# paths like v03's UDTF). String formatting only, so the oracle is
# byte-exact.
# --------------------------------------------------------------------------
def u04_arrow_row_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-DEMO: deliberate row-at-a-time Python, kept ONLY to cover the
    @udf(useArrow=True) API surface. Not a hot-path pattern — the
    built-in-expression twin is q16, and tests/test_plans.py pins zero
    Python stages in every text/similarity/dedup hot path."""
    from pyspark.sql.functions import udf

    @udf("string", useArrow=True)
    def order_label(status: str, price: float) -> str:
        return f"{status}-{'HIGH' if price > 150000.0 else 'LOW'}"

    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.col("o_totalprice"),
            order_label("o_orderstatus", "o_totalprice").alias("order_label"),
        )
        .orderBy("o_orderkey")
    )


U04_SQL = """
SELECT o_orderkey, o_totalprice,
       o_orderstatus || '-' || CASE WHEN o_totalprice > 150000.0 THEN 'HIGH' ELSE 'LOW' END
         AS order_label
FROM orders
WHERE o_orderkey < 2000
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# q36: VARIANT ingestion (Spark 4's semi-structured type) — the modern
# replacement for q18's get_json_object string probing: parse_json
# lands the payload ONCE as a typed binary VARIANT (parsed at ingest,
# not re-parsed per access), then variant_get extracts typed paths and
# schema_of_variant reports the discovered shape. At 100 TB the parse-
# once property is the cost difference: N path extractions over a
# VARIANT column touch the parsed tree, while N get_json_object calls
# re-parse the JSON string N times.
# --------------------------------------------------------------------------
def q36_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.withColumn("payload", F.parse_json("props"))
    k = F.variant_get("payload", "$.k", "int")
    return (
        v.select(
            (k - k % 10).alias("k_bucket"),
            F.schema_of_variant("payload").alias("payload_schema"),
            F.col("value"),
            F.col("user_id"),
        )
        .groupBy("k_bucket", "payload_schema")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .orderBy("k_bucket")
    )


Q36_SQL = """
SELECT (k - k % 10) AS k_bucket,
       'OBJECT<k: BIGINT>' AS payload_schema,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM (SELECT CAST(props->>'$.k' AS INT) AS k, user_id, value FROM events)
GROUP BY 1, 2
ORDER BY k_bucket
"""


# --------------------------------------------------------------------------
# q37: Observation API — in-flight data-quality metrics collected by
# the SAME job that does the real work. observe() attaches aggregate
# metrics to the scan; they materialize as a side effect of the one
# action, so the quality audit costs zero extra passes. At 100 TB a
# separate metrics job would literally double the scan bill — this is
# how production pipelines watch row counts / bad-value rates for free.
# The declared result packs the observed metrics next to the job's own
# output; the oracle recomputes all of them from the table, so a hash
# match proves observe() saw every row of the same scan.
# --------------------------------------------------------------------------
def q37_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    l = load_table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n_bad_qty"),
        F.sum(F.col("l_quantity").cast(D182)).cast("double").alias("total_qty"),
        F.max(F.col("l_extendedprice")).alias("max_extprice"),
    )
    revenue = F.col("l_extendedprice").cast(D182) * (
        F.lit(1).cast(D182) - F.col("l_discount").cast(D182)
    )
    # the real work — one action drives both the answer and the metrics
    total_revenue = float(
        observed.agg(F.sum(revenue).cast("double").alias("r")).first()["r"]
    )
    m = obs.get
    return spark.createDataFrame(
        [
            (
                total_revenue,
                m["n_rows"],
                m["n_bad_qty"],
                m["total_qty"],
                m["max_extprice"],
            )
        ],
        "total_revenue double, n_rows bigint, n_bad_qty bigint, "
        "total_qty double, max_extprice double",
    )


Q37_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_qty,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       MAX(l_extendedprice) AS max_extprice
FROM lineitem
"""


# --------------------------------------------------------------------------
# q38: declarative data-expectations audit (Great-Expectations /
# dbt-test shape) — a rule table evaluated over the fact in ONE
# aggregation pass: every rule is a SUM(CASE), so adding a rule costs a
# column, never a scan. The wide audit row then unpivots (stack) into
# the long (rule, n_violations, pass) report consumers join against.
# At 100 TB this is the only affordable shape for expectation suites —
# one scan amortized across all rules, no per-rule jobs. pass-rate
# thresholds are per-rule (hard rules: 0 violations; soft rules: a
# tolerance fraction).
# --------------------------------------------------------------------------
_Q38_RULES = [
    # (rule name, violation predicate SQL, max tolerated violation rate)
    ("orderkey_not_null", "l_orderkey IS NULL", 0.0),
    ("quantity_in_1_50", "l_quantity < 1 OR l_quantity > 50", 0.0),
    ("extendedprice_positive", "l_extendedprice <= 0", 0.0),
    ("discount_in_0_0p1", "l_discount < 0 OR l_discount > 0.1", 0.0),
    ("returnflag_in_domain", "l_returnflag NOT IN ('A','N','R')", 0.0),
    ("tax_below_discount", "l_tax < l_discount", 0.5),  # soft profile rule
]


def q38_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_checked")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(f"v{i}")
        for i, (_n, pred, _t) in enumerate(_Q38_RULES)
    ]
    wide = l.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', v{i}, CAST({tol} AS DOUBLE)"
        for i, (name, _p, tol) in enumerate(_Q38_RULES)
    )
    long = wide.selectExpr(
        "n_checked",
        f"stack({len(_Q38_RULES)}, {stack_args}) AS (rule, n_violations, tolerance)",
    )
    return long.select(
        "rule",
        "n_checked",
        "n_violations",
        F.round(F.col("n_violations") / F.col("n_checked"), 6).alias(
            "violation_rate"
        ),
        (F.col("n_violations") <= F.col("tolerance") * F.col("n_checked")).alias(
            "pass"
        ),
    ).orderBy("rule")


def _q38_sql() -> str:
    selects = []
    for name, pred, tol in _Q38_RULES:
        selects.append(
            f"SELECT '{name}' AS rule, COUNT(*) AS n_checked, "
            f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, "
            f"CAST({tol} AS DOUBLE) AS tolerance FROM lineitem"
        )
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH audits AS (
{body}
)
SELECT rule, n_checked, n_violations,
       round(CAST(n_violations AS DOUBLE) / n_checked, 6) AS violation_rate,
       n_violations <= tolerance * n_checked AS pass
FROM audits
ORDER BY rule
"""


Q38_SQL = _q38_sql()


# --------------------------------------------------------------------------
# q39: Z-ORDER clustering audit — the Delta/Iceberg OPTIMIZE ZORDER
# primitive as a declarative computation. Rows are assigned to file
# buckets by the Morton interleave of two quantized keys; the audit
# reports, per bucket, how tightly BOTH key ranges are bounded
# (span fraction = (max−min)/range), side-by-side with a plain 1-D
# sort layout of the same bucket count. Z-order buckets bound both
# dimensions (both spans ≪ 1) while the linear layout bounds only its
# sort key — the property that lets min/max file statistics skip files
# for predicates on EITHER column at 100 TB. Everything is a pure
# function of the row's keys (fixed 16-bit quantization against exact
# global bounds, fixed 64-bucket split), so the layout assignment is
# deterministic and the oracle reproduces it bit-exactly — unlike
# repartitionByRange, whose sampled boundaries are not stable.
# --------------------------------------------------------------------------
_Q39_BITS = 16
_Q39_BUCKET_BITS = 6  # 2^6 = 64 buckets


def q39_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y")
    )
    bounds = l.agg(
        F.min("x").alias("xmn"), F.max("x").alias("xmx"),
        F.min("y").alias("ymn"), F.max("y").alias("ymx"),
    )
    q = l.crossJoin(F.broadcast(bounds)).selectExpr(
        "x", "y",
        f"CAST((x - xmn) * {(1 << _Q39_BITS) - 1} DIV greatest(xmx - xmn, 1) AS BIGINT) AS xq",
        f"CAST((y - ymn) * {(1 << _Q39_BITS) - 1} DIV greatest(ymx - ymn, 1) AS BIGINT) AS yq",
    )
    z = q.selectExpr(
        "x", "y", "xq", "yq",
        f"aggregate(sequence(0, {_Q39_BITS - 1}), CAST(0 AS BIGINT), (acc, i) -> "
        "acc + shiftleft(shiftright(xq, i) & 1, 2*i) + shiftleft(shiftright(yq, i) & 1, 2*i + 1)"
        ") AS zval",
    )
    # 64 buckets: z-order uses the top 6 bits of the 32-bit z value;
    # the linear layout uses the top 6 bits of the x quantization alone
    both = z.selectExpr(
        "x", "y",
        f"shiftright(zval, {2 * _Q39_BITS - _Q39_BUCKET_BITS}) AS zorder",
        f"shiftright(xq, {_Q39_BITS - _Q39_BUCKET_BITS}) AS linear_x",
    ).selectExpr("x", "y", "stack(2, 'zorder', zorder, 'linear_x', linear_x) AS (layout, bucket)")
    per = both.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("xmn_b"), F.max("x").alias("xmx_b"),
        F.min("y").alias("ymn_b"), F.max("y").alias("ymx_b"),
    )
    out = per.crossJoin(F.broadcast(bounds)).select(
        "layout", "bucket", "n_rows",
        F.round((F.col("xmx_b") - F.col("xmn_b")) / F.greatest(F.col("xmx") - F.col("xmn"), F.lit(1)), 4).alias("x_span_frac"),
        F.round((F.col("ymx_b") - F.col("ymn_b")) / F.greatest(F.col("ymx") - F.col("ymn"), F.lit(1)), 4).alias("y_span_frac"),
    )
    return out.orderBy("layout", "bucket")


Q39_SQL = f"""
WITH b AS (
  SELECT MIN(l_partkey) AS xmn, MAX(l_partkey) AS xmx,
         MIN(l_suppkey) AS ymn, MAX(l_suppkey) AS ymx
  FROM lineitem
),
q AS (
  SELECT l_partkey AS x, l_suppkey AS y,
         CAST((l_partkey - xmn) * {(1 << _Q39_BITS) - 1} // GREATEST(xmx - xmn, 1) AS BIGINT) AS xq,
         CAST((l_suppkey - ymn) * {(1 << _Q39_BITS) - 1} // GREATEST(ymx - ymn, 1) AS BIGINT) AS yq
  FROM lineitem, b
),
z AS (
  SELECT x, y, xq, yq,
         list_sum(list_transform(range(0, {_Q39_BITS}),
           i -> (((xq >> i) & 1) << (2*i)) + (((yq >> i) & 1) << (2*i + 1)))) AS zval
  FROM q
),
layouts AS (
  SELECT x, y, 'zorder' AS layout, zval >> {2 * _Q39_BITS - _Q39_BUCKET_BITS} AS bucket FROM z
  UNION ALL
  SELECT x, y, 'linear_x' AS layout, xq >> {_Q39_BITS - _Q39_BUCKET_BITS} AS bucket FROM z
),
per AS (
  SELECT layout, bucket, COUNT(*) AS n_rows,
         MIN(x) AS xmn_b, MAX(x) AS xmx_b, MIN(y) AS ymn_b, MAX(y) AS ymx_b
  FROM layouts GROUP BY layout, bucket
)
SELECT layout, CAST(bucket AS BIGINT) AS bucket, n_rows,
       round(CAST(xmx_b - xmn_b AS DOUBLE) / GREATEST(xmx - xmn, 1), 4) AS x_span_frac,
       round(CAST(ymx_b - ymn_b AS DOUBLE) / GREATEST(ymx - ymn, 1), 4) AS y_span_frac
FROM per, b
ORDER BY layout, bucket
"""


# --------------------------------------------------------------------------
# q40: incremental materialized-view maintenance — the delta-refresh
# primitive behind streaming aggregations, hypertable continuous
# aggregates (q26's sibling), and warehouse MV REFRESH: instead of
# recomputing a (month, status) revenue rollup over ALL history when a
# new batch lands, keep per-group PARTIALS (count, sum) for the frozen
# history, aggregate only the delta batch, and MERGE the two partial
# sets with a re-aggregation — counts add, sums add, and derived
# metrics (avg) are computed from merged partials at the edge, never
# averaged-of-averages.
#
# Scale: the refresh cost is O(delta + |groups|), not O(history). At
# 100 TB the base partials are a tiny summary table (months × statuses)
# read from the MV store; only the new batch is scanned. Here both
# halves come from one `orders` scan split by a date predicate so the
# oracle can prove the merged result is value-identical to the direct
# full recompute (sums in decimal(18,2): order-independent, hash-exact).
# --------------------------------------------------------------------------
_Q40_SPLIT = "2000-01-01"


def q40_incremental_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(D182).alias("price"),
        F.col("o_orderdate").alias("od"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "status").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("total_price"),
        )

    base = partials(o.filter(F.col("od") < F.lit(_Q40_SPLIT)))  # the stored MV
    delta = partials(o.filter(F.col("od") >= F.lit(_Q40_SPLIT)))  # new batch
    merged = (
        base.unionByName(delta)
        .groupBy("month", "status")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
    )
    return merged.select(
        "month",
        "status",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        F.round(F.col("total_price").cast("double") / F.col("n_orders"), 4).alias(
            "avg_price"
        ),
    ).orderBy("month", "status")


# The oracle is the DIRECT full recompute — proving the partial-merge
# refresh is semantically invisible.
Q40_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       o_orderstatus AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price
FROM orders
GROUP BY 1, 2
ORDER BY month, status
"""


# --------------------------------------------------------------------------
# q41: runtime Bloom-filter join pruning — Spark's row-level runtime
# filter (SPARK-32268): when a selective filter sits on one side of a
# shuffle join, the optimizer builds a Bloom filter of that side's join
# keys and injects `might_contain(...)` into the OTHER side's scan
# filter, discarding non-matching fact rows BEFORE the shuffle. The
# dynamic-partition-pruning sibling (e15) skips whole partitions;
# bloom pruning works row-level on unpartitioned data — at 100 TB it
# cuts the dominant cost of a selective fact-dim join (shuffling fact
# rows that can never match) by the dim's selectivity.
#
# The conf block forces the demonstration shape at test scale (tiny
# thresholds + no broadcast, since a broadcast join needs no runtime
# filter); the aggregate is materialized to parquet INSIDE the scoped
# block so execution genuinely runs with the filter injected (plans
# resolve lazily — returning an unexecuted frame would let the restore
# race the optimizer), then read back. `test_plans.py` pins the
# `might_contain` injection. Semantics are conf-independent — the
# oracle is the plain join aggregate.
# --------------------------------------------------------------------------
_Q41_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


class _scoped_confs:
    """Set confs on enter, restore previous values (or unset) on exit."""

    def __init__(self, spark: SparkSession, confs: dict):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.prev = {}
        for k, v in self.confs.items():
            try:
                self.prev[k] = self.spark.conf.get(k)
            except Exception:
                self.prev[k] = None
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def _q41_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective fact-dim join shape the bloom filter targets."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_extendedprice").cast(D182).alias("price")
    )
    sel = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        l.join(sel, l.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


def q41_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    # deterministic per-process dir, cleaned on entry (the r09 pattern:
    # repeated bench runs must not accumulate copies under /tmp)
    root = scratch_path(f"q41_bloom_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "agg")
    with _scoped_confs(spark, _Q41_CONFS):
        _q41_join(spark, sf_dir).write.mode("overwrite").parquet(out)
    # the read-back frame is collected lazily by the caller, so the dir
    # must outlive this call — the clean-on-entry above bounds growth
    return spark.read.parquet(out).orderBy("o_orderpriority")


Q41_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q42: collation-aware grouping (oracle-parity-tested in
# test_round6_ops.py::test_q42_matches_duckdb_oracle).
#
# Spark 4 string collations (SPARK-46830): `COLLATE UTF8_LCASE` makes
# equality/grouping/joins case-insensitive IN THE ENGINE — hash
# aggregation on the collation key, no lower() rewrite of every
# predicate, and (unlike a lower() wrapper) it composes with future
# locale collations. Exercised by deliberately case-mutating `source`
# (odd doc_ids upper-cased) and grouping on the collated value: the
# collated counts must merge the case variants exactly as grouping the
# lower()ed key would — which is precisely what the oracle computes.
# --------------------------------------------------------------------------
def q42_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("q42_documents")
    return spark.sql(
        """
        SELECT lower(k) AS source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM (
          SELECT CASE WHEN doc_id % 2 = 1 THEN upper(source) ELSE source END
                   COLLATE UTF8_LCASE AS k,
                 n_chars
          FROM q42_documents
        )
        GROUP BY k
        ORDER BY source
        """
    )


Q42_SQL = """
SELECT lower(CASE WHEN doc_id % 2 = 1 THEN upper(source) ELSE source END) AS source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
ORDER BY source
"""


# --------------------------------------------------------------------------
# q43: explicit GROUPING SETS (oracle-parity-tested in
# test_round7_ops.py::test_q43_matches_duckdb_oracle).
#
# The DataFrame-API twin of v04's SQL GROUPING SETS: the
# df.groupingSets() method (SPARK-45929, new in Spark 4) — previously
# the ONE aggregation shape with no DSL spelling — plus grouping_id()
# to disambiguate NULL-as-total rows and the grand-total set v04
# omits. Scale: one Expand + one shuffle regardless of how many sets —
# strictly cheaper than UNION ALL of per-set aggregates (re-scans).
# --------------------------------------------------------------------------
def q43_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                ["o_orderpriority", "o_orderstatus"],
                ["o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(D182)).cast("double").alias("total_price"),
        )
        .orderBy("gid", F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus"))
    )


Q43_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), (o_orderstatus), ())
ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


# --------------------------------------------------------------------------
# u06: cogrouped-pandas as-of attribution (oracle-parity-tested in
# test_round7_ops.py::test_u06_matches_duckdb_oracle).
#
# The one applyInPandas surface the u-series lacked: TWO grouped
# DataFrames cogrouped on a key, each (key, left-frame, right-frame)
# triple handed to one pandas kernel. The classic use is last-touch
# attribution: for every click, the same user's most recent purchase
# strictly before it and within 24 h (pd.merge_asof backward with
# tolerance — per-user interleaved time series, exactly what a single
# flat join can't express without an aggregation-then-rejoin detour).
# Declared surface re-aggregates per user in Spark: click count,
# attributed count, mean minutes-since-purchase. Scale shape: ONE
# shuffle of each side on user_id, then per-key pandas frames stream
# through Arrow; 100 TB guidance is the same as q19's as-of join —
# keys are users, so frames stay small and skew rides AQE.
# Determinism: timestamps are exact µs integers, minute deltas are the
# same integer ratio on both engines, 4-dp rounding absorbs the
# avg() summation-order ulp.
# --------------------------------------------------------------------------
def u06_cogrouped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    # Pin the cogroup's partitioning explicitly: AQE sizes partitions by
    # BYTES and happily coalesces this small shuffle to one task — but
    # the cost here is ~50 ms of Python/Arrow overhead PER GROUP, which
    # byte-based sizing can't see, so coalescing serializes every group
    # onto one core (7.7 s → 1.1 s at sf0.1 when spread). A
    # user-specified partition count is exempt from AQE coalescing;
    # inheriting spark.sql.shuffle.partitions keeps it cluster-sized.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .repartition(n_part, "user_id")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"))
        .repartition(n_part, "user_id")
    )

    def attribute(key, c: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        c = c.sort_values("ts")
        p = p.sort_values("purchase_ts")
        return pd.merge_asof(
            c,
            p[["purchase_ts"]],
            left_on="ts",
            right_on="purchase_ts",
            direction="backward",
            allow_exact_matches=False,
            tolerance=pd.Timedelta(hours=24),
        )

    attributed = (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(attribute, "user_id long, ts timestamp, purchase_ts timestamp")
    )
    mins = (F.unix_micros("ts") - F.unix_micros("purchase_ts")) / F.lit(60000000.0)
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("purchase_ts").alias("n_attributed"),
            F.round(F.avg(mins), 4).alias("avg_mins_since_purchase"),
        )
        .orderBy("user_id")
    )


U06_SQL = """
WITH clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
att AS (
  SELECT c.user_id, c.ts,
         (SELECT max(p.ts) FROM p
          WHERE p.user_id = c.user_id AND p.ts < c.ts
            AND p.ts >= c.ts - INTERVAL 24 HOUR) AS purchase_ts
  FROM clicks c
)
SELECT user_id,
       COUNT(*) AS n_clicks,
       COUNT(purchase_ts) AS n_attributed,
       round(AVG((epoch_us(ts) - epoch_us(purchase_ts)) / 60000000.0), 4)
         AS avg_mins_since_purchase
FROM att
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# u07: mapInArrow batch kernel (oracle-parity-tested in
# test_round7_ops.py::test_u07_matches_duckdb_oracle).
#
# The lowest-level Python batch surface: raw pyarrow RecordBatches in
# and out, no pandas conversion layer — the shape for numeric kernels
# where the pandas detour only costs (u03/u04 cover the pandas and
# row-Arrow variants). Each embedding batch is flattened zero-ish-copy
# into one (n, 64) float64 matrix and BLAS-reduced per row: L2 norm,
# max |component|, positive-component count. No shuffle at all — a
# pure map stage; at 100 TB this is one pass at parquet-scan speed.
# max_abs and n_positive are arithmetic-exact across engines; the norm
# is a 64-term sum (numpy pairwise vs DuckDB sequential fold differ by
# ≤1 ulp) presented at 6 dp like every other float surface here.
# --------------------------------------------------------------------------
def u07_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def stats(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            emb = b.column(b.schema.get_field_index("embedding"))
            m = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            m = m.reshape(len(emb), -1)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": b.column(b.schema.get_field_index("vec_id")),
                    "l2_norm": pa.array(
                        np.round(np.sqrt((m * m).sum(axis=1)), 6)
                    ),
                    "max_abs": pa.array(np.round(np.abs(m).max(axis=1), 6)),
                    "n_positive": pa.array((m > 0).sum(axis=1).astype("int64")),
                }
            )

    return e.mapInArrow(
        stats, "vec_id long, l2_norm double, max_abs double, n_positive long"
    ).orderBy("vec_id")


U07_SQL = """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
         AS l2_norm,
       round(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 6)
         AS max_abs,
       CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT)
         AS n_positive
FROM embeddings
ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# q44: listagg / ordered string aggregation (SPARK-42746, Spark 4.1)
# (oracle-parity-tested in
# test_round7_ops.py::test_q44_matches_duckdb_oracle).
#
# The SQL:2023 `LISTAGG(expr, sep) WITHIN GROUP (ORDER BY ...)`
# surface: per region, the ordered nation roster plus each region's
# top-2 nations by customer count folded to a string. WITHIN GROUP
# makes the concatenation order part of the query contract — without
# it collect_list order is partitioning-dependent and any string
# aggregate is nondeterministic at scale. Oracle: DuckDB's
# string_agg(x, sep ORDER BY ...) spelling of the same operator.
# --------------------------------------------------------------------------
def q44_listagg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("region", "nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        WITH per_nation AS (
          SELECT r.r_name, n.n_name, COUNT(c.c_custkey) AS n_customers
          FROM region r
          JOIN nation n ON n.n_regionkey = r.r_regionkey
          LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
          GROUP BY r.r_name, n.n_name
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY r_name
                     ORDER BY n_customers DESC, n_name ASC) AS rk
          FROM per_nation
        )
        SELECT r_name,
               COUNT(*) AS n_nations,
               LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               LISTAGG(CASE WHEN rk <= 2 THEN n_name END, ',')
                 WITHIN GROUP (ORDER BY rk) AS top2_by_customers
        FROM ranked
        GROUP BY r_name
        ORDER BY r_name
        """
    )


Q44_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name, COUNT(c.c_custkey) AS n_customers
  FROM region r
  JOIN nation n ON n.n_regionkey = r.r_regionkey
  LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY r.r_name, n.n_name
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY r_name
             ORDER BY n_customers DESC, n_name ASC) AS rk
  FROM per_nation
)
SELECT r_name,
       COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       string_agg(CASE WHEN rk <= 2 THEN n_name END, ',' ORDER BY rk)
         AS top2_by_customers
FROM ranked
GROUP BY r_name
ORDER BY r_name
"""


# --------------------------------------------------------------------------
# q45: DataFrame.transpose (SPARK-49128, Spark 4.0)
# (oracle-parity-tested in
# test_round7_ops.py::test_q45_matches_duckdb_oracle).
#
# The frame-flip API: a (priority × metric) summary table transposed
# to (metric × priority) — the report orientation, computed engine-side
# instead of in a client. Metric values are uniformly DOUBLE before
# the flip (transpose requires one least-common value type) and every
# float is settled (rounded) BEFORE transposing, so the flip itself is
# value-exact. Scale note: transpose collects the (small, aggregated)
# frame's key column to name output columns — apply it to
# vocabulary-sized summaries, never to fact tables.
# --------------------------------------------------------------------------
def q45_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    metrics = (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )
    flipped = metrics.transpose("o_orderpriority")
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    # a priority absent from the data produces NO transposed column;
    # emit NULL for it (matching the oracle's empty correlated
    # subquery) instead of failing analysis on the missing name
    present = set(flipped.columns)
    cols = [F.col("key").alias("metric")] + [
        (F.col(f"`{src}`") if src in present else F.lit(None).cast("double")).alias(dst)
        for src, dst in renames.items()
    ]
    return flipped.select(*cols).orderBy("metric")


Q45_SQL = """
WITH m AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         round(AVG(o_totalprice), 4) AS avg_price,
         MAX(o_totalprice) AS max_price
  FROM orders GROUP BY o_orderpriority
)
SELECT t.metric,
       (SELECT CASE t.metric WHEN 'n_orders' THEN n_orders
               WHEN 'avg_price' THEN avg_price ELSE max_price END
        FROM m WHERE o_orderpriority = '1-URGENT') AS urgent,
       (SELECT CASE t.metric WHEN 'n_orders' THEN n_orders
               WHEN 'avg_price' THEN avg_price ELSE max_price END
        FROM m WHERE o_orderpriority = '2-HIGH') AS high,
       (SELECT CASE t.metric WHEN 'n_orders' THEN n_orders
               WHEN 'avg_price' THEN avg_price ELSE max_price END
        FROM m WHERE o_orderpriority = '3-MEDIUM') AS medium,
       (SELECT CASE t.metric WHEN 'n_orders' THEN n_orders
               WHEN 'avg_price' THEN avg_price ELSE max_price END
        FROM m WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       (SELECT CASE t.metric WHEN 'n_orders' THEN n_orders
               WHEN 'avg_price' THEN avg_price ELSE max_price END
        FROM m WHERE o_orderpriority = '5-LOW') AS low
FROM (VALUES ('n_orders'), ('avg_price'), ('max_price')) t(metric)
ORDER BY metric
"""


# --------------------------------------------------------------------------
# q46: DataFrame.lateralJoin API (SPARK-46794, Spark 4.0)
# (oracle-parity-tested in
# test_round7_ops.py::test_q46_matches_duckdb_oracle).
#
# v06/v09 cover SQL LATERAL; this is the DataFrame-side spelling: the
# right side references the CURRENT left row via Column.outer(), so
# "top-2 nations per region by customer count" is an orderBy+limit on
# the correlated subframe instead of a window-rank detour. Catalyst
# decorrelates it to the same rank-filter plan — the API is sugar, the
# physical strategy is shared, which is exactly what the oracle's
# window restatement proves.
# --------------------------------------------------------------------------
def q46_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    per_nation = (
        n.join(c, n["n_nationkey"] == c["c_nationkey"], "left")
        .groupBy("n_regionkey", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )
    top2 = (
        per_nation.where(F.col("n_regionkey") == F.col("r_regionkey").outer())
        .orderBy(F.desc("n_customers"), F.asc("n_name"))
        .limit(2)
    )
    return (
        r.lateralJoin(top2)
        .select("r_name", "n_name", "n_customers")
        .orderBy("r_name", F.desc("n_customers"), "n_name")
    )


Q46_SQL = """
WITH per_nation AS (
  SELECT n.n_regionkey, n.n_name, COUNT(c.c_custkey) AS n_customers
  FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name
),
ranked AS (
  SELECT r.r_name, p.n_name, p.n_customers,
         ROW_NUMBER() OVER (PARTITION BY r.r_name
           ORDER BY p.n_customers DESC, p.n_name ASC) AS rk
  FROM region r JOIN per_nation p ON p.n_regionkey = r.r_regionkey
)
SELECT r_name, n_name, CAST(n_customers AS BIGINT) AS n_customers
FROM ranked WHERE rk <= 2
ORDER BY r_name, n_customers DESC, n_name
"""


# --------------------------------------------------------------------------
# u08: iterator-of-series pandas UDF (SCALAR_ITER) (oracle-parity-tested
# in test_round7_ops.py::test_u08_matches_duckdb_oracle).
#
# The evaluation mode built for batch model INFERENCE: the function
# receives an ITERATOR of Arrow batches per worker, so expensive state
# (a model, a tokenizer, a lookup table) loads ONCE per worker and
# amortizes over every batch — u03's plain scalar UDF would rebuild it
# per batch. The "model" here is a deterministic severity table built
# in the init section (the structure is what's exercised; swap in a
# real model load at deployment). The oracle restates the scoring
# closed-form, proving init-once changes cost, not semantics.
# --------------------------------------------------------------------------
def u08_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit SCALAR_ITER functionType: this module uses postponed
    # annotations, which the signature-inferring form can't parse (u01)
    @pandas_udf("double", PandasUDFType.SCALAR_ITER)
    def severity(batches):
        # -- init once per worker (the whole point of SCALAR_ITER) --
        table = {"error": 5.0, "purchase": 3.0, "signup": 2.0,
                 "click": 1.0, "view": 0.5}
        for s in batches:
            yield s.map(table).fillna(0.0)

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("sev", severity("event_type"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("sev"), 1).alias("total_severity"),
        )
        .orderBy("event_type")
    )


U08_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       round(SUM(CASE event_type WHEN 'error' THEN 5.0 WHEN 'purchase' THEN 3.0
                 WHEN 'signup' THEN 2.0 WHEN 'click' THEN 1.0
                 WHEN 'view' THEN 0.5 ELSE 0.0 END), 1) AS total_severity
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# u09: pandas UDAF as a WINDOW function (oracle-parity-tested in
# test_round7_ops.py::test_u09_matches_duckdb_oracle).
#
# u01 runs the grouped-agg pandas UDF in groupBy; the same kernel also
# evaluates OVER a bounded window frame — custom rolling statistics
# (here a 3-row trailing weighted mean of order prices per customer)
# without materializing per-row arrays. Scale shape: one shuffle on
# the partition key, frames evaluated per row inside the sorted
# partition; keep frames bounded (ROWS BETWEEN) — an unbounded custom
# frame re-aggregates O(n) per row. Exactness: weights are small exact
# ints, the 3-term weighted mean is the same float expression both
# engines evaluate, 4-dp rounded.
# --------------------------------------------------------------------------
def u09_pandas_window_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # The declared surface is EXACT-INTEGER (weighted cents + weight
    # total per frame): a rounded float mean hit a true .00005 half
    # case where Spark's round (BigDecimal on the double's SHORTEST
    # representation, so "…30875" rounds HALF_UP to …3088) and
    # DuckDB's numeric multiply-round (the binary double sits a hair
    # BELOW the half, …3087) legitimately disagree — per the repo
    # float discipline, money through integers, never a rounded
    # computed quotient.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def weighted_cents(price, w):
        cents = (price * 100).round().astype("int64")
        return int((cents * w.astype("int64")).sum())

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    weight = (F.col("o_orderkey") % 5 + 1).cast("long")
    return (
        o.withColumn("wt", weight)
        .select(
            "o_custkey",
            "o_orderkey",
            weighted_cents("o_totalprice", "wt").over(w).alias("rolling_wcents"),
            F.sum("wt").over(w).alias("rolling_weight"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


U09_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT) * (o_orderkey % 5 + 1))
            OVER f AS BIGINT) AS rolling_wcents,
       CAST(SUM(o_orderkey % 5 + 1) OVER f AS BIGINT) AS rolling_weight
FROM orders
WHERE o_custkey < 50
WINDOW f AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


# --------------------------------------------------------------------------
# q47: time-series gap fill with forward fill (oracle-parity-tested in
# test_round7_ops.py::test_q47_matches_duckdb_oracle).
#
# The resampling primitive the window suite lacked: per-user HOURLY
# buckets are materialized as a complete spine (sequence over the
# user's observed range — a generated relation, not a scan), observed
# hours left-join onto it, and empty hours inherit the most recent
# observed aggregate via last_value IGNORE NULLS over an unbounded-
# preceding frame. This is how telemetry/feature pipelines turn
# irregular events into a dense regular series. Scale shape: the spine
# is |users|·|hours| rows generated engine-side (never collected), the
# join and the fill share ONE partitioning on user — and the fill
# frame, though unbounded, carries running state of exactly one value.
# Exactness: filled values are hourly event COUNTS (ints); hours with
# no prior observation stay NULL rather than inventing a zero.
# --------------------------------------------------------------------------
_Q47_USERS = 5


def q47_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < _Q47_USERS)
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.col("n_events").isNotNull().alias("observed"),
            F.last("n_events", ignorenulls=True).over(w).alias("filled_n_events"),
        )
        .orderBy("user_id", "hour")
    )


Q47_SQL = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
  FROM events WHERE user_id < {_Q47_USERS}
  GROUP BY user_id, date_trunc('hour', ts)
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM (SELECT user_id, MIN(hour) AS lo, MAX(hour) AS hi FROM hourly GROUP BY user_id)
)
SELECT s.user_id,
       CAST(s.hour AS TIMESTAMP) AS hour,
       h.n_events IS NOT NULL AS observed,
       last_value(h.n_events IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_n_events
FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
ORDER BY s.user_id, s.hour
"""


# --------------------------------------------------------------------------
# q50: AQE runtime skew-join splitting. The THIRD skew-remedy tier
# alongside q25 (salted aggregation) and q29 (manual salted join): no rewrite at
# all — declare the plain join and let AQE's OptimizeSkewedJoin split
# the hot reducer partition into per-map-range pieces at runtime.
#
# The join key is deliberately skewed (~80% of lineitem rows collapse
# onto key 1); the dim side is a PLAIN PROJECTION of supplier, which is
# load-bearing for the runtime rewrite: OptimizeSkewedJoin only pattern-
# matches SortMergeJoin(Sort(ShuffleRead), Sort(ShuffleRead)) — a post-
# shuffle aggregate on either side hides the stage and the rule skips
# the join silently. The repartition(16) stands in for the thousands of
# upstream map tasks a real 100 TB scan has: skew splitting works at
# MAP-OUTPUT granularity, so the hot reducer can only be divided when
# multiple non-empty mappers fed it (a single-row-group toy parquet file
# yields one mapper and an unsplittable partition; any mapper reporting
# zero bytes for the hot reducer also vetoes the split).
#
# At production scale the default thresholds (256 MB partition, 5x
# median) make the split fire with NO configuration; at test scale
# tests/test_plans.py::test_q50_aqe_skew_join_splits_hot_partition pins
# the `SortMergeJoin(skew=true)` / `AQEShuffleRead skewed` nodes with
# the thresholds scaled down to the toy bytes. Correctness never
# depends on whether the split fires — this query is oracle-checked
# under default confs where it stays cold.
#
# Money/quantity sums ride DECIMAL(18,2) on both engines (float-sum
# association is partitioning-dependent; decimal addition is exact).
# --------------------------------------------------------------------------
def q50_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    jk = (
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(1))
        .otherwise(F.col("l_orderkey") % 64)
        .cast("long")
    )
    fact = li.repartition(16).select(jk.alias("jk"), "l_quantity")
    dim = su.select(
        (F.col("s_suppkey") % 64).cast("long").alias("jk"), "s_acctbal"
    )
    return (
        fact.hint("merge")
        .join(dim.hint("merge"), "jk")
        .groupBy((F.col("jk") % 8).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("acct"),
        )
        .orderBy("g")
    )


Q50_SQL = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1 ELSE l_orderkey % 64 END AS jk,
         l_quantity
  FROM lineitem
),
dim AS (SELECT s_suppkey % 64 AS jk, s_acctbal FROM supplier)
SELECT fact.jk % 8 AS g,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct
FROM fact JOIN dim USING (jk)
GROUP BY fact.jk % 8
ORDER BY g
"""


# --------------------------------------------------------------------------
# q48: Z-order layout audit. The multi-dimensional data-layout lever at
# 100 TB: writing files clustered by a Z-order (Morton) curve over two
# filter dimensions gives BOTH dimensions tight per-file min/max ranges,
# so parquet row-group / file skipping prunes on either predicate —
# where a linear sort is tight on its leading key only.
#
# This query measures exactly that: bucket orders 64 ways (= "files")
# under both layouts and compare per-bucket (max-min) spans of each
# dimension. Expected shape: z-order ≈ balanced modest spans on x AND
# y; linear ≈ near-zero x-span but full-range y-span.
#
# Dimensions are exact integers (custkey mod 256, floor price-band mod
# 256 — deliberately NOT a timestamp→date cast, which is session-tz
# dependent under the driver's vanilla session), and the Morton code is
# a fixed 16-term bit-interleave expression tree, so every value is
# engine-exact. The ntile(64) bucketing runs as a single-partition
# window HERE; at scale the same bucket ids come free from the sorted
# write path (repartitionByRange(z) + sortWithinPartitions), which is
# how a real table layout job materializes the curve — the audit
# numbers are identical because ntile over the same total order is
# deterministic.
# --------------------------------------------------------------------------
_Q48_BUCKETS = 64


def _q48_morton(x, y):
    """Interleave the low 8 bits of x (odd positions) and y (even)."""
    z = F.lit(0).cast("long")
    for i in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def q48_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    feats = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("x"),
        (F.floor(F.col("o_totalprice") / 2048).cast("long") % 256).alias("y"),
    ).withColumn("z", _q48_morton(F.col("x"), F.col("y")))
    zorder = feats.select(
        F.lit("zorder").alias("strategy"),
        F.ntile(_Q48_BUCKETS)
        .over(Window.orderBy("z", "o_orderkey"))
        .alias("bucket"),
        "x",
        "y",
    )
    linear = feats.select(
        F.lit("linear").alias("strategy"),
        F.ntile(_Q48_BUCKETS)
        .over(Window.orderBy("x", "y", "o_orderkey"))
        .alias("bucket"),
        "x",
        "y",
    )
    spans = (
        zorder.unionByName(linear)
        .groupBy("strategy", "bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
    )
    return (
        spans.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (F.sum("xs").cast("double") / F.count(F.lit(1))).alias("avg_x_span"),
            (F.sum("ys").cast("double") / F.count(F.lit(1))).alias("avg_y_span"),
            F.max("xs").alias("max_x_span"),
            F.max("ys").alias("max_y_span"),
        )
        .orderBy("strategy")
    )


_Q48_MORTON_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i + 1}) + (((y >> {i}) & 1) << {2 * i})"
    for i in range(8)
)

Q48_SQL = f"""
WITH feats AS (
  SELECT o_orderkey,
         o_custkey % 256 AS x,
         CAST(floor(o_totalprice / 2048) AS BIGINT) % 256 AS y
  FROM orders
),
coded AS (SELECT o_orderkey, x, y, {_Q48_MORTON_SQL} AS z FROM feats),
layout AS (
  SELECT 'zorder' AS strategy,
         ntile({_Q48_BUCKETS}) OVER (ORDER BY z, o_orderkey) AS bucket, x, y
  FROM coded
  UNION ALL
  SELECT 'linear' AS strategy,
         ntile({_Q48_BUCKETS}) OVER (ORDER BY x, y, o_orderkey) AS bucket, x, y
  FROM coded
),
spans AS (
  SELECT strategy, bucket, MAX(x) - MIN(x) AS xs, MAX(y) - MIN(y) AS ys
  FROM layout GROUP BY strategy, bucket
)
SELECT strategy,
       COUNT(*) AS n_buckets,
       CAST(SUM(xs) AS DOUBLE) / COUNT(*) AS avg_x_span,
       CAST(SUM(ys) AS DOUBLE) / COUNT(*) AS avg_y_span,
       MAX(xs) AS max_x_span,
       MAX(ys) AS max_y_span
FROM spans
GROUP BY strategy
ORDER BY strategy
"""


# --------------------------------------------------------------------------
# q49: binned interval-overlap join. Interval overlap is a theta-join
# (a.start <= b.end AND b.start <= a.end) — naively a nested-loop
# cartesian, the classic scale-killer. The distributed form: explode
# each interval into the fixed-width time bins it covers, EQUI-join on
# bin (candidates only where intervals share a bin), dedup the pair,
# then apply the exact overlap predicate. Cost is O(n·k) rows (k =
# bins per interval, here 1-2) with an ordinary hash shuffle — no
# cartesian anywhere (pinned by plan test).
#
# Semantics: purchase sessions [ts, ts+30min] vs global error
# incidents [ts-15min, ts+15min] (value > 150); output = top users by
# overlapping (session, incident) pair count. Bin ids are computed in
# exact integer MICROSECONDS (unix_micros / epoch_us) — not seconds —
# so bin assignment is engine-exact with no sub-second truncation
# hazard. The DuckDB oracle runs the plain theta join: same answer,
# different algorithm, which is exactly what it is for.
# --------------------------------------------------------------------------
_Q49_BIN_US = 3_600_000_000  # 1 hour
_Q49_SESSION_MIN = 30
_Q49_INCIDENT_MIN = 15
_Q49_VALUE_MIN = 150.0
_Q49_TOP = 20


def q49_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("s_id"),
        F.col("user_id"),
        F.unix_micros("ts").alias("s_lo"),
        (F.unix_micros("ts") + _Q49_SESSION_MIN * 60_000_000).alias("s_hi"),
    )
    inc = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > _Q49_VALUE_MIN)
    ).select(
        F.col("event_id").alias("i_id"),
        (F.unix_micros("ts") - _Q49_INCIDENT_MIN * 60_000_000).alias("i_lo"),
        (F.unix_micros("ts") + _Q49_INCIDENT_MIN * 60_000_000).alias("i_hi"),
    )

    def binned(df, lo, hi):
        return df.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / _Q49_BIN_US),
                    F.floor(F.col(hi) / _Q49_BIN_US),
                )
            ),
        )

    pairs = (
        binned(sess, "s_lo", "s_hi")
        .join(binned(inc, "i_lo", "i_hi"), "bin")
        .filter((F.col("s_lo") <= F.col("i_hi")) & (F.col("i_lo") <= F.col("s_hi")))
        .select("user_id", "s_id", "i_id")
        .distinct()
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy(F.desc("n_overlaps"), "user_id")
        .limit(_Q49_TOP)
    )


Q49_SQL = f"""
WITH sess AS (
  SELECT event_id AS s_id, user_id,
         epoch_us(ts) AS s_lo,
         epoch_us(ts) + {_Q49_SESSION_MIN} * 60000000 AS s_hi
  FROM events WHERE event_type = 'purchase'
),
inc AS (
  SELECT event_id AS i_id,
         epoch_us(ts) - {_Q49_INCIDENT_MIN} * 60000000 AS i_lo,
         epoch_us(ts) + {_Q49_INCIDENT_MIN} * 60000000 AS i_hi
  FROM events WHERE event_type = 'error' AND value > {_Q49_VALUE_MIN}
)
SELECT user_id, COUNT(*) AS n_overlaps
FROM (
  SELECT DISTINCT user_id, s_id, i_id
  FROM sess JOIN inc ON s_lo <= i_hi AND i_lo <= s_hi
)
GROUP BY user_id
ORDER BY n_overlaps DESC, user_id
LIMIT {_Q49_TOP}
"""


# --------------------------------------------------------------------------
# a05: Bloom-filter semi-join with exact false-positive accounting. The
# shuffle-reduction primitive behind runtime row-level filtering: build
# a Bloom filter over the (small, filtered) build side's keys, pre-
# filter the 100 TB probe side with it BEFORE the shuffle join, and pay
# only the filter's false-positive rate in extra shuffled rows.
#
# Hand-rolled with the repo's md5 portable-hash family (k={{K}} seeded
# positions mod m={{M}}) instead of Spark's bloom_filter_agg, whose bit
# layout is JVM-internal and has no DuckDB twin — here the filter's
# EXACT bit positions, candidate set, and false positives reproduce on
# both engines, so the declared surface audits the filter itself:
# build/probe key counts, candidate count, true/false positives, fp
# rate, and how many probe ROWS the semi-join admits. Sizing story in
# one number: m/n ≈ 27 bits/key at k=3 → fp ≈ 0.1%; the 100 TB knob is
# m (the bit array broadcast stays m bits regardless of corpus size).
# The bit-set join keeps a FORCED broadcast (bounded by m at any
# corpus size, by construction); the build-key classification join is
# hint-free — build is a FILTERED SF-SCALED relation whose selectivity
# is data-dependent, so the estimate decides (the q03/q05 CBO-flip
# class; the round-10 pre-declaration audit removed the forced hint) —
# the corpus-side probe never shuffles to evaluate the filter itself.
# --------------------------------------------------------------------------
_A05_M = 65536
_A05_K = 3
_A05_PRICE_MIN = 420000.0


def _a05_pos(key_col, i: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"a05{i}|"), key_col.cast("string"))), 1, 7),
            16,
            10,
        ).cast("long")
        % _A05_M
    )


def a05_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = o.filter(F.col("o_totalprice") > _A05_PRICE_MIN).select(
        F.col("o_orderkey").alias("key")
    )
    # the Bloom bit set: distinct set positions over k seeded hashes
    bits = (
        build.select(
            F.explode(
                F.array(*[_a05_pos(F.col("key"), i) for i in range(_A05_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probe = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    probe_pos = probe.select(
        "key",
        "n_rows",
        F.explode(
            F.array(*[_a05_pos(F.col("key"), i) for i in range(_A05_K)])
        ).alias("pos"),
    )
    # candidate iff ALL k positions are set: semi-join on pos, count = k
    candidates = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("key", "n_rows")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == _A05_K)
        .select("key", "n_rows")
    )
    classified = candidates.join(
        build.withColumn("in_build", F.lit(1)), "key", "left"
    )
    stats = classified.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("in_build").isNotNull(), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("in_build").isNull(), 1).otherwise(0)).alias(
            "n_false_pos"
        ),
        F.sum("n_rows").alias("n_probe_rows_admitted"),
    )
    totals = (
        build.agg(F.count(F.lit(1)).alias("n_build_keys"))
        .withColumn("k", F.lit(1))
        .join(
            probe.agg(F.count(F.lit(1)).alias("n_probe_keys")).withColumn(
                "k", F.lit(1)
            ),
            "k",
        )
    )
    return (
        stats.withColumn("k", F.lit(1))
        .join(F.broadcast(totals), "k")
        .select(
            "n_build_keys",
            "n_probe_keys",
            "n_candidates",
            "n_true",
            "n_false_pos",
            (
                F.col("n_false_pos").cast("double")
                / (F.col("n_probe_keys") - F.col("n_build_keys"))
            ).alias("fp_rate"),
            "n_probe_rows_admitted",
        )
    )


_A05_POS_SQL = ", ".join(
    f"CAST(('0x' || substring(md5('a05{i}|' || key), 1, 7)) AS BIGINT) % {_A05_M}"
    for i in range(_A05_K)
)

A05_SQL = f"""
WITH build AS (
  SELECT o_orderkey AS key FROM orders WHERE o_totalprice > {_A05_PRICE_MIN}
),
bits AS (
  SELECT DISTINCT unnest([{_A05_POS_SQL}]) AS pos FROM build
),
probe AS (
  SELECT l_orderkey AS key, COUNT(*) AS n_rows FROM lineitem GROUP BY l_orderkey
),
probe_pos AS (
  SELECT key, n_rows, unnest([{_A05_POS_SQL}]) AS pos FROM probe
),
candidates AS (
  SELECT key, n_rows
  FROM probe_pos JOIN bits USING (pos)
  GROUP BY key, n_rows
  HAVING COUNT(*) = {_A05_K}
),
classified AS (
  SELECT c.key, c.n_rows, b.key IS NOT NULL AS is_true
  FROM candidates c LEFT JOIN build b ON c.key = b.key
),
stats AS (
  SELECT COUNT(*) AS n_candidates,
         SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS n_true,
         SUM(CASE WHEN is_true THEN 0 ELSE 1 END) AS n_false_pos,
         SUM(n_rows) AS n_probe_rows_admitted
  FROM classified
),
totals AS (
  SELECT (SELECT COUNT(*) FROM build) AS n_build_keys,
         (SELECT COUNT(*) FROM probe) AS n_probe_keys
)
SELECT n_build_keys, n_probe_keys,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_false_pos AS BIGINT) AS n_false_pos,
       CAST(n_false_pos AS DOUBLE) / (n_probe_keys - n_build_keys) AS fp_rate,
       CAST(n_probe_rows_admitted AS BIGINT) AS n_probe_rows_admitted
FROM stats, totals
"""


# --------------------------------------------------------------------------
# q51: CBO statistics-driven join planning. The COST-BASED half of
# the join-strategy story: q30 fixes strategy by LAYOUT (bucketing),
# q41/a05 by runtime/Bloom filters, q50 by AQE runtime sizes — q51 by
# CATALOG STATISTICS at compile time. A selective equality filter on a
# catalog table is worthless to the size-only estimator (a filter
# inherits its child's sizeInBytes, so the dim side still looks
# table-sized and the join plans as sort-merge); with
# spark.sql.cbo.enabled and ANALYZE TABLE ... FOR COLUMNS stats, the
# equality's selectivity is rowCount/ndv, the filtered dim estimate
# collapses below the broadcast threshold, and the SAME query compiles
# to a broadcast join with no hint. At 100 TB this is the difference
# between hinting every selective dim join by hand and letting nightly
# ANALYZE runs drive planning; tests/test_plans.py pins both compile
# states (stats+CBO → BroadcastHashJoin, CBO off → SortMergeJoin).
#
# The declared result is materialized INSIDE the scoped confs (the q41
# pattern — the caller collects lazily, after confs are restored) and
# is plan-independent: the oracle runs the plain filtered join.
# --------------------------------------------------------------------------
_Q51_CUSTKEY = 7

_Q51_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # between the filtered-dim ESTIMATE (~a few rows × row width) and
    # the raw table size, so only the stats-aware estimate broadcasts
    "spark.sql.autoBroadcastJoinThreshold": "4KB",
}


def _q51_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """One-time catalog build: orders as a stats-analyzed table (the
    nightly-ANALYZE deployment shape; rerunning ANALYZE is idempotent)."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"orders_cbo_{key}"
    if not spark.catalog.tableExists(name):
        base = scratch_path(f"cbo_{key}")
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .option("path", os.path.join(base, "orders"))
            .saveAsTable(name)
        )
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
            "o_orderkey, o_custkey"
        )
    return name


def _q51_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = _q51_orders_table(spark, sf_dir)
    dim = spark.table(name).filter(F.col("o_custkey") == _Q51_CUSTKEY)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", F.col("l_extendedprice").cast(D182).alias("price")
    )
    return (
        li.join(dim, li.l_orderkey == dim.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast(D182)).cast("double").alias("total_qty"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("o_custkey")
    )


def q51_cbo_stats_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    root = scratch_path(f"q51_cbo_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "agg")
    with _scoped_confs(spark, _Q51_CONFS):
        _q51_join(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("o_custkey")


Q51_SQL = f"""
SELECT o_custkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_custkey = {_Q51_CUSTKEY}
GROUP BY o_custkey
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# q52: file-metadata layout audit. The `_metadata` hidden-column
# surface (SPARK-37273), uncovered by any other op: after staging
# documents partitioned by source (repartition("source") first, so
# each source's rows land in exactly ONE task → one file per
# partition), the audit reads the landed files back and groups by
# `_metadata.file_path` to report the REAL layout — files per source,
# rows, and the per-source doc_id range parquet min/max skipping
# would prune on. The declared n_files = 1 is the layout CONTRACT of
# the write (a small-files regression — e.g. maxRecordsPerFile
# splitting, or losing the pre-repartition — flips the gate red); the
# remaining columns the oracle derives from the source table. This is
# the per-file audit DEPLOYMENT.md's layout section prescribes after
# every table build: at 100 TB a table whose per-file key ranges
# overlap is a table that cannot prune.
# --------------------------------------------------------------------------
def q52_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    root = scratch_path(f"q52_meta_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, "docs")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "source")
        .repartition("source")
        .write.partitionBy("source")
        .parquet(out)
    )
    landed = spark.read.parquet(out)
    return (
        landed.select(
            "source",
            "doc_id",
            F.col("_metadata.file_path").alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count_distinct("fp").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


Q52_SQL = """
SELECT source,
       CAST(1 AS BIGINT) AS n_files,
       COUNT(*) AS n_rows,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# q53: batch sessionization. e02/e14 sessionize the live STREAM; the
# backfill job every analytics stack also runs is the same gap-based
# sessionization over the event HISTORY in batch. Spark-first: the
# built-in session_window() works on batch DataFrames too — the
# aggregation plans as UpdatingSessions/MergingSessions around one
# shuffle on user_id, with NO self-join and NO window-function pass
# over the raw events (the lag+cumsum spelling the oracle uses needs
# a full per-user sort AND a second windowed pass; the native
# operator merges sessions inside the aggregation).
#
# Parity: a session closes only when the next event is STRICTLY
# MORE than 30 minutes after the previous one — measured, not
# assumed: an event landing exactly at prev+gap MERGES into the
# running session (Spark extends a session whose end point equals
# the new event's start; the half-open-interval reading that would
# split at exactly prev+gap is WRONG, and the synthetic data can
# never catch it because microsecond timestamps make exact-gap
# pairs measure-zero — test_q53_exact_gap_boundary_merges pins the
# rule on crafted rows). The oracle's `diff > gap` test states the
# same rule. session_end is Spark's window end = last event + gap,
# reproduced as MAX(ts) + INTERVAL 30 MINUTE. value sums go through
# DECIMAL(18,2) on both engines (order-independent), cast back to
# DOUBLE at the edge.
#
# Scale: one shuffle by user_id; state is bounded by sessions, not
# events (partial merging happens map-side). Skewed power users
# hit one reducer each — acceptable because per-user cost is
# O(events log events) locally; salt only if a single user exceeds
# a task's memory, which at 100 TB means splitting by (user, day).
# --------------------------------------------------------------------------
_Q53_GAP = "30 minutes"


def q53_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy("user_id", F.session_window("ts", _Q53_GAP).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "n_event_types",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


Q53_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_type, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_event_types,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, sess_no
ORDER BY user_id, session_start
"""


# --------------------------------------------------------------------------
# q54: SCD type-2 dimension build. The warehouse pattern that turns an
# update STREAM into a HISTORY table: r05/e17 keep only each key's
# latest state (type-1); type-2 keeps every state with its validity
# interval. Two window passes over the per-user event history:
# (1) change detection — a row opens a new version only when the
# tracked attribute actually CHANGES (consecutive duplicate updates
# collapse, the part q12's raw lead/lag gaps don't do); (2) validity
# stitching — valid_to = next change's valid_from (half-open
# intervals, NULL = current version). Deterministic total order via
# (ts, event_id).
#
# Scale: both windows partition by the dimension key — one shuffle,
# the second window reuses the first's partitioning (no new
# exchange); state per key is its change count, not its event count.
# The declared user_id < 20 slice bounds the surface; the plan is
# key-partitioned identically at any corpus size.
# --------------------------------------------------------------------------
def q54_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20) & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    changes = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("chg", prev.isNull() | (prev != F.col("event_type")))
        .filter("chg")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            F.row_number().over(w2).cast("long").alias("version"),
            F.col("event_type").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"),
            F.lead("ts").over(w2).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


Q54_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WHERE user_id < 20 AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_id, ts, event_type
  FROM ordered
  WHERE prev_type IS NULL OR prev_type != event_type
)
SELECT user_id,
       ROW_NUMBER() OVER w2 AS version,
       event_type AS attr_value,
       ts AS valid_from,
       LEAD(ts) OVER w2 AS valid_to,
       LEAD(ts) OVER w2 IS NULL AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


# --------------------------------------------------------------------------
# q55: effectivity (as-of-interval) join. The consumer side of
# q54: join every fact event to the dimension version that was valid
# AT ITS TIMESTAMP (ts ∈ [valid_from, valid_to), NULL-open current) —
# the temporal join every warehouse runs against an SCD2 table. q19's
# as-of join picks nearest-preceding by sort; this one is the
# interval-predicate form, and the declared per-version event counts
# PROVE q54's intervals partition each user's timeline: totals must
# reconcile exactly with the raw per-user event counts (pinned in
# tests), which fails if intervals overlap or leave gaps.
#
# Scale: equi-key (user_id) + range residual — Spark executes the
# equi part as the join key and the interval predicate as a
# post-join filter per key group, so cost is per-user events ×
# versions, never a cross join; broadcast the dimension when it
# fits (dimension tables are version counts, orders of magnitude
# smaller than facts).
# --------------------------------------------------------------------------
def q55_effectivity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = q54_scd2_dimension_build(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "version",
        "attr_value",
        "valid_from",
        "valid_to",
    )
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20) & F.col("ts").isNotNull()
    )
    # the SCD2 dimension grows with the user population (SF-scaled, not
    # bounded): no forced broadcast hint — Catalyst broadcasts it while
    # its estimate fits and flips to a shuffled join on the extracted
    # user_id equi-key at scale, with the interval predicates applied
    # as post-join filters either way (round-9 broadcast-hint audit).
    j = e.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return (
        j.groupBy("user_id", "version")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("event_type") == F.col("attr_value")).cast("long")
            ).alias("n_same_attr"),
        )
        .orderBy("user_id", "version")
    )


Q55_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WHERE user_id < 20 AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, event_id, ts, event_type
  FROM ordered
  WHERE prev_type IS NULL OR prev_type != event_type
),
dim AS (
  SELECT user_id,
         ROW_NUMBER() OVER w2 AS version,
         event_type AS attr_value,
         ts AS valid_from,
         LEAD(ts) OVER w2 AS valid_to
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT d.user_id, d.version,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.event_type = d.attr_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_same_attr
FROM dim d
JOIN events e
  ON e.user_id = d.user_id
 AND e.ts IS NOT NULL
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY d.user_id, d.version
ORDER BY d.user_id, d.version
"""


# --------------------------------------------------------------------------
# q56: small-file compaction. The table-maintenance job every long-lived
# 100 TB lake runs on a schedule: streaming/micro-batch ingestion
# fragments a table into files far below the scan-efficient size
# (here a deliberate repartition(16) write of a 500-row table), and
# the compactor rewrites partitions into few large files. Declared
# surface audits BOTH layouts through the `_metadata` hidden column
# (q52's surface): files per phase are the WRITE's layout contract
# (16 fragmented → 2 compacted; a contract breach — e.g. empty-
# partition files appearing or coalesce not taking — flips the gate
# red), with row count and doc-id span proving the rewrite lost
# nothing.
#
# Scale: compaction is a pure re-layout — one read + one write, no
# shuffle beyond the coalesce's partition merge (coalesce NARROWS,
# it never shuffles); production compacts per table-partition and
# targets spark.sql.files.maxPartitionBytes-sized outputs.
# --------------------------------------------------------------------------
_Q56_FRAG = 16
_Q56_COMPACT = 2


def q56_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    root = scratch_path(f"q56_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    frag, compact = os.path.join(root, "frag"), os.path.join(root, "compact")
    d.repartition(_Q56_FRAG).write.parquet(frag)
    spark.read.parquet(frag).coalesce(_Q56_COMPACT).write.parquet(compact)

    def audit(path, phase):
        return (
            spark.read.parquet(path)
            .agg(
                F.countDistinct("_metadata.file_path").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("doc_id").alias("n_docs"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .select(F.lit(phase).alias("phase"), "*")
        )

    return audit(frag, "fragmented").union(audit(compact, "compacted")).orderBy(
        "phase"
    )


Q56_SQL = f"""
SELECT phase,
       CAST(CASE phase WHEN 'fragmented' THEN {_Q56_FRAG}
                       ELSE {_Q56_COMPACT} END AS BIGINT) AS n_files,
       (SELECT COUNT(*) FROM documents) AS n_rows,
       (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs,
       (SELECT MIN(doc_id) FROM documents) AS min_doc_id,
       (SELECT MAX(doc_id) FROM documents) AS max_doc_id
FROM (SELECT unnest(['compacted', 'fragmented']) AS phase) p
ORDER BY phase
"""


# --------------------------------------------------------------------------
# q57: running DISTINCT count over a window. COUNT(DISTINCT x) OVER
# (... ORDER BY ...) is unsupported in Spark (and most engines) for a
# running frame; the canonical workaround is declared here as an
# operator: flag each row that is the FIRST occurrence of its
# (user_id, event_type) via one row_number window, then a running SUM
# of flags over the event-time order gives the running distinct count
# exactly. Declared per user: the behavioral-coverage audit — events
# observed, distinct event types reached, and the exact event time the
# user first exhibited the full catalog (NULL if never) — the
# "time-to-full-coverage" table an activation analysis reads.
#
# Hash-gate discipline: counts are BIGINTs, timestamps exact
# microseconds; ordering ties broken by event_id (a total order).
# Scale: both windows and the final groupBy share ONE shuffle on
# user_id; the global type-catalog count is a scalar broadcast. One
# pass over events at any scale.
# --------------------------------------------------------------------------
def q57_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    first_w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.withColumn(
        "is_first", (F.row_number().over(first_w) == 1).cast("long")
    ).withColumn("running_distinct", F.sum("is_first").over(run_w))
    catalog = e.agg(F.countDistinct("event_type").alias("n_catalog"))
    per_user = flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("running_distinct").alias("n_distinct_types"),
    )
    full_ts = (
        flagged.crossJoin(F.broadcast(catalog))
        .filter(F.col("running_distinct") == F.col("n_catalog"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("full_coverage_ts"))
    )
    return (
        per_user.join(full_ts, "user_id", "left")
        .crossJoin(F.broadcast(catalog))
        .select(
            "user_id",
            "n_events",
            "n_distinct_types",
            "n_catalog",
            "full_coverage_ts",
            (F.col("n_distinct_types") == F.col("n_catalog")).alias("fully_covered"),
        )
        .orderBy("user_id")
    )


Q57_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
),
run AS (
  SELECT user_id, ts,
         CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS running_distinct
  FROM flagged
),
catalog AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_catalog FROM events),
per_user AS (
  SELECT user_id, COUNT(*) AS n_events,
         MAX(running_distinct) AS n_distinct_types
  FROM run GROUP BY user_id
),
full_ts AS (
  SELECT user_id, MIN(ts) AS full_coverage_ts
  FROM run, catalog
  WHERE running_distinct = n_catalog
  GROUP BY user_id
)
SELECT p.user_id, p.n_events, p.n_distinct_types, c.n_catalog,
       f.full_coverage_ts,
       p.n_distinct_types = c.n_catalog AS fully_covered
FROM per_user p
LEFT JOIN full_ts f ON p.user_id = f.user_id
CROSS JOIN catalog c
ORDER BY p.user_id
"""


# --------------------------------------------------------------------------
# q58: NULL-skew outer join via null salting. The production skew
# case q25/q29/q50 do NOT cover: an outer join whose fact-side key is
# NULL for a large fraction of rows (unenriched events, optional FKs).
# Hash partitioning sends EVERY null to one reducer — the worst skew
# there is — yet SQL semantics say a NULL key can never match, so the
# null bucket's shuffle+probe work is 100% wasted. Remedy declared
# here: rewrite the key as COALESCE(key, -1 − (event_id % 16)) —
# deterministic NEGATIVE salts outside the dimension's key domain —
# spreading the null rows across 16 reducers that each probe and miss
# locally. The oracle is the PLAIN outer join's accounting (no
# salting), so the hash gate is the semantics-preservation proof.
#
# Scale: one shuffle either way; the salted spelling bounds the
# largest reducer at max(true-key skew, n_nulls/16) instead of
# n_nulls. 1/3 of events carry a NULL key by construction.
# --------------------------------------------------------------------------
def q58_null_skew_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("user_id") % 3 != 0, F.col("user_id")).alias("k"),
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    salted = e.withColumn(
        "k2", F.coalesce(F.col("k"), F.lit(-1) - F.col("event_id") % 16)
    )
    # forced merge (round-10 audit): dim is a per-user post-aggregate —
    # user-scaled (unbounded) with a derived size estimate Catalyst
    # mis-broadcast at 100×; a broadcast join would also make the
    # declared null-salt remedy moot (salting only matters under a
    # SHUFFLED join, the "one shuffle either way" story above)
    joined = salted.join(dim.hint("merge"), salted["k2"] == dim["user_id"], "left")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("user_id").isNotNull().cast("long")).alias("n_matched"),
            F.sum(F.col("k").isNull().cast("long")).alias("n_null_key"),
            F.sum(F.coalesce(F.col("user_events"), F.lit(0))).alias(
                "matched_event_mass"
            ),
        )
        .orderBy("event_type")
    )


Q58_SQL = """
WITH e AS (
  SELECT event_id, event_type,
         CASE WHEN user_id % 3 != 0 THEN user_id END AS k
  FROM events
),
dim AS (
  SELECT user_id, COUNT(*) AS user_events FROM events GROUP BY user_id
)
SELECT e.event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN d.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(SUM(CASE WHEN e.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_key,
       CAST(SUM(COALESCE(d.user_events, 0)) AS BIGINT) AS matched_event_mass
FROM e LEFT JOIN dim d ON e.k = d.user_id
GROUP BY e.event_type
ORDER BY e.event_type
"""


# --------------------------------------------------------------------------
# q59: relative-rank analytic battery. q22/q24/q33 cover
# rank/lag/frames; the RELATIVE-rank family was the remaining
# analytic-window gap: percent_rank() (= (rank−1)/(n−1)),
# cume_dist() (= rows ≤ current / n), and ntile(4) (equal-height
# quartile assignment) — the functions behind percentile badges,
# "top X% of segment" flags, and quartile-bucketed reporting. All
# three over one window: customers ranked within market segment by
# exact DECIMAL lifetime spend, tie-broken by custkey so the order
# (hence every rank) is total.
#
# Hash-gate discipline: ANSI defines all three identically in both
# engines given a total order; percent_rank/cume_dist are single
# divisions of exact integers, ntile is an integer. Spend declares as
# DOUBLE of the DECIMAL(18,2) sum (the money rule).
# Scale: one shuffle on the customer key for the spend rollup, one on
# segment for the window — the window state is a counter, not a
# buffer, so segment size only bounds the sort.
# --------------------------------------------------------------------------
def q59_analytic_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(D182)).alias("spend_dec")
        )
        .join(
            c.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("spend_dec", "o_custkey")
    return (
        spend.filter(F.col("o_custkey") < 200)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.col("spend_dec").cast("double").alias("spend"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("segment", "custkey")
    )


Q59_SQL = """
WITH spend AS (
  SELECT o.o_custkey AS custkey, c.c_mktsegment AS segment,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS spend_dec
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_mktsegment
)
SELECT custkey, segment,
       CAST(spend_dec AS DOUBLE) AS spend,
       percent_rank() OVER (PARTITION BY segment
                            ORDER BY spend_dec, custkey) AS pct_rank,
       cume_dist() OVER (PARTITION BY segment
                         ORDER BY spend_dec, custkey) AS cume,
       CAST(ntile(4) OVER (PARTITION BY segment
                           ORDER BY spend_dec, custkey) AS BIGINT) AS quartile
FROM spend
WHERE custkey < 200
ORDER BY segment, custkey
"""


# --------------------------------------------------------------------------
# q61: retention cohort matrix. The product-analytics table next to
# e23's funnel: users grouped by their FIRST-activity week (the
# cohort), tracked by how many are active in each subsequent week
# offset — the retention triangle. Week arithmetic stays in exact
# integer days since a fixed Monday epoch (date_trunc('week') is
# ISO-Monday in both engines; the offset is a day-difference DIV 7 —
# integer, never a float week count).
#
# Hash-gate discipline: cohort keys are DATEs, offsets and counts
# BIGINTs, retention one division by the cohort's week-0 size.
# Scale: two shuffles (user-level min, then cohort×offset rollup);
# the matrix is weeks² rows regardless of event volume.
# --------------------------------------------------------------------------
def q61_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # week keys declare as TIMESTAMP (the q17 rule: DATE kinds differ
    # across the driver's pandas bridge)
    weeks = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    firsts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        # per-user ⋈ per-user-week: both user-scaled with derived
        # post-agg estimates (mis-broadcast at 100×, round-10 audit) —
        # forced merge; the weeks²-sized base/matrix dims stay free
        weeks.join(firsts.hint("merge"), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    base = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.join(base, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            "n_active",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


Q61_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
),
firsts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
),
activity AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                        CAST(w.week AS DATE)) // 7 AS BIGINT)
           AS week_offset,
         COUNT(DISTINCT w.user_id) AS n_active
  FROM weeks w JOIN firsts f USING (user_id)
  GROUP BY f.cohort_week,
           date_diff('day', CAST(f.cohort_week AS DATE),
                     CAST(w.week AS DATE)) // 7
),
base AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_offset, b.cohort_size, a.n_active,
       CAST(a.n_active AS DOUBLE) / CAST(b.cohort_size AS DOUBLE) AS retention
FROM activity a JOIN base b USING (cohort_week)
ORDER BY a.cohort_week, a.week_offset
"""


# --------------------------------------------------------------------------
# u10: grouped applyInArrow. Completes the Arrow surface matrix: u03/u08
# scalar pandas UDFs, u02 applyInPandas, u06 cogrouped pandas, u07
# mapInArrow (scan shape) — this is the GROUPED map on raw pyarrow
# (Spark 4 `groupBy().applyInArrow`): whole per-group RecordBatches
# in, one summary batch out, no pandas conversion layer at all. The
# kernel computes integer-only per-user facts (counts, event-id
# extremes and mass, exact µs span from the timestamp column cast to
# int64), so the oracle is hash-exact plain SQL — the proof that the
# Arrow group boundary delivered every row of every group exactly
# once. API-surface entry: aggregations this simple belong in native
# aggregates; applyInArrow is for kernels that need numpy/arrow
# compute over a whole group (the u02/m10 class) at Arrow speed.
# Scale: one shuffle on the group key; per-group memory is the
# group's batch — the same bound as any grouped-map API.
# --------------------------------------------------------------------------
def u10_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")

    def per_user(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        uid = table.column("user_id")[0].as_py()
        eid = table.column("event_id")
        ts_us = table.column("ts").cast(pa.int64())
        return pa.Table.from_pydict(
            {
                "user_id": pa.array([uid], pa.int64()),
                "n_events": pa.array([len(table)], pa.int64()),
                "min_event_id": pa.array([pc.min(eid).as_py()], pa.int64()),
                "max_event_id": pa.array([pc.max(eid).as_py()], pa.int64()),
                "event_id_sum": pa.array([pc.sum(eid).as_py()], pa.int64()),
                "span_us": pa.array(
                    [pc.max(ts_us).as_py() - pc.min(ts_us).as_py()], pa.int64()
                ),
            }
        )

    return (
        e.groupBy("user_id")
        .applyInArrow(
            per_user,
            "user_id long, n_events long, min_event_id long, "
            "max_event_id long, event_id_sum long, span_us long",
        )
        .orderBy("user_id")
    )


U10_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id,
       CAST(SUM(event_id) AS BIGINT) AS event_id_sum,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# u11: nested-type Arrow UDF round trip. Every prior u-op moves
# FLAT columns through the Arrow boundary; real feature pipelines
# ship NESTED data (token lists, per-user event structs, model
# feature bundles), and the failure modes live exactly in the nested
# serialization: list offsets, struct field order, element order
# inside a list cell. Declared here: a sorted array<struct<event_id,
# event_type>> per user goes INTO a scalar pandas UDF and a
# struct<...> comes OUT (pd.DataFrame return), with the declared
# facts chosen so each checks one fidelity axis — n_items (list
# length), id_mass (every element's int field), n_click (every
# element's string field), last_type (element ORDER: the tail of the
# sort_array order, = arg_max by event_id since event_id is unique).
# The plain-SQL oracle is the proof the nested round trip delivered
# every element, every field, in order, exactly once.
#
# API-surface entry (the u04/v03 convention): facts this simple
# belong in native aggregates; the op exists to pin the nested Arrow
# path. Scale: one shuffle for the groupBy; the UDF is Arrow-batched
# (never per-row Python), and the nested cell is the group's own
# payload — the same memory bound as any collect_list.
# --------------------------------------------------------------------------
def u11_nested_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-DEMO: nested array<struct> → pandas UDF → struct round trip.
    Hot paths stay Python-free (tests/test_plans.py); this op's job is
    the nested Arrow serialization surface itself."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "events")
    nested = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("event_id", "event_type"))).alias(
            "items"
        )
    )

    def _digest(items):
        rows = []
        for lst in items:
            n = len(lst)
            mass = sum(int(it["event_id"]) for it in lst)
            clicks = sum(1 for it in lst if it["event_type"] == "click")
            rows.append((n, mass, clicks, lst[-1]["event_type"] if n else None))
        return pd.DataFrame(
            rows, columns=["n_items", "id_mass", "n_click", "last_type"]
        )

    # real type objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints, which
    # pandas_udf's signature inference rejects
    _digest.__annotations__ = {"items": pd.Series, "return": pd.DataFrame}
    digest = pandas_udf(
        _digest, "n_items long, id_mass long, n_click long, last_type string"
    )

    return (
        nested.select("user_id", digest("items").alias("s"))
        .select("user_id", "s.n_items", "s.id_mass", "s.n_click", "s.last_type")
        .orderBy("user_id")
    )


U11_SQL = """
SELECT user_id,
       COUNT(*) AS n_items,
       CAST(SUM(event_id) AS BIGINT) AS id_mass,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click,
       arg_max(event_type, event_id) AS last_type
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# q60: time-weighted average (TWAP). Irregularly-sampled series (prices,
# gauges, sensor values) average by HOLDING TIME, not by row count:
# each observation weighs by the interval until the next one. The
# float-discipline trap here is the weighted sum — Σ value·duration
# over doubles is partition-order-dependent; the exact spelling
# quantizes value to cents through DECIMAL(18,2) and weighs by exact
# integer microseconds, so the accumulating sum is a BIGINT (any
# order) and the TWAP is ONE final division. Users with a single
# event have zero holding time and are excluded by construction.
#
# Scale: one lead window per user (one shuffle) + a map-combined
# rollup. At 100-TB row counts the cents·µs products outgrow BIGINT
# for year-long spans — production widens the accumulator to
# DECIMAL(38,0), same algebra.
# --------------------------------------------------------------------------
def q60_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast(D182) * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = e.withColumn(
        "dur_us",
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")),
    ).filter(F.col("dur_us").isNotNull())
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("span_us"),
            F.sum(F.col("cents") * F.col("dur_us")).alias("weighted_cents_us"),
        )
        .select(
            "user_id",
            "n_intervals",
            "span_us",
            "weighted_cents_us",
            (
                F.col("weighted_cents_us").cast("double")
                / F.col("span_us").cast("double")
                / F.lit(100.0)
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


Q60_SQL = """
WITH stepped AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS span_us,
       CAST(SUM(cents * dur_us) AS BIGINT) AS weighted_cents_us,
       CAST(SUM(cents * dur_us) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE)
         / 100.0 AS twap
FROM stepped
WHERE dur_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


QUERIES = {
    "q21_pivot_event_matrix": q21_pivot_event_matrix,
    "q22_analytic_funcs": q22_analytic_funcs,
    "q23_map_array_funcs": q23_map_array_funcs,
    "q24_first_last_frames": q24_first_last_frames,
    "q25_salted_hot_key_agg": q25_salted_hot_key_agg,
    "q26_time_rollup_from_partials": q26_time_rollup_from_partials,
    "q27_exact_percentiles": q27_exact_percentiles,
    "u01_grouped_agg_udaf": u01_grouped_agg_udaf,
    "q28_outer_join_coverage": q28_outer_join_coverage,
    "q29_salted_skew_join": q29_salted_skew_join,
    "q30_bucketed_colocated_join": q30_bucketed_colocated_join,
    "q31_key_skew_profile": q31_key_skew_profile,
    "u02_grouped_zscore": u02_grouped_zscore,
    "u03_scalar_pandas_udf": u03_scalar_pandas_udf,
    "u04_arrow_row_udf": u04_arrow_row_udf,
    "q32_exists_order_audit": q32_exists_order_audit,
    "q33_time_range_window": q33_time_range_window,
    "q34_unpivot_event_matrix": q34_unpivot_event_matrix,
    "q35_nullsafe_join": q35_nullsafe_join,
    "q36_variant_props": q36_variant_props,
    "q37_observed_metrics": q37_observed_metrics,
    "q38_data_expectations": q38_data_expectations,
    "q39_zorder_clustering": q39_zorder_clustering,
    "q40_incremental_mv_maintenance": q40_incremental_mv_maintenance,
    "q41_bloom_pruned_join": q41_bloom_pruned_join,
    "q42_collated_group": q42_collated_group,
    "q43_grouping_sets": q43_grouping_sets,
    "u06_cogrouped_attribution": u06_cogrouped_attribution,
    "u07_map_in_arrow": u07_map_in_arrow,
    "q44_listagg_rollup": q44_listagg_rollup,
    "q45_transpose_metrics": q45_transpose_metrics,
    "q46_lateral_join_api": q46_lateral_join_api,
    "u08_scalar_iter_udf": u08_scalar_iter_udf,
    "u09_pandas_window_udaf": u09_pandas_window_udaf,
    "q47_gap_fill_forward": q47_gap_fill_forward,
    "q48_zorder_layout": q48_zorder_layout,
    "q49_interval_overlap_join": q49_interval_overlap_join,
    "q50_aqe_skew_join": q50_aqe_skew_join,
    "a05_bloom_semijoin": a05_bloom_semijoin,
    "q51_cbo_stats_join": q51_cbo_stats_join,
    "q52_file_metadata_audit": q52_file_metadata_audit,
    "q53_sessionize_batch": q53_sessionize_batch,
    "q54_scd2_dimension_build": q54_scd2_dimension_build,
    "q55_effectivity_join": q55_effectivity_join,
    "q56_small_file_compaction": q56_small_file_compaction,
    "q57_running_distinct": q57_running_distinct,
    "q58_null_skew_outer_join": q58_null_skew_outer_join,
    "q59_analytic_rank_battery": q59_analytic_rank_battery,
    "q60_time_weighted_average": q60_time_weighted_average,
    "u10_apply_in_arrow": u10_apply_in_arrow,
    "q61_retention_cohorts": q61_retention_cohorts,
    "u11_nested_arrow_udf": u11_nested_arrow_udf,
}

ORACLES = {
    "q21_pivot_event_matrix": Q21_SQL,
    "q22_analytic_funcs": Q22_SQL,
    "q23_map_array_funcs": Q23_SQL,
    "q24_first_last_frames": Q24_SQL,
    "q25_salted_hot_key_agg": Q25_SQL,
    "q26_time_rollup_from_partials": Q26_SQL,
    "q27_exact_percentiles": Q27_SQL,
    "u01_grouped_agg_udaf": U01_SQL,
    "q28_outer_join_coverage": Q28_SQL,
    "q29_salted_skew_join": Q29_SQL,
    "q30_bucketed_colocated_join": Q30_SQL,
    "q31_key_skew_profile": Q31_SQL,
    "u02_grouped_zscore": U02_SQL,
    "u03_scalar_pandas_udf": U03_SQL,
    "u04_arrow_row_udf": U04_SQL,
    "q32_exists_order_audit": Q32_SQL,
    "q33_time_range_window": Q33_SQL,
    "q34_unpivot_event_matrix": Q34_SQL,
    "q35_nullsafe_join": Q35_SQL,
    "q36_variant_props": Q36_SQL,
    "q37_observed_metrics": Q37_SQL,
    "q38_data_expectations": Q38_SQL,
    "q39_zorder_clustering": Q39_SQL,
    "q40_incremental_mv_maintenance": Q40_SQL,
    "q41_bloom_pruned_join": Q41_SQL,
    "q42_collated_group": Q42_SQL,
    "q43_grouping_sets": Q43_SQL,
    "u06_cogrouped_attribution": U06_SQL,
    "u07_map_in_arrow": U07_SQL,
    "q44_listagg_rollup": Q44_SQL,
    "q45_transpose_metrics": Q45_SQL,
    "q46_lateral_join_api": Q46_SQL,
    "u08_scalar_iter_udf": U08_SQL,
    "u09_pandas_window_udaf": U09_SQL,
    "q47_gap_fill_forward": Q47_SQL,
    "q48_zorder_layout": Q48_SQL,
    "q49_interval_overlap_join": Q49_SQL,
    "q50_aqe_skew_join": Q50_SQL,
    "a05_bloom_semijoin": A05_SQL,
    "q51_cbo_stats_join": Q51_SQL,
    "q52_file_metadata_audit": Q52_SQL,
    "q53_sessionize_batch": Q53_SQL,
    "q54_scd2_dimension_build": Q54_SQL,
    "q55_effectivity_join": Q55_SQL,
    "q56_small_file_compaction": Q56_SQL,
    "q57_running_distinct": Q57_SQL,
    "q58_null_skew_outer_join": Q58_SQL,
    "q59_analytic_rank_battery": Q59_SQL,
    "q60_time_weighted_average": Q60_SQL,
    "u10_apply_in_arrow": U10_SQL,
    "q61_retention_cohorts": Q61_SQL,
    "u11_nested_arrow_udf": U11_SQL,
}
