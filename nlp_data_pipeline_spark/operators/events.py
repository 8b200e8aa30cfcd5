"""Event-stream analytics: tumbling/session windows, stream dedup, and
Structured Streaming variants.

The batch queries are the oracle-checked semantics; e04 runs the same
tumbling aggregation through a real ``readStream`` → watermark →
``availableNow`` trigger → memory sink, proving the streaming plumbing
on identical data (rows-only check: streaming results are the batch
results by the replayability of file sources + complete output mode).

Scale notes: time-series tables at 100 TB should be laid out
partitioned by day so tumbling windows partition-prune; session
windows shuffle once on user_id; watermark dedup bounds state by the
lateness horizon. All window arithmetic is on integer microseconds or
native timestamps — no floats.

streaming/pipelines.py wraps the long-running (non-availableNow)
variants of the same queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nlp_data_pipeline_spark.sources.catalog import load_table
from nlp_data_pipeline_spark.scratch import scratch_path

D182 = "decimal(18,2)"

# Stateful streaming queries create one state store PER state
# partition PER stateful operator PER micro-batch; the partition count
# is frozen into the checkpoint at query start from
# spark.sql.shuffle.partitions. At test scale (≤1M events) 32
# partitions means the fixed per-store commit overhead dominates the
# actual work (measured: e12 7.1s @ 32 → 2.3s @ 8 on identical data;
# going BELOW 8 helps the pure-JVM streams marginally but degrades the
# applyInPandasWithState path badly — e13 4.0s @ 8 → 6.7s @ 4 →
# 11.7s @ 2, the Python stateful worker wants the parallelism — so 8
# is the measured optimum for this suite).
# Production sizing is the same decision in reverse: pick the state
# partition count from state volume ÷ per-executor memory, NOT from
# the global shuffle default — hence a dedicated, env-tunable knob.
import os as _os

STREAM_STATE_PARTITIONS = int(_os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))

# Stream-stream JOINS commit four state stores per partition per batch
# (left/right side × keyToNumValues/keyWithIndexToValue), so their
# per-batch commit floor is ~4x a stateful aggregation's at the same
# partition count while their state is just as tiny at bench SFs. The
# round-15 A/B (probe_stream_ab_r15.json, min-of-3 warm in one
# session) splits the optimum by query class: e12 3.24→2.53 s and
# e16 2.85→2.46 s at 4 partitions, while e13's applyInPandasWithState
# path regresses 3.38→5.41 s below 8 (the Python stateful worker wants
# the parallelism) — so ONLY the join queries take the smaller count.
# The RocksDB state-store provider measured uniformly worse at this
# state size (e12 4.04 vs 3.24 s; its LSM machinery pays off at
# GC-hostile state volumes, not here) — rejected with numbers.
# Production: size BOTH knobs from state volume ÷ executor memory.
STREAM_JOIN_PARTITIONS = int(
    _os.environ.get("SPARK_GRAFT_STREAM_JOIN_PARTITIONS", "4")
)


class _stream_state_partitions:
    """Scope spark.sql.shuffle.partitions for a streaming query start;
    restores the session value on exit (the running query keeps the
    count it was started with). ``n`` overrides the default state
    partition count (stream-stream joins pass STREAM_JOIN_PARTITIONS)."""

    def __init__(self, spark: SparkSession, n: int | None = None):
        self.spark = spark
        self.n = n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(self.n if self.n is not None else STREAM_STATE_PARTITIONS),
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _stage_events(sf_dir: str, prefix: str, copies: int = 1) -> str:
    """Stage the events table into a fresh temp dir of leaf-file
    symlinks for the file stream source (which wants a directory of
    arriving files, as a queue/Kafka landing zone would be).

    Handles BOTH physical layouts: a single parquet file (the driver's
    testdata) and a directory of part-files (any rewritten multi-file
    layout). Symlinking the directory itself would be invisible to
    Spark's non-recursive file listing — the stream would silently
    read ZERO rows. ``copies`` > 1 stages every leaf N times
    (at-least-once redelivery scenarios, e09).
    """
    import glob
    import os
    import tempfile

    import shutil

    path = os.path.join(sf_dir, "events.parquet")
    leaves = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not leaves:
        raise FileNotFoundError(f"no parquet leaves under {path}")
    # per-process dir wiped on entry: symlinks are cheap to recreate and
    # repeated bench/test runs must not accumulate mkdtemp dirs
    stage_dir = scratch_path(f"{prefix}{os.getpid()}")
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir)
    for c in range(copies):
        for i, leaf in enumerate(leaves):
            os.symlink(leaf, os.path.join(stage_dir, f"part_{c}_{i:05d}.parquet"))
    return stage_dir


# --------------------------------------------------------------------------
# e01: tumbling 1-hour windows × event_type.
# --------------------------------------------------------------------------
def e01_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


E01_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# e02: session windows (30-minute inactivity gap) per user.
# Spark's session_window merges an event into the current session when
# ts < last_ts + gap; the oracle reproduces this with the classic
# gaps-and-islands window SQL (new session when ts - prev >= gap).
# --------------------------------------------------------------------------
def e02_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


E02_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# --------------------------------------------------------------------------
# e03: stream dedup — first event per (user_id, event_type), total
# tie-break. Batch twin of dropDuplicates-within-watermark.
# --------------------------------------------------------------------------
def e03_first_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


E03_SQL = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) t WHERE rn = 1
"""


# --------------------------------------------------------------------------
# e04: the SAME tumbling aggregation as e01 executed through Structured
# Streaming: readStream(parquet) → withWatermark → window agg →
# availableNow trigger → memory sink. Complete output mode + a single
# availableNow batch ⇒ the sink table IS the batch answer (no event is
# ever late relative to a watermark computed in the same batch), so the
# memory-sink result gets a full hash oracle (E04_SQL) — the streaming
# path is held to the same exactness bar as the batch operators.
# --------------------------------------------------------------------------
def e04_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e04_stream_")
    sink = f"e04_sink_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, stage_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(sink).orderBy("window_start", "event_type")


E04_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# e05: sliding windows — 1-hour windows every 15 minutes. Each event
# lands in exactly len/slide = 4 overlapping windows; the oracle
# reproduces Spark's epoch-aligned starts via time_bucket minus i×slide.
# Scale: sliding windows multiply state by len/slide — keep the ratio
# small or pre-aggregate at slide granularity and roll up (q26 pattern).
# --------------------------------------------------------------------------
def e05_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


E05_SQL = """
SELECT time_bucket(INTERVAL 15 MINUTE, ts) - CAST(i AS INT) * INTERVAL 15 MINUTE AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
CROSS JOIN (SELECT unnest(range(4)) AS i) s
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# e06: stream-STATIC join — the enrichment shape every production stream
# runs (events joined to a dimension/feature table). The static side is
# re-read per micro-batch by Structured Streaming (picking up dim
# updates); here it is the per-type average value computed in batch.
# Enriched stream → watermark → tumbling window agg counting events
# above their type's historical average. Same single-batch availableNow
# + complete-mode argument as e04 ⇒ full hash oracle.
# --------------------------------------------------------------------------
def e06_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    e_static = load_table(spark, sf_dir, "events")
    dim = e_static.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(D182)).cast("double") / F.count(F.lit(1))).alias(
            "type_avg"
        )
    )

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e06_stream_")
    stream = read_events_stream(spark, stage_dir)

    enriched = stream.join(F.broadcast(dim), "event_type")  # stream-static
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") > F.col("type_avg"), 1).otherwise(0)).alias(
                "n_above_avg"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "n_above_avg")
    )
    sink = f"e06_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(sink).orderBy("window_start", "event_type")


E06_SQL = """
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS type_avg
  FROM events GROUP BY event_type
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       e.event_type AS event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1, 2
ORDER BY window_start, e.event_type
"""


# --------------------------------------------------------------------------
# e07: date-PARTITIONED time-series layout + partition-pruned scan —
# DEPLOYMENT.md's "events partitioned by day at 100 TB" as verified
# code. One-time layout step writes events partitioned by dt (derived
# date); the query then filters a one-week range, which Catalyst turns
# into PartitionFilters — pruned directories are never opened, the
# I/O win that makes petabyte time-series queryable. Oracle computes
# the same week from the raw table; tests/test_plans.py pins the
# PartitionFilters plan shape.
# --------------------------------------------------------------------------
_E07_WEEK = ("2024-01-08", "2024-01-15")  # [start, end)


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    import glob
    import hashlib
    import os
    import tempfile

    # Cache key = content fingerprint (size+mtime of the source events
    # files) + pid, not just the sf_dir path: the driver regenerates
    # testdata at the SAME path between rounds, and a path-only marker
    # would silently serve the previous generation (the r08 staleness
    # bug class); pid isolates concurrent runs sharing /tmp.
    src = os.path.join(sf_dir, "events.parquet")
    files = [src] if os.path.isfile(src) else sorted(glob.glob(os.path.join(src, "*")))
    h = hashlib.md5(f"evt|{sf_dir}".encode())
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.basename(f)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    out = scratch_path(f"events_by_day_{os.getpid()}_{h.hexdigest()[:8]}")
    marker = os.path.join(out, "_PARTITIONED")
    if not os.path.isdir(marker):
        e = load_table(spark, sf_dir, "events")
        (
            e.withColumn("dt", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(out)
        )
        os.makedirs(marker, exist_ok=True)
    return out


def e07_partitioned_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _partitioned_events(spark, sf_dir)
    start, end = _E07_WEEK
    e = spark.read.parquet(path).filter(
        (F.col("dt") >= F.lit(start)) & (F.col("dt") < F.lit(end))
    )
    return (
        e.groupBy("dt", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .select(F.col("dt").cast("string").alias("day"), "event_type", "n_events", "total_value")
        .orderBy("day", "event_type")
    )


E07_SQL = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '{_E07_WEEK[0]}' AND CAST(ts AS DATE) < DATE '{_E07_WEEK[1]}'
GROUP BY 1, 2
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# e08: APPEND-mode streaming with watermark finalization — the
# late-data policy made observable. Unlike e04's complete mode (always
# the full table), append emits a window only once it can never change:
# when the watermark (max event time − 10 min) passes the window end.
# availableNow runs a final no-data micro-batch that flushes every
# finalized window, so the emitted set is exactly
#   { hourly windows | window_end <= max(ts) − 10 min }
# — a closed-form the oracle states directly. This pins the eviction
# semantics that bound streaming state at 100 TB (state ∝ windows
# between watermark and now, not total history).
# --------------------------------------------------------------------------
def e08_streaming_append_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e08_stream_")
    stream = read_events_stream(spark, stage_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    sink = f"e08_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(sink).orderBy("window_start", "event_type")


E08_SQL = """
WITH horizon AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events, horizon
GROUP BY 1, 2, 3
HAVING window_end <= ANY_VALUE(wm)
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# e09: streaming DEDUPLICATION — exactly-once results from at-least-
# once delivery. The stage dir holds the events file TWICE (two
# symlinks = every event delivered twice, the classic redelivery
# scenario); ``dropDuplicates`` keyed on (event_id, ts) under a
# watermark collapses the redeliveries, and the downstream aggregate
# matches a single-delivery batch oracle exactly. The watermark delay
# is set beyond the bounded replay's span so no dedup state is evicted
# mid-run regardless of how the file source batches the two files — in
# a live deployment the delay is the max expected redelivery lag, and
# state size is bounded by (events within the lag window), the scale
# property that makes this viable on an unbounded 100 TB/day stream.
# --------------------------------------------------------------------------
def e09_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e09_stream_", copies=2)  # duplicate delivery
    stream = read_events_stream(spark, stage_dir)
    deduped = stream.withWatermark("ts", "366 days").dropDuplicates(["event_id", "ts"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
    )
    sink = f"e09_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(sink).orderBy("event_type")


E09_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# e10: CUSTOM STATEFUL streaming operator as a driver-checkable query —
# per-user cumulative counters via applyInPandasWithState (the
# extension point for state machines Spark's built-ins can't express;
# streaming/pipelines.py::stateful_user_counters). Append mode emits
# one row per user per micro-batch; the declared result keeps each
# user's LAST emission (max n_events), which equals the batch aggregate
# regardless of how the file source batches — that invariance is what
# the oracle checks. Value totals accumulate as float inside the state
# kernel; rounding at 2 decimals recovers the exact cent value (inputs
# are 2-decimal doubles; accumulated error ≪ 0.005), matching the
# oracle's DECIMAL(18,2) sum bit-for-bit.
# --------------------------------------------------------------------------
def e10_stateful_user_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import (
        read_events_stream,
        stateful_user_counters,
    )

    stage_dir = _stage_events(sf_dir, "e10_stream_")
    counters = stateful_user_counters(read_events_stream(spark, stage_dir))
    sink = f"e10_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            counters.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


E10_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# e11: foreachBatch → idempotent FILE sink — the production write path
# (every sink so far is the memory format; real deployments land
# parquet/Delta partitions). Complete-mode daily aggregate where each
# micro-batch OVERWRITES the target with the full current state: batch
# retries and restarts rewrite the same answer instead of duplicating
# it — idempotence is what upgrades at-least-once execution to
# exactly-once RESULTS. The declared result re-reads the landed files,
# so the oracle checks the full stream→foreachBatch→parquet→scan loop.
# At scale the same pattern writes partitionBy(day) and MERGEs only
# changed partitions (r05's shape); the overwrite here is the
# format-agnostic core.
# --------------------------------------------------------------------------
def e11_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e11_stream_")
    stream = read_events_stream(spark, stage_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
    )
    import shutil

    root = scratch_path(f"e11_sink_{_os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    out_dir = _os.path.join(root, "daily")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.read.parquet(out_dir).orderBy("day", "event_type")


E11_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# e12: STREAM-STREAM join as a driver-checked query — purchases joined
# to same-user signups within a 7-day trailing window, both sides
# watermarked and the join range-bounded on event time (the two
# conditions that let Spark evict buffered state; see
# streaming/pipelines.py::stream_stream_purchase_attribution). Inner
# joins emit eagerly, so a single availableNow pass produces the full
# batch-equivalent match set; the declared result aggregates it to
# per-user attribution counts, stated in closed form by the oracle.
# --------------------------------------------------------------------------
def e12_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import (
        read_events_stream,
        stream_stream_purchase_attribution,
    )

    stage_dir = _stage_events(sf_dir, "e12_stream_")
    joined = stream_stream_purchase_attribution(read_events_stream(spark, stage_dir))
    sink = f"e12_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, STREAM_JOIN_PARTITIONS):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return (
        spark.table(sink)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("purchase_id").alias("n_attributed_purchases"),
        )
        .orderBy("user_id")
    )


E12_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT event_id AS signup_id, user_id, ts AS sts
  FROM events WHERE event_type = 'signup'
)
SELECT p.user_id AS user_id,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT purchase_id) AS n_attributed_purchases
FROM p JOIN s ON p.user_id = s.user_id
              AND sts <= pts AND sts >= pts - INTERVAL 7 DAY
GROUP BY p.user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# e13: composite-key stateful counters — applyInPandasWithState grouped
# on (user_id, event_type); final value per key = last append-mode
# emission (max running count). The transformWithStateInPandas variant
# (MapState per user, Spark 4's richer state API) lives in
# streaming/pipelines.py::transform_with_state_type_counts, import-
# gated on protobuf which this container lacks; same semantics, same
# oracle when run on a cluster that ships it.
# --------------------------------------------------------------------------
def e13_stateful_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import (
        read_events_stream,
        stateful_type_counts,
    )

    stage_dir = _stage_events(sf_dir, "e13_stream_")
    counters = stateful_type_counts(read_events_stream(spark, stage_dir))
    sink = f"e13_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            counters.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_events"))
    return (
        spark.table(sink)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", "event_type", "n_events")
        .orderBy("user_id", "event_type")
    )


E13_SQL = """
SELECT user_id, event_type, COUNT(*) AS n_events
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# --------------------------------------------------------------------------
# e14: streaming SESSION windows, append mode — the stateful operator
# whose state is hardest to bound (session extent is data-dependent:
# every event can extend a session by another gap). A session is
# finalized only once the watermark passes its close (last event +
# 30-min gap); availableNow's final no-data micro-batch flushes every
# finalized session, so the emitted set is exactly
#   { sessions | session_end <= max(ts) − 10 min }
# — the same closed form the e08 oracle uses for tumbling windows,
# here applied to e02's gaps-and-islands session definition. This pins
# that session state EVICTS at the watermark — the property that keeps
# sessionization viable on an unbounded stream (state ∝ open sessions
# within the lateness horizon, not total history).
# --------------------------------------------------------------------------
def e14_streaming_session_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e14_stream_")
    stream = read_events_stream(spark, stage_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    sink = f"e14_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(sink).orderBy("user_id", "session_start")


E14_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
horizon AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered, horizon
GROUP BY user_id, session_id
HAVING MAX(ts) + INTERVAL 30 MINUTE <= ANY_VALUE(wm)
ORDER BY user_id, session_start
"""


# --------------------------------------------------------------------------
# e17: STREAMING CDC UPSERT — change-capture applied incrementally
# through foreachBatch: each micro-batch MERGEs into a keyed state
# table (last-writer-wins per user by (ts, event_id)), the maintenance
# loop behind every "current state of X" serving table fed by a
# stream. The source is staged as 4 files and consumed one per
# trigger, so the merge genuinely runs multiple times incrementally;
# upsert is order-independent by construction (argmax over a total
# order), so the final state equals the batch argmax no matter how the
# stream was batched — exactly what the oracle states. Each merge
# writes a fresh generation dir then atomically swaps it in, the same
# pattern as r09's two-phase commit. At scale the state table is a
# Delta/Iceberg MERGE target; the per-batch cost is ∝ state + batch,
# and the swap is the transaction.
# --------------------------------------------------------------------------
def e17_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    src = scratch_path(f"e17_src_{os.getpid()}")
    state = scratch_path(f"e17_state_{os.getpid()}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .repartition(4)
        .write.parquet(src)
    )

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        allr = (
            sp.read.parquet(state).unionByName(batch_df)
            if os.path.isdir(state)
            else batch_df
        )
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            allr.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        tmp = f"{state}_gen{epoch_id}"
        latest.write.mode("overwrite").parquet(tmp)  # materialize BEFORE swap
        shutil.rmtree(state, ignore_errors=True)
        os.rename(tmp, state)

    stream = read_events_stream(spark, src, max_files_per_trigger=1).select(
        "event_id", "user_id", "ts", "value"
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    final = spark.read.parquet(state)
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("last_ts_epoch"),
    ).orderBy("user_id")


E17_SQL = """
WITH latest AS (
  SELECT user_id, event_id, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       value AS last_value,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS last_ts_epoch
FROM latest WHERE rn = 1
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# e16: LEFT-OUTER stream-stream join — e12's attribution join with the
# outer semantics that make it a funnel report: every purchase row
# eventually emits, matched pairs eagerly, UNMATCHED purchases only
# once the watermark proves no matching signup can still arrive (the
# join requires signup_ts <= purchase_ts, so the null-joined row
# finalizes when the global watermark — min of both stream watermarks
# — passes purchase_ts). The oracle states that emitted set in closed
# form: all matches, plus unmatched purchases with
# purchase_ts < min(max(pts), max(sts)) − 10 min. State bound is the
# same as e12's (evict at the range horizon); the outer variant is the
# one that tells you WHO converted without a signup record.
# --------------------------------------------------------------------------
def e16_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import (
        read_events_stream,
        stream_stream_purchase_attribution,
    )

    stage_dir = _stage_events(sf_dir, "e16_stream_")
    joined = stream_stream_purchase_attribution(
        read_events_stream(spark, stage_dir), how="left_outer"
    )
    sink = f"e16_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark, STREAM_JOIN_PARTITIONS):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return (
        spark.table(sink)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("signup_id").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
            F.sum(F.when(F.col("signup_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


E16_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT event_id AS signup_id, user_id, ts AS sts
  FROM events WHERE event_type = 'signup'
),
wm AS (
  SELECT LEAST((SELECT MAX(pts) FROM p), (SELECT MAX(sts) FROM s))
         - INTERVAL 10 MINUTE AS w
),
j AS (
  SELECT p.user_id, p.purchase_id, s.signup_id, p.pts
  FROM p LEFT JOIN s ON p.user_id = s.user_id
                     AND sts <= pts AND sts >= pts - INTERVAL 7 DAY
),
emitted AS (
  SELECT * FROM j WHERE signup_id IS NOT NULL
  UNION ALL
  SELECT * FROM j WHERE signup_id IS NULL AND pts < (SELECT w FROM wm)
)
SELECT user_id,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN signup_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN signup_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
FROM emitted
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
# e15: DYNAMIC PARTITION PRUNING — the optimization that makes
# partitioned fact tables usable from dim-side predicates. The fact
# (events partitioned by dt) is joined to a small date-dim whose filter
# (is_target_week) is NOT expressible on the fact at plan time; Spark
# inserts a runtime dynamicpruning subquery on the fact's partition
# column, so only the dim-selected day directories are ever read. At
# 100 TB this is the difference between scanning a week and scanning
# years — the plan test pins `dynamicpruning` in the fact scan's
# PartitionFilters. The dim is round-tripped through parquet: a local
# relation would let Catalyst constant-fold the filter instead of
# exercising the DPP path.
# --------------------------------------------------------------------------
def e15_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    fact_path = _partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(fact_path)

    start, end = _E07_WEEK
    dim_path = os.path.join(
        os.path.dirname(fact_path.rstrip("/")),
        os.path.basename(fact_path.rstrip("/")) + "_datedim",
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("dt"))
        .distinct()
        .withColumn("week_start", F.date_trunc("WEEK", "dt").cast("date"))
    )
    dim.coalesce(1).write.mode("overwrite").parquet(dim_path)
    # the dim predicate must be a BINARY COMPARISON: Spark's DPP rule
    # (PartitionPruning → isLikelySelective) does not treat a bare
    # boolean attribute as a selective filter, so an is_target_week
    # flag never triggers pruning — week_start = <literal> does.
    # _E07_WEEK starts on a Monday, Spark weeks start Monday, so this
    # selects exactly the e07 week.
    date_dim = spark.read.parquet(dim_path).filter(
        F.col("week_start") == F.lit(start)
    )

    return (
        fact.join(date_dim, "dt")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D182)).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


E15_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '{_E07_WEEK[0]}' AND CAST(ts AS DATE) < DATE '{_E07_WEEK[1]}'
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# e18: dropDuplicatesWithinWatermark (oracle-parity-tested in
# test_round6_ops.py::test_e18_matches_duckdb_oracle).
#
# The Spark 3.5 dedup API e09 does NOT cover: duplicate keys WITHOUT
# event-time in the key — state holds one entry per key and is evicted
# at the watermark, so at-least-once sources dedup with BOUNDED state
# even when redeliveries carry perturbed timestamps (where e09's
# dropDuplicates(event_id, ts) would pass the dup through). Duplicate
# delivery is simulated with copies=2. WHICH physical row a key emits
# is partition-order-dependent, so value columns stay out of the
# declared surface — but the EMIT COUNT is deterministic here: the two
# staged copies arrive in one availableNow batch (file source, no
# maxFilesPerTrigger), the first batch runs with watermark 0, so no
# state evicts mid-run and every key emits exactly once. Declaring
# per-key n_emitted (all 1) makes the hash gate sensitive to the dedup
# itself: if dropDuplicatesWithinWatermark regressed to a no-op the
# counts double and the gate goes red, where a bare DISTINCT over the
# sink would have masked it (ADVICE r06).
# --------------------------------------------------------------------------
def e18_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import (
        dedup_within_watermark,
        read_events_stream,
    )

    stage_dir = _stage_events(sf_dir, "e18_stream_", copies=2)  # duplicate delivery
    deduped = dedup_within_watermark(read_events_stream(spark, stage_dir))
    sink = f"e18_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return (
        spark.table(sink)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_emitted"))
        .orderBy("user_id", "event_type")
    )


E18_SQL = """
SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
FROM (SELECT DISTINCT user_id, event_type FROM events)
ORDER BY user_id, event_type
"""


# --------------------------------------------------------------------------
# e19: state-store reader (oracle-parity-tested in
# test_round6_ops.py::test_e19_matches_duckdb_oracle).
#
# Spark's State Data Source (`spark.read.format("statestore")`,
# SPARK-45511): batch-read the persisted state of a running/stopped
# streaming query straight from its checkpoint — the operational
# introspection surface for 100 TB streaming jobs (inspect/audit/debug
# state WITHOUT stopping the pipeline or instrumenting the sink).
# Here: run a stateful per-type counter to a NOOP sink (nothing ever
# leaves through the sink), then reconstruct the aggregate PURELY from
# the checkpoint's state files; hash-matching the batch oracle proves
# the state contents are exactly the aggregation state. Sums go
# through DECIMAL(18,2) INSIDE the stream so state holds exact values
# (stream vs DuckDB double addition order would otherwise diverge).
# --------------------------------------------------------------------------
def e19_statestore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e19_stream_")
    ckpt = scratch_path(f"e19_ckpt_{_os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    counted = (
        read_events_stream(spark, stage_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    with _stream_state_partitions(spark):
        q = (
            counted.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


E19_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# e20: STREAMING quantile monitoring (oracle-parity-tested in
# test_round6_ops.py::test_e20_matches_duckdb_oracle).
#
# Production streams monitor value DISTRIBUTIONS, not just counts:
# per-type approximate percentiles maintained by the stream
# (percentile_approx — a bounded-size quantile summary per group, the
# streaming-safe form; an exact streaming percentile would buffer the
# stream). Declared surface = a01's audit pattern: the oracle-exact
# batch percentiles as values + booleans pinning the STREAM's sketch
# within 5% of them — so the hash check proves the streaming sketch
# path works without asking DuckDB to reproduce Spark's summary.
# --------------------------------------------------------------------------
def e20_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nlp_data_pipeline_spark.streaming.pipelines import read_events_stream

    stage_dir = _stage_events(sf_dir, "e20_stream_")
    agg = (
        read_events_stream(spark, stage_dir)
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.95], 10000).alias("pct_est"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    sink = f"e20_sink_{uuid.uuid4().hex[:8]}"
    with _stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    streamed = spark.table(sink)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.5D, 0.95D))").alias("pct_exact")
        )
    )
    within = lambda i: (
        F.abs(
            F.element_at("pct_est", i) - F.element_at("pct_exact", i)
        )
        # 5%: percentile_approx returns an actual element (no
        # interpolation), so on small groups the nearest-element gap
        # near p95 can exceed 1% of the interpolated exact value
        <= F.lit(0.05) * F.abs(F.element_at("pct_exact", i))
    )
    return (
        streamed.join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            F.round(F.element_at("pct_exact", 1), 4).alias("p50"),
            F.round(F.element_at("pct_exact", 2), 4).alias("p95"),
            within(1).alias("stream_p50_within_5pct"),
            within(2).alias("stream_p95_within_5pct"),
        )
        .orderBy("event_type")
    )


E20_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       TRUE AS stream_p50_within_5pct,
       TRUE AS stream_p95_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# e21: streaming admission control (maxFilesPerTrigger × AvailableNow)
# (oracle-parity-tested in
# test_round7_ops.py::test_e21_matches_duckdb_oracle).
#
# The backpressure knob every production file/queue stream runs with:
# maxFilesPerTrigger bounds each micro-batch's intake, and
# Trigger.AvailableNow drains the backlog through that bound in
# MULTIPLE rate-limited batches (unlike the deprecated Trigger.Once,
# which ignores limits and swallows everything in one). The declared
# surface is the observable contract: 4 staged files × limit 1 → 4
# non-empty micro-batches whose union is exactly the source (row count
# + id checksum). At 100 TB this is how a backfill avoids a single
# monster batch that overwhelms state stores and sinks — bounded
# batches, checkpointed progress between them.
# --------------------------------------------------------------------------
_E21_FILES = 4


def e21_admission_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = scratch_path(f"e21_admit_{_os.getpid()}")
    shutil.rmtree(stage, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(_E21_FILES).write.mode("overwrite").parquet(stage)
    # The oracle declares n_batches = _E21_FILES, which holds only if
    # the staging write actually produced that many NON-EMPTY part
    # files (round-robin guarantees it for >= _E21_FILES rows, but a
    # tiny/skewed environment could yield fewer, and an empty
    # partition's committed part file would stream as an empty batch).
    # Check the precondition HERE so a staging artifact fails loudly
    # as a setup error instead of surfacing as a red admission-control
    # row.
    n_nonempty = (
        spark.read.parquet(stage)
        .groupBy(F.input_file_name())
        .count()
        .count()
    )
    if n_nonempty != _E21_FILES:
        raise RuntimeError(
            f"e21 staging produced {n_nonempty} non-empty part files, "
            f"expected {_E21_FILES} — source too small for the declared "
            "batch count"
        )
    schema = spark.read.parquet(stage).schema
    batches: list[tuple[int, int, int]] = []

    def record(df, batch_id: int) -> None:
        agg = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("ck")
        ).first()
        batches.append((batch_id, agg["n"] or 0, agg["ck"] or 0))

    ckpt = scratch_path(f"e21_ckpt_{_os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    query = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # per-file row counts depend on RoundRobinPartitioning's per-input
    # random start offsets, so only file COUNT and totals are declared
    nonempty = [b for b in batches if b[1] > 0]
    return spark.createDataFrame(
        [
            (
                len(nonempty),
                sum(b[1] for b in nonempty),
                sum(b[2] for b in nonempty),
            )
        ],
        "n_batches long, n_rows long, id_checksum long",
    )


E21_SQL = f"""
SELECT CAST({_E21_FILES} AS BIGINT) AS n_batches,
       COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events
"""


# --------------------------------------------------------------------------
# e22: row-level ForeachWriter sink (oracle-parity-tested in
# test_round7_ops.py::test_e22_matches_duckdb_oracle).
#
# The third and last streaming-sink API beside foreachBatch (e11) and
# the custom DataSourceStreamWriter (r16): `writeStream.foreach(w)`
# hands every ROW to a writer object — open(partition, epoch) /
# process(row) / close(error) — the integration shape for row-oriented
# external stores (KV puts, HTTP posts). Exactly-once falls on the
# WRITER: this one lands each (partition, epoch) as a temp file
# os.replace'd into a name keyed by exactly that pair, so a replayed
# epoch overwrites its own output (same discipline as r16, one level
# lower). Scale note: per-row Python is the SLOWEST sink path — use
# it only when the target store is genuinely row-oriented; bulk
# landings belong in foreachBatch/DataSource sinks.
# --------------------------------------------------------------------------
class _RowShardWriter:
    """Idempotent per-(partition, epoch) TSV landing for e22."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def open(self, partition_id: int, epoch_id: int) -> bool:
        import os
        import uuid

        os.makedirs(self.out_dir, exist_ok=True)
        self.path = os.path.join(
            self.out_dir, f"p{partition_id:05d}-e{epoch_id:05d}.tsv"
        )
        # HIDDEN (leading dot: Spark's file listing skips it, so a
        # crashed attempt's leftover is never ingested) and
        # ATTEMPT-UNIQUE (uuid: a speculative/retried attempt of the
        # same (partition, epoch) cannot clobber the live writer's
        # temp) — the custom_datasource.py temp-shard convention
        self.tmp = os.path.join(
            self.out_dir, f".{uuid.uuid4().hex}-{partition_id}-{epoch_id}.tmp"
        )
        self.fh = open(self.tmp, "w")
        return True

    def process(self, row) -> None:
        self.fh.write(f"{row['event_id']}\t{row['user_id']}\t{row['event_type']}\n")

    def close(self, error) -> None:
        import os

        fh = getattr(self, "fh", None)  # open() may have failed pre-assignment
        if fh is None:
            return
        fh.close()
        if error is None:
            os.replace(self.tmp, self.path)  # commit: keyed by (partition, epoch)
        elif os.path.exists(self.tmp):
            os.remove(self.tmp)


def e22_foreach_row_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    stage = _stage_events(sf_dir, "e22_stream_")
    out = scratch_path(f"e22_rows_{_os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    ckpt = scratch_path(f"e22_ckpt_{_os.getpid()}")
    shutil.rmtree(ckpt, ignore_errors=True)
    schema = load_table(spark, sf_dir, "events").schema
    query = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .writeStream.foreach(_RowShardWriter(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    back = spark.read.schema("event_id long, user_id long, event_type string").csv(
        out, sep="\t"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


E22_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# a04: approx_top_k heavy-hitters sketch (SPARK-49662, Spark 4.1)
# (oracle-parity-tested in
# test_round7_ops.py::test_a04_matches_duckdb_oracle).
#
# The native heavy-hitters aggregate beside t17's hand-rolled
# count-min sketch: one pass, mergeable state, no exact groupBy of the
# full key space. Declared the a01/e20 way — the sketch result joined
# against exact counts with an agreement flag: with maxItemsTracked
# (10k) ≥ the distinct-key count the sketch is EXACT by construction,
# so the driver gate hash-checks real equality, and at true scale
# (keys ≫ tracked) the same query degrades gracefully to approximate
# top-k while the exact twin becomes the thing you can no longer
# afford. Tie-break caveat: the sketch picks ties arbitrarily, so the
# declared key set must have distinct counts (event_type does).
# --------------------------------------------------------------------------
def a04_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = (
        ev.agg(F.expr("approx_top_k(event_type, 3, 10000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").alias("est_count"),
        )
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "est_count",
            "exact_count",
            (F.col("est_count") == F.col("exact_count")).alias("sketch_exact"),
        )
        .orderBy(F.desc("est_count"), F.asc("event_type"))
    )


A04_SQL = """
WITH exact AS (
  SELECT event_type, COUNT(*) AS exact_count FROM events GROUP BY event_type
)
SELECT event_type,
       exact_count AS est_count,
       exact_count,
       TRUE AS sketch_exact
FROM exact
ORDER BY exact_count DESC, event_type ASC
LIMIT 3
"""


# --------------------------------------------------------------------------
# e23: sequenced conversion funnel. The classic product-analytics query
# the e-series still lacked: per user, the ORDER-RESPECTING funnel
# signup → view → click → purchase, where stage k counts only if it
# happens at-or-after the user's stage-(k-1) time (a purchase before
# ever viewing does not convert the funnel). The naive per-stage
# first-timestamp table gets this wrong; the sequenced definition is
# t1 = min ts(signup), t_k = min ts(type_k AND ts ≥ t_{k-1}) — four
# chained conditional window minima over the SAME user partitioning.
#
# Hash-gate discipline: all comparisons are on exact microsecond
# timestamps; stage counts are BIGINTs; the per-stage conversion is
# ONE IEEE division of those counts (NULL-guarded both sides).
# Scale: Spark chains all four window operators after a SINGLE
# shuffle on user_id (same-partitioning windows reuse the exchange);
# the final stage table is a scalar aggregate. At 100 TB this is one
# pass over events, state bounded by the per-user row group.
# --------------------------------------------------------------------------
def e23_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    steps = [("signup", None), ("view", "t1"), ("click", "t2"), ("purchase", "t3")]
    df = e
    for i, (etype, prev) in enumerate(steps, start=1):
        cond = F.col("event_type") == etype
        if prev is not None:
            cond = cond & (F.col("ts") >= F.col(prev))
        df = df.withColumn(
            f"t{i}", F.min(F.when(cond, F.col("ts"))).over(w)
        )
    u = df.groupBy("user_id").agg(
        *[F.max(f"t{i}").alias(f"t{i}") for i in range(1, 5)]
    )
    c = u.agg(*[F.count(f"t{i}").alias(f"n{i}") for i in range(1, 5)])
    return (
        c.selectExpr(
            "stack(4,"
            " CAST(1 AS BIGINT), 'signup', n1,"
            " CAST(2 AS BIGINT), 'view', n2,"
            " CAST(3 AS BIGINT), 'click', n3,"
            " CAST(4 AS BIGINT), 'purchase', n4)"
            " AS (stage, stage_name, n_users)",
            "n1",
        )
        .select(
            "stage",
            "stage_name",
            "n_users",
            F.when(
                F.col("n1") > 0,
                F.col("n_users").cast("double") / F.col("n1").cast("double"),
            ).alias("frac_of_signups"),
        )
        .orderBy("stage")
    )


E23_SQL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' AND ts >= t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM s2
),
s4 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t3 THEN ts END)
              OVER (PARTITION BY user_id) AS t4
  FROM s3
),
u AS (
  SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3, MAX(t4) AS t4
  FROM s4 GROUP BY user_id
),
c AS (
  SELECT CAST(COUNT(t1) AS BIGINT) AS n1, CAST(COUNT(t2) AS BIGINT) AS n2,
         CAST(COUNT(t3) AS BIGINT) AS n3, CAST(COUNT(t4) AS BIGINT) AS n4
  FROM u
),
stages AS (
  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name, n1 AS n_users, n1 FROM c
  UNION ALL SELECT 2, 'view', n2, n1 FROM c
  UNION ALL SELECT 3, 'click', n3, n1 FROM c
  UNION ALL SELECT 4, 'purchase', n4, n1 FROM c
)
SELECT stage, stage_name, n_users,
       CASE WHEN n1 > 0
            THEN CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) END
         AS frac_of_signups
FROM stages
ORDER BY stage
"""


# --------------------------------------------------------------------------
# e24: watermark-horizon late-data accounting. Choosing a watermark is
# a measurement problem: every streaming query in this suite (e02,
# e05, e18...) takes a lateness horizon as given, but the horizon
# should come from THIS table — replay the stream in arrival order
# (event_id, the ingestion sequence) and count, for each candidate
# horizon, the events that arrive later than `running-max(event time)
# − horizon` and would therefore be DROPPED by the watermark. Lateness
# is exact integer microseconds (unix_micros both engines); the drop
# fraction is one IEEE division of BIGINTs.
#
# Scale: the running max over arrival order is inherently sequential,
# so production computes it PER INGESTION SHARD (arrival order only
# exists within a shard/partition anyway — Kafka guarantees order per
# partition, not globally); the toy corpus is one shard, hence one
# window task here. Everything after the running max is a scalar
# aggregation.
# --------------------------------------------------------------------------
_E24_HORIZONS_S = (60, 300, 900)


def e24_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    w = (
        Window.orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_us = F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
    flags = e.select(late_us.alias("late_us"))
    aggs = [F.count(F.lit(1)).alias("n_events")] + [
        F.sum((F.col("late_us") > h * 1_000_000).cast("long")).alias(f"d{h}")
        for h in _E24_HORIZONS_S
    ]
    row = flags.agg(*aggs)
    stack = ", ".join(
        f"CAST({h} AS BIGINT), d{h}" for h in _E24_HORIZONS_S
    )
    return (
        row.selectExpr(
            f"stack({len(_E24_HORIZONS_S)}, {stack}) AS (horizon_s, n_dropped)",
            "n_events",
        )
        .select(
            "horizon_s",
            "n_events",
            "n_dropped",
            (
                F.col("n_dropped").cast("double")
                / F.col("n_events").cast("double")
            ).alias("frac_dropped"),
        )
        .orderBy("horizon_s")
    )


E24_SQL = f"""
WITH lates AS (
  SELECT epoch_us(MAX(ts) OVER (ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         - epoch_us(ts) AS late_us
  FROM events
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         {", ".join(
             f"CAST(SUM(CASE WHEN late_us > {h} * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS d{h}"
             for h in _E24_HORIZONS_S
         )}
  FROM lates
)
SELECT horizon_s, n_events, n_dropped,
       CAST(n_dropped AS DOUBLE) / CAST(n_events AS DOUBLE) AS frac_dropped
FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({h} AS BIGINT) AS horizon_s, n_events, d{h} AS n_dropped FROM agg"
      for h in _E24_HORIZONS_S
  )}
) u
ORDER BY horizon_s
"""


# --------------------------------------------------------------------------
# e25: event-type transition matrix. The first-order Markov model of
# user behavior: for every consecutive event pair within a user's
# timeline, count (from_type → to_type) and row-normalize into the
# transition probability — the matrix behind next-action prediction,
# anomaly scoring (improbable transitions), and funnel design (e23
# picks its stage ORDER from this table). Consecutive = lag over the
# exact (ts, event_id) total order per user.
#
# Hash-gate discipline: transition counts and row totals are exact
# BIGINTs from one lag window + one groupBy; the probability is ONE
# IEEE division of those integers. Scale: the lag window and the
# groupBy both key on user/from_type — one shuffle on user_id for the
# lag, one map-combined aggregation to the |types|² ≤ 25-row matrix.
# --------------------------------------------------------------------------
def e25_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_w = Window.partitionBy("from_type")
    return (
        trans.withColumn("from_total", F.sum("n_transitions").over(row_w))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            "from_total",
            (
                F.col("n_transitions").cast("double")
                / F.col("from_total").cast("double")
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


E25_SQL = """
WITH trans AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events
),
counted AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM trans WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS from_total,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
         AS prob
FROM counted
ORDER BY from_type, to_type
"""


# --------------------------------------------------------------------------
# e26: hour-of-day seasonality profile. Capacity planning and
# anomaly baselines start from the diurnal profile: per event type,
# the event mass by hour of day and each hour's share of the type's
# total. hour() on a session-tz timestamp is engine-identical for
# this UTC corpus; counts are BIGINTs, the share is one division.
# Scale: one map-combined groupBy to a ≤ types×24-row relation — the
# profile is recomputable per day at any corpus size, and at 100 TB
# the day-partitioned layout (this module's header) makes the scan
# prunable to the profiling window.
# --------------------------------------------------------------------------
def e26_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    )
    counts = e.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type")
    return (
        counts.withColumn("type_total", F.sum("n_events").over(w))
        .select(
            "event_type",
            "hour_of_day",
            "n_events",
            "type_total",
            (
                F.col("n_events").cast("double")
                / F.col("type_total").cast("double")
            ).alias("share"),
        )
        .orderBy("event_type", "hour_of_day")
    )


E26_SQL = """
WITH counts AS (
  SELECT event_type,
         CAST(date_part('hour', ts) AS BIGINT) AS hour_of_day,
         COUNT(*) AS n_events
  FROM events
  GROUP BY event_type, date_part('hour', ts)
)
SELECT event_type, hour_of_day, n_events,
       CAST(SUM(n_events) OVER (PARTITION BY event_type) AS BIGINT)
         AS type_total,
       CAST(n_events AS DOUBLE)
         / CAST(SUM(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
         AS share
FROM counts
ORDER BY event_type, hour_of_day
"""


# --------------------------------------------------------------------------
# e27: error-burst detector. The ops-alerting primitive: per tumbling
# hour, the error rate vs the corpus-wide mean, flagging hours whose
# rate exceeds 2× the baseline. The flag is evaluated as the INTEGER
# cross-multiplication n_err·total_events > 2·total_err·n_events —
# never a float-vs-float threshold (an hour landing exactly on the
# boundary would hash-diverge if the two engines' division noise
# differed; integers cannot).
# Scale: one map-combined groupBy on the hour bucket + one broadcast
# scalar; the streaming twin is e02's tumbling window with this
# flag expression — the batch table is the backfill/baseline side.
# --------------------------------------------------------------------------
def e27_error_burst_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_start"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    hours = e.groupBy("hour_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_err").alias("n_errors"),
    )
    totals = e.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum("is_err").alias("total_errors"),
    )
    return (
        hours.crossJoin(F.broadcast(totals))
        .select(
            "hour_start",
            "n_events",
            "n_errors",
            (
                F.col("n_errors").cast("double") / F.col("n_events").cast("double")
            ).alias("error_rate"),
            (
                F.col("n_errors") * F.col("total_events")
                > 2 * F.col("total_errors") * F.col("n_events")
            ).alias("is_burst"),
        )
        .orderBy("hour_start")
    )


E27_SQL = """
WITH e AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
),
hours AS (
  SELECT hour_start, COUNT(*) AS n_events,
         CAST(SUM(is_err) AS BIGINT) AS n_errors
  FROM e GROUP BY hour_start
),
totals AS (
  SELECT COUNT(*) AS total_events, CAST(SUM(is_err) AS BIGINT) AS total_errors
  FROM e
)
SELECT hour_start, n_events, n_errors,
       CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_rate,
       n_errors * total_events > 2 * total_errors * n_events AS is_burst
FROM hours, totals
ORDER BY hour_start
"""


# --------------------------------------------------------------------------
# e28: inter-arrival gap histogram. The sessionization gap (q53/e03's
# parameter) and the watermark horizon (e24) should both be READ off
# this table, not guessed: per-user consecutive event gaps in exact
# integer microseconds, histogrammed in power-of-two buckets
# (bucket = length(bin(gap_us)) — the t50/d31 integer rule, no float
# log). A bimodal gap distribution IS the session structure; the
# valley between modes is the gap parameter.
#
# Hash-gate discipline: gaps are exact µs; buckets, counts, and gap
# mass are BIGINTs; the share is one division. Zero-gap pairs (exact
# duplicate timestamps) get bucket 0 via the explicit CASE — bin(0)
# has length 1, which would collide with gap=1µs.
# Scale: one lag window per user (one shuffle) + a map-combined
# ≤64-row histogram.
# --------------------------------------------------------------------------
def e28_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.withColumn(
            "gap_us",
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    bucket = F.when(F.col("gap_us") == 0, F.lit(0)).otherwise(
        F.length(F.bin("gap_us"))
    ).cast("long")
    hist = gaps.select(bucket.alias("gap_bucket"), "gap_us").groupBy(
        "gap_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").alias("gap_mass_us"),
    )
    total = gaps.agg(F.count(F.lit(1)).alias("total_gaps"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "gap_bucket",
            "n_gaps",
            "gap_mass_us",
            (
                F.col("n_gaps").cast("double") / F.col("total_gaps").cast("double")
            ).alias("share"),
        )
        .orderBy("gap_bucket")
    )


E28_SQL = """
WITH gaps AS (
  SELECT epoch_us(ts)
           - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
  FROM events
),
g AS (SELECT gap_us FROM gaps WHERE gap_us IS NOT NULL),
hist AS (
  SELECT CASE WHEN gap_us = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(gap_us)) AS BIGINT) END AS gap_bucket,
         COUNT(*) AS n_gaps,
         CAST(SUM(gap_us) AS BIGINT) AS gap_mass_us
  FROM g GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_gaps FROM g)
SELECT gap_bucket, n_gaps, gap_mass_us,
       CAST(n_gaps AS DOUBLE) / CAST(total_gaps AS DOUBLE) AS share
FROM hist, tot
ORDER BY gap_bucket
"""


# --------------------------------------------------------------------------
# e29: behavioral entropy per user. The one-number behavioral-diversity
# score: Shannon entropy of each user's event-type distribution —
# near 0 = single-behavior (bot-like), near ln 5 = uniform across the
# catalog. The float-discipline point this op exists to demonstrate:
# an entropy written as SUM(p·ln p) over rows is PARTITION-ORDER-
# DEPENDENT float addition and can never be hash-green; here each
# type's term is its own conditional-aggregate column and the entropy
# is ONE fixed-order expression −(t_click + t_error + t_purchase +
# t_signup + t_view) — the same FP additions in the same order on
# both engines, exactly like t40's fixed expression tree.
#
# Scale: one map-combined groupBy on user_id; the catalog is a
# compile-time literal list (5 types), the standard shape when the
# category domain is small and known.
# --------------------------------------------------------------------------
_E29_TYPES = ("click", "error", "purchase", "signup", "view")


def e29_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    aggs = [F.count(F.lit(1)).alias("n_events")] + [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in _E29_TYPES
    ]
    g = e.groupBy("user_id").agg(*aggs)
    term = lambda t: F.when(
        F.col(f"n_{t}") > 0,
        (F.col(f"n_{t}").cast("double") / F.col("n_events").cast("double"))
        * F.log(
            F.col(f"n_{t}").cast("double") / F.col("n_events").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    # fixed-order sum: click + error + purchase + signup + view
    ent = -(
        term("click")
        + term("error")
        + term("purchase")
        + term("signup")
        + term("view")
    )
    return g.select(
        "user_id",
        "n_events",
        F.round(ent, 6).alias("entropy_nats"),
    ).orderBy("user_id")


def _e29_sql() -> str:
    counts = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{t}"
        for t in _E29_TYPES
    )
    term = lambda t: (
        f"CASE WHEN n_{t} > 0 THEN (CAST(n_{t} AS DOUBLE) / CAST(n_events AS DOUBLE))"
        f" * ln(CAST(n_{t} AS DOUBLE) / CAST(n_events AS DOUBLE)) ELSE 0.0 END"
    )
    ent = " + ".join(term(t) for t in _E29_TYPES)
    return f"""
WITH g AS (
  SELECT user_id, COUNT(*) AS n_events, {counts}
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, round(-({ent}), 6) AS entropy_nats
FROM g
ORDER BY user_id
"""


E29_SQL = _e29_sql()


QUERIES = {
    "e01_tumbling_hourly": e01_tumbling_hourly,
    "e02_session_windows": e02_session_windows,
    "e03_first_event_per_user_type": e03_first_event_per_user_type,
    "e04_streaming_tumbling": e04_streaming_tumbling,
    "e05_sliding_windows": e05_sliding_windows,
    "e06_stream_static_join": e06_stream_static_join,
    "e07_partitioned_day_scan": e07_partitioned_day_scan,
    "e08_streaming_append_finalized": e08_streaming_append_finalized,
    "e09_streaming_dedup": e09_streaming_dedup,
    "e10_stateful_user_counters": e10_stateful_user_counters,
    "e11_foreachbatch_sink": e11_foreachbatch_sink,
    "e12_stream_stream_join": e12_stream_stream_join,
    "e13_stateful_type_counts": e13_stateful_type_counts,
    "e14_streaming_session_finalized": e14_streaming_session_finalized,
    "e15_dynamic_partition_pruning": e15_dynamic_partition_pruning,
    "e16_stream_stream_left_outer": e16_stream_stream_left_outer,
    "e17_streaming_cdc_upsert": e17_streaming_cdc_upsert,
    "e18_dedup_within_watermark": e18_dedup_within_watermark,
    "e19_statestore_read": e19_statestore_read,
    "e20_streaming_quantiles": e20_streaming_quantiles,
    "a04_approx_top_k": a04_approx_top_k,
    "e21_admission_control": e21_admission_control,
    "e22_foreach_row_sink": e22_foreach_row_sink,
    "e23_conversion_funnel": e23_conversion_funnel,
    "e24_late_data_accounting": e24_late_data_accounting,
    "e25_transition_matrix": e25_transition_matrix,
    "e26_hourly_profile": e26_hourly_profile,
    "e27_error_burst_detector": e27_error_burst_detector,
    "e28_interarrival_histogram": e28_interarrival_histogram,
    "e29_behavior_entropy": e29_behavior_entropy,
}

ORACLES = {
    "e01_tumbling_hourly": E01_SQL,
    "e02_session_windows": E02_SQL,
    "e03_first_event_per_user_type": E03_SQL,
    "e04_streaming_tumbling": E04_SQL,
    "e05_sliding_windows": E05_SQL,
    "e06_stream_static_join": E06_SQL,
    "e07_partitioned_day_scan": E07_SQL,
    "e08_streaming_append_finalized": E08_SQL,
    "e09_streaming_dedup": E09_SQL,
    "e10_stateful_user_counters": E10_SQL,
    "e11_foreachbatch_sink": E11_SQL,
    "e12_stream_stream_join": E12_SQL,
    "e13_stateful_type_counts": E13_SQL,
    "e14_streaming_session_finalized": E14_SQL,
    "e15_dynamic_partition_pruning": E15_SQL,
    "e16_stream_stream_left_outer": E16_SQL,
    "e17_streaming_cdc_upsert": E17_SQL,
    "e18_dedup_within_watermark": E18_SQL,
    "e19_statestore_read": E19_SQL,
    "e20_streaming_quantiles": E20_SQL,
    "a04_approx_top_k": A04_SQL,
    "e21_admission_control": E21_SQL,
    "e22_foreach_row_sink": E22_SQL,
    "e23_conversion_funnel": E23_SQL,
    "e24_late_data_accounting": E24_SQL,
    "e25_transition_matrix": E25_SQL,
    "e26_hourly_profile": E26_SQL,
    "e27_error_burst_detector": E27_SQL,
    "e28_interarrival_histogram": E28_SQL,
    "e29_behavior_entropy": E29_SQL,
}
