"""SparkSession factory tuned for this engine.

Local mode is only the test harness; every config choice is written for
the real target — a many-executor cluster scanning ~100 TB of parquet:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) so plans self-correct at scale,
- Arrow on for every pandas interchange (the only sanctioned Python
  boundary),
- shuffle partitions default to a local-friendly number; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant
  as long as it is high enough, so deployments should raise
  ``spark.sql.shuffle.partitions`` to ~2-3x total cores.
"""

from __future__ import annotations

import contextlib
import os
import threading
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "nlp_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-conscious defaults.

    ORDERING REQUIREMENT (ADVICE r13): the single-thread BLAS guard
    below works by mutating process env BEFORE the JVM starts (Python
    workers inherit the JVM's env). Call get_spark before any other
    code creates a SparkSession or initializes BLAS in-process —
    getOrCreate silently reuses an existing session, in which case the
    guard cannot apply and a warning is emitted instead.
    """
    # One BLAS thread per Python worker (round 13): Spark already runs
    # one worker per core, so library-level GEMM threading (OpenBLAS
    # defaults to n_cores threads PER process) oversubscribes 32×32
    # threads and collapses into kernel-time thrash — the NND 1000x
    # probe measured a stage making zero progress in 15 min that
    # completes in seconds single-threaded. Workers inherit the JVM's
    # env, so set this before the session (JVM) starts; setdefault so
    # a deployment that genuinely wants threaded BLAS in a
    # few-fat-executors layout can override.
    active = SparkSession.getActiveSession()
    if active is not None:
        # Too late to influence worker env through the JVM — say so
        # instead of silently pretending the guard applied.
        if any(
            os.environ.get(v) is None
            for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
        ):
            warnings.warn(
                "get_spark called with an active SparkSession: the BLAS "
                "single-thread guard (OMP/OPENBLAS/MKL_NUM_THREADS=1) "
                "cannot reach already-started workers; set the vars in "
                "the launcher env if threaded-BLAS oversubscription is "
                "a concern.",
                RuntimeWarning,
                stacklevel=2,
            )
    else:
        for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- adaptive execution: the 100 TB safety net ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow for any pandas_udf / toPandas boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- shuffle sizing (cluster deployments raise this; AQE coalesces) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # keep parquet scans splittable and pruned
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast threshold: dims (region/nation/supplier/part) stay broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # timestamps: parquet test data is TIMESTAMP_NTZ-ish micros; keep UTC
        # (event-time physical-layout normalization — NTZ / legacy nanos —
        # lives in sources/catalog.normalize_event_ts, the single site)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # heartbeat slack for the local 1000x probes: a long driver GC
        # pause under a 5M-row stage must not kill the in-process
        # executor (measured: "unable to send heartbeats more than 60
        # times" ended the first NND 1000x attempt). Interval stays
        # default; only the tolerated silence is raised.
        .config(
            "spark.network.timeout",
            os.environ.get("SPARK_GRAFT_NETWORK_TIMEOUT", "600s"),
        )
        .config("spark.ui.enabled", "false")
        # whole-stage-codegen class cache, sized above the pipeline's
        # working set. Measured distinct generated classes per request:
        # upload flow (p01, t05, n01-n03, p03 export) ~141, curation +
        # search (d06, d07, s01, s07, s11, s12) ~201, ~340 for a session
        # serving both. Spark's default LRU of 100 entries is smaller
        # than either set, so a repeated flow evicts each class before
        # its next use: 126 of 141 (upload) and 197 of 201 recompiled
        # with Janino per warm request, and the JIT compiles every new
        # class again. Entries are keyed on generated source, not on
        # data, so this is no result memo: the first run of a flow
        # still pays every compile.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # no Python call-site capture per API call. With it on (Spark's
        # default), every Column and DataFrame call made while building
        # a plan adds ~25 py4j round trips (active-session lookup, a
        # conf read, PySparkCurrentOrigin set/clear) and a Python stack
        # walk: `F.col("a") + 1` measured 29 round trips, 2.45 ms, with
        # it and 4, 0.71 ms, without. Its only consumer is the
        # DataFrame call-site fragment of error messages. Static conf:
        # it can only be set here, and PySpark reads it once per
        # process, at the first API call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this driver JVM has run so far. Each one is a
    miss of the codegen class cache, so the delta across a flow counts
    the classes it had to (re)compile."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str):
    """Label every Spark job the block launches with job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class _Calls:
    """Running counts of one ``py4j_calls`` block: ``n`` from every
    thread, ``own`` from the thread that opened the block."""

    def __init__(self):
        self.n = 0
        self.own = 0
        self._owner = threading.get_ident()
        self._lock = threading.Lock()

    def add(self) -> None:
        with self._lock:
            self.n += 1
            if threading.get_ident() == self._owner:
                self.own += 1


@contextlib.contextmanager
def py4j_calls():
    """Count the py4j commands (Python→JVM round trips) sent while the
    block runs, from every thread: this includes the finalizer thread's
    ``memory delete`` commands, which grow with the number of JVM
    proxies the block creates, so it moves with garbage-collection
    timing. Use as ``with py4j_calls() as calls:``, then read
    ``calls.n``; ``calls.own`` leaves out the other threads' commands."""
    from py4j.clientserver import ClientServerConnection

    calls = _Calls()
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls.add()
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send


def group_jobs(spark: SparkSession, group: str) -> int:
    """Spark jobs run so far under job group ``group``, counted by the
    status tracker once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))
