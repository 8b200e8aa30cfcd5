"""End-to-end benchmark of the library's public functions.

    python3 e2ebench/run.py --workload upload --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One client sends one request at a time
(closed loop) from this process. Inputs are generated from ``--seed``
before the Spark session starts; each request then gets its own fresh
directory, so no path-keyed memo of the library can answer it. After
two warm-up requests, requests run until ``--seconds`` have passed (the
last one may end later); every request's outputs are checked outside
its timed part.

``--scale tiny`` and ``--mutate`` exist for ``selftest.py``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
library call inside a Spark job group and prints the per-layer metrics
(see spans.py). The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it carries details (core count, per-request latencies, issues).

Everything the run writes (inputs, Spark local dirs, the library's
scratch root and its ``nlp_lda_cache_*`` models, the event log) lives
under ``.e2ebench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUPS = 2
# Driver JVM heap, fixed (initial = max). Under the library's default (8g
# max, G1 starting near 1/64 of RAM) the heap grows in steps timed by GC
# pauses, and a run's peak RSS followed those steps (2.4-4.4 GB between
# runs of one workload) rather than the work.
DRIVER_HEAP = "3g"
REQUIRED = ("nlp_data_pipeline_spark/session.py", "tools/check_oracle.py")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    p.add_argument("--mutate", default=None,
                   help="corrupt one output before its check (self-test only)")
    return p.parse_args(argv)


def _isolate(work: str, trace: bool) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    inside ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the library's scratch root lives under it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
    }
    if trace:
        from spans import event_log_conf

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"]
    )


def _evict_memos(req_dir: str) -> None:
    """Drop what nlp_model memoized for this request: its in-process
    fit, its on-disk model and its cached tag frame. Without this each
    request leaves one cached frame set behind, and memory would grow
    with the number of requests a run completes."""
    from nlp_data_pipeline_spark.operators import nlp_model

    nlp_model.reset_fit_cache()
    for key in [k for k in nlp_model._TAGS_CACHE if k[1] == req_dir]:
        nlp_model._TAGS_CACHE.pop(key).unpersist()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict]:
    import proc
    from spans import Tracer, parse_event_log, span_medians, span_rows
    from workloads import ALL_SPANS, WORKLOADS

    t_process = proc.process_start_epoch()
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    t = time.time()
    wl.generate(work)
    gen_s = time.time() - t

    from nlp_data_pipeline_spark.session import get_spark

    t = time.time()
    spark = get_spark("e2ebench")
    start_s = time.time() - t
    tracer = Tracer(spark, bool(args.trace))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "driver_heap": DRIVER_HEAP,
        "docs_per_request": wl.n_docs,
        "warmups": WARMUPS,
        "issues": [],
    }
    latencies, cpu_s, docs, attempted, failed = [], 0.0, 0, 0, 0
    check_s = steal_s = sampler_cpu_s = 0.0
    try:
        with proc.RssSampler() as rss:
            req = -WARMUPS
            t_measure = None
            while True:
                if req == 0:
                    setup_s = time.time() - t_process - gen_s - check_s
                    t_measure = time.time()
                if req > 0 and time.time() - t_measure >= args.seconds:
                    break
                req_dir = os.path.join(work, f"req{req + WARMUPS:03d}")
                wl.place(req_dir)
                measured = req >= 0
                rss.measuring(measured)
                cpu0, steal0, sampler0 = proc.tree_cpu_s(), proc.host_steal_s(), rss.cpu_s
                t0 = time.perf_counter()
                try:
                    out = wl.run(spark, tracer, req_dir, req)
                except Exception:
                    out, issues = None, [f"request raised: {traceback.format_exc(limit=3)}"]
                lat = time.perf_counter() - t0
                cpu1, steal1, sampler1 = proc.tree_cpu_s(), proc.host_steal_s(), rss.cpu_s
                rss.measuring(False)
                t = time.time()
                if out is not None:
                    if args.mutate:
                        wl.mutate(out, args.mutate)
                    try:
                        issues = wl.check(out, req_dir)
                    except Exception:
                        issues = [f"check raised: {traceback.format_exc(limit=3)}"]
                _evict_memos(req_dir)
                shutil.rmtree(req_dir, ignore_errors=True)
                tracer.read_counts()
                check_s += time.time() - t
                if measured:
                    attempted += 1
                    cpu_s += (cpu1 - cpu0) - (sampler1 - sampler0)
                    sampler_cpu_s += sampler1 - sampler0
                    steal_s += steal1 - steal0
                    docs += wl.n_docs
                    failed += bool(issues)
                    latencies.append(lat)
                if issues:
                    detail["issues"] += [f"request {req}: {i}" for i in issues[:5]]
                    print(f"request {req} FAILED: {issues[:5]}", file=sys.stderr)
                req += 1
            peak_rss_mb = rss.peak_mb
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    finally:
        _stop_spark(spark)

    p50 = statistics.median(latencies)
    detail.update(
        n_requests=attempted,
        latencies_s=[round(x, 4) for x in latencies],
        error_rate=failed / attempted,
        gen_s=round(gen_s, 3),
        check_s=round(check_s, 3),
        host_steal_s=round(steal_s, 3),
        rss_sampler_cpu_s=round(sampler_cpu_s, 4),
    )
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (p50, "s"),
            "cpu_s_per_doc": (cpu_s / max(docs, 1), "s/doc"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        from spans import FIELD_UNITS

        rows = [r for r in span_rows(tracer.records, parse_event_log(os.path.join(work, "eventlog")))
                if r["request"] >= 0]
        detail["spans"] = rows
        metrics = {
            name: (value, FIELD_UNITS[name.rsplit(".", 1)[1]])
            for name, value in span_medians(rows, ALL_SPANS).items()
        }
        metrics["session.get_spark.start_s"] = (start_s, "s")
        metrics["spark.persisted_rdds"] = (persisted, "count")
        metrics["trace.latency_p50_s"] = (p50, "s")
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _source_digest() -> str:
    """Digest of the library's, the tools' and the benchmark's Python
    sources: an untraced p50 only stands for the code it was measured on."""
    h = hashlib.sha256()
    for pattern in ("nlp_data_pipeline_spark/**/*.py", "tools/*.py", "e2ebench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _overhead(args, result: dict, detail: dict) -> None:
    """Remember the untraced p50 of a workload, seed and scale at these
    sources and core count; a traced run of the same then prints the
    tracing overhead (traced − untraced p50), or says why it cannot."""
    key = {"source": _source_digest(), "cores": detail["cores"]}
    out_dir = os.path.join(ROOT, ".e2ebench_out")
    path = os.path.join(out_dir, f"{args.workload}-{args.scale}-{args.seed}-untraced.json")
    if not args.trace:
        if not args.mutate:
            os.makedirs(out_dir, exist_ok=True)
            with open(path, "w") as fh:
                json.dump({**key, "latency_p50_s": result["metrics"]["latency_p50_s"]["value"]}, fh)
        return
    saved = {}
    if os.path.exists(path):
        with open(path) as fh:
            saved = json.load(fh)
    if {k: saved.get(k) for k in key} != key:
        print(f"tracing_overhead_s unavailable: no untraced run of {args.workload}, "
              f"seed {args.seed}, scale {args.scale} on these sources and "
              f"{detail['cores']} cores; run it with --trace 0 first")
        return
    untraced = saved["latency_p50_s"]
    traced = result["metrics"]["trace.latency_p50_s"]["value"]
    print(f"tracing_overhead_s {traced - untraced:.4f} s "
          f"(traced p50 {traced:.4f} s, untraced p50 {untraced:.4f} s)")


def main(argv=None) -> int:
    args = _args(argv)
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"e2ebench: not a checkout of the library (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".e2ebench_work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        _isolate(work, bool(args.trace))
        result, detail = run(args, work)
    finally:
        import proc

        proc.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    _overhead(args, result, detail)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"error_rate {detail['error_rate']} ratio ({result['failed']}/{result['attempted']})")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
