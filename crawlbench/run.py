#!/usr/bin/env python3
"""Crawl benchmark: one workload, one seed, one JSON line.

    python3 crawlbench/run.py --workload drain_pairs --seed 1 --seconds 25 --trace 0

Runs from the repository root. One process: start the Spark session, write
the seeded synthetic inputs, lay out the mock store, run the workload's
full-size warm-up crawl, then time whole crawls (``init_frontier`` +
``run`` + ``archive_stage`` where the workload archives), each into a fresh
lake, until ``--seconds`` of crawl time are measured. Every timed crawl is
scored by the independent oracle. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones, from a run with Spark's
event log on and a span around every call into a layer.

Noise controls: a fixed slot count below the core count, a pinned driver
heap, a run-private temp directory (removed at exit) holding every lake,
Spark's scratch space and the JVM's temp files, and medians over crawls.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Every Arrow-UDF task runs a Python worker beside its JVM task thread, and
# the Spark driver process and the GC threads need cores too: three slots on
# a 4-core host.
SLOTS = 3
HEAP = "3g"
TMP_PARENT = ".crawlbench_tmp"
ABSENT_KEYS = 20000
# one cold crawl pays most of the JIT warm-up; the median of three timed
# crawls ignores one disturbed crawl, whatever --seconds allows
WARMUP_CRAWLS = 1
MIN_TIMED_CRAWLS = 3


def parse_args(argv=None):
    from crawlbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(tmp: str) -> dict:
    """Point every temp and scratch path at ``tmp``; returns the Spark
    settings the session adds to the program's own."""
    for sub in ("py", "jvm", "spark-local", "warehouse", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
            "-XX:-UsePerfData",
        ))
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def event_log_conf(tmp: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def vm_hwm_kib(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bloom_fp_share(spark, lake: str) -> float:
    """Share of keys known to be absent that the final bloom shards report
    as maybe-seen, probed through ``bloom_partition``."""
    from pyspark.sql import functions as F

    from netrunner_spark.operators.seen import bloom_partition
    from netrunner_spark.tables import LakeCatalog

    shards = LakeCatalog(spark, lake).read("bloom_shards")
    n_shards = int(shards.agg(F.max("n_shards")).first()[0])
    absent = spark.range(ABSENT_KEYS).select(
        F.xxhash64(F.concat(F.lit("https://absent.invalid/"), F.col("id").cast("string")))
        .alias("url_hash")
    )
    hits = bloom_partition(absent, shards, n_shards).agg(
        F.sum(F.col("maybe_seen").cast("int"))
    ).first()[0]
    return (hits or 0) / ABSENT_KEYS


def scheduled_by_enqueue(lake: str) -> int:
    import pyarrow.dataset as ds

    path = os.path.join(lake, "schedule_ext", "data")
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def run(args, tmp: str) -> dict:
    from crawlbench import oracle
    from crawlbench.layers import median
    from crawlbench.spans import Tracer
    from crawlbench.workloads import (
        WORKLOADS, TimedCrawl, crawl, generate, lake_bytes, prepare,
    )

    w = WORKLOADS[args.workload]
    conf = isolate(tmp)
    if args.trace:
        conf.update(event_log_conf(tmp))
    slots = min(SLOTS, max(1, (os.cpu_count() or 2) - 1))

    from netrunner_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("crawlbench", master=f"local[{slots}]", extra=conf)
    session_s = time.perf_counter() - t
    tracer = Tracer(spark.sparkContext if args.trace else None)
    untraced = Tracer()
    try:
        t = time.perf_counter()
        with tracer.span("synth"):
            inputs = generate(spark, w, args.seed, os.path.join(tmp, "inputs"))
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("fetcher.prepare"):
            fetcher = prepare(spark, w, inputs, os.path.join(tmp, "store"), slots)
        prepare_s = time.perf_counter() - t

        n_crawls = 0

        def next_lake() -> str:
            nonlocal n_crawls
            n_crawls += 1
            return os.path.join(tmp, f"lake-{n_crawls}")

        warmup = []
        for _ in range(WARMUP_CRAWLS):
            r = crawl(spark, w, inputs, fetcher, next_lake(), slots, untraced)
            warmup.append(r.seconds)
            shutil.rmtree(r.lake)
        setup_s = time.perf_counter() - T_START - gen_s
        print(f"[crawlbench] {w.name} seed={args.seed} session={session_s:.2f}s "
              f"gen={gen_s:.2f}s prepare={prepare_s:.2f}s warmup={warmup}",
              file=sys.stderr)

        timed: list[TimedCrawl] = []
        measured = 0.0
        last_traced_lake = None
        # traced runs alternate untraced and traced crawls, starting and
        # ending untraced, so the warm-up slope cancels out of
        # trace.overhead_share
        while (measured < args.seconds or len(timed) < MIN_TIMED_CRAWLS
               or (args.trace and len(timed) % 2 == 0)):
            traced = bool(args.trace) and len(timed) % 2 == 1
            r = crawl(spark, w, inputs, fetcher, next_lake(), slots,
                      tracer if traced else untraced)
            measured += r.seconds
            cache = oracle.read_cache(r.lake, with_images=w.pairs)
            sc = oracle.score(inputs.expected, cache)
            offered = (
                oracle.links_offered(inputs.store, cache, w.max_depth)
                if w.follow_links else 0
            )
            fresh = scheduled_by_enqueue(r.lake) / offered if offered else 0.0
            timed.append(TimedCrawl(r, traced, sc, lake_bytes(r.lake), fresh))
            if traced:
                if last_traced_lake:
                    shutil.rmtree(last_traced_lake)
                last_traced_lake = r.lake
            else:
                shutil.rmtree(r.lake)
            print(f"[crawlbench] crawl {len(timed)}: {r.urls} URLs {r.seconds:.2f}s "
                  f"rounds={[round(x, 2) for x in r.round_seconds]} "
                  f"share={sc.share:.4f} {dict(sc.failures)}", file=sys.stderr)

        fp_share = None
        if args.trace:
            with tracer.span("seen.bloom_probe"):
                fp_share = bloom_fp_share(spark, last_traced_lake)
        proc = jvm_process()
        rss_kib = vm_hwm_kib(os.getpid()) + (vm_hwm_kib(proc.pid) if proc else 0)
    finally:
        stop_spark(spark)

    scores = [t.score for t in timed]
    expected = sum(s.expected for s in scores)
    failed = sum(s.failed for s in scores)
    accepted = sum(s.accepted for s in scores)
    share = accepted / (expected + sum(s.extra for s in scores))
    result = {
        "correct": failed == 0,
        "attempted": expected,
        "failed": failed,
    }
    if not args.trace:
        crawls = [t.result for t in timed]
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "urls_per_s": {
                "value": median(c.urls / c.seconds for c in crawls), "unit": "URL/s"
            },
            # per crawl first: a crawl's rounds differ in size, and one
            # median over every round would jump between the size classes
            "round_p50_s": {
                "value": median(median(c.round_seconds) for c in crawls), "unit": "s"
            },
            "peak_rss_mb": {"value": rss_kib / 1024.0, "unit": "MiB"},
            "lake_bytes_per_url": {
                "value": median(t.lake_bytes / t.result.urls for t in timed),
                "unit": "B/URL",
            },
            "correct_url_share": {"value": share, "unit": "fraction"},
        }
    else:
        from crawlbench.layers import layer_metrics
        from crawlbench.spans import find_event_log, read_event_log

        jobs = read_event_log(find_event_log(os.path.join(tmp, "events")))
        result["metrics"] = layer_metrics(
            tracer, jobs, timed, slots,
            session_s=session_s, gen_s=gen_s, prepare_s=prepare_s,
            bloom_fp_share=fp_share,
        )
    return result


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "netrunner_spark")):
        print(f"crawlbench: no netrunner_spark package under {ROOT}", file=sys.stderr)
        return 2
    parent = os.path.join(ROOT, TMP_PARENT)
    tmp = os.path.join(parent, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
