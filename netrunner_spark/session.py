"""SparkSession factory tuned for the frontier workload.

Local mode in the sandbox; the same configs are what we'd submit with
``spark-submit --py-files`` on a real cluster. AQE handles runtime
coalescing and skew-join splitting (hot hosts, SURVEY.md §4 item 3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: a quarter of the
    host's physical memory, at least 1g and at most 48g. A fixed large
    heap lets the JVM grow past what a small host holds (a 48g default
    got a long test run OOM-killed on a 15 GiB host)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = min(max(phys // 4 // 2**20, 1024), 48 * 1024)
    return f"{mib}m"


def get_spark(
    app_name: str = "netrunner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — at 100 TB on a
    real cluster this would be sized to ~128 MB per task instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            # local mode: match cores; cluster mode: target ~128MB/partition
            n = master[6:-1] if master.startswith("local[") else str(cpus)
            shuffle_partitions = cpus if n == "*" else int(n)

    # GC threads follow the ACTUAL task slots (the local[N] bracket),
    # never shuffle_partitions (r5 review: local[2] with 32 shuffle
    # partitions produced 32 GC threads on 2 pinned cores — exactly
    # the oversubscription the note below says was fixed)
    if master.startswith("local["):
        bracket = master[6:-1]
        n_cores = cpus if bracket == "*" else int(bracket)
    else:
        n_cores = cpus
    # G1 (the JDK default) collapses under this workload's string-churn
    # allocation rate — measured 185 s vs 17 s on an identical pure-JVM
    # regex job at 8 cores. ParallelGC with thread count matched to the
    # task slots restores both absolute speed and core scaling.
    # GC threads = task slots (floor 2): a floor of 4 oversubscribed
    # small-core sessions 2x (4 GC threads fighting 2 pinned CPUs),
    # which depressed the N-core leg of every N->4N scaling pair
    gc_opts = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, min(n_cores, 32))}"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # codec knob: at lake scale table bytes are the scarce resource
        # (storage AND bus traffic on every scan) — zstd buys ~40% on
        # text tables for extra CPU. Default stays snappy (Spark's):
        # the bench's hot store is incompressible image bytes, where
        # zstd only adds CPU. A real 100 TB text lake wants zstd.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_PARQUET_CODEC", "snappy"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-side parallelism: default 128MB makes a ~500MB table read
        # as 4 partitions, capping every downstream stage (fetch joins,
        # cache writes, parse) at 4 tasks — invisible at 4 cores, fatal
        # at 32. 32MB keeps tasks ≳ cores at bench sizes; on a real
        # 100TB cluster the default is fine (tables ≫ cores×128MB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        # liveness under saturation: a big shuffle on a small pinned
        # core count can stall the in-JVM heartbeat thread for minutes
        # (GC + CPU starvation); the 120 s default then "removes" the
        # local executor and wedges the context mid-job. Longer timeouts
        # cost nothing in local mode and match cluster practice for
        # memory-heavy stages.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "1200s")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
