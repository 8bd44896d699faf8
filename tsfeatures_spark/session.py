"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_mem(mem: str) -> str:
    """'8g' -> '4g', '1024m' -> '512m'; falls back to the input on parse
    failure (Spark then applies its own validation)."""
    m = mem.strip().lower()
    if m and m[-1] in "gm" and m[:-1].isdigit():
        n = int(m[:-1])
        if n > 1:
            return f"{n // 2}{m[-1]}"
        return f"{512 if m[-1] == 'g' else max(n * 512, 1)}m"
    return mem


def default_cpus() -> int:
    """Local task slots: ``SPARK_GRAFT_CPUS`` if set, else the cores this
    process may run on (so ``taskset -c 0-3`` gives 4)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(app: str = "tsfeatures_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512-row Arrow batches: interleaved A/B at local[8] showed 512
        # beats 1024/256/128 on the rollup scan — smaller peak JVM
        # allocation per batch, steadier GC
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # 8g, not 48g: event-log profiling showed the rollup stage spending
        # ~24% of executor run time in G1 pauses with a 48g heap (huge heap
        # => huge young gen => long stop-the-world scans); 8g + ParallelGC
        # below cut local[8] cascade wall from 17.4s best / 38-57s noisy to
        # 13.9-16.4s best / ~21s noisy. Executors on a real cluster run
        # 4-16g heaps — this also makes the local proxy faithful.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # result-size guard at half the driver heap so a runaway
        # collect/toPandas trips the guard instead of OOMing the driver
        # (SPARK_DRIVER_MEM-aware: 8g heap -> 4g cap, 48g heap -> 24g cap)
        .config("spark.driver.maxResultSize", _half_mem(os.environ.get("SPARK_DRIVER_MEM", "8g")))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # zstd-jni's recycling buffer pool collapses under many concurrent
        # parquet writer streams (PARQUET-2160-family behavior: 35-77s sink
        # walls vs 18-23s with the pool off in multi-executor JVMs); it
        # buys nothing measurable in local mode either — off always.
        .config("spark.hadoop.parquet.compression.codec.zstd.bufferPool.enabled", "false")
        # BLAS/OMP pinned to 1 in Python workers: same oversubscription
        # control the reference applies (tsfeatures.py:6-8)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        # Throughput collector for the local-mode driver JVM (= the
        # executor in local mode): ParallelGC beats the G1 default on the
        # Arrow-heavy scan (no concurrent-mark CPU tax, compacting young
        # collections of the short-lived batch buffers)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    # Arbitrary conf overrides for A/B harnesses: "k=v;k2=v2"
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
