"""SparkSession helper with engine-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "lucene-solr-8.7.0-spark",
    extra: dict | None = None,
) -> SparkSession:
    """Build a local session.  On a real cluster, spark-submit conf wins;
    these defaults only matter for local[...] runs (tests, bench)."""
    # glibc tuning for the Arrow/numpy workers (they inherit this env):
    # keep large buffers on the reusable main heap instead of
    # mmap/munmap per allocation.  Hosts that throttle the mmap
    # page-fault path serialize concurrent workers otherwise; measured
    # here: ~7x single-worker allocation throughput and materially
    # better multi-worker scaling (see BENCH.md hardware envelope).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime coalescing + skew-split — the safety net the
        # north rule's skew requirement leans on in addition to the
        # map-side partial sums of the term stats (operators/stats.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local corpora are small files: without this, the scan packs
        # everything into 1-2 map tasks and the Python-UDF tokenize
        # stage cannot use the cores (cluster deployments with real
        # file sizes don't need it)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # keep AQE-coalesced shuffle partitions fine-grained enough for
        # the Arrow-UDF encode stage
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # zstd writes smaller AND faster than snappy here (segments
        # table at sf1.0: 108 MB/1.03 s -> 94 MB/0.77 s), and every
        # query scan reads the smaller files thereafter (guide §6)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the doc-id mapping (keys + rank) stays broadcastable far past
        # the 10m default; without this the docs stage falls back to a
        # sort-merge join that shuffles the whole content column.  On a
        # real cluster size this to executor memory; at 10^12 files the
        # planner correctly degrades to a shuffle join.
        .config("spark.sql.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
