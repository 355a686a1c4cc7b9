"""SparkSession factory.

Local-mode settings mirror what a cluster deployment would tune per-job:
shuffle partitions sized to parallelism (not the 200 default), AQE on so
skew and partition counts re-plan at runtime, Arrow on for the few
pandas-UDF boundaries, and UTC session time so results compare exactly
against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_engineer_challenge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sizes local parallelism;
    on a real cluster ``master``/dynamic allocation take over and the
    same conf applies unchanged.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # runtime semi-join reduction: a selective dim-side filter
        # injects a bloom filter into the fact scan before the shuffle
        # — at 100 TB this is the difference between shuffling the
        # whole fact table and shuffling the ~matching fraction
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # AQE sort-merge -> shuffled-hash rewrite (guide §3.1): when
        # every post-shuffle partition of the build side measures under
        # this at RUNTIME, the join skips both sorts. Runtime-gated, so
        # it cannot pick an over-memory build at any scale (unlike the
        # static preferSortMergeJoin=false, which A/B-measured a
        # regression here and stays default). r14 A/B on the bench set:
        # docs_corpus_release -11% twice (its decontamination SMJs
        # convert), set-total -7.5%/-1.8% across two sessions.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # INT64 micros, not Spark's legacy INT96: INT96 parquet columns
        # carry NO footer statistics, which blinds every stats consumer
        # (SnapshotTable data skipping, Iceberg-style manifests) to
        # timestamp columns
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(64 * 1024 * 1024),
        )
        # Spark's generated-code cache (LRU, 100 classes by default)
        # must hold a polling loop's whole working set, or every tick
        # recompiles it. Measured on the CDW daemon (seed 7, steady
        # ticks): a document tick compiles 61 classes, a registry tick
        # 54, about 115 distinct together, so at 100 each tick evicted
        # the other's classes and recompiled ~60 byte-identical ones
        # (~0.5 s of Janino per tick). A constant, not a knob: the
        # entries are small, and 1000 covers the CDW loop and the
        # batch plans with room to spare.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        # Listing a directory with more than 32 leaf directories (a
        # partitioned index or table) runs a Spark job by default. In
        # local mode that job lists the same disk from the same machine
        # and only adds a job's fixed cost: reading a 100-partition
        # parquet directory took 0.5-0.8 s with it and 0.05 s without
        # (local[4], 4 cores). Index probes re-read their partitioned
        # postings on every call.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(1 << 20),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
