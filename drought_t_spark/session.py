"""SparkSession factory with the engine's tuned defaults.

Local sandbox runs use ``local[N]``; on a real cluster the same builder
is used by ``spark-submit --py-files`` with master unset. The configs
encode the scale posture from SURVEY.md §4: AQE on (broadcast
conversion, partition coalescing, skew-join splitting), Arrow on for the
pandas-UDF codec boundary, UTC session TZ so DuckDB oracle comparisons
and Iceberg partition transforms agree, shuffle partitions sized to
cores locally (overridden by AQE coalescing at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """`spark.driver.memory`: `SPARK_DRIVER_MEMORY` if set, else half
    the host's physical memory, capped at 32g. A local-mode driver runs
    every executor too, so a heap above the host's RAM is not a limit:
    a large job grows the JVM until the kernel kills it rather than
    failing with a Java heap error."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 32 * 1024)}m"


def build_session(
    app_name: str = "drought_t_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cores}]"
    if master:  # empty string → leave to spark-submit
        b = b.master(master)
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cores
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Spark 4 defaults parallelismFirst=false, so AQE coalesces
        # post-shuffle stages to advisoryPartitionSizeInBytes (64MB) —
        # measured here to collapse the payload-encode stage to ONE
        # partition (CPU-bound pandas-UDF work priced by bytes). Restore
        # the 3.x maximize-parallelism behavior: respect only the 1MB
        # minimum partition size when coalescing.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # hive partition values read back as the strings they were
        # written from: with inference on, a `source=0001` directory
        # reads back as the integer 1 and every downstream tier rewrites
        # the id as `source=1`
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",  # wide token arrays
        "spark.sql.parquet.compression.codec": "zstd",
        # Shuffle/spill/broadcast block codec: zstd instead of the lz4
        # default (guide §2.3 "shuffle fewer bytes"). The engine's
        # biggest shuffle carries token arrays whose int32 values fit in
        # 17 bits — two high bytes of every element are zero — and zstd
        # reaches ~1.9x on that layout where lz4 stalls at ~1.3x. r6 A/B
        # (tmpfs scratch, CPU-isolated): full payload job 2.03 s vs
        # 2.36 s; on the flapping virtio disk the byte reduction is
        # worth far more (shuffle scratch priced at single-digit MB/s).
        "spark.io.compression.codec": "zstd",
        # Split large single files at row-group granularity: the driver
        # tables arrive as ONE parquet file each (lineitem 126 MB / 6
        # row groups reads as a single 128 MB split by default, i.e. a
        # single-threaded scan). 32 MB splits let multi-row-group files
        # scan in parallel; single-row-group files still collapse to
        # one effective task (empty splits cost ~ms). Guide §6.
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    # Shuffle/spill scratch override (SPARK_GRAFT_LOCAL_DIR): this
    # sandbox has ONE virtio disk shared by every executor thread — a
    # serial resource no multi-node cluster has (each node brings its
    # own local NVMe). Pointing scratch at tmpfs (/dev/shm) removes the
    # single-disk artifact from N-vs-4N scaling measurements; it is
    # env-gated, never a default, because tmpfs scratch competes with
    # executor memory in production.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        conf["spark.local.dir"] = local_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
