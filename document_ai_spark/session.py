"""SparkSession factories with the engine's standard configuration.

Tuned for the extraction workload (MB-sized binary rows through Arrow):
 * Arrow-batched Python exchange ON, with a SMALL maxRecordsPerBatch —
   rows carry whole HTML/PDF payloads, so a 10k-row default batch could be
   gigabytes; 256 rows keeps per-batch memory bounded (SURVEY.md §4).
 * AQE on (runtime coalescing + skew-join splitting).
 * UTC session timezone (oracle comparison against DuckDB is UTC-naive).
 * shuffle.partitions defaults to #cores, not 200.

``ENGINE_CONF`` is the one definition of these settings: ``get_spark``
(tests, benches, local runs) and ``job_spark`` (the spark-submit job) both
apply it, so the shipped job runs the configuration the tests exercise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 256 rows/batch: rows carry whole HTML/PDF payloads, and on the
    # PRODUCTION path the Arrow stage consumes SHUFFLE output (salted
    # repartition), where no scan-split byte bound applies — a batch
    # is up to maxRecordsPerBatch post-shuffle rows, so with MB-sized
    # giant pages 256 keeps the worst batch in the hundreds of MB
    # (1024 measured only ~6% faster in one window, not worth the
    # 4x worst-case batch memory / Arrow 2 GB offset headroom).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.parquet.compression.codec": "zstd",
    # commit files by rename-once (v2): the v1 two-phase rename doubles
    # driver-side commit latency for many-file day-partitioned writes
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # MB-sized binary rows feeding a CPU-heavy Python stage: default
    # 128 MB splits would pack a small corpus into a handful of scan
    # tasks and leave cores idle in the last wave. 8 MB targets a few
    # seconds of extraction per task — fine-grained enough to pack
    # waves evenly under Zipf-skewed page sizes, coarse enough that
    # per-task overhead stays <1%. Scales with per-byte kernel cost,
    # not corpus size (a cluster run tunes this per executor count).
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
}

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def get_spark(
    app_name: str = "document_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local session: ``master`` defaults to local[$SPARK_GRAFT_CPUS], and
    shuffle partitions to the master's core count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(cpus if n == "*" else n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_CONF)
        .config(SHUFFLE_PARTITIONS, str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def job_spark(app_name: str) -> SparkSession:
    """Session for a spark-submit job: master, deploy mode and memory come
    from spark-submit; the engine settings from ``ENGINE_CONF``. Shuffle
    partitions default to the cluster's core count (defaultParallelism),
    as ``get_spark``'s do to the local core count, unless spark-submit
    sets them with ``--conf``."""
    spark = SparkSession.builder.appName(app_name).config(map=ENGINE_CONF).getOrCreate()
    if not spark.sparkContext.getConf().contains(SHUFFLE_PARTITIONS):
        spark.conf.set(SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    return spark
