"""SparkSession factory tuned for the KG-construction pipeline.

Local-mode settings stand in for cluster settings; every knob here is
one we would set identically (with different values) on a real
multi-executor cluster:

* AQE on — runtime coalescing + skew-join splitting for the
  canonicalization self-joins (SURVEY.md §4).
* Arrow on — the extraction stage (extract.doc_stage) takes Arrow
  record batches; row-at-a-time Python never touches the hot path.
* shuffle.partitions sized to cores at test scale; a 1000-executor run
  would size this to ~2-3x total cores.
* Arrow maxRecordsPerBatch stays at the 10k default: benchmarking showed
  2k batches double extraction wall time at local[32] (more Python
  round-trips per partition); lower it on the session only for a job
  over multi-MB binary blobs (multimodal.py's stages take no batch-size
  option).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_parallelism(df):
    """Give a narrow source at least cluster parallelism before an
    expensive per-row stage (guide §2.4/§6: scan parallelism bounds
    the whole job when the stage after it is compute-heavy).

    Local parquet fixtures are single-row-group files, so the scan
    yields ONE non-empty partition regardless of
    ``spark.sql.files.maxPartitionBytes`` / ``minPartitionNum`` —
    Spark can only split parquet at row-group boundaries — and every
    downstream Arrow/codegen stage runs on one core. A round-robin
    repartition of the (small) source rows buys full parallelism for
    the price of shuffling kilobyte-scale rows once.

    Scale-adaptive by construction: when the input already has at
    least ``defaultParallelism`` partitions (any real at-scale input,
    where files >> cores), this is a NO-OP — it never introduces a
    shuffle of well-partitioned data. The repartition target is twice
    the session's core count, never a fixed partition number.
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(2 * p)


def get_spark(app: str = "tortank-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
