"""Checkpoint / lineage / metrics table (north rule; SURVEY.md X5 + A1).

Capability analog of the reference's implicit resume-by-dedup (re-running
add_documents skips already-present hashes, reference
services/ai_service/add_documents.py:27-32) and its batch success/failure
counters (reference services/ai_service/main.py:141-172) — made explicit and
partition-granular:

    checkpoint(run_id string, group_id int, status string,
               n_docs long, n_ok long, n_err long, bytes_in long,
               started_at timestamp, finished_at timestamp, app_id string)

The unit of resume is a BUCKET GROUP: group_id = xxhash64(url, GROUP_SALT)
mod n_groups — a pure function of the url, so group membership is identical
across runs, partition counts and cluster sizes. A group is re-extracted iff
no 'done' row exists for it. Each group's output goes to its own
``group=<g>/`` subdirectory written with mode=overwrite, so re-running a
half-failed group is idempotent (exactly-once output under retry).

At 100 TB scale the group count is sized so one group ≈ one comfortable
Spark job (e.g. 1024 groups => ~100 GB/group); locally tests use 4-8.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GROUP_SALT = 0xD0C  # fixed salt for group assignment (distinct from task salt)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("group_id", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_err", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("started_at", T.DoubleType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("app_id", T.StringType()),
    ]
)


# the columns done_groups reads, typed as append_done writes them
_DONE_SCHEMA = pa.schema([("group_id", pa.int32()), ("status", pa.string())])


def checkpoint_path(run_dir: str) -> str:
    return os.path.join(run_dir, "checkpoint")


def read_checkpoint(spark: SparkSession, run_dir: str) -> DataFrame:
    path = checkpoint_path(run_dir)
    if not os.path.isdir(path):
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)


def done_groups(spark: SparkSession, run_dir: str) -> set[int]:
    """Group ids with a 'done' row in the checkpoint table.

    Read on the driver with pyarrow, the way ``append_done`` writes it: a
    Spark read costs a listing, a schema job and a scan job per call, paid
    before every resume. ``spark`` is unused and kept for callers. A
    checkpoint directory that exists but cannot be read raises: treating
    it as "nothing done" would silently re-run every group.
    """
    import pyarrow.dataset as ds

    path = checkpoint_path(run_dir)
    if not os.path.isdir(path):
        return set()
    table = ds.dataset(path, format="parquet", schema=_DONE_SCHEMA).to_table(
        columns=["group_id"], filter=ds.field("status") == "done"
    )
    return set(table.column("group_id").to_pylist())


def append_done(
    spark: SparkSession,
    run_dir: str,
    run_id: str,
    group_id: int,
    counters: dict,
    started_at: float,
) -> None:
    # driver-side pyarrow append (one tiny file, unique name): a Spark
    # write job for one row costs ~300 ms of scheduling, which multiplied
    # by thousands of groups is real money; the parquet layout is
    # identical so read_checkpoint is unchanged. On a cluster this row
    # goes through the Iceberg catalog instead.
    import uuid as _uuid

    import pyarrow.parquet as pq

    path = checkpoint_path(run_dir)
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "run_id": [run_id],
            "group_id": pa.array([group_id], pa.int32()),
            "status": ["done"],
            "n_docs": pa.array([int(counters.get("n_docs", 0))], pa.int64()),
            "n_ok": pa.array([int(counters.get("n_ok", 0))], pa.int64()),
            "n_err": pa.array([int(counters.get("n_err", 0))], pa.int64()),
            "bytes_in": pa.array([int(counters.get("bytes_in", 0))], pa.int64()),
            "started_at": pa.array([float(started_at)], pa.float64()),
            "finished_at": pa.array([float(time.time())], pa.float64()),
            "app_id": [spark.sparkContext.applicationId],
        }
    )
    name = f"cp-{run_id}-{group_id}-{_uuid.uuid4().hex[:8]}.parquet"
    # write under a hidden name (both readers skip '.' files), then rename:
    # a kill mid-write leaves no truncated file for done_groups to fail on
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def metrics_rollup(spark: SparkSession, run_dir: str) -> DataFrame:
    """Per-run counters rollup (analog of the reference's end-of-run log at
    services/ai_service/main.py:165-172), all built-in aggregates."""
    cp = read_checkpoint(spark, run_dir)
    return cp.groupBy("run_id", "status").agg(
        F.count("*").alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_ok").alias("n_ok"),
        F.sum("n_err").alias("n_err"),
        F.sum("bytes_in").alias("bytes_in"),
        F.max(F.col("finished_at") - F.col("started_at")).alias("max_group_sec"),
    )
