"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Two runners share one per-group shape; a group is one Spark job plus a
driver-side checkpoint append:

    read pages once (parquet/Iceberg layout, column pruned)
      -> filter to the group                    # day: partition-pruned
      -> mapInArrow(extract_batch)              # U1+F1, Arrow batches
      -> repartition(warc_day, url bucket)      # files_per_day per day
      -> observe(n_docs, n_ok, n_err, bytes_in) # counted during the write
      -> write the group's dir, mode=overwrite
    then append a 'done' row with those counters to the checkpoint table.

``run_extraction_by_day`` (production) groups by warc_day partition;
``run_extraction`` groups by url bucket (tests/backfills, see its fence).
Re-running the same (pages_path, out_dir, run_dir) skips done groups —
resume at partition(group) granularity, exactly-once output.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from document_ai_spark.functions.hashing import salted_bucket
from document_ai_spark.operators.extraction import extract_pages
from document_ai_spark.plans import checkpoint as cp


def read_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """Read the pages table (Parquet with Iceberg-style warc_day layout)."""
    return spark.read.option("basePath", pages_path).parquet(pages_path)


def read_source(spark: SparkSession, pages_path: str, source_format: str = "parquet") -> DataFrame:
    """Pages from any supported source format — same schema either way
    (cross-source extraction identity is gated by q40/test_warc)."""
    if source_format == "warc":
        from document_ai_spark.sources.warc import read_warc

        return read_warc(spark, pages_path)
    return read_pages(spark, pages_path)


def group_dir(out_dir: str, group_id: int) -> str:
    return os.path.join(out_dir, f"group={group_id}")


def compact_for_write(
    df: DataFrame,
    files_per_day: int,
    id_col: str = "url",
    num_tasks: int | None = None,
    n_days_hint: int | None = None,
) -> DataFrame:
    """Shuffle so `write.partitionBy("warc_day")` emits ~files_per_day files
    per day instead of (tasks x days) small files.

    Each row gets a bucket = xxhash64(url) mod files_per_day; repartitioning
    on (warc_day, bucket) puts every (day, bucket) combo in exactly one
    task, so total output files == distinct days x files_per_day no matter
    how many tasks ran upstream — the small-files guard that matters at
    10^12 docs (a 1000-executor job would otherwise write days x tasks
    files). The shuffle moves only the extracted output (much smaller than
    the html input), and the bucket is a pure function of url, so output
    bytes stay independent of parallelism.

    File count stays == distinct days x files_per_day for ANY task count
    (each combo hashes wholly into one task), so ``num_tasks`` only sets
    write parallelism; it is passed explicitly so AQE does NOT coalesce the
    write stage down to a few tasks and serialize the parquet/zstd encode.

    TASK-COUNT RULE (measured, round 3): the write stage's unit of work is
    one (day, bucket) combo, and HASH-packing C combos into ~C or fewer
    tasks leaves collision stragglers (a task drawing 2-3 combos runs the
    stage tail alone while cores idle) — at 4N parallelism that tail cost
    the N->4N efficiency ~7-13%. Set tasks >= ~4x the combo count so the
    expected max combos-per-task is ~1 and waves pack evenly; empty tasks
    are ~ms each. Pass ``n_days_hint`` (number of distinct warc_day
    values) to apply this automatically: num_tasks =
    max(shuffle.partitions, 4 * n_days_hint * files_per_day). Explicit
    ``num_tasks`` wins over the hint. Default without either: the
    session's shuffle.partitions (fine whenever combos <= partitions / 4).
    """
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_day))
    if num_tasks is None:
        num_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if n_days_hint:
            num_tasks = max(num_tasks, 4 * n_days_hint * files_per_day)
    return df.repartition(num_tasks, F.col("warc_day"), bucket)


def write_observed(df: DataFrame, write: Callable[[DataFrame], None]) -> dict:
    """Run ``write`` on ``df`` and return the group's checkpoint counters
    (n_docs, n_ok, n_err, bytes_in), observed in the same pass: the write
    job counts the rows it writes, so no job re-reads the committed files.
    An empty group counts zeros (a SUM over no rows is null)."""

    def total(col):
        return F.coalesce(F.sum(col), F.lit(0))

    obs = Observation()
    write(
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            total(F.when(F.col("kind") != "error", 1).otherwise(0)).alias("n_ok"),
            total(F.when(F.col("kind") == "error", 1).otherwise(0)).alias("n_err"),
            total(F.col("bytes_in")).alias("bytes_in"),
        )
    )
    return obs.get


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_dir: str,
    n_groups: int = 8,
    salt_partitions: int | None = None,
    run_id: str | None = None,
    fail_after_group: int | None = None,
    files_per_day: int | None = None,
    source_format: str = "parquet",
    markdown: bool = False,
) -> dict:
    """Run (or resume) the full extraction job. Returns summary counters.

    SCALE FENCE — url-bucket mode is for tests/backfills, NOT production:
    each of the ``n_groups`` passes filters on ``salted_bucket(url)``,
    a predicate no file format can prune, so the source is scanned
    ``n_groups`` times (at 100 TB with n_groups=1024 that is 1024 full
    scans). The production path is :func:`run_extraction_by_day`, whose
    groups are warc_day partition values — every group's filter prunes to
    exactly its partition's files, so the corpus is read once total.
    Bucket mode earns its keep only where day partitions are unusable
    (unpartitioned sources, or a targeted re-run of a url subset) and the
    corpus is small enough to rescan. tests/test_plans.py pins both the
    fence and the day-mode pruning.

    ``fail_after_group`` is a test hook: raise after N groups complete to
    simulate a mid-job crash (resume test, SURVEY.md §5.4).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    pages = read_source(spark, pages_path, source_format)
    done = cp.done_groups(spark, run_dir)
    summary = {"run_id": run_id, "groups_done_before": len(done), "groups_run": 0}

    completed = 0
    for g in range(n_groups):
        if g in done:
            continue
        started = time.time()
        part = pages.filter(salted_bucket(F.col("url"), n_groups, cp.GROUP_SALT) == g)
        extracted = extract_pages(part, salt_partitions=salt_partitions, markdown=markdown)
        if files_per_day:
            extracted = compact_for_write(extracted, files_per_day)
        gdir = group_dir(out_dir, g)
        stats = write_observed(
            extracted, lambda df: df.write.mode("overwrite").partitionBy("warc_day").parquet(gdir)
        )
        cp.append_done(spark, run_dir, run_id, g, stats, started)
        summary["groups_run"] += 1
        completed += 1
        if fail_after_group is not None and completed >= fail_after_group:
            raise RuntimeError(f"injected failure after {completed} groups (test hook)")
    return summary


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the full extraction output across groups (group is a partition col)."""
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def list_days(pages_path: str) -> list[str]:
    """Distinct warc_day partition values from the directory layout (the
    Iceberg equivalent reads partition metadata, not data)."""
    days = []
    for name in sorted(os.listdir(pages_path)):
        if name.startswith("warc_day="):
            days.append(name.split("=", 1)[1])
    return days


def day_group_key(day: str) -> int:
    """Stable checkpoint key for a warc_day partition VALUE.

    Resume must be keyed on the day itself, not its position in the sorted
    day list: in the normal incremental-crawl case a lexically-earlier day
    partition appearing between runs would shift every index, silently
    skipping an unprocessed day while re-running a done one. ISO dates map
    to their proleptic-Gregorian ordinal (injective, ~739k for 2024 — also
    disjoint from run_extraction's small url-bucket ids, so sharing a
    run_dir cannot alias); non-ISO values fall back to a stable blake2b
    hash placed above 2^30.
    """
    import datetime as _dt
    import hashlib as _hl

    try:
        return _dt.date.fromisoformat(day).toordinal()
    except ValueError:
        h = int.from_bytes(_hl.blake2b(day.encode(), digest_size=4).digest(), "big")
        return 0x40000000 + (h % 0x3FFFFFFF)


def run_extraction_by_day(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_dir: str,
    concurrency: int = 4,
    files_per_day: int = 8,
    run_id: str | None = None,
    markdown: bool = False,
) -> dict:
    """Production day-partitioned extraction with concurrent group jobs.

    The resume unit is the warc_day PARTITION (exactly the north rule's
    "resume at partition granularity"): unlike the url-bucket groups above,
    a day filter is partition-PRUNED at the scan — each group job reads
    only its own files, so G groups cost one total scan, not G scans.

    A day group costs its write and nothing else: the pages table is read,
    listed and schema-inferred once per call, the checkpoint counters are
    observed during the write (:func:`write_observed`), and the done-group
    lookup reads the checkpoint on the driver. Per-job and per-task
    overhead, not the kernel, is most of a small day's cost (BASELINE.md,
    "Day runner job budget"). So a call launches at most 1 + 2 x days Spark
    jobs (one schema job; per day the write, whose shuffle map stage AQE
    submits as a job of its own), and a call with every day done none.

    Up to ``concurrency`` day groups run at once from a driver-side thread
    pool. A day's parquet scan is one task per row group, so a generated
    day is one Python extract task: without concurrent days, cores idle.
    Concurrent jobs also overlap one day's write tail with the next day's
    extract. Same technique on a real cluster (concurrent jobs share the
    scheduler). Each day's output dir is overwritten atomically per day =>
    re-running a half-finished day is exactly-once; checkpoint appends are
    serialized with a lock.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    run_id = run_id or uuid.uuid4().hex[:12]
    done = cp.done_groups(spark, run_dir)
    todo = [d for d in list_days(pages_path) if day_group_key(d) not in done]
    summary = {"run_id": run_id, "groups_done_before": len(done), "groups_run": 0}
    if not todo:
        return summary
    pages = read_pages(spark, pages_path)
    lock = threading.Lock()

    def do_day(day):
        started = time.time()
        part = pages.filter(F.col("warc_day") == day)
        extracted = compact_for_write(
            extract_pages(part, markdown=markdown), files_per_day, n_days_hint=1
        )
        gdir = os.path.join(out_dir, f"warc_day={day}")
        stats = write_observed(
            extracted.drop("warc_day"), lambda df: df.write.mode("overwrite").parquet(gdir)
        )
        with lock:
            cp.append_done(spark, run_dir, run_id, day_group_key(day), stats, started)
            summary["groups_run"] += 1

    with ThreadPoolExecutor(max_workers=max(1, concurrency)) as pool:
        list(pool.map(do_day, todo))
    return summary
