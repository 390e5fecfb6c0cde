"""The benchmark's only calls into the pipeline runners and the plan pieces
they are built from. A change to the runners' signatures or plan shape is
mirrored here and nowhere else in the benchmark.

``submit`` runs a workload's job the way a user would. ``prefix`` rebuilds
the same per-group plans and cuts them after one stage, so the traced run
can difference consecutive prefixes into per-layer self times:

    scan -> + extract_pages -> + compact_for_write -> + write -> runner
    (noop sink for the first three; the runner adds the checkpoint step)
"""

from __future__ import annotations

import inspect
import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.inputs import Workload

PREFIXES = ("scan", "extract", "compact", "write")
# files per day of the url-bucket runner; without it that runner skips
# compact_for_write. The day runner runs with its own defaults.
BUCKET_FILES_PER_DAY = 8


def _day_default(name: str):
    """A keyword default of run_extraction_by_day, so the prefixes plan
    what the runner plans whatever its defaults become."""
    from document_ai_spark.plans.pipeline import run_extraction_by_day

    return inspect.signature(run_extraction_by_day).parameters[name].default


def _bucket_runner(spark, w: Workload, pages: str, out: str, run: str, fail_after_group):
    from document_ai_spark.plans.pipeline import run_extraction

    return run_extraction(
        spark,
        pages,
        out,
        run,
        n_groups=w.n_groups,
        salt_partitions=w.salt_partitions,
        fail_after_group=fail_after_group,
        files_per_day=BUCKET_FILES_PER_DAY,
        source_format=w.source,
    )


def submit(spark, w: Workload, pages: str, out: str, run: str) -> list[tuple[float, dict]]:
    """Run the workload's job to completion: (wall seconds, runner summary)
    per submission. warc-resume is submitted twice: killed after
    ``fail_after_group`` groups, then resumed."""
    subs = []
    if w.fail_after_group is not None:
        subs.append((submit_first(spark, w, pages, out, run), {}))
    subs.append(resubmit(spark, w, pages, out, run))
    return subs


def submit_first(spark, w: Workload, pages: str, out: str, run: str) -> float:
    """Wall of the job's first submission: the whole job on the day
    workloads, the killed one on warc-resume."""
    if w.fail_after_group is None:
        return resubmit(spark, w, pages, out, run)[0]
    t0 = time.perf_counter()
    try:
        _bucket_runner(spark, w, pages, out, run, w.fail_after_group)
    except RuntimeError as exc:  # the runner's fail_after_group hook
        if "injected failure" not in str(exc):
            raise
        return time.perf_counter() - t0
    raise RuntimeError("fail_after_group did not stop the first submission")


def resubmit(spark, w: Workload, pages: str, out: str, run: str) -> tuple[float, dict]:
    """One submission without the failure hook: finishes whatever groups
    the checkpoint does not list as done."""
    from document_ai_spark.plans.pipeline import run_extraction_by_day

    t0 = time.perf_counter()
    if w.n_groups is None:
        summary = run_extraction_by_day(spark, pages, out, run)
    else:
        summary = _bucket_runner(spark, w, pages, out, run, None)
    return time.perf_counter() - t0, summary


def uncommit_half(run: str) -> None:
    """Leave a finished job as if it had been killed after committing the
    first half of its groups: delete the other groups' checkpoint rows
    (plans.checkpoint.append_done writes one file per committed group).
    Their output stays in place, as a kill between write and commit leaves
    it, so the re-submission must overwrite it."""
    import glob

    import pyarrow.parquet as pq

    from document_ai_spark.plans.checkpoint import checkpoint_path

    files = sorted(
        glob.glob(os.path.join(checkpoint_path(run), "*.parquet")),
        key=lambda f: pq.read_table(f, columns=["group_id"]).column(0)[0].as_py(),
    )
    for f in files[len(files) // 2 :]:
        os.remove(f)


def _groups(spark, w: Workload, pages: str):
    """(output dir, scan DataFrame) per group, as the runner plans them."""
    from pyspark.sql import functions as F

    from document_ai_spark.plans import checkpoint as cp
    from document_ai_spark.plans.pipeline import group_dir, list_days, read_pages, read_source

    if w.n_groups is None:
        return [
            (f"warc_day={day}", read_pages(spark, pages).filter(F.col("warc_day") == day))
            for day in list_days(pages)
        ]
    from document_ai_spark.functions.hashing import salted_bucket

    df = read_source(spark, pages, w.source)
    return [
        (group_dir("", g), df.filter(salted_bucket(F.col("url"), w.n_groups, cp.GROUP_SALT) == g))
        for g in range(w.n_groups)
    ]


def prefix(spark, w: Workload, pages: str, out: str, stage: str) -> tuple[float, int]:
    """Run every group's plan cut after ``stage``; (wall seconds, rows that
    reached the cut)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import compact_for_write

    day_mode = w.n_groups is None

    def one(group):
        rel, df = group
        if stage != "scan":
            df = extract_pages(df, salt_partitions=w.salt_partitions)
        if stage in ("compact", "write"):
            df = (
                compact_for_write(df, _day_default("files_per_day"), n_days_hint=1)
                if day_mode
                else compact_for_write(df, BUCKET_FILES_PER_DAY)
            )
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if stage != "write":
            df.write.format("noop").mode("overwrite").save()
        elif day_mode:
            df.drop("warc_day").write.mode("overwrite").parquet(os.path.join(out, rel))
        else:
            df.write.mode("overwrite").partitionBy("warc_day").parquet(os.path.join(out, rel))
        return obs.get["rows"]

    t0 = time.perf_counter()
    groups = _groups(spark, w, pages)
    if day_mode:
        # the day runner's group concurrency, so consecutive prefixes and
        # the runner schedule their groups alike
        with ThreadPoolExecutor(max_workers=_day_default("concurrency")) as pool:
            rows = sum(pool.map(one, groups))
    else:
        rows = sum(one(g) for g in groups)
    return time.perf_counter() - t0, rows


def done_groups(spark, run: str) -> float:
    """Wall seconds of the checkpoint's done-group lookup."""
    from document_ai_spark.plans import checkpoint as cp

    t0 = time.perf_counter()
    cp.done_groups(spark, run)
    return time.perf_counter() - t0
