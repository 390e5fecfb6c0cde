"""Checkpoint/resume + exactly-once semantics (SURVEY.md X5, §5.4)."""

import os

import pytest
from pyspark.sql import functions as F

from document_ai_spark.plans.checkpoint import done_groups, metrics_rollup
from document_ai_spark.plans.pipeline import load_extracted, run_extraction


def test_crash_resume_exactly_once(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(spark, pages_dir, out, run, n_groups=4, fail_after_group=2)
    assert len(done_groups(spark, run)) == 2

    s = run_extraction(spark, pages_dir, out, run, n_groups=4)
    assert s["groups_done_before"] == 2 and s["groups_run"] == 2

    df = load_extracted(spark, out)
    n, nd = df.count(), df.select("url").distinct().count()
    assert n == nd == 200  # exactly-once: no dup rows from the crashed run


def test_noop_resume(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2)
    s = run_extraction(spark, pages_dir, out, run, n_groups=2)
    assert s["groups_run"] == 0


def test_metrics_rollup_counters(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2, run_id="r1")
    m = metrics_rollup(spark, run).filter(F.col("run_id") == "r1").collect()[0]
    assert m["n_groups"] == 2 and m["n_docs"] == 200
    # corpus v10 plants exactly one deliberate error row: the /Encrypt'd
    # PDF (labeled isolation) — the rollup must count it, and only it
    assert m["n_err"] == 1 and m["bytes_in"] > 0


def test_output_partitioned_by_day(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2)
    days = {r["warc_day"] for r in load_extracted(spark, out).select("warc_day").distinct().collect()}
    assert len(days) == 4  # generator spreads warc_ts over 4 days


def test_day_partitioned_concurrent_pipeline(spark, pages_dir, tmp_path):
    """run_extraction_by_day: partition-pruned day groups run from a thread
    pool; output must be byte-identical to the bucket-group pipeline, and
    re-running must skip all done days."""
    from document_ai_spark.plans.pipeline import (
        load_extracted,
        run_extraction,
        run_extraction_by_day,
    )

    s1 = run_extraction_by_day(
        spark, pages_dir, str(tmp_path / "day_out"), str(tmp_path / "day_run"),
        concurrency=3, files_per_day=2,
    )
    assert s1["groups_run"] > 0
    run_extraction(
        spark, pages_dir, str(tmp_path / "grp_out"), str(tmp_path / "grp_run"),
        n_groups=4, files_per_day=2,
    )

    def fp(d):
        df = load_extracted(spark, d).select("url", "doc_hash", "text", "spans")
        return sorted((r.url, r.doc_hash, r.text, str(r.spans)) for r in df.collect())

    assert fp(str(tmp_path / "day_out")) == fp(str(tmp_path / "grp_out"))

    s2 = run_extraction_by_day(
        spark, pages_dir, str(tmp_path / "day_out"), str(tmp_path / "day_run"),
        concurrency=3,
    )
    assert s2["groups_run"] == 0 and s2["groups_done_before"] == s1["groups_run"]


def test_day_resume_keyed_on_day_value_not_index(spark, pages_dir, tmp_path):
    """Regression (round-2 ADVICE): resume must key on the day VALUE. If a
    lexically-earlier day partition appears between runs (normal
    incremental-crawl case), index-keyed resume would silently skip the new
    day and re-run a done one."""
    import shutil

    from document_ai_spark.plans.pipeline import day_group_key, run_extraction_by_day

    days = sorted(d for d in os.listdir(pages_dir) if d.startswith("warc_day="))
    assert len(days) >= 2
    src = str(tmp_path / "pages")
    os.makedirs(src)
    # first run sees every day EXCEPT the earliest
    for d in days[1:]:
        shutil.copytree(os.path.join(pages_dir, d), os.path.join(src, d))
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    s1 = run_extraction_by_day(spark, src, out, run, concurrency=2)
    assert s1["groups_run"] == len(days) - 1

    # the earlier day arrives; ONLY it must run, everything done stays done
    shutil.copytree(os.path.join(pages_dir, days[0]), os.path.join(src, days[0]))
    s2 = run_extraction_by_day(spark, src, out, run, concurrency=2)
    assert s2["groups_run"] == 1 and s2["groups_done_before"] == len(days) - 1

    new_day = days[0].split("=", 1)[1]
    assert day_group_key(new_day) != day_group_key(days[1].split("=", 1)[1])
    # output now covers all days exactly once
    df = load_extracted(spark, out)
    assert df.count() == df.select("url").distinct().count() == 200


def _committed_counters(spark, gdir):
    return (
        spark.read.parquet(gdir)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kind") != "error", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("kind") == "error", 1).otherwise(0)).alias("n_err"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .collect()[0]
        .asDict()
    )


def test_observed_counters_equal_committed_output(spark, pages_dir, tmp_path):
    """Both runners count a group's checkpoint row during its write, not by
    re-reading it: every row must still equal a re-read of that group's
    committed files, the planted error='encrypted' PDF included."""
    from document_ai_spark.plans.checkpoint import read_checkpoint
    from document_ai_spark.plans.pipeline import (
        day_group_key,
        group_dir,
        list_days,
        run_extraction_by_day,
    )

    day_out, day_run = str(tmp_path / "day_out"), str(tmp_path / "day_run")
    run_extraction_by_day(spark, pages_dir, day_out, day_run)
    day_dirs = {day_group_key(d): os.path.join(day_out, f"warc_day={d}") for d in list_days(pages_dir)}
    grp_out, grp_run = str(tmp_path / "grp_out"), str(tmp_path / "grp_run")
    run_extraction(spark, pages_dir, grp_out, grp_run, n_groups=3, files_per_day=2)
    grp_dirs = {g: group_dir(grp_out, g) for g in range(3)}

    n_err = 0
    for run, dirs in ((day_run, day_dirs), (grp_run, grp_dirs)):
        rows = read_checkpoint(spark, run).collect()
        assert sorted(r["group_id"] for r in rows) == sorted(dirs)
        for r in rows:
            truth = _committed_counters(spark, dirs[r["group_id"]])
            assert {k: r[k] for k in truth} == truth
            n_err += r["n_err"]
    assert n_err == 2  # the encrypted PDF, once per runner


def test_empty_day_partition_commits_zero_counters(spark, pages_dir, tmp_path):
    """Regression: a warc_day partition holding only a zero-row file made
    the day runner crash in append_done (SUM over no rows is null) after
    the other days had committed. It must record a 'done' row of zeros."""
    import shutil

    import pyarrow.parquet as pq

    from document_ai_spark.plans.checkpoint import read_checkpoint
    from document_ai_spark.plans.pipeline import day_group_key, list_days, run_extraction_by_day

    src = str(tmp_path / "pages")
    shutil.copytree(pages_dir, src)
    days = list_days(src)
    first = os.path.join(src, f"warc_day={days[0]}")
    part = next(f for f in sorted(os.listdir(first)) if f.endswith(".parquet"))
    empty_day = "2023-12-31"
    os.makedirs(os.path.join(src, f"warc_day={empty_day}"))
    pq.write_table(
        pq.read_table(os.path.join(first, part)).slice(0, 0),
        os.path.join(src, f"warc_day={empty_day}", "part-0.parquet"),
    )

    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    s = run_extraction_by_day(spark, src, out, run)
    assert s["groups_run"] == len(days) + 1
    rows = {r["group_id"]: r for r in read_checkpoint(spark, run).collect()}
    zero = rows[day_group_key(empty_day)]
    assert (zero["status"], zero["n_docs"], zero["n_ok"], zero["n_err"], zero["bytes_in"]) == (
        "done", 0, 0, 0, 0,
    )
    assert sum(r["n_docs"] for r in rows.values()) == 200
    assert load_extracted(spark, out).count() == 200


def test_done_groups_raises_on_unreadable_checkpoint(spark, pages_dir, tmp_path):
    """A checkpoint that exists but cannot be read must fail the run, not
    read as "nothing done" (which would silently re-run every group)."""
    import pyarrow as pa

    from document_ai_spark.plans.checkpoint import checkpoint_path

    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2)
    assert done_groups(spark, run) == {0, 1}
    with open(os.path.join(checkpoint_path(run), "cp-torn.parquet"), "wb") as f:
        f.write(b"PAR1 not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        done_groups(spark, run)
    with pytest.raises(pa.ArrowInvalid):
        run_extraction(spark, pages_dir, out, run, n_groups=2)
