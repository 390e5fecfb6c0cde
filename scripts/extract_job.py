"""Production extraction job — the spark-submit entry point (north rule).

Ship the package alongside the job and run it on a cluster:

    python scripts/build_dist.py          # -> dist/document_ai_spark.zip
    spark-submit --master <cluster> --py-files dist/document_ai_spark.zip \
        scripts/extract_job.py <pages_dir> <out_dir> [n_groups] [salt_partitions] [files_per_day] \
        [--by-day] [--warc] [--markdown]

Flags: --by-day resumes at warc_day-partition granularity, running up to
4 day groups at once, each one Spark job (partition-pruned scans;
n_groups/salt ignored);
--warc reads raw .warc/.warc.gz files instead of the Parquet table
(per-file parallelism; pair with salt_partitions to rebalance);
--markdown emits structure-marked text (heading/list markers) instead of
plain text — the corpus shape for markdown-structure chunking.

The job is resumable: re-submitting with the same <out_dir> skips groups
(url buckets, or days with --by-day) already recorded 'done' in
<out_dir>/_checkpoint (exactly-once via per-group overwrite; see
document_ai_spark/plans/pipeline.py). The session carries the engine's
Spark settings (document_ai_spark/session.py ENGINE_CONF: 8 MB splits,
zstd, committer v2, AQE, Arrow batching; shuffle partitions default to
the cluster's core count unless --conf spark.sql.shuffle.partitions is
given). On a real cluster the parquet paths become Iceberg tables — the
plan is unchanged.
"""

from __future__ import annotations

import json
import os
import sys

# When launched via spark-submit without --py-files (local dev), make the
# repo importable; with --py-files the zip on sys.path wins.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    unknown = flags - {"--by-day", "--warc", "--markdown"}
    if unknown:
        # a misspelled flag must fail loudly, not silently run the wrong
        # resume granularity / input format
        print(f"unknown flag(s): {sorted(unknown)}", file=sys.stderr)
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    if len(args) < 2:
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    if "--by-day" in flags and "--warc" in flags:
        print("--by-day resumes on warc_day PARTITION DIRECTORIES, which raw "
              "WARC input does not have; extract WARC via bucket groups, or "
              "land it in the day-partitioned table first.", file=sys.stderr)
        raise SystemExit(2)
    pages_dir, out_dir = args[0], args[1]
    n_groups = int(args[2]) if len(args) > 2 else 8
    salt_partitions = int(args[3]) if len(args) > 3 else None
    files_per_day = int(args[4]) if len(args) > 4 else 8

    from document_ai_spark.plans.pipeline import run_extraction, run_extraction_by_day
    from document_ai_spark.session import job_spark

    # spark-submit supplies master/deploy config; the engine settings are
    # session.ENGINE_CONF, the same ones tests and benches run with.
    spark = job_spark("document_ai_spark.extract")
    if "--by-day" in flags:
        summary = run_extraction_by_day(
            spark,
            pages_path=pages_dir,
            out_dir=out_dir,
            run_dir=os.path.join(out_dir, "_checkpoint"),
            files_per_day=files_per_day,
            markdown="--markdown" in flags,
        )
    else:
        summary = run_extraction(
            spark,
            pages_path=pages_dir,
            out_dir=out_dir,
            run_dir=os.path.join(out_dir, "_checkpoint"),
            n_groups=n_groups,
            salt_partitions=salt_partitions,
            files_per_day=files_per_day,
            source_format="warc" if "--warc" in flags else "parquet",
            markdown="--markdown" in flags,
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
