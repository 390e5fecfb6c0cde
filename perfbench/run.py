"""Extraction-job benchmark: the shipped pipeline runners on generated input.

    python3 perfbench/run.py --workload crawl-day --seed 1 --seconds 4 --trace 0

Run from the repository root. Workloads are defined in perfbench/inputs.py,
metrics and the layer each one belongs to in perfbench/README.md.

``--trace 0`` measures the end-to-end metrics with tracing off: set-up
(``get_spark`` plus the first, cold runner call) is repeated SETUPS times on
fresh Spark contexts, then warm jobs run, at least MIN_JOBS of them and
until ``--seconds`` have passed; every value is a median over those
repetitions. Every time is scaled to a reference host by readings of a
calibration loop taken through the run (probes.Calibrator), since the
shared host's speed drifts by up to ~2x from one window to the next. ``--trace 1`` measures the per-layer
metrics: plan prefixes on the same input, the single-threaded kernel, the
checkpoint step and the scheduler counts, with spans written to
``.perfbench/traces``.

Every runner call's committed output goes through the correctness gate
(perfbench/gate.py); a document that fails it counts in ``failed`` and
makes ``correct`` false. The last stdout line is the result object; the
line before it is the run record (environment, input, samples).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gate, inputs, probes, runners  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# two set-ups: the first also starts the JVM, the second restarts only the
# Spark context, so their median (the mean of the two) moves with either
SETUPS = 2
# the first warm job runs ~10% slower than the second, and later ones a few
# % faster still, so a run's median moves with its job count. The window
# counts scaled seconds, so the count does not move with host speed, and
# BENCHMARK.json's run_seconds (4) is below what MIN_JOBS jobs take on
# either day workload (~6 s on pdf-day, ~10 s on crawl-day), so every run
# takes exactly MIN_JOBS jobs
MIN_JOBS = 2
# a contended host stretches the scaled window's wall: never past this
# many times --seconds
MAX_STRETCH = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Session:
    """The engine's SparkSession, restartable, with every file Spark and its
    Python workers write kept inside the run's scratch directory."""

    def __init__(self, master: str, scratch: str):
        self.master = master
        self.scratch = scratch
        self.spark = None
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # inherited by the JVM and the workers; SPARK_LOCAL_DIRS would
        # override spark.local.dir, so it is the one set
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
        # spark-submit's launcher JVM: no /tmp/hsperfdata file either
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {
            # workers import the engine from the checkout whatever their cwd
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # no /tmp/hsperfdata: the JVM's perf-counter file ignores tmpdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self) -> float:
        from document_ai_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gw.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None


class Bench:
    def __init__(self, w, inp, ref, session, scratch, tracer, calib):
        self.w, self.inp, self.ref = w, inp, ref
        self.session, self.scratch, self.tracer = session, scratch, tracer
        self.calib = calib
        self.attempted = self.failed = 0
        self._n = 0

    @property
    def spark(self):
        return self.session.spark

    def dirs(self) -> tuple[str, str]:
        """Fresh output and checkpoint directories."""
        self._n += 1
        base = os.path.join(self.scratch, f"job{self._n}")
        return os.path.join(base, "out"), os.path.join(base, "run")

    def verify(self, out: str, run: str, complete: bool = True) -> None:
        """Gate a runner call's committed output, then delete it."""
        with self.tracer.span("bench.gate"):
            self.attempted += self.inp.n_docs
            self.failed += gate.check(out, run, self.ref, complete)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)

    def setup(self) -> float:
        """get_spark on a fresh context plus the first, cold runner call."""
        out, run = self.dirs()
        with self.tracer.span("session.get_spark"):
            start = self.session.start()
        with self.tracer.span("plans.pipeline.runner", phase="cold"):
            first = runners.submit_first(self.spark, self.w, self.inp.path, out, run)
        self.verify(out, run, complete=self.w.fail_after_group is None)
        return start + first

    def job(self) -> dict:
        """One warm, complete job and its re-submission, gated."""
        out, run = self.dirs()
        spark_jobs0 = probes.spark_job_ids(self.spark)
        cpu0 = probes.tree_cpu_s()
        with self.tracer.span("plans.pipeline.runner", phase="warm"):
            subs = runners.submit(self.spark, self.w, self.inp.path, out, run)
        cpu = probes.tree_cpu_s() - cpu0
        spark_jobs = probes.spark_job_ids(self.spark) - spark_jobs0
        if self.w.fail_after_group is None:
            # the day runner has no failure hook: un-commit half its groups
            # and re-submit, as after a kill mid-job
            runners.uncommit_half(run)
            with self.tracer.span("plans.checkpoint.resume"):
                resume = runners.resubmit(self.spark, self.w, self.inp.path, out, run)
        else:
            resume = subs[-1]
        rec = {
            "wall_s": sum(wall for wall, _ in subs),
            "resume_s": resume[0],
            "cpu_s": cpu,
            "resume_summary": resume[1],
            "spark": probes.spark_counts(self.spark, spark_jobs),
        }
        rec.update(_output_stats(gate.output_files(out), out))
        rec.update(_checkpoint_stats(run))
        if self.tracer.enabled:
            with self.tracer.span("plans.checkpoint.done_groups"):
                rec["done_groups_s"] = runners.done_groups(self.spark, run)
        self.verify(out, run)
        return rec


def _output_stats(files: list[str], out: str) -> dict:
    """Bytes, files, files per warc_day and rows per write task of a
    committed output. A write task's files share the first path level under
    ``out`` (the per-group write) and the part number."""
    import pyarrow.parquet as pq

    per_day: dict[str, int] = {}
    per_task: dict[tuple, int] = {}
    for f in files:
        rel = os.path.relpath(f, out).split(os.sep)
        day = next(p for p in rel if p.startswith("warc_day="))
        per_day[day] = per_day.get(day, 0) + 1
        task = (rel[0], rel[-1].split("-")[1])
        per_task[task] = per_task.get(task, 0) + pq.ParquetFile(f).metadata.num_rows
    rows = [n for n in per_task.values() if n]
    return {
        "bytes_out": sum(os.path.getsize(f) for f in files),
        "files_out": len(files),
        "max_files_per_day": max(per_day.values(), default=0),
        "write_task_skew": max(rows) / statistics.mean(rows) if rows else 0.0,
    }


def _checkpoint_stats(run: str) -> dict:
    """Checkpoint rows, and groups with more than one done row (re-run on
    resume although already done)."""
    import pyarrow.parquet as pq

    from document_ai_spark.plans.checkpoint import checkpoint_path

    done: dict[int, int] = {}
    rows = 0
    for f in glob.glob(os.path.join(checkpoint_path(run), "*.parquet")):
        t = pq.read_table(f, columns=["group_id", "status"]).to_pydict()
        rows += len(t["status"])
        for g, s in zip(t["group_id"], t["status"]):
            if s == "done":
                done[g] = done.get(g, 0) + 1
    return {"checkpoint_rows": rows, "groups_rerun": sum(n - 1 for n in done.values())}


def _med(values) -> float:
    return float(statistics.median(values))


def _pct(values: list[float], p: int) -> float:
    """p-th percentile (inclusive method); 0.0 for no samples."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def measure(b: Bench, seconds: float, nproc: int) -> tuple[dict, dict]:
    """End-to-end metrics, tracing off. Host-speed readings are taken
    before the set-ups and after each set-up and job, and every time is
    scaled to the reference host by their median (probes.Calibrator). The
    window counts scaled seconds, so a contended host runs as many jobs as
    a quiet one."""
    cal = b.calib
    cal.read()
    setups = []
    for _ in range(SETUPS):
        setups.append(b.setup())
        cal.read()
    jobs = []
    used, t_end = 0.0, time.perf_counter() + MAX_STRETCH * seconds
    while len(jobs) < MIN_JOBS or (used < seconds and time.perf_counter() < t_end):
        t0 = time.perf_counter()
        jobs.append(b.job())
        cal.read()
        used += (time.perf_counter() - t0) * cal.factor()
    hwm = probes.tree_hwm_mb()
    n, mb = b.inp.n_docs, b.inp.mb
    f = cal.factor()
    metrics = {
        "docs_per_s": (_med(n / (j["wall_s"] * f) for j in jobs), "doc/s"),
        "mb_per_s": (_med(mb / (j["wall_s"] * f) for j in jobs), "MB/s"),
        "cpu_s_per_kdoc": (_med(1000 * j["cpu_s"] * f / n for j in jobs), "s/kdoc"),
        "bytes_out_per_mb_in": (_med(j["bytes_out"] / mb for j in jobs), "B/MB"),
        "setup_s": (_med(s * f for s in setups), "s"),
        "resume_s": (_med(j["resume_s"] * f for j in jobs), "s"),
        "peak_rss_mb": (probes.workers_mb(hwm), "MB"),
    }
    samples = {
        "factor": f,
        "setups_s": setups,
        "jobs": jobs,
        "hwm_mb": hwm,
        "calib_wall_cpu_s": cal.readings,
    }
    return metrics, samples


def trace(b: Bench, seconds: float, nproc: int) -> tuple[dict, dict]:
    """Per-layer metrics: plan prefixes, runner, checkpoint, kernel."""
    t = b.tracer
    w, n, mb = b.w, b.inp.n_docs, b.inp.mb
    with t.span("session.get_spark"):
        session_start = b.session.start()
    out, run = b.dirs()
    with t.span("plans.pipeline.runner", phase="cold"):
        runners.submit(b.spark, w, b.inp.path, out, run)
    b.verify(out, run)

    layer_span = {
        "scan": "sources.scan",
        "extract": "operators.extraction.extract_pages",
        "compact": "plans.pipeline.compact_for_write",
        "write": "plans.pipeline.write",
    }
    rounds = []
    t_end = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < t_end:
        r = {}
        for stage in runners.PREFIXES:
            out, _ = b.dirs()
            cpu0 = probes.tree_cpu_s()
            with t.span(layer_span[stage]):
                r[stage], rows = runners.prefix(b.spark, w, b.inp.path, out, stage)
            r[stage + "_cpu"] = probes.tree_cpu_s() - cpu0
            r[stage + "_rows"] = rows
            b.attempted += n
            b.failed += min(abs(rows - n), n)
            shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        t.enabled = False
        r["untraced"] = b.job()["wall_s"]
        t.enabled = True
        r["job"] = b.job()
        rounds.append(r)

    def med(f):
        return _med(f(r) for r in rounds)

    ref = b.ref
    kernel_s = sum(c for costs in ref.costs.values() for c, _ in costs)
    scans = 1 if w.n_groups is None else w.n_groups
    metrics = {
        "session.start_s": (session_start, "s"),
        "sources.scan_s": (med(lambda r: r["scan"]), "s"),
        "sources.scan_mb_per_s": (scans * mb / med(lambda r: r["scan"]), "MB/s"),
        "sources.rows": (med(lambda r: r["scan_rows"]), "count"),
        "extraction.stage_s": (med(lambda r: r["extract"] - r["scan"]), "s"),
        "extraction.docs_per_s": (n / med(lambda r: r["extract"] - r["scan"]), "doc/s"),
        "extraction.kernel_cpu_share": (kernel_s / med(lambda r: r["extract_cpu"]), "share"),
    }
    total_kernel = kernel_s or 1.0
    for path in ("html", "pdf"):
        costs = ref.costs[path]
        secs = sum(c for c, _ in costs)
        us = [c * 1e6 for c, _ in costs]
        metrics[f"kernel.{path}.docs_per_s"] = (len(costs) / secs if secs else 0.0, "doc/s")
        metrics[f"kernel.{path}.mb_per_s"] = (sum(s for _, s in costs) / 1e6 / secs if secs else 0.0, "MB/s")
        metrics[f"kernel.{path}.doc_p50_us"] = (_pct(us, 50), "us")
        metrics[f"kernel.{path}.doc_p99_us"] = (_pct(us, 99), "us")
        metrics[f"kernel.{path}.time_share"] = (secs / total_kernel, "share")
    for kind in ("html", "pdf", "empty", "error"):
        metrics[f"kernel.docs.{kind}"] = (ref.kinds[kind], "count")
    metrics["kernel.chars_out_per_byte_in"] = (ref.chars_out / ref.bytes_in, "char/B")

    last = rounds[-1]["job"]
    hwm = probes.tree_hwm_mb()
    runner_s = med(lambda r: r["job"]["wall_s"])
    metrics.update(
        {
            "sources.scan_share": (med(lambda r: r["scan"] / r["job"]["wall_s"]), "share"),
            "pipeline.repartition_s": (med(lambda r: r["compact"] - r["extract"]), "s"),
            "pipeline.write_s": (med(lambda r: r["write"] - r["compact"]), "s"),
            "pipeline.write_task_skew": (last["write_task_skew"], "ratio"),
            "pipeline.runner_s": (runner_s, "s"),
            "pipeline.idle_core_share": (
                med(lambda r: 1 - r["job"]["cpu_s"] / (nproc * r["job"]["wall_s"])),
                "share",
            ),
            "write.bytes_out": (last["bytes_out"], "B"),
            "write.files_out": (last["files_out"], "count"),
            "write.max_files_per_day": (last["max_files_per_day"], "count"),
            "checkpoint.commit_s": (med(lambda r: r["job"]["wall_s"] - r["write"]), "s"),
            "checkpoint.done_groups_s": (med(lambda r: r["job"]["done_groups_s"]), "s"),
            "checkpoint.rows": (last["checkpoint_rows"], "count"),
            "checkpoint.groups_skipped": (last["resume_summary"]["groups_done_before"], "count"),
            "checkpoint.groups_rerun": (last["groups_rerun"], "count"),
            "spark.jobs": (last["spark"]["jobs"], "count"),
            "spark.tasks": (last["spark"]["tasks"], "count"),
            "spark.failed_tasks": (last["spark"]["failed_tasks"], "count"),
            "memory.jvm_hwm_mb": (hwm.get("java", 0.0), "MB"),
            "trace.overhead_s": (runner_s - med(lambda r: r["untraced"]), "s"),
            "gate.failed_share": (b.failed / b.attempted, "share"),
        }
    )
    return metrics, {"rounds": rounds, "hwm_mb": hwm}


def main(argv=None) -> int:
    args = _parse(argv)
    # the engine must be importable from the checkout: fail before any work
    import document_ai_spark  # noqa: F401

    if args.workload not in inputs.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(inputs.WORKLOADS)}")
    w = inputs.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    tracer = probes.Tracer(bool(args.trace))
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    session = Session(master, scratch)
    calib = probes.Calibrator(nproc)
    try:
        with tracer.span("bench.run", workload=w.name, seed=args.seed):
            # before any other work, so the thermometer reads the host alone
            with tracer.span("bench.calibrate"):
                env = probes.environment(master, args.seed, calib.read())
            with tracer.span("inputs.load"):
                inp = inputs.load(w, args.seed, os.path.join(WORK, "inputs"))
            with tracer.span("kernel.extract_document"):
                ref = gate.reference(inp.rows)
            b = Bench(w, inp, ref, session, scratch, tracer, calib)
            metrics, samples = (trace if args.trace else measure)(b, args.seconds, nproc)
    finally:
        calib.close()
        session.close()
        shutil.rmtree(scratch, ignore_errors=True)
    if args.trace:
        samples["self_s"] = tracer.self_times()
        samples["trace_file"] = os.path.relpath(
            os.path.join(WORK, "traces", f"{w.name}-s{args.seed}-{tracer.run_id}.json"), ROOT
        )
        tracer.dump(os.path.join(ROOT, samples["trace_file"]))
    record = {
        "workload": w.name,
        "environment": env,
        "input": inputs.describe(inp),
        "samples": samples,
    }
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
