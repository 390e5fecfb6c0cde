"""Measurement from outside the program: spans, /proc process-tree CPU and
memory, Spark scheduler counts and the environment record.

The probes read /proc, the Spark status tracker and module files; none
calls into the engine's code paths, so they cost the same whatever the
engine does.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
# processes the benchmark runs beside the engine (the calibration loops):
# never charged to the engine's process tree
IGNORED_PIDS: set[int] = set()


# ---------------------------------------------------------------------------
# process tree (driver python -> spark-submit JVM -> python daemon/workers)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields restart after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in IGNORED_PIDS:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the live tree, including reaped children
    (a Python worker that exits is charged to the daemon that waits on it)."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_hwm_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of the live tree in MB, summed per
    executable name (java, python, ...); this process is ``driver``."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = "driver" if pid == os.getpid() else status["Name"].strip()
        out[name] = out.get(name, 0.0) + int(status.get("VmHWM", "0 kB").split()[0]) / 1024
    return out


def workers_mb(hwm: dict[str, float]) -> float:
    """Spark's Python daemon and workers in a tree_hwm_mb reading: every
    process but the benchmark's own and the JVM."""
    return sum(mb for name, mb in hwm.items() if name not in ("driver", "java"))


# ---------------------------------------------------------------------------
# Spark scheduler counts (driver statusTracker)


def spark_job_ids(spark) -> set[int]:
    """Jobs outside any job group: every job the runners submit, including
    those from the day runner's thread pool."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def spark_counts(spark, job_ids: set[int]) -> dict:
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for jid in job_ids:
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
    return {"jobs": len(job_ids), "tasks": tasks, "failed_tasks": failed}


# ---------------------------------------------------------------------------
# host-speed calibration

_CALIB_LOOP = (
    "import sys, time\n"
    "for line in sys.stdin:\n"
    "    x, t0 = 0, time.process_time()\n"
    "    for i in range(int(line)):\n"
    "        x += i\n"
    "    print(time.process_time() - t0, flush=True)\n"
)


class Calibrator:
    """A fixed pure-Python CPU loop run at once in ``n`` child processes,
    one per Spark core; a reading is the CPU seconds one loop costs each
    process right now. The host is shared: while its other tenants load
    the cores under this machine's CPUs, each CPU-second does less work,
    and the same job's wall and CPU seconds grow by up to ~2x, with the
    loop's CPU seconds growing alike. ``factor()`` scales the run's times
    to a reference host where a reading is ``REF_CPU_S``. It is the median
    over every reading of the run, which is steadier than the readings
    around one job when the load comes and goes within seconds. The loop
    runs no engine code, so an engine change moves the scaled times
    exactly as much as the raw ones.

    The loop's wall is recorded beside its CPU seconds but not used:
    it also counts the time the hypervisor runs other tenants on these
    CPUs, which slows the all-core loop more than the partly serial job
    (scaling by it over-corrected by 10-15% in a contended hour)."""

    ITERS = 1_000_000
    # one loop's per-process CPU seconds on a quiet 4-vCPU host
    REF_CPU_S = 0.065
    READS = 5

    def __init__(self, n: int):
        self.procs = [
            subprocess.Popen(
                [sys.executable, "-c", _CALIB_LOOP],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                text=True,
            )
            for _ in range(n)
        ]
        IGNORED_PIDS.update(p.pid for p in self.procs)
        self.readings: list[tuple[float, float]] = []
        try:
            # one loop per CPU: left to the scheduler, freshly started loops
            # share their parent's CPU for the first few readings
            cpus = sorted(os.sched_getaffinity(0))
            for i, p in enumerate(self.procs):
                os.sched_setaffinity(p.pid, {cpus[i % len(cpus)]})
            self._once()  # warm-up: interpreter start and first allocation
        except BaseException:
            self.close()
            raise

    def _once(self) -> tuple[float, float]:
        t0 = time.perf_counter()
        for p in self.procs:
            p.stdin.write(f"{self.ITERS}\n")
            p.stdin.flush()
        cpu = statistics.mean(float(p.stdout.readline()) for p in self.procs)
        return time.perf_counter() - t0, cpu

    def read(self) -> tuple[float, float]:
        """(wall, per-process CPU seconds) of one loop, each the median of
        READS back-to-back loops."""
        loops = [self._once() for _ in range(self.READS)]
        reading = tuple(statistics.median(v) for v in zip(*loops))
        self.readings.append(reading)
        return reading

    def factor(self) -> float:
        """Scale from this host, as read so far, to the reference host."""
        return self.REF_CPU_S / statistics.median(cpu for _, cpu in self.readings)

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()  # the loop ends on stdin EOF
        for p in self.procs:
            p.wait(timeout=60)
            p.stdout.close()
        IGNORED_PIDS.difference_update(p.pid for p in self.procs)


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written once at the end. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover
        (children of one span run one after another in this process)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_s[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "self_s": self.self_times()}, f)


# ---------------------------------------------------------------------------
# environment record


def environment(master: str, seed: int, calib: tuple[float, float]) -> dict:
    """Host and version facts for the run record."""
    import pyarrow
    import pyspark

    import __spark_entry__
    from document_ai_spark.sources.pages import CORPUS_VERSION

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "corpus_version": CORPUS_VERSION,
        "seed": seed,
        # the extraction-kernel source hash the driver contract keys on
        "kernel_fingerprint": __spark_entry__._kernel_fingerprint(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        # the host-speed thermometer: a Calibrator reading before any
        # other work (a contended window reads high)
        "calib_wall_s": round(calib[0], 4),
        "calib_cpu_s": round(calib[1], 4),
    }
