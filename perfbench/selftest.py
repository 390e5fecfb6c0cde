"""Fast self-test of the benchmark on tiny inputs (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, for every workload (BENCHMARK.json's and those run by hand):
  * every traced plan prefix yields the same row count as the input;
  * every metric BENCHMARK.json names is produced, with its unit;
  * the gate passes the job's real output;
and that the gate trips on a committed output with one row altered, one
row duplicated, or checkpoint counters that disagree with the output.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gate, inputs, probes, runners  # noqa: E402
from perfbench import run as bench_run  # noqa: E402
from perfbench.run import ROOT, WORK, Bench, Session, measure, trace  # noqa: E402

TINY = {
    "crawl-day": {"n_rows": 150},
    "pdf-day": {"n_rows": 500, "pdf_docs": 30},
    "warc-resume": {"n_rows": 150},
}


def _check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def _names(metrics: dict, spec: list[dict], what: str) -> None:
    missing = [m["name"] for m in spec if metrics.get(m["name"], (None, None))[1] != m["unit"]]
    _check(not missing, f"{what}: every BENCHMARK.json metric printed with its unit {missing or ''}")


def _gate_trips(b: Bench) -> None:
    """Alter committed output three ways; each must fail the gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out, run = b.dirs()
    runners.submit(b.spark, b.w, b.inp.path, out, run)
    _check(gate.check(out, run, b.ref) == 0, "gate passes the real output")
    f = max(gate.output_files(out), key=lambda p: pq.ParquetFile(p).metadata.num_rows)
    original = pq.read_table(f)

    text = original.column("text").to_pylist()
    text[0] = (text[0] or "") + " altered"
    i = original.schema.get_field_index("text")
    pq.write_table(original.set_column(i, "text", pa.array(text, pa.string())), f)
    _check(gate.check(out, run, b.ref) == 1, "gate trips on one altered row")

    pq.write_table(pa.concat_tables([original, original.slice(0, 1)]), f)
    _check(gate.check(out, run, b.ref) >= 1, "gate trips on one duplicated row")

    pq.write_table(original, f)
    _check(gate.check(out, run, b.ref) == 0, "gate passes the restored output")
    cp = sorted(glob.glob(os.path.join(run, "checkpoint", "*.parquet")))[0]
    t = pq.read_table(cp)
    j = t.schema.get_field_index("n_err")
    pq.write_table(t.set_column(j, "n_err", pa.array([t.column("n_err")[0].as_py() + 1], pa.int64())), cp)
    _check(gate.check(out, run, b.ref) == b.inp.n_docs, "gate fails the whole job on checkpoint counter mismatch")
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    nproc = len(os.sched_getaffinity(0))
    bench_run.SETUPS = 1  # one set-up per workload is enough to check the names
    scratch = os.path.join(WORK, f"selftest-{os.getpid()}")
    session = Session(f"local[{nproc}]", scratch)
    calib = probes.Calibrator(nproc)
    try:
        for name, w in inputs.WORKLOADS.items():
            w = dataclasses.replace(w, **TINY[name])
            inp = inputs.load(w, 1, os.path.join(scratch, "inputs"))
            ref = gate.reference(inp.rows)
            b = Bench(w, inp, ref, session, scratch, probes.Tracer(False), calib)
            e2e, _ = measure(b, 0, nproc)
            _names(e2e, spec["end_to_end"], f"{name} end_to_end")
            b.tracer = probes.Tracer(True)
            layer, samples = trace(b, 0, nproc)
            _names(layer, spec["per_layer"], f"{name} per_layer")
            for stage in runners.PREFIXES:
                rows = [r[f"{stage}_rows"] for r in samples["rounds"]]
                _check(rows == [inp.n_docs] * len(rows), f"{name}: prefix '{stage}' yields {rows} rows of {inp.n_docs}")
            _check(b.failed == 0 and b.attempted > 0, f"{name}: gate passes {b.attempted} attempted docs")
            if name == "crawl-day":
                _gate_trips(b)
    finally:
        calib.close()
        session.close()
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
