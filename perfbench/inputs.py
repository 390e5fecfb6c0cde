"""Workload inputs, made only through the engine's public generators and
cached under ``.perfbench/inputs`` keyed on corpus version, workload, seed
and size, so a new seed never reuses another seed's files.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    source: str  # "parquet" (warc_day layout) or "warc"
    n_rows: int  # rows drawn from generate_rows(n_rows, seed)
    pdf_docs: int | None = None  # keep only the first pdf_docs PDF rows
    # run_extraction (url-bucket groups) settings; None -> run_extraction_by_day
    n_groups: int | None = None
    fail_after_group: int | None = None
    salt_partitions: int | None = None


# Why each workload exists (also in BENCHMARK.json):
#  crawl-day   production traffic: ~90% HTML, Zipf sizes, a giant page
#              every 997 docs, 4 warc_day partitions, the day runner.
#  pdf-day     only the PDF rows of the same generator: the PDF kernel does
#              all kernel work and the HTML tokenizer none, so an HTML-only
#              change must leave it flat.
#  warc-resume the crawl mix as WARC through the url-bucket runner with
#              input salting, killed after 4 of 8 groups and re-submitted:
#              per-group WARC re-parse and the done-group skip on resume.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl-day", "parquet", 4000),
        Workload("pdf-day", "parquet", 12000, pdf_docs=1000),
        Workload(
            "warc-resume", "warc", 2000, n_groups=8, fail_after_group=4, salt_partitions=16
        ),
    )
}


@dataclass
class Inputs:
    path: str
    rows: list[tuple[str, bytes]]  # (url, payload) of every input document

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    @property
    def mb(self) -> float:
        return sum(len(p) for _, p in self.rows) / 1e6


def _is_pdf(payload: bytes) -> bool:
    from document_ai_spark.kernel.pdf_extract import is_pdf

    return is_pdf(payload)


def _pdf_rows(w: Workload, seed: int) -> list[dict]:
    """The first ``w.pdf_docs`` PDF rows of generate_rows(w.n_rows, seed):
    a fixed doc count whatever the seed's kind mix."""
    from document_ai_spark.sources.pages import generate_rows

    rows = [r for r in generate_rows(w.n_rows, seed=seed) if _is_pdf(r["html"] or b"")]
    if len(rows) < w.pdf_docs:
        raise ValueError(f"seed {seed}: {len(rows)} PDF rows in {w.n_rows}, need {w.pdf_docs}")
    return rows[: w.pdf_docs]


def _write_day_parquet(out_dir: str, rows: list[dict]) -> None:
    """The pages-table layout write_pages_parquet produces, for a filtered
    row list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
            "warc_day": pa.array([r["warc_ts"].strftime("%Y-%m-%d") for r in rows], pa.string()),
        }
    )
    pq.write_to_dataset(table, root_path=out_dir, partition_cols=["warc_day"])


def _generate(w: Workload, seed: int, out_dir: str) -> None:
    if w.source == "warc":
        from document_ai_spark.sources.warc import write_pages_warc

        write_pages_warc(out_dir, w.n_rows, seed=seed)
    elif w.pdf_docs:
        _write_day_parquet(out_dir, _pdf_rows(w, seed))
    else:
        from document_ai_spark.sources.pages import write_pages_parquet

        write_pages_parquet(out_dir, w.n_rows, seed=seed)


def _read_rows(w: Workload, seed: int, path: str) -> list[tuple[str, bytes]]:
    """(url, payload) pairs as the generator produced them. Parquet inputs
    are read back with pyarrow; WARC inputs are re-generated, so the
    reference never depends on the engine's WARC reader."""
    if w.source == "warc":
        from document_ai_spark.sources.pages import generate_rows

        return [(r["url"], r["html"] or b"") for r in generate_rows(w.n_rows, seed=seed)]
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=["url", "html"])
    return [(u, p or b"") for u, p in zip(t.column("url").to_pylist(), t.column("html").to_pylist())]


def load(w: Workload, seed: int, cache_dir: str) -> Inputs:
    """Generate (or reuse) the workload's input for ``seed``."""
    from document_ai_spark.sources.pages import CORPUS_VERSION

    size = f"n{w.n_rows}" + (f"-pdf{w.pdf_docs}" if w.pdf_docs else "")
    path = os.path.join(cache_dir, f"{w.name}-v{CORPUS_VERSION}-s{seed}-{size}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(w, seed, tmp)
        os.rename(tmp, path)
    return Inputs(path, _read_rows(w, seed, path))


def describe(inp: Inputs) -> dict:
    """Docs, MB and payload-kind mix of an input."""
    n_pdf = sum(1 for _, p in inp.rows if _is_pdf(p))
    n_blank = sum(1 for _, p in inp.rows if not p.strip())
    return {
        "docs": inp.n_docs,
        "mb": round(inp.mb, 3),
        "pdf_payloads": n_pdf,
        "blank_payloads": n_blank,
        "html_payloads": inp.n_docs - n_pdf - n_blank,
    }
