"""Output correctness gate: the committed output against direct kernel calls.

The reference is ``kernel.extract.extract_document`` called single-threaded
on every input payload; the same pass times the kernel per document. The
committed output and checkpoint are read with pyarrow, not Spark, so the
check shares no reader with the job it checks.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
from collections import Counter
from dataclasses import dataclass, field


def _digest(text: str | None) -> str:
    return hashlib.blake2b((text or "").encode("utf-8"), digest_size=16).hexdigest()


@dataclass
class Reference:
    """Expected (doc_hash, kind, error, text digest) per url, and the
    kernel's per-document cost split by path."""

    expected: dict[str, tuple] = field(default_factory=dict)
    bytes_in: int = 0
    kinds: Counter = field(default_factory=Counter)
    # path ("html" or "pdf") -> list of (seconds, payload bytes)
    costs: dict[str, list] = field(default_factory=lambda: {"html": [], "pdf": []})
    chars_out: int = 0


def reference(rows: list[tuple[str, bytes]]) -> Reference:
    from document_ai_spark.kernel.extract import extract_document
    from document_ai_spark.kernel.pdf_extract import is_pdf

    ref = Reference()
    for url, payload in rows:
        t0 = time.perf_counter()
        doc_hash, kind, text, _spans, n_chars, _n_blocks, error = extract_document(payload)
        dt = time.perf_counter() - t0
        ref.expected[url] = (doc_hash, kind, error, _digest(text))
        ref.bytes_in += len(payload)
        ref.kinds[kind] += 1
        ref.chars_out += n_chars
        if payload.strip():
            ref.costs["pdf" if is_pdf(payload) else "html"].append((dt, len(payload)))
    return ref


def output_files(out_dir: str) -> list[str]:
    """Committed parquet data files (Spark's part-* files, any layout)."""
    return sorted(glob.glob(os.path.join(out_dir, "**", "part-*.parquet"), recursive=True))


def _read(files: list[str], columns: list[str]) -> dict[str, list]:
    import pyarrow.parquet as pq

    cols: dict[str, list] = {c: [] for c in columns}
    for f in files:
        t = pq.read_table(f, columns=columns)
        for c in columns:
            cols[c].extend(t.column(c).to_pylist())
    return cols


def check(out_dir: str, run_dir: str, ref: Reference, complete: bool = True) -> int:
    """Number of documents whose committed row is missing, duplicated or
    differs from the reference, or every document when the checkpoint's
    counters disagree with the committed output. ``complete=False`` checks
    a killed job's partial output: absent urls are not failures."""
    from document_ai_spark.plans.checkpoint import checkpoint_path

    out = _read(output_files(out_dir), ["url", "doc_hash", "kind", "error", "text", "bytes_in"])
    seen = Counter(out["url"])
    bad = {u for u, n in seen.items() if n > 1 or u not in ref.expected}
    if complete:
        bad |= {u for u in ref.expected if u not in seen}
    for url, dh, kind, err, text in zip(out["url"], out["doc_hash"], out["kind"], out["error"], out["text"]):
        if ref.expected.get(url) != (dh, kind, err, _digest(text)):
            bad.add(url)

    cp = _read(sorted(glob.glob(os.path.join(checkpoint_path(run_dir), "*.parquet"))),
               ["status", "n_docs", "n_err", "bytes_in"])
    done = [i for i, s in enumerate(cp["status"]) if s == "done"]
    counters = tuple(sum(cp[c][i] for i in done) for c in ("n_docs", "n_err", "bytes_in"))
    committed = (len(out["url"]), sum(k == "error" for k in out["kind"]), sum(out["bytes_in"]))
    if counters != committed:
        return len(ref.expected)
    return min(len(bad), len(ref.expected))
