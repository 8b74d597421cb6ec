"""Seeded input tables for the benchmark workloads.

Documents come from ``datagen.interleaved.make_corpus``; the table is
written once per (seed, size, pathological rate) as several parquet
files so that Spark scans it as a multi-partition table, like a real
one. Generation happens before any timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from datagen.interleaved import make_corpus

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_TYPE)),
    ]
)
N_FILES = 8


def generate(n_docs: int, seed: int, pathological_rate: float) -> list[dict]:
    return list(make_corpus(n_docs, seed, pathological_rate))


def corpus_digest(docs: list[dict]) -> str:
    """Order-sensitive digest of the generated documents."""
    h = hashlib.sha256()
    for d in docs:
        h.update(json.dumps(d, sort_keys=True).encode())
    return h.hexdigest()


def doc_chars(doc: dict) -> int:
    """Text payload of one document, as ``partitioning.doc_size_col``."""
    return sum(len(s["text"]) for s in doc["spans"] if s["text"] is not None)


def write_table(root: str, n_docs: int, seed: int,
                pathological_rate: float) -> tuple[str, list[dict]]:
    """Generate the corpus and write it under ``root`` unless a finished
    copy is already there. Returns (table dir, documents)."""
    name = f"docs_n{n_docs}_s{seed}_p{pathological_rate:g}"
    path = os.path.join(root, name)
    docs = generate(n_docs, seed, pathological_rate)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, docs
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per_file = -(-n_docs // N_FILES)
    for i in range(N_FILES):
        part = docs[i * per_file:(i + 1) * per_file]
        if part:
            pq.write_table(
                pa.Table.from_pylist(part, schema=DOCS_SCHEMA),
                os.path.join(tmp, f"part-{i:05d}.parquet"),
            )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, docs


def _quantile(sorted_vals: list[int], q: float) -> int:
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def profile(docs: list[dict], straggler_chars: int | None = None) -> dict:
    """Shape of a generated corpus, as recorded beside each run."""
    chars = sorted(doc_chars(d) for d in docs)
    n_spans = sum(len(d["spans"]) for d in docs)
    out = {
        "docs": len(docs),
        "spans_per_doc": round(n_spans / len(docs), 3),
        "chars_p50": _quantile(chars, 0.5),
        "chars_p99": _quantile(chars, 0.99),
        "chars_max": chars[-1],
        "digest": corpus_digest(docs)[:16],
    }
    if straggler_chars is not None:
        out["stragglers"] = sum(c > straggler_chars for c in chars)
    return out
