"""Seeded benchmark inputs, cached per (kind, seed, size).

Every fixture is a pure function of its seed: the seed sets the
doc-number offset and the row order of a span corpus.  Fixtures are
written under ``perfbench/.cache`` (never ``synthdata/``) with an atomic
rename, so a directory that exists is complete.  Generation time is kept
out of every metric: the runner builds fixtures before the session
starts.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterator, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from py_pdf_parser_spark.kernel.layout import SPAN_BUILDERS
from py_pdf_parser_spark.sources.pdf_writer import render_pdf
from py_pdf_parser_spark.synth import DOCS_PER_FILE, SPANS_ARROW_SCHEMA

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")

# Span files use the package's own layout (DOCS_PER_FILE docs, one row
# group).  PDF files hold fewer docs: 2000 PDFs compress to one ~0.9 MB
# file, which Spark would read as a single scan split.
PDF_DOCS_PER_FILE = 500
PDF_ROWS_PER_GROUP = 250
FLAT_MIX = (("ora", 0.70), ("memo", 0.15), ("media", 0.10), ("ordsum", 0.05))
HEAVY_FAMILIES = ("bigdoc", "bigmedia", "bigtable")
HEAVY_SHARE = 0.001

PDF_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("pdf_bytes", pa.binary()), ("n_bytes", pa.int64())]
)

Row = Tuple[str, list]


def doc_offset(seed: int) -> int:
    """Seed-derived first doc number (same for every family)."""
    return (seed * 104729) % 500_000


def family_counts(n_docs: int) -> Dict[str, int]:
    counts = {fam: int(n_docs * share) for fam, share in FLAT_MIX}
    counts["ora"] += n_docs - sum(counts.values())
    return counts


def _rows(family: str, start: int, count: int) -> Iterator[Row]:
    builder = SPAN_BUILDERS[family]
    for i in range(start, start + count):
        spans = [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in builder(i)
        ]
        yield f"{family}-{i:06d}", spans


def _publish(path: str, write) -> str:
    """Write into ``path + .tmp`` then rename: a cache hit is complete."""
    if os.path.exists(path):
        return path
    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    write(tmp)
    os.rename(tmp, path)
    return path


def _write_span_files(rows: List[Row], out_dir: str) -> None:
    for file_no, lo in enumerate(range(0, len(rows), DOCS_PER_FILE)):
        chunk = rows[lo:lo + DOCS_PER_FILE]
        table = pa.Table.from_pydict(
            {
                "doc_id": [r[0] for r in chunk],
                "spans": [r[1] for r in chunk],
                "n_spans": [len(r[1]) for r in chunk],
            },
            schema=SPANS_ARROW_SCHEMA,
        )
        pq.write_table(table, f"{out_dir}/part-{file_no:05d}.parquet")


def span_corpus(seed: int, n_docs: int, skew: bool = False) -> str:
    """Mixed ora/memo/media/ordsum corpus in seeded row order.

    With ``skew``, 0.1% of ``n_docs`` per heavy family (bigdoc, bigmedia,
    bigtable) is appended, clustered in the tail files like a crawl
    segment of heavy PDFs; the flat part is unchanged."""
    tag = "skew" if skew else "flat"
    path = os.path.join(CACHE_DIR, f"spans-{tag}-s{seed}-n{n_docs}")

    def write(tmp: str) -> None:
        start = doc_offset(seed)
        rows: List[Row] = []
        for fam, count in family_counts(n_docs).items():
            rows.extend(_rows(fam, start, count))
        order = np.random.default_rng(seed).permutation(len(rows))
        rows = [rows[k] for k in order]
        if skew:
            n_heavy = max(1, int(n_docs * HEAVY_SHARE))
            for fam in HEAVY_FAMILIES:
                rows.extend(_rows(fam, start, n_heavy))
        _write_span_files(rows, tmp)

    return _publish(path, write)


def pdf_corpus(seed: int, n_docs: int) -> str:
    """The seeded flat corpus rendered to real PDF bytes
    (``sources.pdf_writer``), one row per doc."""
    spans_path = span_corpus(seed, n_docs)
    path = os.path.join(CACHE_DIR, f"pdf-s{seed}-n{n_docs}")

    def write(tmp: str) -> None:
        table = pq.read_table(spans_path, columns=["doc_id", "spans"])
        ids = table.column("doc_id").to_pylist()
        pdfs = [
            render_pdf(
                doc_id,
                [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans],
            )
            for doc_id, spans in zip(ids, table.column("spans").to_pylist())
        ]
        for file_no, lo in enumerate(range(0, len(ids), PDF_DOCS_PER_FILE)):
            hi = lo + PDF_DOCS_PER_FILE
            out = pa.Table.from_pydict(
                {
                    "doc_id": ids[lo:hi],
                    "pdf_bytes": pdfs[lo:hi],
                    "n_bytes": [len(p) for p in pdfs[lo:hi]],
                },
                schema=PDF_ARROW_SCHEMA,
            )
            pq.write_table(
                out, f"{tmp}/part-{file_no:05d}.parquet", row_group_size=PDF_ROWS_PER_GROUP
            )

    return _publish(path, write)


def read_sample(path: str, doc_ids: List[str]) -> Dict[str, list]:
    """doc_id -> spans for the given ids, read without Spark."""
    table = pq.read_table(path, columns=["doc_id", "spans"])
    table = table.filter(pc.is_in(table.column("doc_id"), pa.array(doc_ids)))
    return dict(zip(
        table.column("doc_id").to_pylist(), table.column("spans").to_pylist()
    ))


def write_json(path: str, obj) -> None:
    """Atomic JSON write (cached per-seed expectations)."""
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.rename(tmp, path)


def doc_ids(path: str) -> List[str]:
    return pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()
