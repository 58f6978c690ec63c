"""Correctness gates whose expectations never go through Spark.

Extraction workloads: docs out == docs in, every status ``ok``, dense
``order``, and span-sequence equality on a seeded per-family sample.
The expectation for ``ora`` docs comes from the registry's DuckDB
``_ora_cte`` layout arithmetic; every other family is replayed in
process through the kernel (``doc_from_spans`` + ``recipe_for``).  The
PDF byte path is held to the spans-path output of the same docs.

Corpus-prep queries: row count and an order-independent digest against
a reference computed once per seed from each query's DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

from py_pdf_parser_spark.kernel import doc_from_spans, recipe_for
from py_pdf_parser_spark.kernel.layout import family_of

OutSpan = Tuple[str, Optional[str], Optional[str]]


@dataclass
class Verdict:
    attempted: int
    failed: int = 0
    problems: List[str] = field(default_factory=list)

    def fail(self, count: int, message: str) -> None:
        if count:
            self.failed += count
            self.problems.append(message)

    def merge(self, other: "Verdict") -> "Verdict":
        return Verdict(
            self.attempted + other.attempted,
            self.failed + other.failed,
            self.problems + other.problems,
        )

    @property
    def correct(self) -> bool:
        return self.failed == 0


def sample_ids(ids: Sequence[str], seed: int, per_family: int) -> List[str]:
    """Seeded sample of up to ``per_family`` doc ids from each family."""
    by_family: Dict[str, List[str]] = {}
    for doc_id in ids:
        by_family.setdefault(family_of(doc_id), []).append(doc_id)
    rng = np.random.default_rng(seed + 7)
    out: List[str] = []
    for fam in sorted(by_family):
        pool = sorted(by_family[fam])
        take = min(per_family, len(pool))
        out.extend(pool[k] for k in sorted(rng.choice(len(pool), take, replace=False)))
    return out


def replay_expected(spans_by_id: Dict[str, list]) -> Dict[str, List[OutSpan]]:
    """In-process kernel replay: the spans-path output without Spark."""
    out = {}
    for doc_id, spans in spans_by_id.items():
        doc = doc_from_spans(doc_id, spans)
        out[doc_id] = [tuple(s) for s in recipe_for(doc_id)(doc)]
    return out


def ora_expected(corpus_path: str, ora_ids: Sequence[str]) -> Dict[str, List[OutSpan]]:
    """Default-recipe output of ``ora`` docs from the registry's DuckDB
    layout mirror: every element in ``idx`` order, text trimmed, media
    passed through by reference."""
    import duckdb

    from py_pdf_parser_spark.queries import ORACLE_SF, _ora_cte
    from py_pdf_parser_spark.synth import oracle_corpus_path

    if not ora_ids:
        return {}
    source = f"read_parquet('{oracle_corpus_path(ORACLE_SF)}/*.parquet')"
    cte = _ora_cte()
    if source not in cte:
        raise RuntimeError("registry ora CTE no longer reads the oracle corpus")
    id_list = ", ".join(f"'{d}'" for d in ora_ids)
    cte = cte.replace(
        source,
        f"(SELECT * FROM read_parquet('{corpus_path}/*.parquet') "
        f"WHERE doc_id IN ({id_list}))",
    )
    sql = cte + """
SELECT doc_id,
       kind,
       CASE WHEN kind = 'media' THEN NULL ELSE trim(text) END,
       CASE WHEN kind = 'media' THEN media_ref ELSE NULL END
FROM elements ORDER BY doc_id, idx"""
    out: Dict[str, List[OutSpan]] = {d: [] for d in ora_ids}
    with duckdb.connect() as con:
        for doc_id, kind, text, ref in con.execute(sql).fetchall():
            out[doc_id].append((kind, text, ref))
    return out


def expected_spans(corpus_path: str, spans_by_id: Dict[str, list]) -> Dict[str, List[OutSpan]]:
    ora = [d for d in spans_by_id if family_of(d) == "ora"]
    expected = ora_expected(corpus_path, ora)
    expected.update(
        replay_expected({d: s for d, s in spans_by_id.items() if d not in expected})
    )
    return expected


def order_is_dense(spans: Iterable[dict]) -> bool:
    return [s["order"] for s in spans] == list(range(len(spans)))


def check_extraction(
    docs_in: int,
    docs_out: int,
    not_ok: int,
    not_dense: int,
    actual: Dict[str, list],
    expected: Dict[str, List[OutSpan]],
) -> Verdict:
    """Gate one extraction output.

    ``actual`` maps sampled doc ids to their output span structs (dicts
    with kind/text/media_ref/order, in output array order)."""
    v = Verdict(attempted=docs_in)
    v.fail(abs(docs_in - docs_out), f"docs out {docs_out} != docs in {docs_in}")
    v.fail(not_ok, f"{not_ok} docs with status != ok")
    v.fail(not_dense, f"{not_dense} docs with non-dense order")
    bad = []
    for doc_id, want in expected.items():
        got = actual.get(doc_id)
        if got is None or not order_is_dense(got) or [
            (s["kind"], s["text"], s["media_ref"]) for s in got
        ] != want:
            bad.append(doc_id)
    v.fail(len(bad), f"span sequence differs on sampled docs {bad[:5]}")
    v.failed = min(v.failed, v.attempted)
    return v
