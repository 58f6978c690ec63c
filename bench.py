#!/usr/bin/env python
"""Registry-query benchmark: build + execute seconds for every query in
``BENCH_QUERIES``, next to the flagship extraction pass.

Prints the slim JSON headline (flagship value and docs/s) as soon as the
flagship passes exist, and again as the LAST stdout line once the
per-query passes, the LSH audit and the PDF byte path are in; the full
record (per-query maps, per-pass arrays) goes to BENCH/RESULT.json
(BENCH/RESULT_quick.json under ``--quick``).

Scaling, skew and the Spark-free kernel control are measured by
``perfbench/`` (``pipeline.scaling_eff``, ``pipeline.rebalance_gain``,
``kernel.docs_per_s_1proc``), not here.

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python bench.py [--quick]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)

BENCH_QUERIES = [
    "pp_extract_spans",
    "pp_pdf_roundtrip_extract",  # render->REAL-PDF-parse->extract
    "pp_parse_elements",
    "pp_to_the_right_of",
    "pp_below_all_pages",
    "pp_between",
    "pp_set_xor",
    "pp_memo_extract",
    "pp_ordsum_table",
    "mm_media_features",
    "pp_font_mode",
    "pp_sections_multi",
    "td_minhash_signatures",
    "td_simhash",
    "td_simhash_pairs",
    "td_ngram_jaccard_pairs",
    "td_jaccard_lsh_verified",
    "td_lsh_candidate_pairs",
    "td_lsh_pairs_capped",
    "td_dedup_incremental",
    "td_exact_dups",
    "emb_cosine_topk",
    "emb_lsh_topk",
    "emb_lsh_multiprobe",
    "emb_ivf_topk",
    "emb_ivf_multiprobe",
    "emb_kmeans_centroids",
    "emb_kmeans_ivf_topk",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "emb_ivfpq_topk",
    "emb_dup_pairs",
    "emb_semantic_dedup",
    "ev_windowed_counts",
    "ev_sessionize",
    "ev_json_props",
    "html_main_text",
    "html_content_spans",
    "html_dedup_main_text",
    "td_dup_clusters",
    "td_corpus_prep",
    "td_jaccard_borderline",
    "td_repetition_stats",
    "td_pii_scrub",
    "td_shard_stats",
    "td_chunk_documents",
    "td_corpus_to_shards",
    "td_decontaminate",
    "td_substring_dedup",
    "td_lm_perplexity",
    "td_vocab_topk",
    "td_tfidf_topk",
    "td_bpe_merge_counts",
    "td_bm25_topk",
    "td_length_quantiles",
    "td_ppl_buckets",
    "html_line_dedup",
    "td_gopher_rules",
    "td_dsir_weights",
    "td_corpus_shuffle",
    "td_shuffled_shards",
    "td_bigram_perplexity",
    "td_dataset_split",
    "td_split_stats",
    "td_corpus_manifest",
]


def _force(df) -> int:
    """Force full computation; return row count."""
    return df.count()


def _run_extraction(spark, corpus_path: str):
    from py_pdf_parser_spark.pipeline import extract_spans, tune_scan_splits
    from pyspark.sql import functions as F

    tune_scan_splits(spark, corpus_path)
    out = extract_spans(spark, spark.read.parquet(corpus_path))
    t0 = time.time()
    row = out.agg(
        F.count("*").alias("docs"), F.sum("n_spans").alias("spans")
    ).collect()[0]
    sec = time.time() - t0
    return row["docs"], row["spans"], sec


def _slim_headline(result: dict) -> dict:
    """The <1 KB stdout headline.

    A caller that keeps only a bounded stdout TAIL (~2 KB) cannot parse
    the full record — two ~65-entry per-query maps outgrow it even
    minified, so the capture would start mid-object.  The stdout line therefore carries
    ONLY the headline: flagship value/throughput, pdf_path, lsh_audit.
    Per-query maps and per-pass arrays live in BENCH/RESULT.json only.
    """
    slim = {
        k: result[k]
        for k in (
            "metric", "value", "unit", "sf", "docs", "docs_per_sec",
            "pdf_path", "lsh_audit",
        )
        if k in result
    }
    slim["detail"] = "BENCH/RESULT.json"
    return slim


def _print_headline(result: dict, quick: bool) -> None:
    slim = _slim_headline(result)
    slim["detail"] = (
        "BENCH/RESULT_quick.json" if quick else "BENCH/RESULT.json"
    )
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) < 1000, (
        f"headline line {len(line)}B >= 1000B — would risk a bounded "
        "stdout-tail capture; slim it further"
    )
    sys.stdout.flush()
    print(line, flush=True)


def _emit_result(
    result: dict, full: dict = None, quick: bool = False
) -> None:
    """Emit the bench record: the full record (per-query maps, per-pass
    arrays) to BENCH/RESULT.json (``--quick`` smokes write
    BENCH/RESULT_quick.json instead, so a verification drive at a toy
    sf can never clobber the formal sf0.1 record), and ONE slim
    (<1 KB, asserted) JSON headline as the very last stdout line —
    flushed, so it cannot interleave with teardown output and cannot
    outgrow a bounded stdout-tail capture.
    """
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/RESULT_quick.json" if quick else "BENCH/RESULT.json"
    with open(path, "w") as f:
        json.dump(full or result, f, indent=1)
    _print_headline(result, quick)


def main(quick: bool = False) -> None:
    """Flagship pass, shared-cache fill, then build + execute per
    registry query: 1 measured pass under --quick, median of 3
    otherwise."""
    from py_pdf_parser_spark.queries import (
        _banded_table,
        _docs_table,
        _elements,
        _emb_table,
        _events_table,
        _html_blocks_table,
        _html_table,
        _kmeans_cents_table,
        _minhash_wide_table,
        _patho_banded_table,
        _pdf_corpus_table,
        _shingle_rows_table,
        _simhash_table,
    )
    from py_pdf_parser_spark.queries import queries as all_queries
    from py_pdf_parser_spark.session import get_spark
    from py_pdf_parser_spark.synth import ensure_mixed_corpus, sf_of_dir
    from py_pdf_parser_spark.textops import dedup as dedup_ops
    from pyspark.sql import functions as F

    n_passes = 1 if quick else 3
    sf = sf_of_dir(SF_DIR)
    flat = ensure_mixed_corpus(sf)
    spark = get_spark(cores=CPUS, app_name="bench")

    # Flagship extraction: warm-up, then MEDIAN of the measured passes —
    # single passes swing ±20% on a shared VM (PLANS.md), and a best-of
    # hides regressions while a single pass fabricates them.
    _run_extraction(spark, flat)
    flagship_passes = []
    for _ in range(n_passes):
        docs, _, s = _run_extraction(spark, flat)
        flagship_passes.append(round(s, 3))
    sec = statistics.median(flagship_passes)
    result = {
        "metric": "flagship extraction wall time ("
        f"{'quick' if quick else 'mixed corpus'}, local[{CPUS}])",
        "value": round(sec, 3),
        "unit": "sec",
        "sf": sf,
        "docs": docs,
        "docs_per_sec": round(docs / sec, 1),
    }
    # Headline first: the per-query part below is the long one, and a
    # run cut short still leaves the flagship number on stdout.
    _print_headline(result, quick)

    # Shared-input caches (parse-once-query-many deployment shape: the
    # clustered elements persist + the three spread driver tables +
    # the shared distinct shingle-rows table).
    # Filled ONCE per session and timed separately, so per-query numbers
    # below are steady-state operator costs, not first-touch fills.
    t0 = time.time()
    for table in (
        _elements, _pdf_corpus_table, _docs_table, _emb_table,
        _events_table, _shingle_rows_table, _html_table,
        _html_blocks_table, _minhash_wide_table, _banded_table,
        _patho_banded_table, _simhash_table, _kmeans_cents_table,
    ):
        table(spark, SF_DIR).count()
    cache_fill_sec = round(time.time() - t0, 3)

    # Per-query timings (steady-state): one warm round, then the measured
    # rounds INTERLEAVED across queries (so a host-noise window hits all
    # queries, not one), median per query.  The DataFrame is rebuilt
    # each round — re-forcing the same object would reuse its shuffle
    # map outputs and report skipped-stage times.
    qs = all_queries()
    query_passes = {name: [] for name in BENCH_QUERIES}
    build_passes = {name: [] for name in BENCH_QUERIES}
    for name in BENCH_QUERIES:  # warm (includes corpus synth first run)
        _force(qs[name](spark, SF_DIR))
    for _ in range(n_passes):
        for name in BENCH_QUERIES:
            # Build timed SEPARATELY from force: build covers driver-side
            # work a deployment pays once per plan (Catalyst analysis of
            # big expression trees — PLANS.md r4) but ALSO any eager jobs
            # a builder runs (td_dup_clusters' iterative CC rounds happen
            # at build).  Reporting both keeps the steady-state operator
            # number comparable across rounds without hiding build-side
            # cost.
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            build_passes[name].append(round(time.time() - t0, 3))
            t0 = time.time()
            _force(df)
            query_passes[name].append(round(time.time() - t0, 3))
    query_secs = {
        name: round(statistics.median(ts), 3)
        for name, ts in query_passes.items()
    }
    query_build_secs = {
        name: round(statistics.median(ts), 3)
        for name, ts in build_passes.items()
    }

    # LSH/CC audit (no silent caps): what the 256-doc bucket cap drops
    # at this sf, and how many label-propagation rounds the connected
    # components took — tracked round-over-round in the bench record.
    banded = dedup_ops.minhash_banded(_minhash_wide_table(spark, SF_DIR))
    cap_row = (
        dedup_ops.bucket_cap_stats(banded, ["band", "bucket"], 256)
        .agg(
            F.count("*").alias("oversized_buckets"),
            F.sum("pairs_dropped").alias("pairs_dropped"),
        )
        .collect()[0]
    )
    cc_stats: dict = {}
    dedup_ops.dup_clusters(
        _docs_table(spark, SF_DIR),
        wide=_minhash_wide_table(spark, SF_DIR),
        stats=cc_stats,
    ).count()
    lsh_audit = {
        "minhash_perms": len(dedup_ops.MINHASH_PARAMS),
        "bands": dedup_ops.MINHASH_BANDS,
        "rows_per_band": dedup_ops.MINHASH_ROWS_PER_BAND,
        "oversized_buckets": int(cap_row["oversized_buckets"] or 0),
        "capped_pairs_dropped": int(cap_row["pairs_dropped"] or 0),
        "cc_rounds": cc_stats.get("rounds"),
    }

    # Byte-path headline: the same extraction through REAL PDF bytes
    # (north-rule surface: docs/sec with span-sequence equality; the
    # rendered corpus is persisted fixture fill, parse+extract is the
    # measured operator — see queries._pdf_corpus_table).
    pdf_docs = _pdf_corpus_table(spark, SF_DIR).count()
    pdf_sec = query_secs.get("pp_pdf_roundtrip_extract")
    pdf_path = {
        "docs": int(pdf_docs),
        "sec": pdf_sec,
        "docs_per_sec": (
            round(pdf_docs / pdf_sec, 1) if pdf_sec else None
        ),
    }

    spark.stop()

    result.update(
        measurement=f"median of {n_passes} interleaved passes "
        "(warm-up excluded; cache_fill timed separately)",
        flagship_passes=flagship_passes,
        cache_fill_sec=cache_fill_sec,
        queries=query_secs,
        query_build_secs=query_build_secs,
        pdf_path=pdf_path,
        lsh_audit=lsh_audit,
    )
    # Full detail (per-pass arrays) goes to a file; stdout carries the
    # compact record only — see _emit_result.
    _emit_result(
        result,
        full={**result, "query_passes": query_passes},
        quick=quick,
    )


if __name__ == "__main__":
    main(quick="--quick" in sys.argv[1:])
