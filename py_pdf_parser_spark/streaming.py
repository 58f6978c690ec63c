"""Structured Streaming wrappers around the batch operators.

The reference has no streaming (SURVEY.md §2.10); the batch kernels are
pure, so the identical transformations run over a file-source stream of
parquet drops.  Every entry point is one ``_read`` plus a transform
plugged into one of two sinks:

- ``_to_memory``: an in-memory table named ``query_name``, for the
  stateless gates, the watermarked window and the two
  ``applyInPandasWithState`` operators;
- ``_to_files``: the transform runs per micro-batch under
  ``foreachBatch`` and ``write_batch`` commits it exactly-once, for the
  extraction paths and the gates that score against frozen artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .schema import (
    DOC_TABLE_SCHEMA,
    DOCUMENTS_SCHEMA,
    EVENTS_SCHEMA,
    HTML_PAGES_SCHEMA,
    PDF_BYTES_SCHEMA,
)


def _read(spark: SparkSession, input_dir: str, schema, max_files: int):
    """File-source stream of parquet drops, ``max_files`` per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def _to_memory(df: DataFrame, query_name: str, mode: str = "append"):
    """Memory sink: results land in the table ``query_name``."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .start()
    )


def write_batch(df: DataFrame, batch_id: int, output_dir: str) -> None:
    """Idempotent micro-batch writer: commit ``df`` as partition
    ``batch_id=<batch_id>`` of ``output_dir``.

    foreachBatch is at-least-once: a batch retried after a partial
    write, or replayed from the checkpoint before its commit, runs
    again, so a blind append would duplicate rows.  Dynamic partition
    overwrite keyed on batch_id makes the replay of batch N rewrite
    ONLY partition batch_id=N — byte-identical, since every transform
    here is deterministic — while a genuinely new batch adds its own
    partition."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_dir)
    )


def _to_files(
    stream: DataFrame, transform, output_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """File sink: ``transform`` each micro-batch, commit it with
    ``write_batch``.  The transform sees a whole micro-batch, so
    per-document aggregates are exact as long as a document arrives
    whole in one file, never split across batches."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(transform(batch_df), batch_id, output_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "ev_windowed_counts",
    watermark: str = "10 minutes",
):
    """Streaming tumbling-window aggregation with event-time watermark.

    The same ``events.windowed_counts`` transformation as batch, under a
    ``withWatermark`` prefix: Spark keeps window state only until the
    watermark passes the window end, so state is bounded however long
    the stream runs — the late-data/stateful-agg path of SURVEY.md §2.10.
    Complete mode, so the test can compare against the batch run.
    """
    from .events import windowed_counts

    # Watermarks require TIMESTAMP (ltz); parquet naive timestamps read
    # as NTZ.  Session timezone is pinned UTC, so the cast is exact.
    stream = (
        _read(spark, input_dir, EVENTS_SCHEMA, 4)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", watermark)
    )
    return _to_memory(windowed_counts(stream), query_name, "complete")


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, start_s long, end_s long"
)
SESSION_STATE_SCHEMA = "session_id long, n_events long, start_s double, last_s double"


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_minutes: int = 30,
    query_name: str = "ev_sessions",
):
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (SURVEY.md §2.10's custom-stateful path).

    State per user = the open session (id, count, start, last-seen).
    Each micro-batch folds its events into the state and emits a
    snapshot row per touched session; the LAST emission per
    (user, session) equals the batch ``events.sessionize`` result, which
    the test asserts.  Update-mode memory sink.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60.0

    def fold(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            session_id, n_events, start_s, last_s = state.get
        else:
            session_id, n_events, start_s, last_s = 0, 0, None, None
        out = []
        # ``pdfs`` is an ITERATOR of Arrow chunks in shuffle order, not
        # event-time order: a group spanning multiple chunks (more rows
        # than maxRecordsPerBatch, or several input partitions) would be
        # folded out of order if each chunk were sorted independently.
        # Buffer the whole group for this micro-batch, sort ONCE, fold.
        chunks = list(pdfs)
        whole = (
            pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            if chunks
            else pd.DataFrame({"ts": pd.Series([], dtype="datetime64[ns]")})
        )
        for ts in whole["ts"].astype("int64") / 1e9:  # epoch seconds
            if last_s is None or ts - last_s > gap_s:
                if n_events:
                    out.append(
                        (user_id, session_id, n_events, start_s, last_s)
                    )
                session_id += 1
                n_events, start_s = 0, ts
            n_events += 1
            last_s = ts
        out.append((user_id, session_id, n_events, start_s, last_s))
        state.update((session_id, n_events, start_s, last_s))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_id", "n_events", "start_s", "end_s"],
        ).astype({"start_s": "int64", "end_s": "int64"})

    # Two files per trigger, so state crosses micro-batch boundaries.
    stream = _read(spark, input_dir, EVENTS_SCHEMA, 2)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _to_memory(sessions, query_name, "update")


DEDUP_OUT_SCHEMA = "doc_id string, digest string"
DEDUP_STATE_SCHEMA = "seen long"


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "doc_dedup",
    max_files_per_trigger: int = 4,
):
    """Streaming exact dedup at ingest: the FIRST document seen per
    content digest passes through; every later byte-identical copy —
    within a micro-batch or any later one — is dropped.

    ``applyInPandasWithState`` keyed by digest; state = a seen flag, so
    state size is one long per distinct document ever ingested (the
    minimal possible for exact streaming dedup; at larger horizons swap
    the flag store for a TTL'd state via GroupStateTimeout).  Within the
    first batch of a digest group, rows sort by doc_id so the survivor
    is deterministic.  Append-mode memory sink.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def keep_first(key, pdfs, state):
        (digest,) = key
        if not state.exists:
            chunks = [p[["doc_id"]] for p in pdfs]
            if chunks:
                whole = pd.concat(chunks, ignore_index=True)
                survivor = whole["doc_id"].sort_values().iloc[0]
                state.update((1,))
                yield pd.DataFrame(
                    {"doc_id": [survivor], "digest": [digest]}
                )
        else:
            for _ in pdfs:  # drain; all dups of an already-seen digest
                pass

    stream = (
        _read(spark, input_dir, DOCUMENTS_SCHEMA, max_files_per_trigger)
        .withColumn(
            "digest",
            # Digest over RAW span fields with explicit separators —
            # NOT to_json, whose canonicalization is Spark-version-
            # dependent (digests must stay stable across engine
            # upgrades when checkpointed state outlives a deploy).
            # \x1f joins fields, \x1e joins spans, \x00 marks null.
            F.md5(
                F.concat_ws(
                    "\x1e",
                    F.transform(
                        "spans",
                        lambda s: F.concat_ws(
                            "\x1f",
                            F.coalesce(s["kind"], F.lit("\x00")),
                            F.coalesce(s["text"], F.lit("\x00")),
                            F.coalesce(s["media_ref"], F.lit("\x00")),
                            F.coalesce(
                                s["offset"].cast("string"), F.lit("\x00")
                            ),
                        ),
                    ),
                )
            ),
        )
        .select("doc_id", "digest")
    )
    deduped = stream.groupBy("digest").applyInPandasWithState(
        keep_first,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _to_memory(deduped, query_name)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous span extraction: stream of document drops → the
    batch ``pipeline.extract_spans`` per micro-batch (per-document
    error containment carries over) → exactly-once file sink."""
    from .pipeline import extract_spans, rebalance

    return _to_files(
        _read(spark, input_dir, DOCUMENTS_SCHEMA, 8),
        lambda batch: extract_spans(spark, rebalance(batch)),
        output_dir,
        checkpoint_dir,
    )


def stream_html_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous HTML main-content extraction: stream of page drops →
    the exact batch span pipeline (textops.html.content_spans) →
    exactly-once file sink.

    The block pipeline is stateless narrow Column expressions, so it
    runs unchanged under Structured Streaming; the only stateful piece
    (the per-doc row_number for span ``seq``) is computed per
    micro-batch — correct because a page arrives whole in one file."""
    from .textops.html import content_spans

    return _to_files(
        _read(spark, input_dir, HTML_PAGES_SCHEMA, 8),
        content_spans,
        output_dir,
        checkpoint_dir,
    )


def stream_pdf_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config=None,
    include_media: bool = False,
) -> StreamingQuery:
    """Continuous REAL-PDF ingestion: stream of raw PDF bytes → the
    exact batch byte-path extraction (sources.pdf_bytes.
    extract_spans_from_pdf, minipdf parse + per-family recipes, corrupt
    documents isolated as error rows) → exactly-once file sink."""
    from .sources.pdf_bytes import extract_spans_from_pdf

    return _to_files(
        _read(spark, input_dir, PDF_BYTES_SCHEMA, 8),
        lambda batch: extract_spans_from_pdf(
            batch, config=config, include_media=include_media
        ),
        output_dir,
        checkpoint_dir,
    )


def stream_pii_scrub(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "pii_scrub",
    max_files_per_trigger: int = 4,
):
    """Streaming PII scrubbing at ingest: the stateless per-document
    analysis.pii_scrub transformation applied to a file-source stream —
    detections counted and text redacted BEFORE documents land anywhere
    downstream, which is where a privacy gate belongs in a pipeline.
    Stateless narrow transformation: identical results to the batch
    operator on the same rows (asserted by test), no watermark or state
    store.  Append-mode memory sink."""
    from .textops.analysis import pii_scrub

    stream = _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger)
    return _to_memory(pii_scrub(stream), query_name)


def stream_blocklist_gate(
    spark: SparkSession,
    input_dir: str,
    words: list,
    max_frac: float = 0.02,
    query_name: str = "blocklist_gate",
    max_files_per_trigger: int = 4,
):
    """Streaming C4-family blocklist gate at ingest: the stateless
    per-document analysis.blocklist_filter audit (bad-word count /
    fraction / keep decision) applied to a file-source stream, so a
    crawl is gated BEFORE documents land downstream.  The word list
    compiles into the plan as one literal alternation regex — no state
    store, no watermark — so results are identical to the batch
    operator on the same rows (asserted by test) and replayed files
    decide identically across stream restarts.  Append-mode memory
    sink."""
    from .textops.analysis import blocklist_filter

    stream = _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger)
    return _to_memory(
        blocklist_filter(stream, words, max_frac=max_frac), query_name
    )


def stream_mixture_sample(
    spark: SparkSession,
    input_dir: str,
    rates,
    default_pct: int = 0,
    query_name: str = "mixture_sample",
    max_files_per_trigger: int = 4,
):
    """Streaming mixture sampling at ingest: analysis.mixture_sample
    applied to a file-source stream — each arriving document is kept or
    dropped by its source's rate BEFORE landing downstream, the shape a
    continuously-ingesting training mix runs.  Stateless narrow
    transformation over a static broadcast rates table, so results are
    identical to the batch operator on the same rows (asserted by
    test), and because the md5 buckets are fixed, REPLAYED files decide
    identically — the sample stays consistent across stream restarts.
    Append-mode memory sink."""
    from .textops.analysis import mixture_sample

    stream = _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger)
    return _to_memory(
        mixture_sample(stream, rates, default_pct=default_pct), query_name
    )


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    lm: DataFrame,
    thresholds: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Continuous CCNet-style quality gating at ingest: each arriving
    document is scored (bits-per-token under a FIXED pre-trained
    unigram LM) and labelled head/middle/tail against FIXED per-language
    tercile thresholds — the deployment shape of
    ``analysis.perplexity_buckets``, where the model and gate are
    artifacts trained once on a reference corpus
    (``analysis.unigram_lm`` + ``analysis.perplexity_thresholds``) and
    every ingest batch is scored against them.

    Both artifacts are static broadcast tables and the per-doc score
    aggregate runs per micro-batch, so results are identical to the
    batch operator with the same ``lm`` + ``thresholds`` on the same
    rows (asserted by test).  Exactly-once file sink."""
    from .textops.analysis import bucket_by_thresholds, lm_perplexity

    def gate(batch: DataFrame) -> DataFrame:
        scores = lm_perplexity(batch.select("doc_id", "text"), lm=lm).join(
            batch.select("doc_id", "lang"), "doc_id"
        )
        return bucket_by_thresholds(scores, thresholds)

    return _to_files(
        _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger),
        gate,
        output_dir,
        checkpoint_dir,
    )


def stream_gopher_gate(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "gopher_gate",
    max_files_per_trigger: int = 4,
    **rule_bounds,
):
    """Streaming Gopher-rule quality gate at ingest: the stateless
    per-document analysis.gopher_rules audit (per-rule flags + keep)
    applied to a file-source stream.  The rule thresholds compile into
    the plan as literals — no state store, no watermark — so results
    are identical to the batch operator on the same rows (asserted by
    test) and replayed files decide identically across restarts.
    Append-mode memory sink; ``rule_bounds`` forwards
    min_words/max_words/etc to gopher_rules."""
    from .textops.analysis import gopher_rules

    stream = _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger)
    return _to_memory(gopher_rules(stream, **rule_bounds), query_name)


def stream_dsir_gate(
    spark: SparkSession,
    input_dir: str,
    model: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    n_buckets: int = None,
) -> StreamingQuery:
    """Streaming DSIR scoring at ingest: each arriving document is
    scored against a FIXED pre-trained (f, lr) model
    (``analysis.dsir_model``, trained once on a reference corpus +
    in-domain sample) — the deployment shape of importance
    resampling, where the model is a broadcast artifact and the
    stream only pays the score path (explode + broadcast join +
    per-doc sum).

    The model covers the whole finite feature space, so documents
    with tokens the training corpus never saw still score, and the
    gate never retrains mid-stream (the statistically correct
    shape).  The per-doc aggregate runs per micro-batch, so results
    equal the batch ``dsir_score`` with the same model on the same
    rows (asserted by test).  Exactly-once file sink."""
    from .textops.analysis import DSIR_BUCKETS, dsir_score

    nb = n_buckets or DSIR_BUCKETS
    return _to_files(
        _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger),
        lambda batch: dsir_score(batch.select("doc_id", "text"), model, nb),
        output_dir,
        checkpoint_dir,
    )


def stream_pq_encode(
    spark: SparkSession,
    input_dir: str,
    codebook: DataFrame,
    query_name: str = "pq_encode",
    max_files_per_trigger: int = 4,
):
    """Streaming PQ encoding at ingest: every arriving embedding is
    compressed to its M subspace codes against a FIXED pre-trained
    codebook (``similarity.pq_train``, trained once — over a hash
    sample at web scale) — the deployment shape of vector-index
    ingestion, where the codebook is a broadcast artifact and the
    stream pays only the one-projection encode path (no shuffle, no
    state).  Stateless narrow transformation: identical codes to the
    batch ``pq_assign`` with the same codebook on the same rows
    (asserted by test).  Append-mode memory sink."""
    from .textops.similarity import pq_assign

    emb_schema = "vec_id long, embedding array<float>, label int"
    stream = _read(spark, input_dir, emb_schema, max_files_per_trigger)
    return _to_memory(pq_assign(stream, codebook), query_name)


def stream_bm25_gate(
    spark: SparkSession,
    input_dir: str,
    model: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Streaming BM25 scoring at ingest: every arriving document is
    scored against a FIXED retrieval model (``analysis.bm25_model``,
    trained once on a reference corpus) — the deployment shape of
    targeted curation, where the few-KB model broadcasts and each
    micro-batch pays only explode -> broadcast join -> exact integer
    per-(doc, query) sum.  df/idf/avgdl are frozen, so arriving
    documents never shift the ranking function and a replayed file
    scores identically.  The per-doc aggregate runs per micro-batch,
    so results equal the batch ``bm25_score`` with the same model on
    the same rows (asserted by test).  Exactly-once file sink."""
    from .textops.analysis import bm25_score

    return _to_files(
        _read(spark, input_dir, DOC_TABLE_SCHEMA, max_files_per_trigger),
        lambda batch: bm25_score(batch.select("doc_id", "text"), model),
        output_dir,
        checkpoint_dir,
    )
