"""The benchmark workloads.

Each workload is a batch job run as a closed loop: one client, one job
in flight, no more than ``nproc`` Spark task slots.  A workload has
four phases, all driven through the public API of
``py_pdf_parser_spark``:

* ``prepare``  — seeded fixtures and correctness expectations, before
  the session starts (kept out of every metric);
* ``warm_up``  — the first full jobs, untimed but checked; with the
  session start they are the run's set-up;
* ``iteration`` — one timed job, its outputs checked; the runner
  repeats it for the run's measuring time and reports the median.

``layers`` is the traced run's layer split.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import statistics
import sys
import time
from typing import Callable, Dict, Iterator, List, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from py_pdf_parser_spark import pipeline
from py_pdf_parser_spark.kernel.layout import family_of
from py_pdf_parser_spark.kernel.recipes import recipe_for
from py_pdf_parser_spark.sources import pdf_bytes as pdf_source
from py_pdf_parser_spark.sources.pdf_writer import bytes_config_for

from . import checks, fixtures
from .spec import FAMILIES
from .trace import Recorder, layer_sum_gap

# The light/heavy split extract_spans_rebalanced (and so run_job) uses.
HEAVY_THRESHOLD = inspect.signature(pipeline.extract_spans_rebalanced).parameters[
    "heavy_threshold"
].default


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn: Callable[[], object]) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median_of(fn: Callable[[], object], reps: int) -> float:
    return statistics.median(timed(fn) for _ in range(reps))


def _identity(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    yield from batches


_NOT_DENSE_SQL = "CAST(exists(transform(spans, (s, i) -> s.`order` = i), x -> NOT x) AS INT)"


class ExtractionCheck:
    """Correctness gate riding on an extraction job.

    ``attach`` adds an ``observe()`` to the job's output: counts over
    every output row plus the spans of the sampled docs, computed while
    the job writes.  ``check`` runs the checker on what was observed and
    accumulates the verdict over every checked job."""

    def __init__(self, docs_in: int, expected: Dict[str, list]) -> None:
        self.docs_in = docs_in
        self.expected = expected
        self.verdict = checks.Verdict(attempted=0)

    def attach(self, out: DataFrame) -> Tuple[DataFrame, Observation]:
        obs = Observation()
        sampled = F.col("doc_id").isin(list(self.expected))
        return out.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("status") != "ok").cast("int")).alias("not_ok"),
            F.sum(F.expr(_NOT_DENSE_SQL)).alias("not_dense"),
            F.collect_list(F.when(sampled, F.struct("doc_id", "spans"))).alias("sample"),
        ), obs

    def check(self, obs: Observation) -> checks.Verdict:
        m = obs.get
        actual = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in m["sample"]}
        v = checks.check_extraction(
            self.docs_in, int(m["docs"]), int(m["not_ok"] or 0), int(m["not_dense"] or 0),
            actual, self.expected,
        )
        self.verdict = self.verdict.merge(v)
        return v


# ---------------------------------------------------------------------------
# in-process kernel replay (traced run only)
# ---------------------------------------------------------------------------


class KernelTimes:
    """Accumulated single-process kernel time per doc and per family.

    Totals are weighted so that a replayed subset stands for the corpus
    mix: ``docs`` is the weighted doc count."""

    def __init__(self) -> None:
        self.docs = 0
        self.parse_s = 0.0
        self.recipe_s = 0.0
        self.pack_s = 0.0
        self.source_s = 0.0
        self.family_s: Dict[str, float] = {}
        self.family_n: Dict[str, int] = {}
        self.doc_max_s: Dict[str, float] = {}

    def per_doc_s(self) -> float:
        return (self.source_s + self.parse_s + self.recipe_s + self.pack_s) / self.docs

    def metrics(self) -> Dict[str, float]:
        us = 1e6 / self.docs
        out = {
            "kernel.parse_us_per_doc": self.parse_s * us,
            "kernel.recipe_us_per_doc": self.recipe_s * us,
            "pipeline.pack_us_per_doc": self.pack_s * us,
            "kernel.docs_per_s_1proc": 1.0 / self.per_doc_s(),
        }
        for fam in FAMILIES:
            n = self.family_n.get(fam, 0)
            out[f"kernel.recipe_us_per_doc.{fam}"] = (
                self.family_s[fam] * 1e6 / n if n else 0.0
            )
        heavy = [v for fam, v in self.doc_max_s.items() if fam.startswith("big")]
        out["kernel.heavy_doc_s_max"] = max(heavy, default=0.0)
        return out


def replay_batches(
    rec: Recorder, batches: List[pa.RecordBatch], parse_one: Callable, kt: KernelTimes,
    source_layer: bool = False, weight: float = 1.0,
) -> None:
    """Replay Arrow batches through the kernel in this process.

    ``parse_one(batch) -> [(doc_id, Doc)]`` is timed as the parse (or,
    with ``source_layer``, the PDF byte parse).  Each doc's recipe is
    timed per family.  ``pack_extracted_batch`` reruns the recipe on a
    second parse of the batch, so pack time is its wall minus the
    recipe time of the first pass.  Each replayed doc counts ``weight``
    corpus docs."""
    for batch in batches:
        with rec.span("sources.pdf_parse" if source_layer else "kernel.parse"):
            t0 = time.perf_counter()
            docs = parse_one(batch)
            dt = time.perf_counter() - t0
        if source_layer:
            kt.source_s += dt * weight
        else:
            kt.parse_s += dt * weight
        batch_recipe = 0.0
        with rec.span("kernel.recipe"):
            for doc_id, doc in docs:
                if isinstance(doc, Exception):  # packed as an error row
                    continue
                fam = family_of(doc_id)
                t0 = time.perf_counter()
                recipe_for(doc_id)(doc)
                dt = time.perf_counter() - t0
                batch_recipe += dt
                kt.family_s[fam] = kt.family_s.get(fam, 0.0) + dt
                kt.family_n[fam] = kt.family_n.get(fam, 0) + 1
                kt.doc_max_s[fam] = max(kt.doc_max_s.get(fam, 0.0), dt)
        kt.recipe_s += batch_recipe * weight
        kt.docs += len(docs) * weight
        fresh = parse_one(batch)
        with rec.span("pipeline.pack"):
            t0 = time.perf_counter()
            pipeline.pack_extracted_batch(fresh, len(fresh))
            kt.pack_s += max(0.0, time.perf_counter() - t0 - batch_recipe) * weight


def parse_span_batch(batch: pa.RecordBatch) -> List[Tuple[str, object]]:
    """The spans path's own per-batch parse (``doc_from_arrays`` per doc)."""
    return [(doc_id, doc) for _, doc_id, doc in pipeline._iter_docs(batch)]


def parse_pdf_batch(batch: pa.RecordBatch) -> List[Tuple[str, object]]:
    """The byte path's own per-batch parse (``doc_from_pdf_bytes`` per
    doc), with the settings the workload's job uses."""
    return list(pdf_source._iter_pdf_docs(
        batch, "pdf_bytes", None, None, bytes_config_for, None, include_media=True,
    ))


def prefix_set(path: str, columns: List[str], limit: int, docs_in: int):
    """A prefix of a fixture as one replay set, weighted to the whole
    corpus (rows are in seeded order, so a prefix keeps the family mix)."""
    table = pq.read_table(path, columns=columns).slice(0, limit)
    return [(table.to_batches(max_chunksize=200), docs_in / table.num_rows)]


def skew_sets(path: str, limit: int):
    """Every doc of the heavy families plus a prefix of the others,
    weighted back to the corpus mix."""
    table = pq.read_table(path, columns=["doc_id", "spans"])
    heavy = pc.starts_with(table.column("doc_id"), "big")
    rest = table.filter(pc.invert(heavy))
    light = rest.slice(0, limit)
    return [
        (light.to_batches(max_chunksize=200), rest.num_rows / light.num_rows),
        (table.filter(heavy).to_batches(max_chunksize=8), 1.0),
    ]


def replay(rec: Recorder, sets, parse_one: Callable = None, source_layer: bool = False):
    """In-process kernel replay of (batches, weight) sets; returns the
    times and the whole corpus's estimated single-process kernel time."""
    kt = KernelTimes()
    with rec.span("kernel.replay"):
        for batches, weight in sets:
            replay_batches(rec, batches, parse_one or parse_span_batch, kt, source_layer, weight)
    return kt, kt.per_doc_s() * kt.docs


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    n_docs = 0
    sample_per_family = 25
    min_iterations = 2
    warm_passes = 2
    measures_scaling = False  # True: the traced run adds the local[1] job

    def __init__(self, seed: int, out_dir: str) -> None:
        self.seed = seed
        self.out_dir = out_dir

    def prepare(self) -> None:
        raise NotImplementedError

    def _prepare_check(self, path: str) -> None:
        """Seeded sample and its expectation."""
        ids = fixtures.doc_ids(path)
        cache = os.path.join(path, f"_expected-{self.sample_per_family}.json")
        if os.path.exists(cache):
            with open(cache) as fh:
                expected = {d: [tuple(s) for s in v] for d, v in json.load(fh).items()}
        else:
            picked = checks.sample_ids(ids, self.seed, self.sample_per_family)
            expected = checks.expected_spans(path, fixtures.read_sample(path, picked))
            fixtures.write_json(cache, expected)
        self.check = ExtractionCheck(len(ids), expected)

    def configure(self, spark: SparkSession) -> None:
        """Per-session settings a user of the API would make."""

    def warm_up(self, spark: SparkSession) -> None:
        """``warm_passes`` full jobs: the first pays the cold JVM and the
        Python worker start, the rest the JIT and per-worker caches that
        keep later jobs from speeding up while they are timed."""
        walls = [self.iteration(spark) for _ in range(self.warm_passes)]
        sys.stderr.write(f"perfbench warm-up {[round(w, 3) for w in walls]}\n")

    def iteration(self, spark: SparkSession) -> float:
        raise NotImplementedError

    def verdict(self, spark: SparkSession) -> checks.Verdict:
        """Correctness of every output checked so far."""
        return self.check.verdict

    def layers(self, spark, rec: Recorder, wall: float, nproc: int) -> Dict[str, float]:
        raise NotImplementedError

    def cleanup(self) -> None:
        pass

    def _scan_transfer(self, spark, rec: Recorder, path: str, cols: List[str]) -> Dict[str, float]:
        """Scan-only job, and an identity ``mapInArrow`` over the same
        columns: transfer is the difference."""
        def scan() -> None:
            noop(spark.read.parquet(path).select(*cols))

        def ident() -> None:
            df = spark.read.parquet(path).select(*cols)
            noop(df.mapInArrow(_identity, df.schema))

        with rec.span("pipeline.scan"):
            scan_s = median_of(scan, 3)
        with rec.span("pipeline.transfer"):
            ident_s = median_of(ident, 3)
        return {"pipeline.scan_s": scan_s, "pipeline.transfer_s": max(0.0, ident_s - scan_s)}

    def _kernel_layers(self, out: Dict[str, float], kt: KernelTimes, kernel_total_s: float,
                       extract_s: float, wall: float, nproc: int, extra: List[float] = ()):
        """Fill the kernel split; the layer sum is scan + transfer +
        single-process kernel time / nproc (+ ``extra``) against wall."""
        out.update(kt.metrics())
        kernel_par = kernel_total_s / nproc
        out["pipeline.extract_s"] = extract_s
        out["pipeline.engine_overhead_s"] = extract_s - kernel_par
        out["pipeline.layer_sum_gap"] = layer_sum_gap(
            [out["pipeline.scan_s"], out["pipeline.transfer_s"], kernel_par, *extra], wall
        )


class ExtractFlat(Workload):
    """``extract_spans`` over the flat mix into Spark's noop sink; every
    timed job carries the correctness gate.  The traced run adds the
    ``sources`` layer in process: a rendered prefix of the same seeded
    mix through the PDF byte parse."""

    name = "extract_flat"
    n_docs = 16000
    # ~1.4 s jobs that keep getting faster over the first few runs.
    warm_passes = 4
    measures_scaling = True
    columns = ["doc_id", "spans"]
    replay_docs = 4000
    prime_docs = 64
    pdf_docs = 400

    def prepare(self) -> None:
        self.path = fixtures.span_corpus(self.seed, self.n_docs)
        self._prepare_check(self.path)
        self.pdf_path = fixtures.pdf_corpus(self.seed, self.pdf_docs)

    def extract(self, spark, docs: DataFrame) -> DataFrame:
        return pipeline.extract_spans(spark, docs)

    def configure(self, spark) -> None:
        pipeline.tune_scan_splits(spark, self.path)

    def prime(self, spark) -> None:
        """A small job through the same path: starts the Python workers
        of a fresh session."""
        docs = spark.read.parquet(self.path).limit(self.prime_docs).repartition(
            spark.sparkContext.defaultParallelism
        )
        noop(self.extract(spark, docs))

    def iteration(self, spark) -> float:
        out, obs = self.check.attach(self.extract(spark, spark.read.parquet(self.path)))
        wall = timed(lambda: noop(out))
        self.check.check(obs)
        return wall

    def layers(self, spark, rec, wall, nproc):
        out = self._scan_transfer(spark, rec, self.path, self.columns)
        sets = prefix_set(self.path, self.columns, self.replay_docs, self.check.docs_in)
        kt, total = replay(rec, sets)
        self._kernel_layers(out, kt, total, wall, wall, nproc)
        out.update(self._sources_layer(rec))
        return out

    def _sources_layer(self, rec: Recorder) -> Dict[str, float]:
        """Timed replay of the rendered PDFs through the byte path's own
        parse, then (untimed) every doc's recipe output held to the
        spans path's for the same doc."""
        table = pq.read_table(self.pdf_path)
        kt, _ = replay(rec, [(table.to_batches(max_chunksize=200), 1.0)],
                       parse_pdf_batch, source_layer=True)
        spans_path = fixtures.span_corpus(self.seed, self.pdf_docs)
        spans = fixtures.read_sample(spans_path, fixtures.doc_ids(spans_path))
        want = checks.replay_expected(spans)
        v = checks.Verdict(attempted=table.num_rows)
        errors, bad = 0, []
        for batch in table.to_batches():
            for doc_id, doc in parse_pdf_batch(batch):
                if isinstance(doc, Exception):
                    errors += 1
                elif [tuple(s) for s in recipe_for(doc_id)(doc)] != want[doc_id]:
                    bad.append(doc_id)
        v.fail(errors, f"{errors} PDFs failed to parse")
        v.fail(len(bad), f"PDF byte path differs from the spans path on {bad[:5]}")
        self.check.verdict = self.check.verdict.merge(v)
        return {
            "sources.pdf_parse_us_per_doc": kt.source_s * 1e6 / kt.docs,
            "sources.pdf_bytes_per_doc": pc.mean(table.column("n_bytes")).as_py(),
            "sources.parse_error_docs": errors,
        }


class CheckpointJob(Workload):
    """``run_job`` — checkpointed and skew-aware — over the flat mix plus
    a 0.1% heavy tail (bigdoc, bigmedia, bigtable) clustered in the last
    file, so both its write/commit layer and its skew split do work."""

    name = "checkpoint_job"
    n_docs = 6000
    replay_docs = 3000
    sample_per_family = 8
    # ~5 s jobs: the first costs ~15 s and the second still up to a
    # third more than later ones; at least three timed jobs so the
    # median is not a mean of two.
    warm_passes = 2
    min_iterations = 3
    num_buckets = 8
    num_waves = 2

    def prepare(self) -> None:
        self.path = fixtures.span_corpus(self.seed, self.n_docs, skew=True)
        self._prepare_check(self.path)
        n_spans = pq.read_table(self.path, columns=["n_spans"]).column("n_spans")
        self.heavy_docs = pc.sum(pc.greater(n_spans, HEAVY_THRESHOLD)).as_py()
        self.job_dir = os.path.join(self.out_dir, "jobs")
        shutil.rmtree(self.job_dir, ignore_errors=True)
        os.makedirs(self.job_dir)
        self._runs = 0
        self.last_out = None

    @property
    def failed_wave(self) -> List[int]:
        """Buckets of the last wave (run_job deals buckets round-robin)."""
        return list(range(self.num_buckets))[self.num_waves - 1::self.num_waves]

    def _fresh_dir(self) -> str:
        self._runs += 1
        return os.path.join(self.job_dir, f"run{self._runs}")

    def _run(self, spark, out: str, **kw) -> dict:
        return pipeline.run_job(
            spark, self.path, out, num_buckets=self.num_buckets,
            num_waves=self.num_waves, **kw,
        )

    def iteration(self, spark) -> float:
        out = self._fresh_dir()
        wall = timed(lambda: self._run(spark, out))
        if self.last_out:
            shutil.rmtree(self.last_out)
        self.last_out = out
        return wall

    def _check_output(self, spark, out: str) -> None:
        """Committed output read back through the extraction gate, plus
        one ok lineage row per bucket accounting for every doc."""
        committed, obs = self.check.attach(spark.read.parquet(f"{out}/extracted"))
        noop(committed)
        self.check.check(obs)
        ok = [r for r in pq.read_table(f"{out}/_lineage").to_pylist() if r["status"] == "ok"]
        v = checks.Verdict(attempted=0)
        buckets = len({r["bucket"] for r in ok})
        v.fail(abs(self.num_buckets - buckets),
               f"lineage has {buckets} ok buckets of {self.num_buckets}")
        docs = sum(r["doc_count"] for r in ok)
        v.fail(abs(docs - self.check.docs_in), f"lineage counts {docs} docs")
        self.check.verdict = self.check.verdict.merge(v)

    def verdict(self, spark) -> checks.Verdict:
        self._check_output(spark, self.last_out)
        return self.check.verdict

    def fail_and_resume(self, spark) -> Tuple[dict, float, str]:
        """A run whose last wave fails, then its resume; returns the
        resume's stats, wall time and output dir."""
        out = self._fresh_dir()
        try:
            self._run(spark, out, fail_buckets=self.failed_wave[:1])
        except RuntimeError:
            pass
        else:
            raise RuntimeError("injected failure did not fail the run")
        t0 = time.perf_counter()
        stats = self._run(spark, out)
        return stats, time.perf_counter() - t0, out

    def layers(self, spark, rec, wall, nproc):
        out = self._scan_transfer(spark, rec, self.path, ["doc_id", "spans", "n_spans"])
        docs = spark.read.parquet(self.path)
        bucketed = docs.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(self.num_buckets)).cast("int"),
        )
        cost = F.col("n_spans")
        with rec.span("pipeline.extract"):
            extract_s = median_of(lambda: noop(pipeline.extract_spans_rebalanced(
                spark, bucketed, with_bucket=True)), 2)
        with rec.span("pipeline.extract_plain"):
            plain_s = median_of(lambda: noop(pipeline.extract_spans(
                spark, bucketed, with_bucket=True)), 2)
        with rec.span("pipeline.heavy_branch"):
            heavy_s = median_of(lambda: noop(pipeline.extract_spans(
                spark, docs.where(cost > HEAVY_THRESHOLD).repartition(nproc))), 2)
        with rec.span("pipeline.light_branch"):
            light_s = median_of(lambda: noop(pipeline.extract_spans(
                spark, docs.where(cost <= HEAVY_THRESHOLD))), 2)
        kt, total = replay(rec, skew_sets(self.path, self.replay_docs))
        write_s = wall - extract_s
        self._kernel_layers(out, kt, total, extract_s, wall, nproc, extra=[write_s])
        files = [
            f for _, _, names in os.walk(f"{self.last_out}/extracted")
            for f in names if f.endswith(".parquet")
        ]
        with rec.span("pipeline.resume"):
            stats, resume_s, resume_out = self.fail_and_resume(spark)
        self._check_output(spark, resume_out)
        wave = len(self.failed_wave)
        self.check.verdict.fail(
            int(stats["processed_buckets"] != wave),
            f"resume processed {stats['processed_buckets']} buckets, failed wave had {wave}",
        )
        shutil.rmtree(resume_out)
        out.update({
            "pipeline.write_commit_s": write_s,
            "pipeline.output_files": len(files),
            "pipeline.lineage_rows": pq.read_table(f"{self.last_out}/_lineage").num_rows,
            "pipeline.resume_buckets": stats["processed_buckets"],
            "pipeline.resume_s": resume_s,
            "pipeline.heavy_docs": self.heavy_docs,
            "pipeline.heavy_branch_s": heavy_s,
            "pipeline.light_branch_s": light_s,
            "pipeline.rebalance_gain": plain_s / extract_s,
        })
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.job_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ExtractFlat, CheckpointJob)}
