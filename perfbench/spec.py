"""Metric names and units the runner prints; BENCHMARK.json declares
the same set (checked by test_perfbench.py)."""

from __future__ import annotations

RUN_SECONDS = 25

WORKLOADS = {
    "extract_flat": "mixed flat corpus through extract_spans into noop: only "
                    "the kernel and the JVM-Arrow-Python boundary work",
    "checkpoint_job": "run_job over the mix plus a 0.1% heavy tail: partitioned "
                      "write, observe() lineage, resume and the skew split",
}

# name -> (unit, better)
END_TO_END = {
    "wall_s": ("s", "lower"),
    "docs_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}

FAMILIES = ("ora", "memo", "media", "ordsum", "bigdoc", "bigmedia", "bigtable")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.transfer_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.engine_overhead_s": "s",
    "pipeline.pack_us_per_doc": "us",
    "pipeline.write_commit_s": "s",
    "pipeline.output_files": "count",
    "pipeline.lineage_rows": "count",
    "pipeline.resume_buckets": "count",
    "pipeline.resume_s": "s",
    "pipeline.heavy_docs": "count",
    "pipeline.heavy_branch_s": "s",
    "pipeline.light_branch_s": "s",
    "pipeline.rebalance_gain": "ratio",
    "pipeline.scaling_eff": "ratio",
    "pipeline.layer_sum_gap": "ratio",
    "kernel.parse_us_per_doc": "us",
    "kernel.recipe_us_per_doc": "us",
    **{f"kernel.recipe_us_per_doc.{f}": "us" for f in FAMILIES},
    "kernel.docs_per_s_1proc": "1/s",
    "kernel.heavy_doc_s_max": "s",
    "sources.pdf_parse_us_per_doc": "us",
    "sources.pdf_bytes_per_doc": "B",
    "sources.parse_error_docs": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "error_frac": "ratio",
}

# Per-layer metrics where a larger value is better; for every other one
# (times, file and doc counts, bytes, gaps, memory) smaller is.
PER_LAYER_HIGHER = {
    "pipeline.rebalance_gain", "pipeline.scaling_eff", "kernel.docs_per_s_1proc",
}

# Wall seconds of one run (untraced, traced) per workload at
# RUN_SECONDS on a 4-CPU host, fixtures built in the run: the slowest of ten
# untraced runs (53 s, 66 s) and one traced run (71 s, 88 s), plus a
# tenth for the shared VM's slow phases.  test_perfbench checks the
# run-time budget with them.
RUN_COST_S = {
    "extract_flat": (58.0, 78.0),
    "checkpoint_job": (73.0, 97.0),
}
