"""Unit tests for bench.py's stdout contract.

Callers may keep only a bounded stdout tail, so the bench's last stdout
line must be a slim (<1 KB) JSON headline, with the full record in a
file.
No Spark, sub-second.
"""

import json

import bench

RESULT = {
    "metric": "flagship extraction wall time (mixed corpus, local[4])",
    "value": 2.127,
    "unit": "sec",
    "sf": 0.1,
    "docs": 20000,
    "docs_per_sec": 9402.9,
    "pdf_path": {"docs": 6000, "sec": 4.8, "docs_per_sec": 1250.0},
    "lsh_audit": {"minhash_perms": 32, "bands": 16, "rows_per_band": 2,
                  "oversized_buckets": 0, "capped_pairs_dropped": 0,
                  "cc_rounds": 5},
    "queries": {f"q{i}": 0.5 for i in range(65)},  # must drop
    "query_build_secs": {f"q{i}": 0.3 for i in range(65)},  # must drop
}


def test_slim_headline_under_capture_window():
    headline = bench._slim_headline(RESULT)
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line.encode()) < 1024
    assert "queries" not in headline


def test_emit_result_quick_writes_record_and_ends_stdout(
    tmp_path, monkeypatch, capsys
):
    monkeypatch.chdir(tmp_path)
    full = {**RESULT, "query_passes": {f"q{i}": [0.5] for i in range(65)}}
    print("earlier output")
    bench._emit_result(RESULT, full=full, quick=True)

    with open(tmp_path / "BENCH" / "RESULT_quick.json") as f:
        assert json.load(f) == full
    assert not (tmp_path / "BENCH" / "RESULT.json").exists()
    last = capsys.readouterr().out.splitlines()[-1]
    assert len(last.encode()) < 1024
    headline = json.loads(last)
    for k in ("value", "docs_per_sec", "pdf_path", "lsh_audit"):
        assert headline[k] == RESULT[k]
    assert headline["detail"] == "BENCH/RESULT_quick.json"
    assert "queries" not in headline
