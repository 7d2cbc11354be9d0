"""bench.py stdout contract: the one machine-readable line must fit the
driver's 2,000-char stdout tail capture no matter how large the benchmark
suite grows.  Round 5 lost its headline number because the full per-query
map outgrew the capture (VERDICT r5, What's wrong #1) — this pins the fix.
"""

from __future__ import annotations

import json
import sys


def _bench():
    sys.path.insert(0, "/root/repo")
    import bench

    return bench


def test_summary_line_bounded_even_for_huge_suites():
    bench = _bench()
    # simulate a suite 5x the current size with worst-case long names
    timings = {f"extremely_long_query_name_{i:04d}": 123.456 for i in range(500)}
    for name in bench.HEADLINE_QUERIES:
        timings[name] = 1.234
    streaming = {"rows_per_sec": 123456.7, "elapsed_sec": 1.0, "input_rows": 99999}
    line = bench.summary_line(9999.999, 0.1, timings, streaming, streaming)
    assert len(line) < 1500, len(line)
    assert "\n" not in line


def test_summary_line_parses_with_required_keys():
    bench = _bench()
    timings = {name: 0.5 for name in bench.BENCH_QUERIES}
    timings["ann_ivf_probe"] = 0.4
    line = bench.summary_line(42.0, 0.1, timings, {"rows_per_sec": 500.0}, {})
    obj = json.loads(line)
    assert obj["metric"] == "headline_suite_seconds"
    assert obj["value"] == 42.0
    assert obj["unit"] == "sec"
    assert obj["sf"] == 0.1
    assert obj["n_queries"] == len(timings)
    # headline subset only — never the full map
    assert set(obj["queries"]) == set(bench.HEADLINE_QUERIES)


def test_headline_queries_are_benched():
    bench = _bench()
    benched = set(bench.BENCH_QUERIES) | {"ann_ivf_probe"}
    assert set(bench.HEADLINE_QUERIES) <= benched


def test_streaming_bench_teardown_leaves_no_jvm_traces(spark, capfd):
    """The streaming bench's stream teardown must not spray JVM exception
    stacks into the captured output (VERDICT r6 #4: a stop() racing the
    no-data trigger thread logged a MicroBatchExecution stack + 'Failed to
    cancel job group' warnings, burning most of the driver's 2,000-char
    stdout tail). Runs the real 4-stage chain small, then asserts the
    process-level stdout/stderr carry no stack frames or cancel warnings."""
    bench = _bench()
    out = bench.bench_streaming(spark, "/root/testdata/sf0.001", n_messages=200)
    assert out["input_rows"] == 200 and out["rows_per_sec"] > 0
    captured = capfd.readouterr()
    combined = captured.out + captured.err
    assert "at org.apache.spark" not in combined, combined[-2000:]
    assert "Failed to cancel job group" not in combined, combined[-2000:]


def test_correctness_tool_rejects_unknown_entry_names():
    """A misspelled entry name must fail the run, not be skipped into an
    ``ALL OK`` over zero checked entries."""
    import subprocess
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "tools/check_correctness.py", "/nonexistent", "tpch_q1",
         "no_such_entry"],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 1
    assert "unknown entries: ['no_such_entry']" in out.stdout
    assert "ALL OK" not in out.stdout
