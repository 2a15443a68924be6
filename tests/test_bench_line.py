"""The bench stdout line's ~1900-char budget is load-bearing: the
driver parses only the last ~2000 chars of stdout (r5's full-width line
overflowed it and the round's numbers were recorded as parsed:null).
Pin the budget with a registry bigger than today's."""

import json


def test_bench_line_fits_driver_tail_budget():
    import bench

    timings = {f"query_with_a_long_name_{i:03d}": 123.456 for i in range(240)}
    # the longest error a failed split can carry
    error = bench._first_line(
        RuntimeError("flagship failed: " + "x" * 500 + "\nsecond line")
    )
    line = bench.format_bench_line(
        timings,
        0.1,
        {
            "flagship_cold_sec": 63.123,
            "flagship_warm_build_sec": 8.712,
            "flagship_warm_exec_sec": 14.321,
            "flagship_budget_sec": 25.0,
            "flagship_budget_breach": False,
            "flagship_error": error,
        },
    )
    assert len(line) < 1900
    parsed = json.loads(line)
    assert parsed["queries_timed"] == 240
    assert parsed["value"] == round(123.456 * 240, 3)
    # slowest-first truncation keeps SOME per-query detail
    assert parsed["queries"]
    assert parsed["flagship_cold_sec"] == 63.123
    # r8 lesson: the budget verdict must survive inside the payload the
    # driver parses — stderr warnings are lost to the stdout tail
    assert parsed["flagship_budget_breach"] is False
    assert parsed["flagship_budget_sec"] == 25.0
    # a failed split is recorded, not swallowed, and stays one short line
    assert parsed["flagship_error"] == error
    assert error.startswith("RuntimeError: flagship failed: ")
    assert "second line" not in error


def test_bench_line_small_registry_keeps_everything():
    import bench

    timings = {f"q{i}": float(i) for i in range(10)}
    parsed = json.loads(bench.format_bench_line(timings, 0.01))
    assert len(parsed["queries"]) == 10
