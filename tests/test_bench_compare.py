"""Unit tests for bench.py: the budget-capped final-line rendering
(``summary_lines``), without a SparkSession, and the per-row job counts
(``profile_row``) on one cheap headline row."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

CONTEXT = {"cpus": 4, "default_parallelism": 8}


def _render(times):
    return bench.summary_lines(
        times=times,
        spread={k: [v, v] for k, v in times.items()},
        total=round(sum(times.values()), 3),
        sf=0.1,
        n_events=100000,
        pipeline_sec=0.758,
        context=CONTEXT,
    )


def test_final_line_fits_driver_tail_window_for_current_headline():
    """r07 regression: a reader that keeps only the last ~2 KiB of stdout
    parses the FINAL line; r07's line (queries + a bulky per-query dict on
    one line) overflowed and came back unparseable.  Pin: with the CURRENT
    headline list the final line must fit the budget with margin, be valid
    self-contained JSON, and carry every per-query median; the line before
    it names the host (cpus, default_parallelism)."""
    times = {name: 1.234 for name in bench.HEADLINE}
    lines = _render(times)
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert "queries_truncated" not in parsed
    # the host context rides its own preceding line
    ctx = json.loads(lines[1])
    assert (ctx["cpus"], ctx["default_parallelism"]) == (4, 8)


def test_final_line_truncates_slowest_first_when_over_budget():
    """If a future round doubles the headline list the final line must
    still parse: slowest queries stay on the final line (the
    regression-relevant ones), the full dict moves one line up."""
    times = {f"query_with_a_rather_long_name_{i:03d}": float(i) for i in range(120)}
    lines = _render(times)
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["queries_truncated"] == 120 - len(parsed["queries"])
    kept = parsed["queries"]
    cut_max = max(v for k, v in times.items() if k not in kept)
    assert min(kept.values()) >= cut_max  # slowest kept
    full = json.loads(lines[2])
    assert full["metric"] == "headline_queries_full"
    assert full["queries"] == times


def test_final_line_drops_queries_entirely_as_last_resort():
    """ADVICE r08: the truncation loop used to stop at one kept entry, so a
    single enormous query name (or grown fixed fields) could still ship an
    over-budget, unparseable final line.  Now the dict is dropped entirely
    and the full dict one line up is the reader's fallback."""
    times = {"q" * 1800: 2.0, "short": 1.0}  # slowest entry alone over budget
    lines = _render(times)
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["queries"] == {}
    assert parsed["queries_truncated"] == 2
    full = json.loads(lines[2])
    assert full["queries"] == times


def test_profile_row_job_counts_are_exact(spark, sf_dir):
    """The bench records each run's Spark job counts because, unlike its
    wall time, they do not vary between runs of the same code: two runs
    of one headline row issue the same build and execute jobs."""
    first = bench.profile_row(spark, "a2_bytes_total", sf_dir)
    second = bench.profile_row(spark, "a2_bytes_total", sf_dir)
    for run in (first, second):
        assert isinstance(run["build_jobs"], int)
        assert isinstance(run["exec_jobs"], int)
        assert run["exec_jobs"] >= 1
    assert (first["build_jobs"], first["exec_jobs"]) == (
        second["build_jobs"], second["exec_jobs"]
    )
