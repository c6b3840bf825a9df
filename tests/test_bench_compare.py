"""Unit tests for bench.py's pure helpers, without a SparkSession: the
budget-capped final-line rendering and its shed tiers (``summary_lines``),
the per-row statistic (``row_statistic``) and the spread escalation rule
(``should_escalate``)."""

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
#: every streaming field main() puts on the final line
E2E = {
    "streaming_e2e_clients": 8,
    "streaming_e2e_events_delivered": 476912,
    "streaming_e2e_wall_sec": 38.034,
    "streaming_e2e_events_per_sec": 12539.0,
    "streaming_e2e_events_per_sec_per_client": 1567.4,
    "streaming_e2e_client_min_max": [59614, 59614],
    "streaming_e2e_runs": 5,
    "streaming_e2e_rate_min_max": [11927.4, 14528.3],
}


def test_noisy_rows_surface_on_final_line_capped():
    """Rows whose min-max span crossed 1.5x are named on the final line
    (capped at 8 + a count marker) so the driver can read a flagged
    regression against its noise, and the line still fits the budget.

    Uses the first 20 HEADLINE names, not all of them: the capped-list
    tier is what's under test, and an ALL-noisy full-size HEADLINE
    legitimately sheds the list down to a bare count (the next tier,
    covered by test_all_noisy_full_headline_sheds_list_to_count) once the
    roster grew past ~43 rows."""
    times = {name: 1.0 for name in list(bench.HEADLINE)[:20]}
    lines = bench.summary_lines(
        times=times,
        spread={k: [0.5, 1.2] for k in times},  # all 2.4x spans
        noisy=sorted(times),  # computed in main from trimmed samples (r13)
        total=round(sum(times.values()), 3),
        run_counts={k: 7 for k in times},
        sf=0.1,
        n_events=100000,
        pipeline_sec=0.758,
        context=CONTEXT,
        e2e={"streaming_e2e_clients": 8},
    )
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    flagged = parsed["spread_over_1p5x"]
    assert len(flagged) == 9 and flagged[-1] == f"+{len(times) - 8}"
    assert parsed["runs_per_query"] == {
        "base": bench.BASE_RUNS,
        "max": bench.MAX_RUNS,
        "at_max": len(times),
    }
    # per-row run counts ride the spread line
    assert json.loads(lines[0])["runs"] == {k: 7 for k in times}


def test_all_noisy_full_headline_sheds_list_to_count():
    """When EVERY row of the full-size HEADLINE is noisy, the capped name
    list alone would blow the final-line budget, so the first shed tier
    replaces spread_over_1p5x with the bare count — still within budget,
    still loud (the names are recoverable from the spread line)."""
    times = {name: 1.0 for name in bench.HEADLINE}
    lines = bench.summary_lines(
        times=times,
        spread={k: [0.5, 1.2] for k in times},
        noisy=sorted(times),  # computed in main from trimmed samples (r13)
        total=round(sum(times.values()), 3),
        run_counts={k: 7 for k in times},
        sf=0.1,
        n_events=100000,
        pipeline_sec=0.758,
        context=CONTEXT,
        e2e=E2E,
    )
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["spread_over_1p5x"] == len(times)


def _render(times, noisy=()):
    return bench.summary_lines(
        times=times,
        spread={k: [v, v] for k, v in times.items()},
        noisy=list(noisy),
        total=round(sum(times.values()), 3),
        run_counts={k: 3 for k in times},
        sf=0.1,
        n_events=100000,
        pipeline_sec=0.758,
        context=CONTEXT,
        e2e=E2E,
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


def test_should_escalate_on_spread():
    assert bench.should_escalate([1.0, 1.0, 1.6])
    assert not bench.should_escalate([1.0, 1.1, 1.2])


def test_row_statistic_trims_one_sided_bursts():
    """The fast-row artifact statistic (VERDICT r15 next #7): two steal
    bursts among 7 samples must not move the recorded value, because the
    trim drops exactly the 2 largest; heavy rows keep the plain median."""
    clean = [0.30, 0.31, 0.31, 0.32, 0.32]
    bursty = sorted(clean + [1.9, 2.4])  # 2 of 7 samples hit a burst
    trimmed = bench.row_statistic(bursty, trim=True)
    assert trimmed == round(sum(clean) / len(clean), 3)
    # without the trim the median would be pulled by escalation ordering
    # games; with it, the burst samples are exactly the dropped ones
    assert trimmed < bench.row_statistic(bursty, trim=False) + 0.1
    # heavy-row path: plain median, untouched by the flag
    heavy = [2.0, 2.1, 2.2, 2.3, 9.9]
    assert bench.row_statistic(heavy, trim=False) == 2.2


def test_row_statistic_trim_falls_back_to_median_on_few_samples():
    """A fast row with too few samples to drop the 2 largest records its
    median instead of dividing by zero (or meaning a single survivor)."""
    assert bench.row_statistic([0.3], trim=True) == 0.3
    assert bench.row_statistic([0.3, 0.4], trim=True) == 0.4
    assert bench.row_statistic([0.30, 0.31, 2.0], trim=True) == 0.31
    five = [0.30, 0.31, 0.32, 1.9, 2.4]
    assert bench.row_statistic(five, trim=True) == 0.32
    six = [0.30, 0.31, 0.32, 0.33, 1.9, 2.4]
    assert bench.row_statistic(six, trim=True) == round(sum(six[:-2]) / 4, 3)
