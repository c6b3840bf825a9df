"""Unit tests for bench.py's vs-prev comparison logic (VERDICT r06 next
#3): the real calibration signal depends on the host each round runs on,
so the flagging LOGIC is pinned here on synthetic artifacts — every branch
of machine_factor / calibration_factor / machine_factor_disagrees is
exercised without a SparkSession."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

TIMES = {"q1": 1.0, "q2": 2.0, "q3": 4.0}


def test_uniform_shift_is_machine_factor_not_regressions():
    prev = {"sf": 0.1, "queries": {"q1": 0.5, "q2": 1.0, "q3": 2.0}}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib=None)
    assert out["machine_factor"] == 2.0  # everything exactly 2x slower
    assert out["regressions"] == []  # uniform -> environment, not code


def test_single_query_regression_flagged_relative_to_median():
    prev = {"sf": 0.1, "queries": {"q1": 1.0, "q2": 2.0, "q3": 1.0}}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib=None)
    # q1/q2 at 1.0x -> median 1.0; q3 at 4.0x > 1.5x relative -> flagged
    assert out["machine_factor"] == 1.0
    assert out["regressions"] == ["q3"]


def test_regression_gated_by_min_sample_noise_floor():
    """VERDICT r09 next #1: contention noise is one-sided (it only ADDS
    time), so a row whose MEDIAN regressed but whose best run is back at
    the prior level is scheduling noise, not code — r09 flagged
    corpus_batch_lineage at 3.32x on exactly that signature.  With
    cur_min provided, only the row whose min is ALSO >1.5x stays
    flagged."""
    prev = {
        "sf": 0.1,
        "queries": {"q1": 1.0, "q2": 2.0, "q3": 1.0, "q4": 1.0, "q5": 3.0},
    }
    times = {"q1": 1.0, "q2": 2.0, "q3": 4.0, "q4": 4.0, "q5": 3.0}
    cur_min = {"q1": 0.9, "q2": 1.9, "q3": 1.1, "q4": 3.8, "q5": 2.9}
    out = bench.compare_to_prev(times, 0.1, prev, calib=None, cur_min=cur_min)
    assert out["machine_factor"] == 1.0
    # q3: median 4x but min 1.1x -> noise, ungated q4: min 3.8x -> real
    assert out["regressions"] == ["q4"]


def test_regression_without_cur_min_keeps_median_only_rule():
    prev = {"sf": 0.1, "queries": {"q1": 1.0, "q2": 2.0, "q3": 1.0}}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib=None)
    assert out["regressions"] == ["q3"]  # backward-compatible path


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
        prev_round=9,
        vs_prev={k: 1.0 for k in times},
        machine_factor=1.0,
        regressions=[],
        calib={"calib_jvm_sec": 0.146, "calib_py_sec": 0.152},
        calib_factor=1.0,
        disagree=False,
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
        prev_round=9,
        vs_prev={k: 1.0 for k in times},
        machine_factor=1.0,
        regressions=[],
        calib={"calib_jvm_sec": 0.146, "calib_py_sec": 0.152},
        calib_factor=1.0,
        disagree=False,
        e2e={"streaming_e2e_clients": 8},
    )
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["spread_over_1p5x"] == len(times)


def test_different_sf_prior_clears_vs_prev_and_disagree():
    """ADVICE r06 low: an sf-mismatched prior must not leave
    machine_factor_disagrees computable — machine_factor would be the 1.0
    default with no query comparison behind it."""
    prev = {
        "sf": 0.01,  # prior at a different scale factor
        "queries": {"q1": 0.5, "q2": 1.0, "q3": 2.0},
        "calib_jvm_sec": 0.1,
        "calib_py_sec": 0.1,
    }
    calib = {"calib_jvm_sec": 0.5, "calib_py_sec": 0.5}  # probes 5x slower
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["vs_prev"] == {}
    assert out["machine_factor"] == 1.0
    # the probe ratio IS computed (probes are sf-independent)...
    assert out["calibration_factor"] == 5.0
    # ...but disagree stays False: no query-side estimator to disagree with
    assert out["machine_factor_disagrees"] is False


def test_disagree_fires_when_query_factor_and_probes_diverge():
    """Queries uniformly 2x slower while the synthetic probes are flat:
    that 2x is NOT the machine — the signature of a real uniform
    regression (a session conf mistake, a slow default flipped) that the
    query-derived median alone would launder as 'environment'."""
    prev = {
        "sf": 0.1,
        "queries": {"q1": 0.5, "q2": 1.0, "q3": 2.0},
        "calib_jvm_sec": 0.2,
        "calib_py_sec": 0.4,
    }
    calib = {"calib_jvm_sec": 0.2, "calib_py_sec": 0.4}  # host unchanged
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["machine_factor"] == 2.0
    assert out["calibration_factor"] == 1.0
    assert out["machine_factor_disagrees"] is True


def test_agreement_within_band_does_not_fire():
    prev = {
        "sf": 0.1,
        "queries": {"q1": 0.5, "q2": 1.0, "q3": 2.0},
        "calib_jvm_sec": 0.2,
        "calib_py_sec": 0.4,
    }
    # probes ~2x slower too: same machine-wide story as the queries
    calib = {"calib_jvm_sec": 0.38, "calib_py_sec": 0.84}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["machine_factor"] == 2.0
    assert out["machine_factor_disagrees"] is False


def test_prior_without_probes_gives_vacuous_calibration():
    prev = {"sf": 0.1, "queries": {"q1": 1.0, "q2": 2.0, "q3": 4.0}}
    calib = {"calib_jvm_sec": 0.2, "calib_py_sec": 0.4}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["calibration_factor"] == 1.0
    assert out["machine_factor_disagrees"] is False


def test_one_volatile_probe_with_other_agreeing_does_not_fire():
    """r07 field observation: the JVM probe swings 3x with host load
    (0.071-0.225 s on equivalent hosts) while the Python probe and the
    queries stay flat — that is probe noise, not a uniform regression,
    and must NOT flag.  The regression signature requires the query
    factor to sit outside the band of EVERY probe family."""
    prev = {
        "sf": 0.1,
        "queries": {"q1": 1.0, "q2": 2.0, "q3": 4.0},  # queries flat (1.0x)
        "calib_jvm_sec": 0.225,
        "calib_py_sec": 0.144,
    }
    calib = {"calib_jvm_sec": 0.071, "calib_py_sec": 0.143}  # jvm wild
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["machine_factor"] == 1.0
    assert out["machine_factor_disagrees"] is False


def test_disagree_requires_both_families_outside_band():
    """Queries 2x slower, BOTH probes flat -> fires (each family
    individually outside the band)."""
    prev = {
        "sf": 0.1,
        "queries": {"q1": 0.5, "q2": 1.0, "q3": 2.0},  # queries 2x
        "calib_jvm_sec": 0.2,
        "calib_py_sec": 0.4,
    }
    calib = {"calib_jvm_sec": 0.2, "calib_py_sec": 0.4}
    out = bench.compare_to_prev(TIMES, 0.1, prev, calib)
    assert out["machine_factor_disagrees"] is True


def _render(times, regressions=(), noisy=()):
    return bench.summary_lines(
        times=times,
        spread={k: [v, v] for k, v in times.items()},
        noisy=list(noisy),
        total=round(sum(times.values()), 3),
        run_counts={k: 3 for k in times},
        sf=0.1,
        n_events=100000,
        pipeline_sec=0.758,
        prev_round=7,
        vs_prev={k: 1.23 for k in times},
        machine_factor=1.25,
        regressions=list(regressions),
        calib={"calib_jvm_sec": 0.146, "calib_py_sec": 0.152},
        calib_factor=0.828,
        disagree=False,
        e2e={
            "streaming_e2e_clients": 8,
            "streaming_e2e_events_delivered": 476912,
            "streaming_e2e_wall_sec": 38.034,
            "streaming_e2e_events_per_sec": 12539.0,
            "streaming_e2e_events_per_sec_per_client": 1567.4,
            "streaming_e2e_client_min_max": [59614, 59614],
            "streaming_e2e_runs": 5,
            "streaming_e2e_rate_min_max": [11927.4, 14528.3],
        },
    )


def test_final_line_fits_driver_tail_window_for_current_headline():
    """BENCH_r07 regression: the driver keeps only the last ~2 KiB of
    stdout and parses the FINAL line; r07's line (queries + vs_prev on one
    line) overflowed and came back "parsed": null.  Pin: with the CURRENT
    headline list the final line must fit the budget with margin, be valid
    self-contained JSON, and carry every per-query median."""
    times = {name: 1.234 for name in bench.HEADLINE}
    lines = _render(times)
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert "queries_truncated" not in parsed
    # the bulky dicts moved to their own preceding lines
    assert "vs_prev" not in parsed
    ctx = json.loads(lines[1])
    assert set(ctx["vs_prev"]) == set(bench.HEADLINE)


def test_regression_names_shed_before_any_query_median():
    """VERDICT r15 what's-wrong #1: the r15 run carried a six-name
    regressions_vs_prev list (~160 bytes r14's empty list didn't), blew
    FINAL_LINE_BUDGET, and the last-resort shed truncated the 6 fastest
    query medians out of the driver's vs_prev audit.  Pin: with the
    CURRENT headline list, realistic 3-decimal medians, a 6-name
    regression list AND a nonempty noisy list, the final line must keep
    EVERY per-query median — the name lists shed to counts first."""
    times = {name: 12.345 for name in bench.HEADLINE}
    regs = sorted(bench.HEADLINE)[:6]
    noisy = sorted(bench.HEADLINE)[6:14]
    lines = _render(times, regressions=regs, noisy=noisy)
    final = lines[-1]
    assert len(final) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(final)
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert "queries_truncated" not in parsed
    # the regression signal survives at least as a count
    assert parsed["regressions_vs_prev"] in (regs, len(regs))


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

def test_recover_from_tail_on_the_real_r07_artifact():
    """The r07 artifact is the actual failure that broke the vs_prev chain
    (parsed: null -> r08 compared against r06, VERDICT r08 next #1): the
    recovery path must reconstruct its queries dict from the raw tail so
    the chain can never skip a round again.  Pinned on the committed
    artifact itself."""
    path = os.path.join(os.path.dirname(__file__), "..", "BENCH_r07.json")
    data = json.load(open(path))
    assert data["parsed"] is None  # the failure this guards against
    rec = bench.recover_from_tail(data["tail"])
    assert rec["recovered_from_tail"] is True
    assert rec["sf"] == 0.1
    q = rec["queries"]
    # spot-pin values visible in the fragment — including the r07-added
    # rows whose regression audit the broken chain skipped
    assert q["text_gopher_gate"] == 0.616
    assert q["knn_ivfpq_topk"] == 8.318
    assert q["embed_hard_negatives"] == 2.748
    assert q["dedup_minhash_lsh"] == 1.797
    # the head-truncated partial pair ("...ep_first":0.263) must be DROPPED,
    # not misattributed to a mangled key
    assert all(k.isidentifier() for k in q)
    assert "ep_first" not in q
    # nothing from the vs_prev / e2e region after the queries dict leaks in
    assert "streaming_e2e_clients" not in q
    assert "machine_factor_vs_prev" not in q


def test_recover_from_tail_with_full_queries_dict_in_window():
    tail = (
        'noise line\n'
        '{"metric":"headline_queries_total","value":1.0,"unit":"sec",'
        '"queries":{"q1":0.5,"q2":1.25},"runs_per_query":3,"sf":0.01,'
        '"calib_jvm_sec":0.1,"calib_py_sec":0.2}'
    )
    rec = bench.recover_from_tail(tail)
    assert rec["queries"] == {"q1": 0.5, "q2": 1.25}
    assert rec["sf"] == 0.01
    assert rec["calib_jvm_sec"] == 0.1


def test_recover_from_tail_without_queries_region_returns_empty():
    assert bench.recover_from_tail('{"metric":"x","value":1}') == {}
    assert bench.recover_from_tail("") == {}


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
    assert bench.should_escalate([1.0, 1.0, 1.6], prev_median=None)
    assert not bench.should_escalate([1.0, 1.1, 1.2], prev_median=None)


def test_should_escalate_on_vs_prev_tail():
    """VERDICT r10 next #8: a 3-run row whose median is >1.25x the prior
    round's median buys itself MAX_RUNS the SAME round — r10's
    pack_sequences_by_source (vs_prev 1.32, 3 runs, spread under 1.5x)
    would have escalated under this rule."""
    # median 0.363 vs prev 0.274 -> 1.32x: escalates even with tight spread
    assert bench.should_escalate([0.355, 0.363, 0.370], prev_median=0.274)
    # 1.2x with tight spread: stays at BASE_RUNS
    assert not bench.should_escalate([0.32, 0.33, 0.34], prev_median=0.274)
    # no prior (new row / sf change): spread rule alone decides
    assert not bench.should_escalate([0.355, 0.363, 0.370], prev_median=None)
    assert not bench.should_escalate([0.355, 0.363, 0.370], prev_median=0.0)


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
