"""Root-cause experiment for the r10 streaming-e2e drop (VERDICT r10
next #1): the 8-client e2e fell 21.5k -> 15.8k events/s on a faster host
with zero streaming-code change — a single-point measurement that could
be (a) host contention, (b) contamination from the 41-query headline
loop that precedes the e2e's slot in bench.py, or (c) a real regression
hiding behind "implausible".

Protocol: in ONE session,
  1. warm the streaming path once (JVM + Python DataSource + codegen);
  2. run the e2e N times FRESH (before any headline query has run);
  3. run a heavy-query contamination proxy (the 6 most expensive
     headline rows, one pass — checkpoint pressure, GC debris, page
     cache churn — the state the e2e inherits in bench.py's run order);
  4. run the e2e N more times POST-SUITE.

If post-suite rates sit systematically below fresh rates, the r10 drop
is bench-suite contamination and the e2e's slot must move/clean; if the
two distributions overlap, the drop was host noise and the median+spread
regime (which this experiment's N-run protocol becomes in bench.py)
absorbs it going forward.

Usage: python tools/e2e_variance.py [runs_per_arm]

PAIRED A/B MODE (VERDICT r11 next #7): host variance between sessions
(±70% measured across r10-r11) exceeds any plausible code effect on the
e2e number, so judging a streaming/ change by comparing two SESSIONS is
hopeless.  The paired mode interleaves the two builds in ONE session —
order-counterbalanced (AB, BA, AB, ...) so slow drift cancels within
pairs — and reports per-pair ratios plus an exact two-sided sign test:
the host noise that moves BOTH arms of a pair together divides out.

    python tools/e2e_variance.py --paired [n_pairs] [--b MODULE:FN] \
        [--a MODULE:FN]

Arm A defaults to the current ``bench.streaming_e2e`` (override with
``--a`` to pair any two builds of the same surface — e.g. a kernel's
old vs new sort).  Arm B defaults to a known-direction demonstration
variant (the same server with 4x smaller micro-batches — more per-batch
scheduling overhead, predictably slower),
and ``--b mymod:fn`` swaps in any callable ``fn(spark, sf_dir) -> dict``
with a ``streaming_e2e_events_per_sec`` key — e.g. the OLD server build
checked out under a different module name, which is how a future
streaming/ change gets judged above the noise.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from reddit_sse_stream_spark.plans.catalog import QUERIES
from reddit_sse_stream_spark.session import get_spark, release_local_checkpoints

HEAVY = (
    "knn_ivfpq_residual_topk",
    "text_suffix_ranks",
    "knn_ivfpq_topk",
    "knn_ivf_incremental_assign",
    "dedup_source_minhash_sampled",
    "dedup_semdedup_cells",
)


def _demo_arm_b(spark, sf_dir: str) -> dict:
    """Demonstration B arm: the identical server driven with 4x smaller
    micro-batches (2 500 ids/trigger vs 10 000) — same delivered events,
    4x the trigger/scheduling boundaries, so the rate should sit
    SYSTEMATICALLY below arm A if the paired protocol can resolve a real
    effect through host noise."""
    return bench.streaming_e2e(spark, sf_dir, max_ids_per_batch=2500)


def _sign_test_p(n_b_slower: int, n: int) -> float:
    """Exact two-sided sign-test p-value: probability under the null
    (each pair a fair coin) of a split at least this extreme."""
    k = max(n_b_slower, n - n_b_slower)
    tail = sum(math.comb(n, i) for i in range(k, n + 1)) / 2.0**n
    return min(1.0, 2.0 * tail)


def paired_main(args: list[str]) -> None:
    n_pairs = 5
    a_spec = None
    b_spec = None
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--b":
            b_spec = args[i + 1]
            i += 2
        elif args[i] == "--a":
            a_spec = args[i + 1]
            i += 2
        else:
            rest.append(args[i])
            i += 1
    if rest:
        n_pairs = int(rest[0])

    def _load(spec):
        mod, fn = spec.split(":")
        return getattr(importlib.import_module(mod), fn)

    arm_a = _load(a_spec) if a_spec else bench.streaming_e2e
    arm_b = _load(b_spec) if b_spec else _demo_arm_b
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("e2e_variance_paired")

    # warm BOTH arms once at the smallest sf (JVM, Python DataSource
    # workers, HTTP paths) so neither pays first-compile inside a pair
    arm_a(spark, "/root/testdata/sf0.001")
    arm_b(spark, "/root/testdata/sf0.001")

    rate = lambda r: r["streaming_e2e_events_per_sec"]  # noqa: E731
    pairs = []
    for k in range(n_pairs):
        if k % 2 == 0:  # counterbalanced order: AB, BA, AB, ...
            ra, rb = rate(arm_a(spark, sf_dir)), rate(arm_b(spark, sf_dir))
        else:
            rb, ra = rate(arm_b(spark, sf_dir)), rate(arm_a(spark, sf_dir))
        pairs.append({"a": ra, "b": rb, "ratio_b_over_a": round(rb / ra, 4)})
    ratios = sorted(p["ratio_b_over_a"] for p in pairs)
    n_b_slower = sum(1 for p in pairs if p["b"] < p["a"])
    out = {
        "mode": "paired",
        "n_pairs": n_pairs,
        "arm_a": a_spec or "bench.streaming_e2e",
        "arm_b": b_spec or "demo: max_ids_per_batch=2500 (4x smaller micro-batches)",
        "pairs": pairs,
        "ratio_b_over_a_sorted": ratios,
        "ratio_median": ratios[n_pairs // 2],
        "n_pairs_b_slower": n_b_slower,
        "sign_test_p_two_sided": round(_sign_test_p(n_b_slower, n_pairs), 4),
    }
    print(json.dumps(out, indent=1))


def main() -> None:
    if "--paired" in sys.argv[1:]:
        args = [a for a in sys.argv[1:] if a != "--paired"]
        paired_main(args)
        return
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("e2e_variance")

    # warm-up: one throwaway e2e at the smallest sf (JVM, Python
    # DataSource workers, HTTP server code paths all compile/heat)
    bench.streaming_e2e(spark, "/root/testdata/sf0.001")

    fresh = [bench.streaming_e2e(spark, sf_dir) for _ in range(runs)]
    for q in HEAVY:
        QUERIES[q].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        release_local_checkpoints(spark)
    post = [bench.streaming_e2e(spark, sf_dir) for _ in range(runs)]

    def rates(arm):
        return sorted(r["streaming_e2e_events_per_sec"] for r in arm)

    out = {
        "runs_per_arm": runs,
        "fresh_rates_sorted": rates(fresh),
        "post_suite_rates_sorted": rates(post),
        "fresh_median": rates(fresh)[runs // 2],
        "post_median": rates(post)[runs // 2],
        "fresh_detail": fresh,
        "post_detail": post,
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
