"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data) on ``local[N]``
(N = ``$SPARK_GRAFT_CPUS``, default the host's usable CPUs) and prints
the summary as the FINAL JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

(The bulky per-query min/max spread is emitted on its own preceding line so
a tail-capturing consumer always gets the complete compact summary —
VERDICT r05 #4 found the r05 artifact head-truncated.)

Each query runs RUNS times and is forced to full materialization with a
noop write (no driver collect — the plan runs distributed end to end, like
it would on a cluster).  ``BENCH_DETAIL.json`` records every run's
build/execute seconds and Spark job counts (:func:`profile_row`).  The
serving path is benchmarked out of process by ``perfbench/``.

One run's headline total does not compare across runs: the same code at
sf0.1 on a 4-core host read 68.43 s and 52.86 s in two runs about 20
minutes apart, with identical job counts.  To judge a change, compare
the per-row job counts (they repeat run to run), or interleave runs of
the parent and the change, alternating which goes first.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reddit_sse_stream_spark.plans.catalog import QUERIES
from reddit_sse_stream_spark.session import get_spark, release_local_checkpoints

#: Headline set: one per operator family (scan+filter algebra, agg, joins,
#: windows, dedup exact + minhash, text, vector search).
HEADLINE = (
    "reference_pipeline_example",
    "f5_whitelist_combiner",
    "a2_bytes_total",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "window_topk_orders_per_customer",
    "join_range_clicks_before_purchase",
    "sessionize_events",
    "dedup_exact_keep_first",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh",
    "dedup_cc_clusters",
    "text_quality_score",
    "knn_bruteforce_cosine",
    "p2_json_key_subset",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "join_skew_salted",
    "llm_corpus_prep_pipeline",
    "ts_gapfill_ffill",
    "pack_sequences_by_source",
    # round-5 additions: the heaviest new TPC-H shape (two lineitem-wide
    # aggregates + a decorrelated min join-back) and the new map-only
    # embedding sketch
    "tpch_q2_min_cost_supplier",
    "embed_random_projection",
    # mid-round-5 additions: ranked retrieval + iterative graph
    "search_bm25_topk",
    "graph_pagerank_transitions",
    # round-7 additions: the heaviest new shapes — semantic dedup
    # (IVF cells + within-cell Arrow cosine), LSH-pruned cross-label
    # top-1, the chunk-ownership rewrite window, and the checkpointed
    # DSIR token pipeline
    "dedup_semdedup_cells",
    "embed_hard_negatives",
    "text_chunk_dedup_rewrite",
    "corpus_dsir_weights",
    # late-round-7 additions: the full compressed-ANN query path (IVF
    # probe + PQ-ADC over 8-byte codes, both quantizers trained in-query
    # after the codebook-literal plan-shrink rewrite) and the
    # batch-lineage forensic window
    "knn_ivfpq_topk",
    "corpus_batch_lineage",
    "quota_admission_per_author",
    # round-8 additions: the mergeable-sketch family — source-level
    # MinHash overlap matrix and the Count-Min heavy-hitter audit
    # (d*w-cell constant exchange).  r09 swapped the matrix headline to
    # the sampled-audit configuration (VERDICT r08 next #2): the full
    # exact audit dominated the row's cost and is exactly what the
    # docstring says to sample at 100 TB — the full row remains in the
    # catalog as the correctness audit of the sampled one.
    "dedup_source_minhash_sampled",
    "agg_countmin_heavy_hitters",
    "ts_rolling_features",
    "text_gopher_gate",
    # round-9 additions: the residual-encoding IVF-PQ (one coarse training
    # feeding a residual-trained PQ — sequential by construction, so it
    # prices the full FAISS recipe against the cheaper composite above)
    # and the prefix-doubling suffix-array ranks (O(log L) iterative
    # rounds — the heaviest text shape in the catalog)
    "knn_ivfpq_residual_topk",
    "text_suffix_ranks",
    # round-10 additions: the Heaps-curve corpus analytic (word ->
    # min-first-doc reduction, all checkpoints on one exchange) and the
    # IVF index-maintenance path (train-once + map-only assignment of
    # the arriving half)
    "text_vocab_growth",
    "knn_ivf_incremental_assign",
    # round-11 additions: DoReMi-style domain reweighting (one bigram
    # exchange + per-domain agg + broadcast total) and the learned
    # quality linear probe (3 fixed-point GD rounds, 4-double driver
    # state)
    "corpus_doremi_reweight",
    "corpus_quality_linear_probe",
    # round-12 additions: the two-pass retrieval expansion (BM25 topk ->
    # broadcast winners -> term pooling) and the pairwise-preference MM
    # fit (equi self-join + dimension-frame rounds)
    "search_rm3_expansion",
    "pref_bradley_terry_strength",
    # The IVF nprobe tuning curve and the binned interval-overlap join
    # stay out of the headline: their absolute cost is ANN-family/
    # join-family shaped, already priced by knn_ivfpq_* and join_* rows
    # here.
)

#: Every row runs this many times and records the plain median of its
#: total seconds.  The per-run Spark job counts in BENCH_DETAIL.json
#: repeat between runs where wall time does not, so a change to a row's
#: cost is read from its jobs, not from de-noised wall time.
RUNS = 5


def profile_row(spark, name: str, sf_dir: str) -> dict:
    """Run catalog row ``name`` once: build its DataFrame (driver-side
    Python, including any training actions the builder runs), then
    execute it into a noop sink.  Returns the seconds of each phase and
    the Spark jobs each phase issued.

    Jobs are counted as the ids newer than the last one seen, not by how
    many ids the status store holds: the store keeps only
    ``spark.ui.retainedJobs`` jobs and drops a tenth of them at once when
    it fills, which a long session reaches.  Jobs that carry a job group
    (a streaming query's) are not counted."""
    st = spark.sparkContext.statusTracker()
    seen = max(st.getJobIdsForGroup(None) or [-1])

    def new_jobs() -> int:
        nonlocal seen
        ids = [i for i in st.getJobIdsForGroup(None) or [] if i > seen]
        seen = max(ids, default=seen)
        return len(ids)

    # the counting stays outside both timed phases: one look at the
    # status store costs about 70 ms on a 4-core host once it holds
    # 1,000 jobs
    t0 = time.perf_counter()
    df = QUERIES[name].spark(spark, sf_dir)
    build_s = time.perf_counter() - t0
    build_jobs = new_jobs()
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t1
    exec_jobs = new_jobs()
    # release finished localCheckpoint blocks: accumulated dead
    # checkpoints from prior queries measured 3-6x degradation on later
    # ones (SCALING.md r05); between queries no cross-query frame
    # survives, so this is safe by construction
    release_local_checkpoints(spark)
    return {
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "total_s": round(build_s + exec_s, 3),
        "build_jobs": build_jobs,
        "exec_jobs": exec_jobs,
    }


class PeakRssSampler:
    """Background /proc sampler recording PEAK resident-set totals of the
    Spark JVM and the pyspark.daemon Python-worker tree inside a window
    (VERDICT r10 next #4: the 100 TB story's "blocked GEMM holds live
    memory ~constant / driver state is k*dim" claims were code-audited
    but never measured — these per-row peaks put numbers behind them).

    Mechanics: a daemon thread re-scans /proc for matching pids every
    ~1 s (cheap; workers are forked per stage) and samples VmRSS of the
    known pids every ``interval`` seconds, tracking the max of each
    group-sum since the last ``reset()``.  RSS of a JVM only tells you
    the high-water heap the OS kept — it ratchets up and rarely comes
    back — so the JVM series is context, while the PYTHON-WORKER series
    is the live signal: Arrow batches and numpy blocks in mapInPandas
    kernels allocate and free per batch, and a kernel that really is
    blocked shows a flat worker peak as data scales."""

    def __init__(self, interval: float = 0.05):
        import threading

        self._interval = interval
        self._lock = threading.Lock()
        self._peaks = {"jvm": 0, "py": 0, "py1": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _classify() -> dict[int, str]:
        """pid -> 'jvm' | 'py' for THIS session's process tree only:
        candidate matching by cmdline, then an ancestry walk to
        os.getpid() so a concurrently-running Spark (another bench, a
        sweep tool) can't leak into the peaks."""
        me = os.getpid()
        ppid: dict[int, int] = {}
        cand: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            pid = int(entry)
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    # field 4 (after the parenthesized comm, which may
                    # itself contain spaces) is ppid
                    ppid[pid] = int(fh.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except (OSError, ValueError, IndexError):
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                cand[pid] = "py"
            elif b"java" in cmd.split(b"\x00", 1)[0] and b"spark" in cmd:
                cand[pid] = "jvm"
        pids: dict[int, str] = {}
        for pid, kind in cand.items():
            p, hops = pid, 0
            while p > 1 and hops < 50:
                if p == me:
                    pids[pid] = kind
                    break
                p = ppid.get(p, 0)
                hops += 1
        return pids

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * (os.sysconf("SC_PAGESIZE") // 1024)
        except (OSError, ValueError, IndexError):
            return 0

    def _run(self) -> None:
        pids: dict[int, str] = {}
        last_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - last_scan > 1.0:
                pids = self._classify()
                last_scan = now
            sums = {"jvm": 0, "py": 0, "py1": 0}
            for pid, kind in pids.items():
                rss = self._rss_kb(pid)
                sums[kind] += rss
                if kind == "py":
                    # largest SINGLE worker: the per-kernel live-memory
                    # signal (the summed series grows with how many
                    # workers run concurrently, i.e. with parallelism,
                    # not with what one kernel holds)
                    sums["py1"] = max(sums["py1"], rss)
            with self._lock:
                for k in sums:
                    self._peaks[k] = max(self._peaks[k], sums[k])
            self._stop.wait(self._interval)

    def start(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peaks = {"jvm": 0, "py": 0, "py1": 0}

    def peaks_mb(self) -> dict[str, float]:
        with self._lock:
            return {
                "peak_rss_jvm_mb": round(self._peaks["jvm"] / 1024, 1),
                "peak_rss_pyworkers_mb": round(self._peaks["py"] / 1024, 1),
                "peak_rss_pyworker_max_mb": round(
                    self._peaks["py1"] / 1024, 1
                ),
            }

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    # Warm-up: run every headline query once at the SMALLEST sf so the JVM,
    # whole-stage codegen compile, Python workers, and parquet footers are
    # hot — the timed loop then measures per-query data work (steady state),
    # not first-compile. Codegen caches key on generated source, which is
    # identical across sf dirs for the same query.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        QUERIES[name].spark(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    # events.parquet at the TARGET sf still pays footer decode on first
    # touch; warm that too so feed-query numbers measure the query.
    QUERIES["a3_max_cursor"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    detail: dict[str, dict] = {}
    sampler = PeakRssSampler().start()
    for name in HEADLINE:
        sampler.reset()
        runs = [profile_row(spark, name, sf_dir) for _ in range(RUNS)]
        s = sorted(r["total_s"] for r in runs)
        times[name] = s[len(s) // 2]
        spread[name] = [s[0], s[-1]]
        detail[name] = {
            "median": times[name],
            "runs": runs,
            # peak RSS across this row's runs (VERDICT r10 next #4): the
            # pyworkers series is the live one — JVM RSS ratchets
            **sampler.peaks_mb(),
        }
    sampler.stop()

    total = round(sum(times.values()), 3)
    # throughput context vs BASELINE.md: the reference's designed ceiling is
    # 125 comments/s + 50 submissions/s per connection; this engine filters
    # the full feed (reference_pipeline_example) in times[...] seconds.
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    pipeline_sec = times.get("reference_pipeline_example", 0.0) or 1e-9
    # the host these rows ran on: N of the session's local[N] master (None
    # under any other master) and Spark's own default parallelism
    sc = spark.sparkContext
    m = re.fullmatch(r"local\[(\d+)\]", sc.master)
    context = {
        "cpus": int(m.group(1)) if m else None,
        "default_parallelism": sc.defaultParallelism,
    }
    # full-fidelity sidecar: every run of every row, with its
    # build/execute split and job counts
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"), "w"
    ) as fh:
        json.dump({"sf": sf, "rows": detail, **context}, fh, indent=1,
                  sort_keys=True)
    for line in summary_lines(
        times=times,
        spread=spread,
        total=total,
        sf=sf,
        n_events=n_events,
        pipeline_sec=pipeline_sec,
        context=context,
    ):
        print(line)


#: Hard budget for the FINAL stdout line. A reader that keeps only the
#: last ~2 KiB of stdout parses the final line as the bench record; the r07
#: record came back unparseable because a bulky per-query dict rode on the
#: same line as the (grown) queries dict and pushed the line head out of
#: the tail window. Bulky dicts now go on their OWN preceding lines and
#: this guard keeps the final line parseable even if the headline list
#: doubles.
FINAL_LINE_BUDGET = 1800


def summary_lines(
    *,
    times: dict[str, float],
    spread: dict[str, list[float]],
    total: float,
    sf: float,
    n_events: int,
    pipeline_sec: float,
    context: dict,
) -> list[str]:
    """Render the bench stdout: bulky context lines first, compact
    self-contained summary as the FINAL line (the only one a tail reader is
    guaranteed to capture whole).

    If the final line would blow FINAL_LINE_BUDGET, the queries dict is
    split: the slowest entries stay on the final line and the full dict is
    repeated on a preceding ``headline_queries_full`` line, with
    ``queries_truncated`` flagging the cut so a reader knows to look one
    line up.
    """
    lines = [
        json.dumps(
            {"metric": "headline_query_spread", "runs": RUNS, "spread": spread}
        ),
        json.dumps(
            {"metric": "bench_context", **context},
            separators=(",", ":"),
        ),
    ]
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "feed_events": n_events,
        "pipeline_events_per_sec": round(n_events / pipeline_sec, 1),
    }
    final = json.dumps(summary, separators=(",", ":"))
    if len(final) > FINAL_LINE_BUDGET:
        lines.append(
            json.dumps(
                {"metric": "headline_queries_full", "queries": times},
                separators=(",", ":"),
            )
        )
        keep = dict(
            sorted(times.items(), key=lambda kv: kv[1], reverse=True)
        )
        while len(final) > FINAL_LINE_BUDGET and len(keep) > 1:
            keep.pop(next(reversed(keep)))
            summary["queries"] = keep
            summary["queries_truncated"] = len(times) - len(keep)
            final = json.dumps(summary, separators=(",", ":"))
        if len(final) > FINAL_LINE_BUDGET:
            # last resort (ADVICE r08): even one query entry plus the fixed
            # fields blew the budget — drop the dict entirely rather than
            # ship an unparseable line; the full dict is one line up.
            summary["queries"] = {}
            summary["queries_truncated"] = len(times)
            final = json.dumps(summary, separators=(",", ":"))
    assert len(final) <= FINAL_LINE_BUDGET, (
        "bench final line over budget even with queries dropped: "
        f"{len(final)}B — fixed summary fields grew past FINAL_LINE_BUDGET"
    )
    lines.append(final)
    return lines


if __name__ == "__main__":
    main()
