"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints the summary as the FINAL JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

(The bulky per-query min/max spread is emitted on its own preceding line so
a tail-capturing consumer always gets the complete compact summary —
VERDICT r05 #4 found the r05 artifact head-truncated.)

Each query is forced to full materialization with a noop write (no driver
collect — the plan runs distributed end to end, like it would on a cluster).
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
    # late-r12 note: the IVF nprobe tuning curve and the binned
    # interval-overlap join stay OUT of the headline deliberately — the
    # lean final line sits at 1766/1800 bytes and either name pushes it
    # over FINAL_LINE_BUDGET, where the last-resort shed would truncate
    # query names off the final line.  Both rows are in
    # the scale-sweep roster, which is the scaling evidence that
    # matters for them (their absolute cost is ANN-family/join-family
    # shaped, already priced by knn_ivfpq_* and join_* rows here).
)

#: Rows whose recorded same-code spread exceeds 1.5x on this shared
#: infrastructure (SCALING.md r09 variance addendum: gopher spanned
#: 0.549-1.531 s and residual IVF-PQ 7.5-17.5 s across identical-code
#: runs) always get MAX_RUNS samples (VERDICT r09 next #1) — a
#: median-of-3 on these is noise, and the r09 artifact both flagged a
#: phantom regression and hid a real win because of it.  Every other row
#: starts at BASE_RUNS and escalates to MAX_RUNS when its own observed
#: spread crosses SPREAD_ESCALATE — so a newly-noisy row self-corrects
#: without a list edit here.
HIGH_VARIANCE = frozenset({
    "text_gopher_gate",
    "text_quality_score",
    "corpus_batch_lineage",
    "corpus_dsir_weights",
    "text_chunk_dedup_rewrite",
    "quota_admission_per_author",
    "knn_ivfpq_topk",
    "knn_ivfpq_residual_topk",
    "dedup_source_minhash_sampled",
    # VERDICT r11 next #3/#4: the widest same-code spread of the r11
    # artifact (2.5x over 7 runs) and a 3-run sub-second row that read
    # 1.52x its prior-round median
    "knn_ivf_incremental_assign",
    "p2_json_key_subset",
})
BASE_RUNS = 5  # VERDICT r12 next #7: no artifact row below 5 runs
MAX_RUNS = 7
#: VERDICT r12 next #7: sub-second rows pay the largest RELATIVE noise
#: (12/45 rows over 1.5x spread in r12, mostly <0.5 s rows) — a row whose
#: first sample is under FAST_ROW_SEC is a fast row: it takes MAX_RUNS
#: samples and records a trimmed mean (:func:`row_statistic`).
FAST_ROW_SEC = 0.5
SPREAD_ESCALATE = 1.5


#: fewest samples a fast row trims; below it the row records its median
MIN_TRIM_SAMPLES = 6


def row_statistic(samples_sorted: list[float], trim: bool) -> float:
    """Artifact statistic for one bench row (VERDICT r15 next #7):
    sub-second rows pay the largest RELATIVE noise and host contention on
    this shared sandbox is ONE-SIDED (steal only adds time), so a single
    burst during the 7-sample window inflates the median and flags
    phantom regressions (11 in r15, every one reproduced at r14 speed by
    an 8-core re-run).  Fast rows (``trim=True``: first
    sample under FAST_ROW_SEC, >= 6 samples) therefore record a
    one-sided trimmed mean — drop the 2 LARGEST samples, mean the rest —
    instead of the raw median; min/max stay on the spread stdout line
    and every sample stays in BENCH_DETAIL.json, so nothing is hidden
    and the old statistic remains recoverable.  Heavy rows keep the
    plain median (their relative noise is small and the median is the
    statistic every prior round recorded), and so does a fast row with
    fewer than MIN_TRIM_SAMPLES samples: dropping 2 of them would leave
    too few to mean (none at all below 3)."""
    if trim and len(samples_sorted) >= MIN_TRIM_SAMPLES:
        kept = samples_sorted[:-2]
        return round(sum(kept) / len(kept), 3)
    return round(samples_sorted[len(samples_sorted) // 2], 3)


def should_escalate(samples: list[float]) -> bool:
    """True when a BASE_RUNS sample has earned MAX_RUNS: its own min-max
    spread crossed SPREAD_ESCALATE (noise this run)."""
    return max(samples) / max(min(samples), 1e-9) > SPREAD_ESCALATE


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


#: Heterogeneous 64-client spec mix (VERDICT r10 next #7): 8 distinct
#: compiled predicates x 8 clients each over the ONE shared streaming
#: query — firehose, both type filters, subreddit/author whitelists,
#: and JSON key-subset projections.  The fan-out bench feeds BOTH
#: streams (rc + rs interleaved, VERDICT r14 next #5), so every path —
#: including /?type=submissions — delivers real events and the
#: per-path dispatch is measured under genuine 64-client load.
#: Values match the testdata generator's derived feed
#: (author = u{user_id%50}, subreddit = event_type, props = {"k": N}).
FANOUT64_PATHS = (
    "/",
    "/?type=comments",
    "/?type=submissions",
    "/?subreddit=view",
    "/?subreddit=view&subreddit=error",
    "/?author=u1&author=u2&author=u3",
    "/?type=comments&filter=k",
    "/?filter=nope",
)


def streaming_e2e(
    spark,
    sf_dir: str,
    n_clients: int = 8,
    paths: tuple = ("/?type=comments",),
    backfill: int = 100000,
    capture: bool = False,
    max_ids_per_batch: int = 10000,
    streams: tuple = ("rc",),
) -> dict:
    """Measured number for the "ONE query, N clients" serving design
    (VERDICT r04 next #8; r06 next #7 raised the fan-out to 8 concurrent
    clients): drive the actual reddit_feed source -> foreachBatch ->
    SSEBroadcaster -> SSEServer path end to end, with concurrent HTTP
    clients consuming the SSE wire format, and report delivered
    events/sec across clients plus the per-client rate and the
    min/max per-client delivery counts (fairness of the fan-out under
    real contention — the design's whole point vs the reference's
    one-Redis-scan-per-connection loop, sse.py:101-110).

    This is the real serving stack — Python DataSource micro-batches,
    driver-side bounded fan-out, chunked HTTP streaming — not the
    batch-shaped feed pipeline the headline number measures."""
    import http.client
    import threading

    from reddit_sse_stream_spark.streaming.server import SSEServer
    from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    bc = SSEBroadcaster()
    srv = SSEServer(bc).start()
    counts = [0] * n_clients
    raw: list[bytes] = [b""] * n_clients
    last_data_at = [0.0] * n_clients
    conns: list = [None] * n_clients
    stop = threading.Event()

    def client(i: int) -> None:
        # Blocking reads: an SSE stream has no natural end, and a socket
        # timeout permanently poisons http.client's response object, so the
        # main thread terminates the read loop by closing the connection
        # once delivery has gone quiet.
        conn = http.client.HTTPConnection("127.0.0.1", srv.port)
        conn.request("GET", paths[i % len(paths)])
        resp = conn.getresponse()
        resp.fp.raise_on_eof = False  # type: ignore[attr-defined]
        conns[i] = conn
        buf = b""
        while True:
            try:
                chunk = resp.read1(1 << 16)  # chunked-decoding-aware read
            except Exception:
                # socket closed / half-read chunk on teardown — http.client
                # can surface OSError, HTTPException, or an AttributeError
                # from _close_conn on an already-detached fp
                break
            if not chunk:
                # b'' can surface between chunks while the stream is
                # alive — only the stop flag (set before the socket is
                # closed) ends the loop
                if stop.is_set():
                    break
                time.sleep(0.02)
                continue
            buf += chunk
            n = buf.count(b"\n\n")  # one blank line terminates each frame
            if n:
                counts[i] += n
                last_data_at[i] = time.perf_counter()
                if capture:
                    raw[i] += buf[: buf.rindex(b"\n\n") + 2]
                buf = buf[buf.rindex(b"\n\n") + 2 :]

    threads = [threading.Thread(target=client, args=(i,), daemon=True) for i in range(n_clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    # every client must be REGISTERED before the first micro-batch is
    # broadcast, or a late joiner misses frames and the per-client
    # delivery comparison below is raced (matters at 64 clients)
    deadline = time.perf_counter() + 30
    while len(bc._clients) < n_clients and time.perf_counter() < deadline:
        time.sleep(0.01)
    # a partial fan-out must fail LOUDLY (ADVICE r11): falling through
    # with missing clients degrades into a silently raced per-client
    # frame comparison downstream
    registered = len(bc._clients)
    if registered < n_clients:
        raise RuntimeError(
            f"streaming e2e fan-out incomplete: {registered}/{n_clients} "
            "clients registered within 30s"
        )
    # Default micro-batch trigger + processAllAvailable, NOT availableNow:
    # availableNow snapshots latestOffset() once, and the source's
    # per-trigger id cap would truncate the run to a single batch.
    # ``streams``: the fan-out bench feeds BOTH reference streams
    # (rc + rs via the M1 interleave) so the submissions dispatch path
    # delivers real events under load — an rc-only slice measured
    # /?type=submissions at zero work (VERDICT r14 next #5).  The
    # 8-client headline keeps its historical rc-only slice for
    # round-over-round comparability.
    from reddit_sse_stream_spark.operators.merge import interleave

    feed = None
    for s in streams:
        one = read_feed_stream(
            spark,
            f"{sf_dir}/events.parquet",
            s,
            backfill=backfill,
            max_ids_per_batch=max_ids_per_batch,
        )
        feed = one if feed is None else interleave(feed, one)
    q = feed.writeStream.foreachBatch(bc.foreach_batch).start()
    q.processAllAvailable()
    q.stop()
    # drain: wait until delivery has been quiet for 2s (a 0.3s window can
    # fall inside a micro-batch gap and cut the stream short), then
    # unblock the clients by closing their sockets
    quiet = 0
    seen = -1
    while quiet < 4:
        cur = sum(counts)
        quiet = quiet + 1 if cur == seen else 0
        seen = cur
        time.sleep(0.5)
    stop.set()
    for conn in conns:
        try:
            conn.sock.shutdown(2)  # both directions; unblocks recv
        except Exception:
            pass
        try:
            conn.close()  # http.client can raise from a half-read chunk
        except Exception:
            pass
    for t in threads:
        t.join(timeout=30)
    srv.stop()
    wall = max(last_data_at) - t0 if any(last_data_at) else float("inf")
    delivered = sum(counts)
    out = {
        "streaming_e2e_clients": n_clients,
        "streaming_e2e_events_delivered": delivered,
        "streaming_e2e_wall_sec": round(wall, 3),
        "streaming_e2e_events_per_sec": round(delivered / wall, 1),
        "streaming_e2e_events_per_sec_per_client": round(
            delivered / n_clients / wall, 1
        ),
        "streaming_e2e_client_min_max": [min(counts), max(counts)],
    }
    if len(paths) > 1:
        per_path: dict[str, list[int]] = {}
        for i, c in enumerate(counts):
            per_path.setdefault(paths[i % len(paths)], []).append(c)
        out["per_path_delivered"] = {
            p: {"clients": len(cs), "min": min(cs), "max": max(cs)}
            for p, cs in per_path.items()
        }
    if capture:
        out["frames"] = [
            [f + "\n\n" for f in r.decode().split("\n\n") if f]
            for r in raw
        ]
    return out


#: VERDICT r10 next #1: the e2e was the last driver-visible perf number
#: measured as a single point, and its slot — right AFTER the 41-query
#: headline loop — depressed it systematically: the r11 two-arm experiment
#: (tools/e2e_variance.py, SCALING.md) measured fresh-state medians of
#: ~20.7k events/s vs post-suite ~12.8k with NON-overlapping spreads
#: (fresh min 17.5k > post max 14.5k), which is exactly the r10
#: 21.5k -> 15.8k "regression on a faster host with no streaming change".
#: So: the e2e now runs FIRST (fresh JVM state, the state the number
#: claims to describe) and E2E_RUNS times, with the median run as the
#: headline fields and the min/max rate spread alongside.
E2E_RUNS = 5


def streaming_e2e_samples(spark, sf_dir: str, runs: int = E2E_RUNS) -> dict:
    """Median-of-``runs`` wrapper around :func:`streaming_e2e`: headline
    fields come from the median-rate run, plus the cross-run rate spread
    and run count; the full per-run dicts ride under ``samples`` for
    BENCH_DETAIL.json."""
    samples = [streaming_e2e(spark, sf_dir) for _ in range(runs)]
    by_rate = sorted(samples, key=lambda s: s["streaming_e2e_events_per_sec"])
    med = by_rate[len(by_rate) // 2]
    rates = [s["streaming_e2e_events_per_sec"] for s in by_rate]
    return {
        **med,
        "streaming_e2e_runs": len(samples),
        "streaming_e2e_rate_min_max": [rates[0], rates[-1]],
        "samples": samples,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    # Streaming e2e FIRST (VERDICT r10 next #1): the serving number
    # describes the fresh-state stack, and measuring it after the
    # headline loop depressed it ~1.6x (two-arm experiment in
    # SCALING.md r11).  One warm-up pass at the smallest sf heats the
    # JVM/Python-DataSource/HTTP paths, then E2E_RUNS timed runs.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    streaming_e2e(spark, warm_dir)
    e2e = streaming_e2e_samples(spark, sf_dir)
    e2e_samples = e2e.pop("samples")
    # 64-client heterogeneous fan-out (VERDICT r10 next #7): 8 distinct
    # specs x 8 clients on ONE shared query — the N-clients-N-scans fix
    # proven at an N that matters.  Bounded backfill keeps it a fan-out
    # stress (frame correctness per spec is pinned in test_serving.py).
    fanout64 = streaming_e2e(
        spark,
        sf_dir,
        n_clients=64,
        paths=FANOUT64_PATHS,
        backfill=20000,
        streams=("rc", "rs"),
    )

    # Warm-up: run every headline query once at the SMALLEST sf so the JVM,
    # whole-stage codegen compile, Python workers, and parquet footers are
    # hot — the timed loop then measures per-query data work (steady state),
    # not first-compile. Codegen caches key on generated source, which is
    # identical across sf dirs for the same query.
    for name in HEADLINE:
        QUERIES[name].spark(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    # events.parquet at the TARGET sf still pays footer decode on first
    # touch; warm that too so feed-query numbers measure the query.
    QUERIES["a3_max_cursor"].spark(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Adaptive run counts (VERDICT r09 next #1): every row starts at
    # BASE_RUNS medians; rows with a RECORDED >1.5x same-code spread
    # (HIGH_VARIANCE, from SCALING.md's variance addendum) go straight to
    # MAX_RUNS, and any other row whose own observed max/min crosses
    # SPREAD_ESCALATE self-escalates to MAX_RUNS.  The median of a larger
    # sample is the artifact value; min/max spread and per-row run counts
    # ride a preceding stdout line AND BENCH_DETAIL.json (full samples) so
    # a reader can gate on spread instead of trusting a lone point (r09's
    # artifact flagged a phantom 3.32x regression and hid a real
    # 6.59->4.73 s win).
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    run_counts: dict[str, int] = {}
    detail: dict[str, dict] = {}
    sampler = PeakRssSampler().start()
    for name in HEADLINE:
        target = MAX_RUNS if name in HIGH_VARIANCE else BASE_RUNS
        samples: list[float] = []
        sampler.reset()
        while len(samples) < target:
            start = time.perf_counter()
            df = QUERIES[name].spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - start)
            # release finished localCheckpoint blocks: accumulated dead
            # checkpoints from prior queries measured 3-6x degradation on
            # later ones (SCALING.md r05); between queries no cross-query
            # frame survives, so this is safe by construction
            release_local_checkpoints(spark)
            if len(samples) == 1 and samples[0] < FAST_ROW_SEC:
                target = MAX_RUNS  # fast row: buy it the full sample
            if len(samples) == target == BASE_RUNS and should_escalate(samples):
                target = MAX_RUNS
        s = sorted(samples)
        trim = samples[0] < FAST_ROW_SEC
        times[name] = row_statistic(s, trim)
        spread[name] = [round(s[0], 3), round(s[-1], 3)]
        run_counts[name] = len(s)
        detail[name] = {
            "median": round(s[len(s) // 2], 3),
            "stat": "trimmed_mean_drop2" if trim else "median",
            "value": times[name],
            "runs": len(s),
            "min": round(s[0], 3),
            "max": round(s[-1], 3),
            "iqr": [round(s[len(s) // 4], 3), round(s[(3 * len(s)) // 4], 3)],
            "samples_sorted": [round(x, 3) for x in s],
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
    # full-fidelity sidecar: everything the budget-capped final line may
    # shed (all samples, spreads, streaming detail) lands here
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"), "w"
    ) as fh:
        json.dump(
            {
                "sf": sf,
                "rows": detail,
                **context,
                "streaming_e2e": e2e,
                "streaming_e2e_samples": e2e_samples,
                "streaming_fanout64": fanout64,
            },
            fh, indent=1, sort_keys=True,
        )
    # Rows whose own dispersion crossed 1.5x this run: their median is
    # honest (>= MAX_RUNS samples once escalated) but a single-round delta
    # on them should be read against BENCH_DETAIL.json, not taken raw.
    # TRIMMED basis at >= 6 samples (r13): raising the run floor to 5-7
    # made the raw max/min gate an order-statistics artifact — with 7
    # samples the odds that ONE run catches a GC/compaction hiccup grow
    # with n, and 12 of the 15 rows the raw gate flagged on the r13
    # sanity run collapsed below 1.45x once the single largest sample
    # was dropped (full samples stay in BENCH_DETAIL.json).  Rows at < 6
    # samples keep the raw basis — too few points to call one an
    # outlier.
    def _spread_basis(name: str) -> float:
        s = detail[name]["samples_sorted"]
        hi = s[-2] if len(s) >= 6 else s[-1]
        return hi / max(s[0], 1e-9)

    noisy = sorted(n for n in detail if _spread_basis(n) > 1.5)
    for line in summary_lines(
        times=times,
        spread=spread,
        total=total,
        run_counts=run_counts,
        sf=sf,
        n_events=n_events,
        pipeline_sec=pipeline_sec,
        context=context,
        e2e=e2e,
        noisy=noisy,
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
    run_counts: dict[str, int],
    sf: float,
    n_events: int,
    pipeline_sec: float,
    context: dict,
    e2e: dict,
    noisy: list,
) -> list[str]:
    """Render the bench stdout: bulky context lines first, compact
    self-contained summary as the FINAL line (the only one a tail reader is
    guaranteed to capture whole).

    If even the lean final line would blow FINAL_LINE_BUDGET, the queries
    dict is split: the slowest entries stay on the final line and the full
    dict is repeated on a preceding ``headline_queries_full`` line, with
    ``queries_truncated`` flagging the cut so a reader knows to look one
    line up.
    """
    lines = [
        json.dumps(
            {
                "metric": "headline_query_spread",
                "spread": spread,
                "runs": run_counts,
            }
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
        "runs_per_query": {
            "base": BASE_RUNS,
            "max": MAX_RUNS,
            "at_max": sum(1 for n in run_counts.values() if n >= MAX_RUNS),
        },
        "spread_over_1p5x": noisy[:8] + (
            [f"+{len(noisy) - 8}"] if len(noisy) > 8 else []
        ),
        "sf": sf,
        "feed_events": n_events,
        "pipeline_events_per_sec": round(n_events / pipeline_sec, 1),
        **e2e,
    }
    final = json.dumps(summary, separators=(",", ":"))
    if len(final) > FINAL_LINE_BUDGET:
        # shed the noisy-row NAME list first (its content is recoverable
        # from the spread line + BENCH_DETAIL.json) — losing it costs a
        # convenience field; truncating the queries dict would cost the
        # dropped rows' medians
        summary["spread_over_1p5x"] = len(noisy)
        final = json.dumps(summary, separators=(",", ":"))
    for derivable in (
        # next shed tiers, cheapest information loss first: streaming
        # fields DERIVABLE from the kept ones (delivered = rate*wall;
        # per-client = rate/clients) or secondary (wall), then fields
        # fully duplicated in BENCH_DETAIL.json (client_min_max rides
        # every e2e sample there; runs_per_query is the spread line's
        # "runs" dict).  clients, events_per_sec, and rate_min_max — the
        # median+spread signal — always stay.
        "streaming_e2e_events_per_sec_per_client",
        "streaming_e2e_events_delivered",
        "streaming_e2e_wall_sec",
        "streaming_e2e_client_min_max",
        "runs_per_query",
    ):
        if len(final) <= FINAL_LINE_BUDGET:
            break
        summary.pop(derivable, None)
        final = json.dumps(summary, separators=(",", ":"))
    if len(final) > FINAL_LINE_BUDGET:
        # re-round query medians to 2 decimals before dropping any NAME:
        # a complete dict at 10 ms resolution beats a 3-decimal dict
        # missing rows (3-decimal medians stay on the spread line +
        # BENCH_DETAIL.json)
        summary["queries"] = {k: round(v, 2) for k, v in times.items()}
        final = json.dumps(summary, separators=(",", ":"))
    for derivable in (
        # final tier before ANY query name is dropped (VERDICT r15
        # what's-wrong #1): every one of these scalars is duplicated in
        # BENCH_DETAIL.json, while a dropped query median is gone from
        # the final line — the per-query dict outranks them all.
        "spread_over_1p5x",
        "feed_events",
        "streaming_e2e_rate_min_max",
    ):
        if len(final) <= FINAL_LINE_BUDGET:
            break
        summary.pop(derivable, None)
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
