"""Benchmark of the SSE serving path, alone and beside a catalog request.

    python3 perfbench/run.py --workload live_ref --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  This process is the load generator: it
prepares the seeded inputs, launches the system under test (``sut.py``) as
a separate process, publishes events at 120/s for ``--seconds`` seconds and
reads SSE frames over raw sockets with its own chunked decoder until every
published event has reached every client that expects it (or a cap), checks
every output against a DuckDB oracle, and prints the result as the last
line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the SUT times its calls into the serving layers and the metrics are the
per-layer ones.  A line ``detail: {...}`` before the result carries every
number measured.  The exit code is 1 when any output is wrong.
See ``perfbench/NOTES.md`` for why each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import selectors
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime
from urllib.parse import parse_qs, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402

WORKLOADS = ("live_ref", "live_catalog")
LIVE_RATE = 120.0  # events/s, the reference's traffic estimate (sse.py:105-108)
LATE_LIMIT_S = 2.0  # "a couple seconds delayed" (the reference README)
LIVE_HISTORY = 200  # ids already in the feed when the live run starts
LIVE_PATHS = (
    "/",
    "/?type=submissions",
    "/?type=comments&filter=k",
    "/?author=u1&author=u2&author=u3",
)
#: The request ``live_catalog`` makes: an iterative row bound by driver
#: syncs (18 Spark jobs).  More rows do not fit the time one run may take;
#: see NOTES.md.
LIVE_CATALOG_ROWS = ("graph_pagerank_transitions",)
SUT_TIMEOUT_S = 120  # ready / result waits
#: Spark's processing-time trigger fires on wall-clock multiples of its
#: interval (``sut.TRIGGER_MS``).  Publishing starts half an interval before
#: one, so every run has the same phase between the first event and the
#: first trigger that can read it.
TRIGGER_S = 1.0
PUBLISH_PHASE_S = 0.5
#: After publishing ends, the run waits until every expected frame has
#: arrived, for at most this long; a frame still missing then counts at
#: this cap.
DRAIN_CAP_S = 60.0
#: SUT launches timed per run for ``setup_s`` (the median is reported):
#: this many set-up-only launches, then the measured one.  Each launch costs
#: one set-up time (4-15 s on a shared 4-vCPU host); more do not fit the
#: run budget in the host's slow phases (see NOTES.md).
SETUP_PROBES = 1
E2E_UNITS = {"setup_s": "s", "all_delivered_s": "s"}
#: Per-layer metrics that do not apply to a workload; they read 0 there.
#: Any other per-layer metric missing from a traced run is an error.
NOT_APPLICABLE = {
    "live_ref": ("plans.catalog.", "e2e.catalog_s"),
    "live_catalog": (),
}


class SutError(RuntimeError):
    """The system under test failed or broke the protocol."""


# --------------------------------------------------------------------- #
# the SUT process                                                         #
# --------------------------------------------------------------------- #


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    pages = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(d))
    return out


class Sut:
    """The SUT process, its stdout messages and its peak memory.

    ``pump`` runs one round of the generator's selector loop: socket reads
    go to ``on_socket``, SUT lines are parsed, and memory is sampled."""

    RSS_EVERY_S = 0.2

    def __init__(self, argv: list[str], work: str, root: str):
        env = dict(os.environ)
        env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
        env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["TMPDIR"] = tmp
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # no hsperfdata file in the host's /tmp: the run stays in its checkout
        env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
        self.log = open(os.path.join(work, "sut.log"), "ab")
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), *argv],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, start_new_session=True,
        )
        os.set_blocking(self.proc.stdout.fileno(), False)
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.proc.stdout, selectors.EVENT_READ, None)
        self._buf = b""
        self.msgs: dict[str, list[dict]] = {}
        self.peak_rss_mb = 0.0
        self._next_rss = 0.0
        self.on_socket = None

    def send(self, line: str) -> None:
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()

    def pump(self, timeout: float) -> None:
        for key, _ in self.sel.select(timeout):
            if key.data is None:
                chunk = os.read(self.proc.stdout.fileno(), 1 << 20)
                if not chunk:
                    self.sel.unregister(self.proc.stdout)
                    continue
                self._buf += chunk
                *lines, self._buf = self._buf.split(b"\n")
                for ln in lines:
                    if ln.startswith(b"@@ "):
                        m = json.loads(ln[3:])
                        self.msgs.setdefault(m["kind"], []).append(m)
            else:
                self.on_socket(key.data)
        now = time.monotonic()
        if now >= self._next_rss:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(self.proc.pid))
            self._next_rss = now + self.RSS_EVERY_S

    def wait(self, kind: str, timeout: float = SUT_TIMEOUT_S) -> dict:
        deadline = time.monotonic() + timeout
        while kind not in self.msgs:
            if self.proc.poll() is not None and self.proc.stdout not in [
                k.fileobj for k in self.sel.get_map().values()
            ]:
                raise SutError(f"SUT exited ({self.proc.returncode}) before {kind!r}")
            if time.monotonic() > deadline:
                raise SutError(f"no {kind!r} from the SUT within {timeout}s")
            self.pump(0.05)
        return self.msgs[kind][-1]

    def close(self) -> None:
        """Stop the SUT and every process it started (its own group)."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        # the JVM and Python workers exit once the SUT's Python process is
        # gone; give them a moment, then kill what is left
        deadline = time.monotonic() + 10
        while group_members(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        deadline = time.monotonic() + 10
        while (left := group_members(self.proc.pid)) and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        self.log.close()


# --------------------------------------------------------------------- #
# the load generator's clients                                            #
# --------------------------------------------------------------------- #


class Client:
    """One raw-socket SSE client with its own chunked decoder."""

    def __init__(self, idx: int, path: str, port: int):
        self.idx, self.path = idx, path
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.sendall(f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".encode())
        self.head = b""
        self.t_connected: float | None = None
        self.decoder = measure.ChunkDecoder()
        self.frames: list[tuple[bytes, float]] = []

    def on_readable(self) -> None:
        data = self.sock.recv(1 << 18)
        t = time.monotonic()
        if not data:
            raise SutError(f"client {self.idx} ({self.path}): server closed the stream")
        if self.t_connected is None:
            self.head += data
            end = self.head.find(b"\r\n\r\n")
            if end < 0:
                return
            head, data = self.head[:end], self.head[end + 4 :]
            if not head.startswith(b"HTTP/1.1 200") or b"chunked" not in head.lower():
                raise SutError(f"client {self.idx}: bad response head {head[:80]!r}")
            self.t_connected = t
        self.frames.extend(self.decoder.feed(data, t))

    def close(self) -> None:
        self.sock.close()


def connect_clients(sut: Sut, port: int, paths: list[str]) -> list[Client]:
    clients = [Client(i, p, port) for i, p in enumerate(paths)]
    for c in clients:
        c.sock.setblocking(False)
        sut.sel.register(c.sock, selectors.EVENT_READ, c)
    sut.on_socket = Client.on_readable
    deadline = time.monotonic() + 30
    while any(c.t_connected is None for c in clients):
        if time.monotonic() > deadline:
            raise SutError("clients not connected within 30s")
        sut.pump(0.05)
    return clients


# --------------------------------------------------------------------- #
# inputs and oracle                                                       #
# --------------------------------------------------------------------- #


def duck(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def expected_frames(con, path: str, lo: int, hi: int) -> dict[int, bytes]:
    """The frame a client on ``path`` must get for each id in (lo, hi]:
    the feed (FEED_CTE) under the spec's SQL predicate, with the reference's
    key-subset projection for ``filter=`` (sse.py:234-237)."""
    from reddit_sse_stream_spark.sources.feed import FEED_CTE
    from reddit_sse_stream_spark.spec import QuerySpec

    spec = QuerySpec.from_params(parse_qs(urlparse(path).query, keep_blank_values=True))
    rows = con.execute(
        f"WITH {FEED_CTE} SELECT id, event, json FROM feed "
        f"WHERE id > {lo} AND id <= {hi} AND {spec.predicate_sql()}"
    ).fetchall()
    out = {}
    for i, event, data in rows:
        if spec.filter_keys:
            keys = spec.filter_keys
            data = json.dumps({k: v for k, v in json.loads(data).items() if k in keys})
        out[i] = f"id: {i}\nevent: {event}\ndata: {data}\n\n".encode()
    return out


# --------------------------------------------------------------------- #
# serving workloads                                                       #
# --------------------------------------------------------------------- #


def offset_id(off) -> int:
    """The ``id`` of a source offset in a progress record (-1 before the first)."""
    if off is None:
        return -1
    return (json.loads(off) if isinstance(off, str) else off)["id"]


def wall_to_mono(ts: str, mono_minus_wall: float) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() + mono_minus_wall


def trigger_end(p: dict, mono_minus_wall: float) -> float:
    start = wall_to_mono(p["timestamp"], mono_minus_wall)
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def serving_layers(res: dict, clients: list[Client], arrival_batch, pub_max: int,
                   t_launch: float, t_ready: float, pub_end: float) -> tuple[dict, list]:
    """Per-layer numbers and spans of one serving run."""
    prog = [p for p in res["progress"] if p.get("batchId") is not None]
    dur = [p.get("durationMs", {}) for p in prog]
    out = {
        "trigger.count": len(prog),
        "trigger.first_ms": dur[0].get("triggerExecution", 0) if dur else 0,
        "trigger.exec_ms_p50": statistics.median(
            [d.get("triggerExecution", 0) for d in dur]) if dur else 0,
    }
    for phase in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        out[f"trigger.{phase}_ms"] = sum(d.get(phase, 0) for d in dur)
    # the backlog once publishing has ended: what the first trigger to start
    # after that leaves unread, worst stream
    after = [p for p in prog if wall_to_mono(p["timestamp"], res["mono_minus_wall"]) >= pub_end]
    ends = [offset_id(s["endOffset"]) for s in after[0]["sources"]] if after else [-1]
    out["streaming.source.lag_ids_end"] = max(pub_max - e for e in ends)
    out["streaming.source.rows"] = sum(p.get("numInputRows", 0) for p in prog)

    spans = [{"id": "setup", "parent": None, "layer": "session",
              "start": t_launch, "end": t_ready}]
    for p in prog:
        spans.append({"id": f"trigger:{p['batchId']}", "parent": None, "layer": "trigger",
                      "start": wall_to_mono(p["timestamp"], res["mono_minus_wall"]),
                      "end": trigger_end(p, res["mono_minus_wall"])})
    fb = {e: (t0, t1, jobs) for e, t0, t1, jobs in res["batches"]}
    for e, (t0, t1, _) in fb.items():
        spans.append({"id": f"sink:{e}", "parent": f"trigger:{e}",
                      "layer": "streaming.sink", "start": t0, "end": t1})
    fb_ms = sorted((t1 - t0) * 1e3 for t0, t1, _ in fb.values())
    out["streaming.sink.foreach_batch_ms_p50"] = statistics.median(fb_ms) if fb_ms else 0
    out["streaming.sink.foreach_batch_s"] = sum(fb_ms) / 1e3
    out["streaming.sink.jobs"] = sum(j for _, _, j in fb.values())

    polls = res["polls"]
    useful = [p for p in polls if p[3] > 0]
    out["streaming.server.polls"] = len(polls)
    out["streaming.server.useful_poll_frac"] = len(useful) / len(polls) if polls else 0
    for cid, t0, t1, _ in useful:
        spans.append({"id": f"poll:{cid}:{t0}", "parent": None,
                      "layer": "streaming.server.frames_since", "start": t0, "end": t1})
    # delivery: from the end of the batch's foreach_batch to each receipt
    waits, last_by_batch = [], {}
    for c in clients:
        for frame, t in c.frames:
            e = arrival_batch(frame)
            if e in fb:
                waits.append(t - fb[e][1])
                last_by_batch[e] = max(last_by_batch.get(e, t), t)
    for e, t in last_by_batch.items():
        spans.append({"id": f"deliver:{e}", "parent": None, "layer": "streaming.server",
                      "start": fb[e][1], "end": t})
    waits.sort()
    out["streaming.server.wait_ms_p50"] = measure.percentile(waits, 50) * 1e3 if waits else 0
    out["streaming.server.wait_ms_p99"] = measure.p99_or_max(waits) * 1e3 if waits else 0
    last_fb = max((t1 for t0, t1, j in fb.values()), default=None)
    last_rx = max((t for c in clients for _, t in c.frames), default=None)
    out["streaming.server.drain_tail_s"] = (
        max(last_rx - last_fb, 0.0) if last_fb is not None and last_rx is not None else 0)
    chunks = sum(c.decoder.chunks for c in clients)
    frames = sum(c.decoder.frames for c in clients)
    out["wire.chunks"] = chunks
    out["wire.frames_per_chunk"] = frames / chunks if chunks else 0
    out["wire.bytes"] = sum(c.decoder.bytes for c in clients)
    selfs = measure.self_times(spans)
    out["trigger.self_s"] = selfs.get("trigger", 0.0)
    out["streaming.server.self_s"] = selfs.get("streaming.server", 0.0)
    out["trace.overhead_s"] = res["overhead_s"]
    return out, spans


def batch_of(progress: list[dict]):
    """frame -> batch id, from the rc/rs offset ranges in the progress
    (sources are listed in union order: rc, then rs)."""
    ranges = []
    for p in progress:
        if p.get("batchId") is None or len(p["sources"]) != 2:
            continue
        rng = []
        for s in p["sources"]:
            rng.append((offset_id(s.get("startOffset")), offset_id(s["endOffset"])))
        ranges.append((p["batchId"], rng))

    def find(frame: bytes):
        i = measure.frame_id(frame)
        k = 0 if b"\nevent: rc\n" in frame else 1
        for b, rng in ranges:
            lo, hi = rng[k]
            if lo < i <= hi:
                return b
        return None

    return find


def prepare_feed(con, seed: int, seconds: int, work: str, sf_dir: str):
    """The seeded id window and the feed files: the history the live run
    starts from, and one prefix per published event, written before timing.
    Returns ``(feed, prefixes, lo, hi)``; ids ``lo+1 .. hi`` are published."""
    import pyarrow.parquet as pq

    n_pub = int(LIVE_RATE * seconds)
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    w0 = random.Random(seed).randrange(LIVE_HISTORY + 1000, n_events - n_pub - 1)
    events = pq.read_table(f"{sf_dir}/events.parquet")
    events = events.slice(w0 - LIVE_HISTORY, LIVE_HISTORY + n_pub)
    pub_dir = os.path.join(work, "publish")
    os.makedirs(pub_dir, exist_ok=True)
    for f in os.listdir(pub_dir):
        os.remove(os.path.join(pub_dir, f))
    feed = os.path.join(work, "feed.parquet")
    pq.write_table(events.slice(0, LIVE_HISTORY), feed)
    prefixes = []
    for k in range(1, n_pub + 1):
        p = os.path.join(pub_dir, f"{k:06d}.parquet")
        pq.write_table(events.slice(0, LIVE_HISTORY + k), p)
        prefixes.append(p)
    return feed, prefixes, w0 - 1, w0 - 1 + n_pub


def setup_time(argv: list[str], work: str, root: str) -> float:
    """One set-up-only SUT launch: launch until ready, then stop it."""
    sut = Sut(argv, work, root)
    try:
        return sut.wait("ready")["t"] - sut.t_launch
    finally:
        sut.close()


def run_serving(name: str, seed: int, seconds: int, trace: bool, root: str,
                work: str, sf_dir: str) -> dict:
    check = CatalogCheck(LIVE_CATALOG_ROWS, work, sf_dir) if name == "live_catalog" else None
    con = duck(sf_dir, ("events",))
    feed, prefixes, lo, hi = prepare_feed(con, seed, seconds, work, sf_dir)
    paths = list(LIVE_PATHS)
    random.Random(seed).shuffle(paths)
    expected = {p: expected_frames(con, p, lo, hi) for p in set(paths)}
    con.close()
    argv = ["--events", feed]
    if trace:
        argv.append("--trace")
    setups = [setup_time(argv, work, root) for _ in range(SETUP_PROBES)]
    if check:
        argv += ["--sf-dir", sf_dir, "--catalog-out", check.out,
                 "--catalog-rows", ",".join(check.rows)]

    sut = Sut(argv, work, root)
    clients: list[Client] = []
    late_max = [0.0]
    try:
        ready = sut.wait("ready")
        setups.append(ready["t"] - sut.t_launch)
        clients = connect_clients(sut, ready["port"], paths)
        t_connect = max(c.t_connected for c in clients)
        sut.send("go")
        t_go = time.monotonic()
        started = sut.wait("started")
        n_expected = sum(len(expected[p]) for p in paths)
        t0 = time.monotonic() + measure.delay_to_phase(
            time.time(), TRIGGER_S, PUBLISH_PHASE_S, 0.05)
        due = {lo + 1 + k: t0 + k / LIVE_RATE for k in range(len(prefixes))}

        def publish() -> None:
            for k, src in enumerate(prefixes):
                t_due = t0 + k / LIVE_RATE
                delay = t_due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                os.replace(src, feed)
                late_max[0] = max(late_max[0], time.monotonic() - t_due)

        pub = threading.Thread(target=publish, daemon=True)
        pub.start()
        pub_end = t0 + seconds
        cap = pub_end + DRAIN_CAP_S
        while (time.monotonic() < pub_end
               or sum(c.decoder.frames for c in clients) < n_expected):
            if time.monotonic() >= cap:
                break
            sut.pump(min(0.05, max(cap - time.monotonic(), 0)))
        run_end = min(time.monotonic(), cap)
        pub.join(timeout=10)
        if check:
            sut.wait("catalog_done")
        t_end = time.monotonic()
        for c in clients:
            sut.sel.unregister(c.sock)
            c.close()  # the server's handlers end on the broken pipe
        sut.send("stop")
        res = sut.wait("result")
    finally:
        for c in clients:
            c.close()
        sut.close()
    teardown_s = time.monotonic() - t_end
    if res["failure"]:
        raise SutError(f"streaming query failed: {res['failure']}")

    # output check and latency, per client and id
    lat, errors, missing, received, t_all = [], 0, 0, 0, t0
    for c in clients:
        d = measure.diff_frames(expected[c.path], c.frames)
        errors += d["wrong"] + d["duplicate"] + d["unexpected"]
        missing += d["missing"]
        received += len(c.frames)
        lat += measure.censored_latencies(
            {i: due[i] for i in expected[c.path]}, d["arrival"], run_end)
        t_all = max(t_all, measure.last_arrival(expected[c.path], d["arrival"], run_end))
    attempted = n_expected
    if check:
        errors += check.failed()
        attempted += len(check.rows)
    lat.sort()
    if not measure.supports(len(lat), 95.0):
        raise SutError(f"{len(lat)} latency samples cannot support a 95th percentile")
    rx = sorted(t for c in clients for _, t in c.frames if t <= run_end)
    if len(rx) < 2:
        raise SutError(f"{len(rx)} frames delivered")
    e2e = {
        "setup_s": statistics.median(setups),
        # from the first event's due time until every client holds every
        # frame it expects of what was published
        "all_delivered_s": t_all - t0,
    }
    tail_p, tail_v = measure.tail_percentile(lat)
    layers, spans = serving_layers(
        res, clients, batch_of(res["progress"]), hi, sut.t_launch, ready["t"], pub_end)
    layers.update({
        "session.start_s": ready["session_s"],
        "session.cpus": ready["cpus"],
        "session.default_parallelism": ready["default_parallelism"],
        "gen.late_ms_max": late_max[0] * 1e3,
        "e2e.latency_p50_ms": measure.percentile(lat, 50) * 1e3,
        "e2e.latency_p95_ms": measure.percentile(lat, 95) * 1e3,
        "e2e.late_frac": measure.late_fraction(lat, LATE_LIMIT_S),
        "e2e.first_frame_s": rx[0] - t_connect,
        # counted from the first delivery: where the first trigger falls
        # against the publish start is phase, not throughput
        "e2e.delivered_eps": (len(rx) - 1) / (rx[-1] - rx[0]),
        "e2e.peak_rss_mb": sut.peak_rss_mb,
    })
    if check:
        cat_layers, cat_spans = catalog_layers(sut)
        layers.update(cat_layers)
        spans += cat_spans
    layers["trace.unaccounted_s"] = (t_end - sut.t_launch) - measure.union_length(
        [(s["start"], s["end"]) for s in spans])
    return {
        "attempted": attempted,
        "failed": errors,
        "e2e": e2e,
        "layers": layers,
        "spans": spans,
        "detail": {
            "frames_expected": n_expected, "frames_received": received,
            "frames_missing": missing, "latency_samples": len(lat),
            "latency_tail": {"p": tail_p, "ms": tail_v * 1e3},
            "setup_s": setups,
            "drain_s": run_end - pub_end,
            "query_build_s": started["t_start"] - t_go,
            "query_start_s": started["t"] - started["t_start"],
            "teardown_s": teardown_s,
            "self_s": measure.self_times(spans),
            "spans_from_connect": [
                [s["id"], round(s["start"] - t_connect, 3), round(s["end"] - t_connect, 3)]
                for s in spans if not s["id"].startswith("poll:")],
            "paths": paths, "id_window": [lo, hi],
        },
    }


# --------------------------------------------------------------------- #
# catalog request                                                         #
# --------------------------------------------------------------------- #


class CatalogCheck:
    """The catalog rows' oracle results, and the check of the SUT's."""

    def __init__(self, rows: tuple[str, ...], work: str, sf_dir: str):
        from reddit_sse_stream_spark.plans.catalog import QUERIES
        from reddit_sse_stream_spark.sources.tables import TABLES

        self.rows = rows
        con = duck(sf_dir, TABLES)
        self.want = {}
        for name in rows:
            sql = QUERIES[name].oracle
            if sql is not None:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                self.want[name] = {"cols": sorted(cols),
                                   "rows": measure.canon_rows(res.fetchall(), cols)}
        con.close()
        self.out = os.path.join(work, "catalog_rows.json")

    def failed(self) -> int:
        """Rows whose result differs from the oracle."""
        with open(self.out) as f:
            got = json.load(f)
        failed = 0
        for name in self.rows:
            if name in self.want:
                failed += got[name] != self.want[name]
            else:  # no SQL oracle: the rows-only check of the local oracle gate
                failed += not got[name]["rows"]
        return failed


def catalog_layers(sut: Sut) -> tuple[dict, list]:
    """Per-layer numbers and spans of the timed catalog rows."""
    timed = sut.msgs["row"]
    layers = {}
    for m in timed:
        key = f"plans.catalog.{m['name']}"
        layers[f"{key}.build_s"] = m["build_end"] - m["start"]
        layers[f"{key}.exec_s"] = m["end"] - m["exec_start"]
        layers[f"{key}.jobs"] = m["build_jobs"] + m["exec_jobs"]
    for part in ("build_s", "exec_s", "jobs"):
        layers[f"plans.catalog.{part}"] = sum(layers[f"plans.catalog.{m['name']}.{part}"]
                                              for m in timed)
    layers["e2e.catalog_s"] = layers["plans.catalog.build_s"] + layers["plans.catalog.exec_s"]
    spans = []
    for m in timed:
        spans.append({"id": f"build:{m['name']}", "parent": None,
                      "layer": "plans.catalog.build", "start": m["start"], "end": m["build_end"]})
        spans.append({"id": f"exec:{m['name']}", "parent": None,
                      "layer": "plans.catalog.exec", "start": m["exec_start"], "end": m["end"]})
    return layers, spans


# --------------------------------------------------------------------- #


def terminate(*_) -> None:
    """SIGTERM: unwind through the ``finally`` blocks that stop the SUT,
    ignoring a second SIGTERM that would cut that cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    t_main = time.monotonic()
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "reddit_sse_stream_spark")):
        print("perfbench: run from the root of a checkout of the project", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import datagen

    work = os.path.join(root, ".bench_build", "perfbench")
    sf_dir = datagen.ensure(os.path.join(work, "sf0.1"))
    steal0, total0 = cpu_ticks()
    r = run_serving(args.workload, args.seed, args.seconds, bool(args.trace), root,
                    work, sf_dir)
    layers = r["layers"]
    if args.trace:  # spans are kept in memory and written once, here
        layers.update({f"trace.{k}": v for k, v in r["e2e"].items()})
        with open(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(r["spans"], f)
    steal1, total1 = cpu_ticks()
    print("detail: " + json.dumps({"workload": args.workload, "seed": args.seed,
                                   "wall_s": time.monotonic() - t_main,
                                   # CPU time the hypervisor gave to others
                                   "host_steal_frac": (steal1 - steal0) / (total1 - total0),
                                   "trace": args.trace, **r["detail"],
                                   "e2e": r["e2e"], "layers": layers}))
    if args.trace:
        metrics = {}
        for n, unit in per_layer_units().items():
            if n not in layers and not n.startswith(NOT_APPLICABLE[args.workload]):
                raise SutError(f"per-layer metric {n!r} was not measured")
            metrics[n] = {"value": float(layers.get(n, 0)), "unit": unit}
    else:
        metrics = {n: {"value": float(r["e2e"][n]), "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if r["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
