"""End-to-end serving tests: HTTP SSE endpoint (param parsing, 400 paths,
frame streaming, shutdown) and a 64-client heterogeneous fan-out against an
independent oracle."""

from __future__ import annotations

import http.client
import json
import re
import socket
import threading
import time

import pytest

from reddit_sse_stream_spark.spec import QuerySpec
from reddit_sse_stream_spark.streaming.sink import KEEP_ALIVE_INTERVAL, SSEBroadcaster
from reddit_sse_stream_spark.streaming.server import SSEServer

# --------------------------------------------------------------- SSE server


@pytest.fixture()
def server():
    bc = SSEBroadcaster(clock=lambda: 0.0)
    srv = SSEServer(bc).start()
    yield srv, bc
    srv.stop()


def _get(port: int, path: str, stream: bool = False):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
    conn.request("GET", path)
    resp = conn.getresponse()
    return conn, resp


def test_server_400_on_conflicting_params(server):
    srv, _ = server
    conn, resp = _get(srv.port, "/?comment_backfill=5&comment_start_id=9")
    assert resp.status == 400
    assert b"mutually exclusive" in resp.read()
    conn.close()


def test_server_400_on_non_int_backfill(server):
    srv, _ = server
    conn, resp = _get(srv.port, "/?comment_backfill=ten")
    assert resp.status == 400
    conn.close()


def test_server_test_page(server):
    """The /test page must log what the server sends.  Every frame is a
    named event, and EventSource never passes named events to
    ``onmessage``, so the page has to subscribe to each event name the
    broadcaster emits: both feed streams and the keepalive."""
    srv, _ = server
    conn, resp = _get(srv.port, "/test")
    assert resp.status == 200
    page = resp.read().decode()
    conn.close()
    assert "EventSource" in page
    now = [0.0]
    bc = SSEBroadcaster(clock=lambda: now[0])
    bc.register("c", QuerySpec())
    base = {"author": "a", "subreddit": "s", "domain": None, "over_18": None,
            "is_self": None, "created_utc": 10, "json": "{}"}
    bc.publish([{**base, "id": 1, "event": "rc"}, {**base, "id": 2, "event": "rs"}])
    now[0] = 2 * KEEP_ALIVE_INTERVAL
    bc.tick()
    _, frames = bc.frames_since("c", 0)
    emitted = {re.search(r"^event: (\S+)$", f, re.M).group(1) for f in frames}
    assert emitted == {"rc", "rs", "keepalive"}
    assert emitted <= set(re.findall(r"addEventListener\('([^']+)'", page))


def test_server_streams_frames_for_registered_spec(server):
    srv, bc = server
    conn, resp = _get(srv.port, "/?type=comments&author=alice")
    assert resp.status == 200
    assert resp.getheader("Content-Type") == "text/event-stream"
    # the HTTP handler registered a client; push a batch through the
    # broadcaster and read what arrives on the wire
    time.sleep(0.1)
    rows = [
        {"id": 1, "event": "rc", "author": "alice", "subreddit": "s", "domain": None,
         "over_18": None, "is_self": None, "created_utc": 10, "json": '{"k":"1"}'},
        {"id": 2, "event": "rc", "author": "bob", "subreddit": "s", "domain": None,
         "over_18": None, "is_self": None, "created_utc": 11, "json": '{"k":"2"}'},
    ]
    bc.publish(rows)
    resp.fp.raise_on_eof = False  # type: ignore[attr-defined]
    deadline = time.time() + 5
    buf = b""
    while time.time() < deadline and b"\n\n" not in buf:
        chunk = resp.read1(4096)
        if chunk:
            buf += chunk
        else:
            time.sleep(0.05)
    text = buf.decode()
    assert "id: 1\nevent: rc\ndata: {\"k\":\"1\"}" in text
    assert "id: 2" not in text  # bob filtered out by ?author=alice
    conn.close()


def _raw_sse(port: int, path: str = "/"):
    """A raw-socket SSE connection, returned once the response head is in
    (the handler registers its client before it sends the head)."""
    sock = socket.create_connection(("127.0.0.1", port), timeout=5)
    sock.sendall(f"GET {path} HTTP/1.1\r\nHost: x\r\n\r\n".encode())
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += sock.recv(4096)
    head, rest = buf.split(b"\r\n\r\n", 1)
    assert head.startswith(b"HTTP/1.1 200")
    return sock, rest


def test_server_writes_one_publish_as_one_chunk(server):
    """Push delivery: every frame a publish leaves for a client goes out
    as ONE HTTP chunk (one write, one flush), not one chunk per frame."""
    srv, bc = server
    sock, buf = _raw_sse(srv.port, "/?type=comments")
    rows = [
        {"id": i, "event": "rc", "author": "a", "subreddit": "s", "domain": None,
         "over_18": None, "is_self": None, "created_utc": i, "json": "{}"}
        for i in (1, 2, 3)
    ]
    bc.publish(rows)
    while b"\r\n" not in buf:
        buf += sock.recv(4096)
    size_line, buf = buf.split(b"\r\n", 1)
    size = int(size_line, 16)
    while len(buf) < size:
        buf += sock.recv(4096)
    assert buf[:size].decode() == "".join(
        f"id: {i}\nevent: rc\ndata: {{}}\n\n" for i in (1, 2, 3)
    )
    sock.close()


def test_server_stop_wakes_an_idle_handler():
    """A handler blocked with no frames must not outlive ``stop()``: the
    stop wakes it, the connection closes, and its thread ends."""
    bc = SSEBroadcaster(clock=lambda: 0.0)
    srv = SSEServer(bc).start()
    before = set(threading.enumerate())
    sock, _ = _raw_sse(srv.port)
    handlers = [t for t in threading.enumerate()
                if t not in before and "process_request" in t.name]
    assert len(handlers) == 1 and bc._clients
    srv.stop()
    handlers[0].join(5)
    assert not handlers[0].is_alive()
    assert bc._clients == {}
    assert sock.recv(4096) == b""  # the server closed the stream
    sock.close()


# ----------------------------------------------- 64-client heterogeneous e2e


def _expected_feed(sf_dir: str) -> list[dict]:
    """INDEPENDENT derivation of BOTH feed streams from the raw events
    parquet (pyarrow only — none of the engine's source code), mirroring
    the documented generator mapping: rc = event_type in (view, click,
    error), rs = everything else; author = u{user_id%50}, subreddit =
    event_type, json = props."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet").to_pylist()
    return [
        {
            "id": r["event_id"],
            "event": (
                "rc"
                if r["event_type"] in ("view", "click", "error")
                else "rs"
            ),
            "author": f"u{r['user_id'] % 50}",
            "subreddit": r["event_type"],
            "json": r["props"],
        }
        for r in t
    ]


def _expected_frames_for_path(path: str, rows: list[dict]) -> list[str]:
    """Pure-Python replica of the spec semantics for FANOUT64_PATHS —
    type filter over BOTH streams, author/subreddit whitelists
    (single-entity per path, so no combiner subtleties), P2 key-subset
    at emit (sse.py:234-237)."""
    from reddit_sse_stream_spark.streaming.sink import format_frame
    from urllib.parse import parse_qs, urlparse

    q = parse_qs(urlparse(path).query, keep_blank_values=True)
    t = q.get("type", [None])[0]
    subs = set(q.get("subreddit", ()))
    auths = set(q.get("author", ()))
    keys = set(q["filter"][0].split(",")) if "filter" in q else None
    out = []
    for r in sorted(rows, key=lambda r: r["id"]):
        if t:
            want = (
                "rc"
                if (t.startswith("comment") or t == "rc")
                else "rs"
            )
            if r["event"] != want:
                continue
        if subs and r["subreddit"] not in subs:
            continue
        if auths and r["author"] not in auths:
            continue
        data = r["json"]
        if keys is not None:
            parsed = json.loads(data)
            data = json.dumps({k: v for k, v in parsed.items() if k in keys})
        out.append(format_frame(r["id"], r["event"], data))
    return out


#: 8 distinct compiled predicates x 8 clients each over the ONE shared
#: streaming query: firehose, both type filters, subreddit/author
#: whitelists, and JSON key-subset projections.  Values match the
#: testdata generator's derived feed (author = u{user_id%50}, subreddit =
#: event_type, props = {"k": N}).
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


def _read_frames(sock, buf: bytes, want: int, deadline: float) -> list[str]:
    """De-chunk the SSE body on ``sock`` (``buf`` holds what arrived after
    the response head) until it holds ``want`` frames, the stream ends or
    ``deadline`` (monotonic) passes; return its frames."""
    body = b""
    while body.count(b"\n\n") < want:
        size, sep, rest = buf.partition(b"\r\n")
        if sep and len(rest) >= int(size, 16) + 2:
            n = int(size, 16)
            body, buf = body + rest[:n], rest[n + 2 :]
            continue
        left = deadline - time.monotonic()
        if left <= 0:
            break
        sock.settimeout(left)
        try:
            data = sock.recv(1 << 16)
        except TimeoutError:
            break
        if not data:
            break
        buf += data
    return [f + "\n\n" for f in body.decode().split("\n\n") if f]


def test_fanout64_heterogeneous_per_client_frames(spark, sf_dir):
    """The ONE-query/N-clients design at an N that matters: 64 concurrent
    HTTP clients over 8 DISTINCT compiled specs against the real
    reddit_feed source -> foreachBatch -> SSEBroadcaster -> SSEServer
    path, fed rc + rs the way ``serve`` unions them.  Every client's
    delivered frame multiset must equal an expectation computed
    independently from the raw parquet with pure Python."""
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    rows = _expected_feed(sf_dir)
    assert any(r["event"] == "rc" for r in rows), "testdata has no rc"
    assert any(r["event"] == "rs" for r in rows), "testdata has no rs"
    expected = {p: _expected_frames_for_path(p, rows) for p in FANOUT64_PATHS}
    # with BOTH streams fed every path delivers, the submissions dispatch
    # path included
    assert all(expected.values())
    paths = [FANOUT64_PATHS[i % len(FANOUT64_PATHS)] for i in range(64)]

    bc = SSEBroadcaster()
    srv = SSEServer(bc).start()
    # every client is registered before its response head arrives, so
    # none misses the first micro-batch
    clients = [_raw_sse(srv.port, p) for p in paths]
    try:
        assert len(bc._clients) == 64
        events = f"{sf_dir}/events.parquet"
        rc = read_feed_stream(spark, events, "rc", backfill=100000)
        rs = read_feed_stream(spark, events, "rs", backfill=100000)
        q = rc.unionByName(rs).writeStream.foreachBatch(bc.foreach_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        deadline = time.monotonic() + 60
        got = [
            _read_frames(sock, buf, len(expected[p]), deadline)
            for (sock, buf), p in zip(clients, paths)
        ]
        # every frame the broadcaster queued, delivered or not: no client
        # was handed more than its expectation
        queued = sorted(st.base_seq + len(st.frames) for st in bc._clients.values())
    finally:
        for sock, _ in clients:
            sock.close()
        srv.stop()
    assert queued == sorted(len(expected[p]) for p in paths)
    for i, (frames, path) in enumerate(zip(got, paths)):
        assert sorted(frames) == sorted(expected[path]), (
            f"client {i} ({path}): got {len(frames)} frames, "
            f"want {len(expected[path])}"
        )
    # same-spec clients received byte-identical streams (the by-spec
    # sharing in foreach_batch); the firehose is the disjoint union of
    # the two type-filtered streams
    by_path: dict[str, list[list[str]]] = {}
    for frames, path in zip(got, paths):
        by_path.setdefault(path, []).append(frames)
    for path, streams in by_path.items():
        assert all(s == streams[0] for s in streams), path
    n = {p: len(s[0]) for p, s in by_path.items()}
    assert n["/"] == n["/?type=comments"] + n["/?type=submissions"]
    assert n["/?type=submissions"] > 0
