"""CLI end-to-end: `python -m reddit_sse_stream_spark serve` in a subprocess,
consumed over real HTTP with the stdlib consumer — the full
reference-replacement loop (serve -> filter params -> SSE frames -> 400s)."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import pytest

EVENTS = "/root/testdata/sf0.001/events.parquet"
#: the served feed starts with this many events; a test appends the rest
FEED_START = 800


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    """(path, events): a prefix of the event log that a test can grow, the
    way the live feed grows under ``serve``."""
    import pyarrow.parquet as pq

    events = pq.read_table(EVENTS)
    path = str(tmp_path_factory.mktemp("feed") / "events.parquet")
    pq.write_table(events.slice(0, FEED_START), path)
    return path, events


def _publish(feed, n_rows: int) -> None:
    import pyarrow.parquet as pq

    path, events = feed
    pq.write_table(events.slice(0, n_rows), path + ".tmp")
    os.replace(path + ".tmp", path)


@pytest.fixture(scope="module")
def served(feed):
    port = _free_port()
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "reddit_sse_stream_spark", "serve",
            "--events", feed[0],
            "--backfill", "100000", "--port", str(port), "--poll-ms", "300",
        ],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    base = f"http://127.0.0.1:{port}"
    # wait for the HTTP layer (it binds before Spark finishes warming)
    for _ in range(120):
        try:
            urllib.request.urlopen(f"{base}/test", timeout=2)
            break
        except Exception:
            time.sleep(1)
    else:
        proc.kill()
        pytest.fail("serve subprocess never came up")
    yield base
    proc.terminate()
    proc.wait(timeout=30)


def test_serve_streams_filtered_frames(served):
    from tools.consume_sse import iter_events

    deadline = time.time() + 120
    got = []
    while time.time() < deadline and len(got) < 3:
        try:
            for ev in iter_events(f"{served}/?type=rc&subreddit=click"):
                got.append(ev)
                if len(got) >= 3:
                    break
        except Exception:
            time.sleep(2)
    assert len(got) >= 3, "no SSE frames arrived"
    for event_id, event, data in got:
        assert event == "rc"
        assert int(event_id) >= 0
        json.loads(data)  # payload is valid JSON


def test_serve_validation_400(served):
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(f"{served}/?comment_backfill=x", timeout=10)
    assert exc.value.code == 400


def test_consume_sse_stops_after_max_events(served, feed, capsys):
    # a client joins at the live cursor, so grow the feed until it has read
    from tools.consume_sse import main

    codes = []
    t = threading.Thread(
        target=lambda: codes.append(main([f"{served}/", "--max", "2"])), daemon=True
    )
    t.start()
    for n_rows in range(FEED_START + 10, feed[1].num_rows + 1, 10):
        t.join(timeout=0.5)
        if not t.is_alive():
            break
        _publish(feed, n_rows)
    t.join(timeout=30)
    assert codes == [0]
    assert len(capsys.readouterr().out.splitlines()) == 2
