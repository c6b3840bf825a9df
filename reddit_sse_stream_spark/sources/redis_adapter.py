"""Adapter for the reference's exact Redis layout — stream hashes
``rc:id:<int>`` / ``rs:id:<int>`` plus counters ``rc:max_id`` / ``rs:max_id``
(/root/reference/sse.py:83-102,146-152).

The client is duck-typed (anything exposing ``pipeline()`` with
``get``/``hgetall``/``execute``): the real ``redis`` package isn't in this
container, so production wiring is gated behind :func:`connect` while tests
exercise the identical protocol against an in-memory fake.

Semantics preserved:

- one pipelined round-trip per poll: COM_BUFFER (25) + SUB_BUFFER (10)
  HGETALLs (S1, sse.py:146-152),
- ``max_id`` discovery via pipelined GETs (S2, sse.py:88-98),
- ``was_full`` flag: cleared when any probed id is missing — the
  reference's adaptive fast-poll signal (S6, sse.py:183,226,247-248),
- gap handling: missing ids are skipped, the cursor still advances past
  probed ids only when the window was full (S5 at-most-once, sse.py:155-162).
"""

from __future__ import annotations

from dataclasses import dataclass

#: reference buffer sizes (sse.py:101-102)
COM_BUFFER_SIZE = 25
SUB_BUFFER_SIZE = 10


@dataclass(frozen=True)
class Poll:
    rows: list[dict]  # decoded hashes, each with added 'id' and 'event'
    cursor: int  # last id whose window slot was inspected AND seen
    was_full: bool  # every probed id present -> caller should fast-poll


class RedisFeedAdapter:
    def __init__(self, client, stream: str = "rc", buffer_size: int | None = None):
        if stream not in ("rc", "rs"):
            raise ValueError("stream must be 'rc' or 'rs'")
        self.client = client
        self.stream = stream
        self.buffer_size = buffer_size or (
            COM_BUFFER_SIZE if stream == "rc" else SUB_BUFFER_SIZE
        )

    def max_ids(self) -> tuple[int, int]:
        """S2 — pipelined GET of both stream cursors (sse.py:88-98)."""
        pipe = self.client.pipeline()
        pipe.get("rc:max_id")
        pipe.get("rs:max_id")
        rc, rs = pipe.execute()
        return int(rc or -1), int(rs or -1)

    def poll(self, cursor: int) -> Poll:
        """S1 — one pipelined batch of HGETALLs for the next contiguous id
        window (sse.py:146-152), with the reference's cursor/was_full
        bookkeeping (sse.py:155-162,183)."""
        ids = list(range(cursor + 1, cursor + self.buffer_size + 1))
        pipe = self.client.pipeline()
        for i in ids:
            pipe.hgetall(f"{self.stream}:id:{i}")
        hashes = pipe.execute()
        rows: list[dict] = []
        was_full = True
        max_seen = cursor
        for i, h in zip(ids, hashes):
            if h:
                if i > max_seen:
                    max_seen = i  # A3 monotonic cursor (sse.py:162,192)
                row = {
                    (k.decode() if isinstance(k, bytes) else k): (
                        v.decode() if isinstance(v, bytes) else v
                    )
                    for k, v in h.items()
                }
                row["id"] = i
                row["event"] = self.stream
                rows.append(row)
            else:
                was_full = False  # sse.py:183,226
        return Poll(rows=rows, cursor=max_seen, was_full=was_full)


def connect(url: str = "redis://localhost:6379/1", stream: str = "rc") -> RedisFeedAdapter:
    """Production wiring (requires the optional ``redis`` package; the
    reference uses db=1, sse.py:83)."""
    try:
        import redis  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - package absent in CI image
        raise ImportError(
            "the optional 'redis' package is required for a live connection; "
            "tests use any pipeline-compatible fake"
        ) from exc
    return RedisFeedAdapter(redis.Redis.from_url(url), stream)
