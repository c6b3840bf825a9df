"""Pure helpers of the benchmark: percentiles, censored latency, the
chunked-HTTP/SSE decoder, frame diff accounting, span self times and
result canonicalisation.  Nothing here starts a process or opens a file,
so the unit tests in ``perfbench/tests`` exercise it directly.
"""

from __future__ import annotations

import math

#: percentiles tried, highest first, by :func:`tail_percentile`
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("percentile of an empty sample")
    return sorted_vals[rank(len(sorted_vals), p) - 1]


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile in a sample of ``n``
    (rounded first, so 99.9% of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def supports(n: int, p: float, beyond: int = 10) -> bool:
    """True when a sample of ``n`` has at least ``beyond`` values above the
    nearest-rank ``p``-th percentile."""
    return n - rank(n, p) >= beyond


def tail_percentile(vals: list[float]) -> tuple[float | None, float]:
    """``(p, value)`` for the highest of :data:`TAIL_CANDIDATES` with at
    least ten samples beyond it.  A sample too small for any of them
    returns ``(None, max)``: the slowest value, flagged as unsupported."""
    s = sorted(vals)
    for p in TAIL_CANDIDATES:
        if supports(len(s), p):
            return p, percentile(s, p)
    return None, s[-1]


def p99_or_max(vals: list[float]) -> float:
    """The 99th percentile when the sample supports it (at least ten
    values beyond), else the slowest value."""
    s = sorted(vals)
    return percentile(s, 99.0) if supports(len(s), 99.0) else s[-1]


def censored_latencies(due: dict, received: dict, run_end: float) -> list[float]:
    """Latency in seconds of every expected item.

    ``due`` maps item -> the time it became due; ``received`` maps item ->
    the time it arrived.  An item that never arrived, or arrived after
    ``run_end``, counts at ``run_end - due``: dropping an item can never
    improve a percentile."""
    out = []
    for item, t_due in due.items():
        t = received.get(item)
        if t is None or t > run_end:
            t = run_end
        out.append(t - t_due)
    return out


def delay_to_phase(now: float, period: float, phase: float, margin: float) -> float:
    """Seconds from ``now`` to the first time at least ``margin`` later whose
    remainder modulo ``period`` is ``phase``."""
    t = now + margin
    return t + (phase - t) % period - now


def last_arrival(expected, received: dict, run_end: float) -> float:
    """When the last of the ``expected`` items arrived; an item missing, or
    arrived after ``run_end``, counts at ``run_end``."""
    return max(min(received.get(i, run_end), run_end) for i in expected)


def late_fraction(latencies: list[float], limit_s: float) -> float:
    return sum(1 for v in latencies if v > limit_s) / len(latencies)


class ChunkDecoder:
    """Incremental decoder for one chunked ``text/event-stream`` body.

    :meth:`feed` takes the bytes of one socket read and the time it was
    read, and returns every SSE frame (``b"id: ...\\n\\n"``) completed by
    those bytes, stamped with that time.  It counts chunks and body bytes
    as they arrive on the wire."""

    def __init__(self) -> None:
        self._raw = b""
        self._body = b""
        self._need = -1  # bytes left in the current chunk incl. CRLF; -1 = size line
        self.chunks = 0
        self.bytes = 0
        self.frames = 0
        self.ended = False

    def feed(self, data: bytes, t: float) -> list[tuple[bytes, float]]:
        buf, pos, parts = self._raw + data, 0, []
        while True:
            if self._need < 0:
                eol = buf.find(b"\r\n", pos)
                if eol < 0:
                    break
                size = int(buf[pos:eol].split(b";")[0], 16)
                pos = eol + 2
                if size == 0:
                    self.ended = True
                    break
                self.chunks += 1
                self._need = size + 2
            if len(buf) - pos < self._need:
                break
            end = pos + self._need
            if buf[end - 2 : end] != b"\r\n":
                raise ValueError("chunk not terminated by CRLF")
            parts.append(buf[pos : end - 2])
            self.bytes += self._need - 2
            pos, self._need = end, -1
        self._raw = buf[pos:]
        *done, self._body = (self._body + b"".join(parts)).split(b"\n\n")
        self.frames += len(done)
        return [(f + b"\n\n", t) for f in done]


def frame_id(frame: bytes) -> int:
    """The ``id:`` of an SSE frame (its first line)."""
    first = frame.split(b"\n", 1)[0]
    if not first.startswith(b"id: "):
        raise ValueError(f"frame without id line: {frame[:40]!r}")
    return int(first[4:])


def diff_frames(
    expected: dict[int, bytes],
    received: list[tuple[bytes, float]],
) -> dict:
    """Compare one client's received frames with the expected frame per id.

    Returns the first arrival time of each id and the counts of ``wrong``
    (an expected id with other bytes), ``duplicate`` (an id seen again),
    ``unexpected`` (an id not expected) and ``missing`` (an expected id
    never seen) frames."""
    first: dict[int, float] = {}
    wrong = duplicate = unexpected = 0
    for frame, t in received:
        i = frame_id(frame)
        if i in first:
            duplicate += 1
            continue
        want = expected.get(i)
        if want is None:
            unexpected += 1
        elif want != frame:
            wrong += 1
        first[i] = t
    missing = sum(1 for i in expected if i not in first)
    return {
        "arrival": first,
        "wrong": wrong,
        "duplicate": duplicate,
        "unexpected": unexpected,
        "missing": missing,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each layer's spans not covered by their child spans.

    A span is ``{"id", "parent", "layer", "start", "end"}``; ``parent`` is
    the id of the span that caused it, or ``None``."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"]
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["layer"]] = out.get(s["layer"], 0.0) + own - union_length(kids)
    return out


def canon_value(v):
    """Order- and backend-insensitive form of one result cell (the same
    normalisation as the project's local oracle check)."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return repr([canon_value(x) for x in v])
    if v is None or isinstance(v, (int, str)):
        return v
    return str(v)


def canon_rows(rows, cols: list[str]) -> list:
    """Rows with columns sorted by name and cells canonicalised, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        ([canon_value(r[i]) for i in order] for r in rows), key=repr
    )
