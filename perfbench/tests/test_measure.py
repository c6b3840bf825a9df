"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402


def chunked(*payloads: bytes) -> bytes:
    return b"".join(b"%x\r\n%s\r\n" % (len(p), p) for p in payloads)


def frame(i: int, event: str = "rc", data: str = '{"k": 1}') -> bytes:
    return f"id: {i}\nevent: {event}\ndata: {data}\n\n".encode()


class TestPercentiles:
    def test_nearest_rank(self):
        vals = list(range(1, 101))
        assert measure.percentile(vals, 50) == 50
        assert measure.percentile(vals, 99) == 99
        assert measure.percentile(vals, 100) == 100
        assert measure.percentile([7.0], 99) == 7.0

    def test_empty_sample_raises(self):
        with pytest.raises(ValueError):
            measure.percentile([], 50)

    def test_ten_beyond_rule(self):
        # p99 of 1000 leaves exactly 10 values above it; of 999, only 9
        assert measure.supports(1000, 99.0)
        assert not measure.supports(999, 99.0)
        assert measure.supports(20, 50.0)
        assert not measure.supports(19, 50.0)

    def test_tail_picks_highest_supported(self):
        assert measure.tail_percentile(list(range(1000)))[0] == 99.0
        assert measure.tail_percentile(list(range(10_000)))[0] == 99.9
        assert measure.tail_percentile(list(range(100)))[0] == 90.0
        assert measure.tail_percentile([3.0, 1.0, 2.0]) == (None, 3.0)

    def test_p99_or_max(self):
        assert measure.p99_or_max([float(v) for v in range(1, 1001)]) == 990.0
        assert measure.p99_or_max([5.0, 9.0, 1.0]) == 9.0


class TestCensoredLatency:
    def test_received_items_use_arrival(self):
        lat = measure.censored_latencies({1: 10.0, 2: 11.0}, {1: 10.5, 2: 11.25}, 20.0)
        assert lat == [0.5, 0.25]

    def test_missing_item_counts_at_run_end(self):
        lat = measure.censored_latencies({1: 10.0, 2: 11.0}, {1: 10.5}, 20.0)
        assert lat == [0.5, 9.0]

    def test_arrival_after_run_end_is_censored(self):
        assert measure.censored_latencies({1: 10.0}, {1: 30.0}, 20.0) == [10.0]

    def test_dropping_a_frame_never_improves_percentiles(self):
        due = {i: float(i) for i in range(100)}
        got = {i: i + 0.1 for i in range(100)}
        full = sorted(measure.censored_latencies(due, got, 200.0))
        del got[50]
        dropped = sorted(measure.censored_latencies(due, got, 200.0))
        for p in (50, 90, 99, 100):
            assert measure.percentile(dropped, p) >= measure.percentile(full, p)

    def test_last_arrival(self):
        assert measure.last_arrival([1, 2], {1: 10.5, 2: 11.25}, 20.0) == 11.25
        assert measure.last_arrival([1, 2], {1: 10.5}, 20.0) == 20.0
        assert measure.last_arrival([1], {1: 30.0}, 20.0) == 20.0

    def test_delay_to_phase(self):
        assert measure.delay_to_phase(100.2, 1.0, 0.5, 0.1) == pytest.approx(0.3)
        assert measure.delay_to_phase(100.45, 1.0, 0.5, 0.1) == pytest.approx(1.05)
        assert measure.delay_to_phase(100.4, 1.0, 0.5, 0.1) == pytest.approx(0.1)

    def test_late_fraction(self):
        assert measure.late_fraction([0.5, 1.5, 2.5, 3.0], 2.0) == 0.5


class TestChunkDecoder:
    def test_one_frame_per_chunk(self):
        d = measure.ChunkDecoder()
        out = d.feed(chunked(frame(1), frame(2)), 5.0)
        assert out == [(frame(1), 5.0), (frame(2), 5.0)]
        assert (d.chunks, d.frames, d.bytes) == (2, 2, len(frame(1)) + len(frame(2)))

    def test_many_frames_per_chunk(self):
        d = measure.ChunkDecoder()
        out = d.feed(chunked(frame(1) + frame(2) + frame(3)), 1.0)
        assert [f for f, _ in out] == [frame(1), frame(2), frame(3)]
        assert d.chunks == 1 and d.frames == 3

    def test_split_reads_stamp_completing_read(self):
        wire = chunked(frame(1), frame(22))
        d = measure.ChunkDecoder()
        got = []
        for k, b in enumerate(wire):  # one byte per read
            got += d.feed(bytes([b]), float(k))
        assert [f for f, _ in got] == [frame(1), frame(22)]
        assert got[-1][1] == float(len(wire) - 1)  # a chunk ends with its CRLF
        assert d.chunks == 2

    def test_frame_split_across_chunks(self):
        f = frame(7)
        d = measure.ChunkDecoder()
        assert d.feed(chunked(f[:5]), 1.0) == []
        assert d.feed(chunked(f[5:]), 2.0) == [(f, 2.0)]
        assert d.chunks == 2 and d.frames == 1

    def test_last_chunk_ends_stream(self):
        d = measure.ChunkDecoder()
        d.feed(chunked(frame(1)) + b"0\r\n\r\n", 0.0)
        assert d.ended

    def test_bad_chunk_terminator_raises(self):
        with pytest.raises(ValueError):
            measure.ChunkDecoder().feed(b"3\r\nabcXY", 0.0)


class TestDiffFrames:
    def test_exact_match(self):
        exp = {1: frame(1), 2: frame(2)}
        d = measure.diff_frames(exp, [(frame(1), 1.0), (frame(2), 2.0)])
        assert d["arrival"] == {1: 1.0, 2: 2.0}
        assert (d["wrong"], d["duplicate"], d["unexpected"], d["missing"]) == (0, 0, 0, 0)

    def test_every_error_class_is_counted(self):
        exp = {1: frame(1), 2: frame(2), 3: frame(3)}
        got = [
            (frame(1), 1.0),
            (frame(1), 1.5),  # duplicate
            (frame(2, data='{"k": 2}'), 2.0),  # wrong bytes
            (frame(9), 3.0),  # unexpected
        ]
        d = measure.diff_frames(exp, got)
        assert (d["wrong"], d["duplicate"], d["unexpected"], d["missing"]) == (1, 1, 1, 1)
        assert d["arrival"][1] == 1.0  # first arrival is kept

    def test_frame_id(self):
        assert measure.frame_id(frame(123)) == 123
        with pytest.raises(ValueError):
            measure.frame_id(b"event: rc\n\n")


class TestSpans:
    def test_union_length(self):
        assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
        assert measure.union_length([]) == 0

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": "t", "parent": None, "layer": "trigger", "start": 0.0, "end": 10.0},
            {"id": "s", "parent": "t", "layer": "sink", "start": 2.0, "end": 6.0},
            {"id": "s2", "parent": "t", "layer": "sink", "start": 5.0, "end": 7.0},
        ]
        st = measure.self_times(spans)
        assert st == {"trigger": 5.0, "sink": 6.0}


class TestCanon:
    def test_backend_insensitive(self):
        a = measure.canon_rows([(1, 0.1 + 0.2, True)], ["b", "a", "c"])
        b = measure.canon_rows([(0.3, 1, 1)], ["a", "b", "c"])
        assert a == b

    def test_order_insensitive(self):
        rows = [(2, "x"), (1, "y")]
        assert measure.canon_rows(rows, ["n", "s"]) == measure.canon_rows(rows[::-1], ["n", "s"])
