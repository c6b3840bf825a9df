"""Structured Streaming source for the reddit-shaped feed — the Spark-native
replacement for the reference's Redis polling loop (/root/reference/sse.py:
80-152), built on the Python Data Source API (Spark 4 ``pyspark.sql.
datasource``).

Offset model (SURVEY.md §2.1):

- The reference keeps one dense integer cursor per stream and reads 25
  comment / 10 submission ids per Redis round-trip, re-polling after 25 ms
  while one comes back full (sse.py:101-110,243-250). Here each stream
  ('rc'/'rs') is its own source instance with offset ``{"id": <last>}``
  over the shared event_id space; a trigger reads to the head, at most
  ``max_ids_per_batch`` ids — Kafka's maxOffsetsPerTrigger: a catch-up
  memory bound, not a pacing rate (the trigger interval paces, S6).
- S2 offset discovery: ``initialOffset`` resolves latest from parquet
  statistics (the reference GETs rc:max_id/rs:max_id, sse.py:88-98).
- S3 backfill: start at ``latest - min(N, 100000)`` (clamp, sse.py:65).
- S4 exact resume: ``start_id`` overrides the cursor to ``start_id - 1``
  (sse.py:126-129); mutual exclusion with backfill is validated by
  QuerySpec at the API layer (V1).
- S5 gap handling: the reference drops ids that appear late (at-most-once
  per id). A replayable file-backed source has no such holes; late data is
  instead handled downstream with ``withWatermark`` — documented deviation.

The reader is a stateless ``SimpleDataSourceStreamReader``: Spark hands
``read(start)`` the batch start, so the reference's "ids after N" cursor
needs no driver-side bookkeeping, and the append-only file makes
``readBetweenOffsets(start, end)`` a pure function for replay after a
restart. Both read on the driver with a pyarrow range+type filter
(predicate pushdown at the row-group level), derive the feed columns, and
return Arrow RecordBatches; ``max_ids_per_batch`` bounds what one read
holds.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from reddit_sse_stream_spark.spec import MAX_BACKFILL

FEED_DDL = (
    "id long, event string, author string, subreddit string, domain string, "
    "over_18 boolean, is_self boolean, created_utc long, json string"
)

RC_TYPES = ("view", "click", "error")

#: per-stream, per-trigger id cap (``max_ids_per_batch`` default): bounds a
#: catch-up trigger's memory; the reference's 25/10 is one Redis round-trip
DEFAULT_MAX_IDS = 10_000


def _max_event_id(path: str) -> int:
    """S2 — offset discovery from parquet column statistics (no data scan)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    idx = pf.schema_arrow.get_field_index("event_id")
    best = -1
    for rg in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            best = max(best, st.max)
    if best >= 0:
        return best
    # stats missing -> fall back to a single-column scan
    import pyarrow.compute as pc

    return pc.max(pf.read(columns=["event_id"])["event_id"]).as_py()


def _read_feed_batches(path: str, stream: str, start_id: int, end_id: int):
    """Derive feed rows for (start_id, end_id] of one stream as Arrow batches.

    The pyarrow dataset filter prunes row groups on event_id statistics —
    the vectorized analog of the reference's pipelined HGETALL window."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    type_pred = (
        ds.field("event_type").isin(list(RC_TYPES))
        if stream == "rc"
        else ~ds.field("event_type").isin(list(RC_TYPES))
    )
    tbl = dataset.to_table(
        filter=(ds.field("event_id") > start_id)
        & (ds.field("event_id") <= end_id)
        & type_pred
    )
    if tbl.num_rows == 0:
        return
    def _mod(arr, m: int):
        # pyarrow.compute lacks mod; truncating int divide == floor for >= 0
        return pc.subtract(arr, pc.multiply(pc.divide(arr, m), m))

    event_id = tbl["event_id"]
    user_id = tbl["user_id"]
    is_rs = stream == "rs"
    n = tbl.num_rows
    author = pc.binary_join_element_wise(
        pa.array(["u"] * n),
        pc.cast(_mod(user_id, 50), pa.string()),
        "",
    )
    if is_rs:
        domain = pc.binary_join_element_wise(
            pa.array(["dom"] * n),
            pc.cast(_mod(user_id, 7), pa.string()),
            pa.array([".example.com"] * n),
            "",
        )
        over_18 = pc.greater(tbl["value"], 100.0)
        is_self = pc.equal(_mod(event_id, 2), 0)
    else:
        domain = pa.nulls(n, pa.string())
        over_18 = pa.nulls(n, pa.bool_())
        is_self = pa.nulls(n, pa.bool_())
    # ts unit varies across testdata generations (ns in early rounds, us
    # now): int-div by the unit's ticks-per-second -> epoch seconds
    _ticks = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}
    created_utc = pc.divide(
        pc.cast(tbl["ts"], pa.int64()), _ticks[tbl["ts"].type.unit]
    )
    out = pa.table(
        {
            "id": event_id,
            "event": pa.array([stream] * n),
            "author": author,
            "subreddit": tbl["event_type"],
            "domain": domain,
            "over_18": over_18,
            "is_self": is_self,
            "created_utc": created_utc,
            "json": tbl["props"],
        }
    )
    yield from out.to_batches(max_chunksize=8192)


class FeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("option 'path' (events parquet) is required")
        self.stream = options.get("stream", "rc")
        if self.stream not in ("rc", "rs"):
            raise ValueError("option 'stream' must be 'rc' or 'rs'")
        self.batch_size = int(options.get("max_ids_per_batch", DEFAULT_MAX_IDS))
        if self.batch_size <= 0:
            # a non-positive cap would pin every read() at its start
            raise ValueError("option 'max_ids_per_batch' must be positive")
        self.backfill = options.get("backfill")
        self.start_id = options.get("start_id")
        if self.backfill is not None and self.start_id is not None:
            raise ValueError("backfill and start_id are mutually exclusive")  # V1

    def initialOffset(self) -> dict:
        latest = _max_event_id(self.path)
        if self.start_id is not None:
            return {"id": int(self.start_id) - 1}  # S4 (sse.py:126-129)
        if self.backfill is not None:
            n = min(int(self.backfill), MAX_BACKFILL)  # S3 clamp (sse.py:65)
            return {"id": max(latest - n, -1)}
        return {"id": latest}

    def read(self, start: dict) -> tuple[Iterator, dict]:
        # S6 — read to the head, at most batch_size ids: the memory bound on
        # a catch-up trigger (maxOffsetsPerTrigger-style), not a pace.  A
        # list iterator, not a generator: Spark copies the cached iterator.
        lo = start["id"]
        end = max(min(_max_event_id(self.path), lo + self.batch_size), lo)
        return iter(list(self.readBetweenOffsets(start, {"id": end}))), {"id": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        return _read_feed_batches(self.path, self.stream, start["id"], end["id"])


class RedditFeedDataSource(DataSource):
    """``spark.readStream.format("reddit_feed")`` after
    ``spark.dataSource.register(RedditFeedDataSource)``.

    Options: path (required), stream ('rc'|'rs'), max_ids_per_batch,
    backfill, start_id.
    """

    @classmethod
    def name(cls) -> str:
        return "reddit_feed"

    def schema(self) -> str:
        return FEED_DDL

    def simpleStreamReader(self, schema) -> FeedStreamReader:
        return FeedStreamReader(self.options)


def read_feed_stream(spark, path: str, stream: str = "rc", **options):
    """Convenience: register + readStream one feed stream."""
    spark.dataSource.register(RedditFeedDataSource)
    reader = (
        spark.readStream.format("reddit_feed")
        .option("path", path)
        .option("stream", stream)
    )
    for k, v in options.items():
        if v is not None:
            reader = reader.option(k, str(v))
    return reader.load()

