"""CLI — run the engine the way the reference is run (`python sse.py`,
/root/reference/sse.py:252), plus batch-query utilities:

    python -m reddit_sse_stream_spark serve --events PATH [--port 8765]
        Start the SSE server: ONE shared Spark streaming query (rc + rs
        feed union) fans out to every HTTP client, each with its own
        reference-compatible filter params (?type=&author=&subreddit=...).

    python -m reddit_sse_stream_spark query NAME [--sf-dir DIR] [--limit N]
        Run one catalog query and print its result.

    python -m reddit_sse_stream_spark list
        List all catalog queries (* = value-level DuckDB oracle).
"""

from __future__ import annotations

import argparse
import sys

from reddit_sse_stream_spark.session import get_spark


def _cmd_serve(args: argparse.Namespace) -> int:
    from reddit_sse_stream_spark.streaming.server import SSEServer
    from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    spark = get_spark("sse_serve")
    bc = SSEBroadcaster()
    srv = SSEServer(bc, host=args.host, port=args.port).start()
    rc = read_feed_stream(
        spark, args.events, "rc", backfill=args.backfill or None
    )
    rs = read_feed_stream(
        spark, args.events, "rs", backfill=args.backfill or None
    )
    q = (
        rc.unionByName(rs)
        .writeStream.foreachBatch(bc.foreach_batch)
        .trigger(processingTime=f"{args.poll_ms} milliseconds")
        .start()
    )
    print(f"SSE server on http://{args.host}:{srv.port}/ (params: type, author,"
          " subreddit, domain, over_18, is_self, filter; *_backfill and"
          " *_start_id are validated but ignored: clients join at the live cursor)")
    print("Ctrl-C to stop.")
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        pass
    finally:
        q.stop()
        srv.stop()
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = get_spark("cli_query")
    df = QUERIES[args.name].spark(spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def _cmd_list(_args: argparse.Namespace) -> int:
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    for name, qd in QUERIES.items():
        mark = "*" if qd.oracle is not None else " "
        print(f"{mark} {name}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="reddit_sse_stream_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("serve", help="start the SSE streaming server")
    s.add_argument("--events", default="/root/testdata/sf0.001/events.parquet")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8765)
    s.add_argument("--backfill", type=int, default=0,
                   help="rewind N ids at start (clamped to 100000, like the reference)")
    s.add_argument("--poll-ms", type=int, default=1000)
    s.set_defaults(fn=_cmd_serve)

    qp = sub.add_parser("query", help="run one catalog query")
    qp.add_argument("name")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    qp.add_argument("--limit", type=int, default=20)
    qp.set_defaults(fn=_cmd_query)

    lp = sub.add_parser("list", help="list catalog queries")
    lp.set_defaults(fn=_cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
