"""The system under test, in its own process.

It assembles the ``serve`` stack from its public pieces, the way
``python -m reddit_sse_stream_spark serve`` does: ``read_feed_stream`` for
rc and rs -> ``unionByName`` -> ``foreachBatch(SSEBroadcaster.foreach_batch)``
-> ``SSEServer``, with ``serve``'s shipped settings: the source's default
per-trigger caps, the 1000 ms trigger and no backfill.  With
``--catalog-rows`` it also builds catalog rows while its feed is live and
writes each to a noop sink, timed, then collects it for the check.  With
``--trace`` the process times its calls into
``SSEBroadcaster.foreach_batch`` and ``SSEBroadcaster.frames_since``; the
program itself is not instrumented.

The process talks to the load generator (``run.py``) through lines on
stdin and stdout; a line meant for the generator starts with ``@@ ``.
All times are ``time.monotonic()``, one clock for every process on the host.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import canon_rows  # noqa: E402


def emit(kind: str, **fields) -> None:
    sys.stdout.write("@@ " + json.dumps({"kind": kind, **fields}) + "\n")
    sys.stdout.flush()


#: ``serve``'s default trigger (``--poll-ms``)
TRIGGER_MS = 1000


def wait_for(line: str) -> None:
    got = sys.stdin.readline().strip()
    if not got:  # the generator closed stdin: stop here
        raise SystemExit(0)
    if got != line:
        raise SystemExit(f"expected {line!r} on stdin, got {got!r}")


def session(app: str):
    from reddit_sse_stream_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app)
    t1 = time.monotonic()
    sc = spark.sparkContext
    return spark, {
        "session_s": t1 - t0,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "default_parallelism": sc.defaultParallelism,
    }


def job_count(sc, group) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def serve(args: argparse.Namespace) -> None:
    from reddit_sse_stream_spark.streaming.server import SSEServer
    from reddit_sse_stream_spark.streaming.sink import SSEBroadcaster
    from reddit_sse_stream_spark.streaming.source import read_feed_stream

    spark, ctx = session("sse_serve")
    bc = SSEBroadcaster()
    srv = SSEServer(bc).start()
    emit("ready", t=time.monotonic(), port=srv.port, **ctx)

    batches: list = []  # (epoch, start, end, jobs)
    polls: list = []  # (client, start, end, frames)
    overhead = [0.0]
    sink = bc.foreach_batch
    if args.trace:
        sc = spark.sparkContext

        def sink(batch_df, epoch_id):
            a = time.monotonic()
            group = sc.getLocalProperty("spark.jobGroup.id")
            j0 = job_count(sc, group)
            t0 = time.monotonic()
            bc.foreach_batch(batch_df, epoch_id)
            t1 = time.monotonic()
            batches.append((epoch_id, t0, t1, job_count(sc, group) - j0))
            overhead[0] += (t0 - a) + (time.monotonic() - t1)

        frames_since = bc.frames_since

        def traced_frames_since(client_id, offset):
            t0 = time.monotonic()
            out = frames_since(client_id, offset)
            t1 = time.monotonic()
            polls.append((client_id, t0, t1, len(out[1])))
            overhead[0] += time.monotonic() - t1
            return out

        bc.frames_since = traced_frames_since

    wait_for("go")
    rc = read_feed_stream(spark, args.events, "rc")
    rs = read_feed_stream(spark, args.events, "rs")
    writer = (rc.unionByName(rs).writeStream.foreachBatch(sink)
              .trigger(processingTime=f"{TRIGGER_MS} milliseconds"))
    t_start = time.monotonic()
    q = writer.start()
    # the first trigger fixes the start offsets; events published before it
    # ends would fall before the live cursor
    while not q.recentProgress:
        if q.exception() is not None:
            raise SystemExit(f"query failed: {q.exception()}")
        time.sleep(0.02)
    emit("started", t_start=t_start, t=time.monotonic())
    if args.catalog_rows:  # a catalog request while the feed is live
        catalog_rows(spark, args.sf_dir, args.catalog_rows.split(","), args.catalog_out)
    wait_for("stop")
    # wall-clock -> monotonic offset, for the progress timestamps
    mono_minus_wall = time.monotonic() - time.time()
    progress = [json.loads(p.json) for p in q.recentProgress]
    failure = q.exception()
    q.stop()
    emit(
        "result",
        progress=progress,
        mono_minus_wall=mono_minus_wall,
        batches=batches,
        polls=polls,
        overhead_s=overhead[0],
        failure=str(failure) if failure else None,
    )
    srv.stop()
    spark.stop()


def catalog_rows(spark, sf_dir: str, rows: list[str], out: str) -> None:
    """Build each catalog row and write it to a noop sink, timed, with its
    build/execute split and Spark job counts taken as tools/profile_rows.py
    does.  Then, untimed, collect the row for the oracle check; the
    results go to ``out``."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES
    from reddit_sse_stream_spark.session import release_local_checkpoints

    sc = spark.sparkContext
    results = {}
    for name in rows:
        j0 = job_count(sc, None)  # a streaming query's jobs carry its group
        t0 = time.monotonic()
        df = QUERIES[name].spark(spark, sf_dir)
        t1 = time.monotonic()
        j1 = job_count(sc, None)
        t1b = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        j2 = job_count(sc, None)
        emit("row", name=name, start=t0, build_end=t1, exec_start=t1b, end=t2,
             build_jobs=j1 - j0, exec_jobs=j2 - j1)
        results[name] = {"cols": sorted(df.columns),
                         "rows": canon_rows(df.collect(), df.columns)}
        release_local_checkpoints(spark)
    with open(out, "w") as f:
        json.dump(results, f)
    emit("catalog_done", t=time.monotonic())


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--events", required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--sf-dir")
    p.add_argument("--catalog-out")
    p.add_argument("--catalog-rows", help="comma-separated")
    serve(p.parse_args())


if __name__ == "__main__":
    main()
