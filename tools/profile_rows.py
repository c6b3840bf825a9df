"""Per-row overhead profiler: splits each query's wall time into (a)
DataFrame BUILD (driver-side Python incl. any training actions the builder
runs) and (b) the noop-sink EXECUTE, and records the Spark jobs each phase
issued — the fixed-overhead axes (driver syncs, scheduling boundaries,
Catalyst work) that dominate at bench scale where the data itself is tiny.
The split is ``bench.profile_row``, the same one every bench row records.

Usage: python tools/profile_rows.py [sf_dir] query [query ...]
       python tools/profile_rows.py --runs 3 /root/testdata/sf0.1 knn_ivfpq_topk
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import profile_row
from reddit_sse_stream_spark.plans.catalog import QUERIES
from reddit_sse_stream_spark.session import get_spark, release_local_checkpoints


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args
    spark = get_spark("profile_rows")
    # warm-up at the smallest sf, mirroring bench.py
    warm = "/root/testdata/sf0.001"
    if not os.path.isdir(warm):
        warm = sf_dir
    for name in names:
        QUERIES[name].spark(spark, warm).write.format("noop").mode(
            "overwrite"
        ).save()
        release_local_checkpoints(spark)
    out: dict[str, list] = {}
    for name in names:
        out[name] = [profile_row(spark, name, sf_dir) for _ in range(runs)]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
