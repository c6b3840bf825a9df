"""Local replica of the driver's correctness gate: run every catalog query
in Spark AND its DuckDB oracle on the same sf dir; compare row count, sorted
column names, and order-insensitive values at full float precision.

Usage: python tools/verify_local.py [--plain-session] [sf_dir] [query ...]

``--plain-session`` builds a VANILLA SparkSession (no confs from
``session.get_spark``) — the exact shape the external driver injects.  This
is the guard against harness/session coupling regressions: round 1 failed
31/50 driver checks because the nanosAsLong conf lived only in get_spark(),
a failure mode invisible to every get_spark-based local run.
"""

from __future__ import annotations

import math
import sys
import traceback

import duckdb

sys.path.insert(0, ".")

from reddit_sse_stream_spark.plans.catalog import QUERIES
from reddit_sse_stream_spark.sources.tables import TABLES
from reddit_sse_stream_spark.session import get_spark, release_local_checkpoints


def norm_value(v):
    """One cell at full precision: a float as its shortest round-trip
    ``repr`` (so 47559.28 and 47559.29 stay distinct), NaN equal to
    itself, a bool as the int the driver's hash sees."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return int(v)
    return v


def canon_rows(rows, cols):
    """Rows as a sorted list of tuples, columns in name order: an
    order-insensitive, full-precision form both engines' results compare in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm_value(r[i]) for i in order) for r in rows), key=repr)


def main() -> int:
    args = list(sys.argv[1:])
    plain = "--plain-session" in args
    if plain:
        args.remove("--plain-session")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("verify_local_plain")
            .config("spark.sql.shuffle.partitions", "32")
            .getOrCreate()
        )
    else:
        spark = get_spark("verify_local")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failed = []
    n_run = 0
    for name, qd in QUERIES.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = qd.spark(spark, sf_dir)
            if qd.oracle is not None:
                from pyspark.sql.types import ArrayType, MapType, StructType

                bad = [
                    f.name
                    for f in sdf.schema.fields
                    if isinstance(f.dataType, (ArrayType, MapType, StructType))
                ]
                if bad:
                    # The driver's pandas canonicalizer cannot hash
                    # list/map/struct cells (r05 red rows); refuse here so
                    # the repr-based value compare below can't mask it.
                    print(f"FAIL {name}: complex-typed oracled output {bad}")
                    failed.append(name)
                    continue
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if qd.oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(qd.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            sc = canon_rows([tuple(r) for r in srows], scols)
            dc = canon_rows(drows, dcols)
            if sc != dc:
                diff = next((i for i, (a, b) in enumerate(zip(sc, dc)) if a != b), -1)
                problems.append(
                    f"values differ at sorted-row {diff}:\n  spark={sc[diff] if diff >= 0 else '?'}"
                    f"\n  duck ={dc[diff] if diff >= 0 else '?'}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    print(f"\n{n_run - len(failed)}/{n_run} ok")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
