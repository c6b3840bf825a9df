"""SparkSession factory: ``local[N]`` sized to the host, configured the way
a cluster run would be: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (oracle parity with DuckDB's
tz-naive timestamps), Arrow for every Python<->JVM batch boundary.
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "reddit_sse_stream_spark") -> SparkSession:
    """Build (or reuse) the session.

    One executor thread per CPU this process may run on
    (``SPARK_GRAFT_CPUS`` overrides the count), and
    ``spark.sql.shuffle.partitions`` sized to that thread count: on a real
    cluster this would be ~2-3x total cores (and AQE coalesces down); on
    <=sf0.1 data it avoids the classic 200-tiny-partitions overhead
    without losing parallelism.  The driver heap is half the host's
    physical memory, so the JVM collects before the host runs out.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    host_mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{host_mem // 2**21}m")  # half, in MiB
        .config("spark.ui.enabled", "false")
        # At 100 TB the scan parallelism is driven by file-split size; 128 MiB
        # is the classic sweet spot for parquet on object storage.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader otherwise rejects; read as long + convert in
        # the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed tables (bucketed-layout tests/demos) land outside the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_local_checkpoints(spark: SparkSession) -> int:
    """Unpersist every LOCALLY-CHECKPOINTED RDD still registered with the
    BlockManager, returning how many were released.

    Why this exists: the engine's multi-consumer frames use
    ``localCheckpoint`` (not ``cache``) precisely so blocks are weak-ref
    cleaned when the frame is garbage collected — but "eventually GC'd"
    is not "promptly GC'd".  A long-lived session running many queries
    (bench sweeps, the external driver, a notebook) accumulates dead
    checkpoint blocks faster than the JVM/py4j reference chain lets the
    ContextCleaner reclaim them, and the resulting memory pressure was
    measured to degrade repeat invocations 3-6x (SCALING.md r05 note).
    Harnesses call this BETWEEN queries — a point where no cross-query
    frame survives, so dropping non-recoverable local-checkpoint blocks
    is safe by construction.

    Only ``isLocallyCheckpointed()`` RDDs are touched: CacheManager-pinned
    frames (explicit ``.cache()``, e.g. test fixtures) keep their
    storage, and reliable checkpoints (none in this engine) would too.

    HARD PRECONDITION (ADVICE r05): local checkpoints are NON-RECOVERABLE
    — this sweeps every locally-checkpointed RDD in the session, including
    ones created by OTHER code, so any still-referenced DataFrame backed
    by one (a connected_components result held across queries, a
    concurrently running query's intermediate) fails permanently on its
    next use.  Call it only at a quiescent point where no checkpoint-
    backed frame is live: between bench queries (bench.py — each query
    is rebuilt from its callable, so nothing survives the boundary) or at
    end-of-suite.  Never call it mid-query, from a concurrent thread, or
    while holding a frame you intend to reuse.  (Per-operator checkpoint tracking would narrow the
    blast radius; the session-wide sweep is kept because the library's
    operators deliberately leave no live checkpoint behind after their
    returned DataFrame is materialized, making "between queries" exactly
    the safe point — and a registry would miss third-party checkpoints
    that cause the same degradation.)

    It then runs a Python + JVM GC pass: the ContextCleaner reclaims dead
    shuffle files and broadcasts only after their weak refs are collected,
    and without an explicit collect the py4j reference chain measured out
    to "not within a bench sweep" — the same degradation class as the
    checkpoint blocks.  ~100ms on a mostly-dead heap, noise next to
    multi-second queries."""
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().valuesIterator()
    released = 0
    while it.hasNext():
        rdd = it.next()
        try:
            if rdd.isLocallyCheckpointed():
                rdd.unpersist(False)
                released += 1
        except Exception:
            # an RDD concurrently cleaned by the ContextCleaner can race;
            # releasing the rest still helps
            pass
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    return released
