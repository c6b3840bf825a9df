"""Storage-layout scale patterns: bucketing (shuffle-free co-located joins
and aggregations) and partitioned writes (partition pruning at the scan).

At 100 TB these two are the difference between re-shuffling a fact table on
every query and never shuffling it at all: bucket the fact tables on their
join/group key at ingest, partition on the coarse filter column (date,
lang, source), and the per-query Exchange disappears.  The reference engine
has no storage layer at all (it re-reads every Redis hash per client;
/root/reference/sse.py:148-152), so this entire axis is new surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.sources.tables import load_table


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    """orders + customer bucketed 8 ways on the custkey join column."""
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").saveAsTable("orders_bucketed")
    load_table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").saveAsTable("customer_bucketed")
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    spark.sql("DROP TABLE IF EXISTS customer_bucketed")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """Equal bucket counts on the join key -> sort-merge join with ZERO
    Exchange nodes (broadcast disabled so bucketing, not size, wins)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_bucketed").join(
            spark.table("customer_bucketed"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan_of(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_bucketed_groupby_is_shuffle_free(spark, bucketed_tables):
    """groupBy on the bucket column reuses the storage partitioning — the
    aggregate runs in one stage with no Exchange."""
    agg = (
        spark.table("orders_bucketed")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    plan = _plan_of(agg)
    assert "Exchange" not in plan, plan


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path_factory):
    """Filter on the partition column must become a PartitionFilter (metadata
    prune — zero data files of other partitions touched), not a row filter."""
    out = str(tmp_path_factory.mktemp("part") / "docs_by_lang")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").mode("overwrite").parquet(out)

    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = _plan_of(rd)
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # row counts survive the round-trip
    want = docs.filter(F.col("lang") == "en").count()
    assert rd.count() == want


def test_partitioned_write_roundtrip_all_rows(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part") / "docs_all")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("source").mode("overwrite").parquet(out)
    assert spark.read.parquet(out).count() == docs.count()


def _py_morton(a: int, b: int, bits: int = 16) -> int:
    k = 0
    for i in range(bits):
        k |= ((a >> i) & 1) << (2 * i)
        k |= ((b >> i) & 1) << (2 * i + 1)
    return k


def test_morton_key_matches_python_reference(spark, sf_dir):
    from reddit_sse_stream_spark.operators import layout

    ev = load_table(spark, sf_dir, "events").limit(200)
    got = ev.select(
        "event_id",
        "user_id",
        layout.morton_key(
            F.pmod(F.col("user_id"), F.lit(1 << 16)),
            F.pmod(F.col("event_id"), F.lit(1 << 16)),
        ).alias("zkey"),
    ).collect()
    assert got
    for r in got:
        assert r["zkey"] == _py_morton(r["user_id"] % 65536, r["event_id"] % 65536)


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on the join key
    must get a runtime pruning subquery when joined to a filtered dim —
    at 100 TB this is the difference between scanning one partition and
    scanning the table.  Pinned via the `dynamicpruning` expression in
    the fact scan."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("purchase", "rev"), ("view", "traffic"), ("click", "traffic")],
        "event_type string, category string",
    )
    joined = fact.join(dim.filter(F.col("category") == "rev"), "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is exactly the purchase partition
    assert joined.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_cbo_table_stats_recorded_by_analyze(spark, sf_dir):
    """ANALYZE TABLE ... COMPUTE STATISTICS records row counts + column
    NDV/min/max in the catalog — what the cost-based optimizer uses for
    join reordering and broadcast decisions on a real warehouse."""
    from reddit_sse_stream_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    spark.sql("DROP TABLE IF EXISTS _stats_demo")
    nation.write.saveAsTable("_stats_demo")
    try:
        spark.sql(
            "ANALYZE TABLE _stats_demo COMPUTE STATISTICS FOR COLUMNS n_nationkey"
        )
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED _stats_demo"
            ).collect()
            if "info_name" in r.asDict()
        }
        # statistics line carries rows + bytes after ANALYZE
        stats = spark.sql("DESC EXTENDED _stats_demo n_nationkey").collect()
        got = {r["info_name"]: r["info_value"] for r in stats}
        assert got.get("distinct_count") == "25", got
        assert got.get("min") == "0" and got.get("max") == "24", got
    finally:
        spark.sql("DROP TABLE IF EXISTS _stats_demo")


def _py_hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Textbook iterative xy->d walk (the public-domain loop) — the
    reference both engine implementations must match bit for bit."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_python_reference(spark):
    from reddit_sse_stream_spark.operators import layout

    """layout.hilbert_key (8 chained SELECTs) == the textbook loop, over
    a 256-point diagonal-heavy lattice covering every quadrant code."""
    pts = spark.range(256).selectExpr(
        "id AS x", "(id * 37) % 256 AS y"
    )
    for r in layout.hilbert_key(pts, "x", "y", bits=8).collect():
        assert r["hkey"] == _py_hilbert_xy2d(256, r["x"], r["y"])


def test_hilbert_sql_ctes_match_python_reference(duck):
    from reddit_sse_stream_spark.operators import layout

    """The generated SQL CTE chain (the oracle's side) == the textbook
    loop in DuckDB, same lattice."""
    ctes, final = layout.hilbert_key_sql_ctes("pts", "x", "y", bits=8)
    sql = (
        "WITH pts AS (SELECT x, (x * 37) % 256 AS y FROM "
        "(SELECT unnest(range(256)) AS x)),\n    "
        f"{ctes}\nSELECT x, y, hkey FROM {final}"
    )
    for x, y, h in duck.execute(sql).fetchall():
        assert h == _py_hilbert_xy2d(256, x, y)


def test_hilbert_key_rejects_colliding_columns(spark):
    """hilbert_key must fail loudly when the input already carries the
    scratch columns (_hx/_hy) or the requested key column — the old
    behavior silently DROPPED the caller's column (ADVICE r13)."""
    import pytest as _pytest
    from reddit_sse_stream_spark.operators import layout

    base = spark.range(4).selectExpr("id AS x", "id AS y")
    for bad in ("_hx", "_hy", "hkey"):
        df = base.selectExpr("*", f"x AS {bad}")
        with _pytest.raises(ValueError, match=bad):
            layout.hilbert_key(df, "x", "y", bits=2)
    # a non-default key_col collides on ITS name, not the default's
    df = base.selectExpr("*", "x AS mykey")
    with _pytest.raises(ValueError, match="mykey"):
        layout.hilbert_key(df, "x", "y", bits=2, key_col="mykey")


def test_hilbert_quadrant_code_arithmetic():
    """q = 3*rx + ry - 2*rx*ry must equal (3*rx) XOR ry on the full
    {0,1}^2 table — the arithmetic spelling exists so the SQL needs no
    engine-specific XOR operator."""
    for rx in (0, 1):
        for ry in (0, 1):
            assert 3 * rx + ry - 2 * rx * ry == (3 * rx) ^ ry


def test_hilbert_adjacency_no_jumps(spark):
    from reddit_sse_stream_spark.operators import layout

    """The property the audit's pruning win rests on: consecutive
    Hilbert codes are ALWAYS 4-neighbor adjacent (Morton jumps across
    quadrant seams), checked exhaustively on the 32x32 grid."""
    pts = spark.range(32).selectExpr("id AS x").crossJoin(
        spark.range(32).selectExpr("id AS y")
    )
    rows = layout.hilbert_key(pts, "x", "y", bits=5).collect()
    by_d = {r["hkey"]: (r["x"], r["y"]) for r in rows}
    assert len(by_d) == 1024  # the walk is a bijection
    for d in range(1023):
        (x0, y0), (x1, y1) = by_d[d], by_d[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1
