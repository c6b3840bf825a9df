"""Catalog-wide correctness: every query with an oracle must match DuckDB at
sf0.001 (row count + sorted column names + order-insensitive values + result
DTYPES) — at least as strict as the driver's type-sensitive value hash at
sf0.01.

Round-2 lesson: a 6-sig-fig float format and Python-int comparison masked
exactly the diffs the driver hashes (banker's-vs-half-away rounding at the
second decimal; DuckDB HUGEINT vs Spark BIGINT). The gate now compares floats
at full precision (repr) and asserts the DuckDB result types map onto the
Spark schema — HUGEINT (int128, which Spark cannot produce) always flags."""

from __future__ import annotations

import pytest

from reddit_sse_stream_spark.plans.catalog import QUERIES
from tools.verify_local import canon_rows, norm_value


#: DuckDB type -> the Spark simpleString(s) that hash-match it. An empty set
#: means "no Spark equivalent — always flag" (the driver's value hash is
#: type-sensitive, so e.g. a HUGEINT sum() must be CAST in the oracle SQL).
_DUCK_BASE = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "SMALLINT": {"smallint"},
    "TINYINT": {"tinyint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "BLOB": {"binary"},
    "HUGEINT": set(),
    "UHUGEINT": set(),
    "UBIGINT": set(),
    "UINTEGER": set(),
}


def _duck_to_spark(t: str):
    """Spark simpleStrings compatible with DuckDB type `t`; None = unknown
    (skip the strict check for that column)."""
    t = str(t).upper().strip()
    if t in _DUCK_BASE:
        return _DUCK_BASE[t]
    if t.startswith("DECIMAL"):
        return {t.lower().replace(" ", "")}
    if t.startswith("TIMESTAMP"):
        return {"timestamp", "timestamp_ntz"}
    if t.endswith("[]"):
        inner = _duck_to_spark(t[:-2])
        if inner is None:
            return None
        return {f"array<{i}>" for i in inner}
    return None


def assert_result_dtypes(sdf_schema, duck_rel):
    """Assert every DuckDB output column's type maps onto the Spark column's
    type. Mirrors the driver's type-sensitive hash."""
    stypes = {f.name: f.dataType.simpleString() for f in sdf_schema.fields}
    for name, dtyp in zip(duck_rel.columns, duck_rel.types):
        allowed = _duck_to_spark(str(dtyp))
        if allowed is None or name not in stypes:
            continue
        assert stypes[name] in allowed, (
            f"column {name!r}: oracle type {dtyp} vs Spark {stypes[name]} — "
            "the driver hash is type-sensitive; CAST the oracle output "
            "(DuckDB sum() yields HUGEINT: CAST(sum(..) AS BIGINT))"
        )


def assert_no_complex_output(name, schema):
    """Lint for the round-5 blind spot: the driver's pandas canonicalizer
    sort_values/factorizes every output column, which dies on unhashable
    list/dict cells — so an oracled query must emit scalar columns ONLY
    (flatten arrays with posexplode in the catalog wrapper; the library
    operator can keep returning arrays).  The repr-based canon_rows
    handles lists happily, which is exactly why this needs a schema-level
    assert instead of a value compare."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: oracled query emits complex-typed column(s) {bad} — the "
        "driver canonicalizer cannot hash list/map/struct cells; flatten "
        "with posexplode (oracle: unnest/index join) in the catalog wrapper"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_query(name, spark, duck, sf_dir):
    qd = QUERIES[name]
    sdf = qd.spark(spark, sf_dir)
    if qd.oracle is not None:
        assert_no_complex_output(name, sdf.schema)
    srows = [tuple(r) for r in sdf.collect()]
    if qd.oracle is None:
        assert srows is not None  # rows-only smoke: plan executes
        return
    assert_result_dtypes(sdf.schema, duck.sql(qd.oracle))
    res = duck.execute(qd.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert canon_rows(srows, sdf.columns) == canon_rows(drows, dcols)


def test_rows_without_oracle_are_the_two_fast_dedup_paths():
    """Only the xxhash64 dedup fast paths go unoracled; each is tied to an
    oracled md5 twin by an invariant row.  Every other row, the IVF top-k
    included, is value-verified."""
    unoracled = {n for n, q in QUERIES.items() if q.oracle is None}
    assert unoracled == {"dedup_minhash_lsh", "dedup_simhash"}


def test_gate_flags_hugeint_regression(duck):
    """Regression for the round-2 blind spot: an uncast DuckDB sum() yields
    HUGEINT, which the driver hashes differently from Spark BIGINT even when
    the values are equal. The hardened gate must flag it."""
    from pyspark.sql.types import LongType, StructField, StructType

    rel = duck.sql("SELECT sum(o_orderkey) AS s FROM orders")
    assert str(rel.types[0]).upper() == "HUGEINT"
    schema = StructType([StructField("s", LongType())])
    with pytest.raises(AssertionError, match="type-sensitive"):
        assert_result_dtypes(schema, rel)


def test_round_half_boundary_rationale(spark, duck):
    """Pin the 47559.285 boundary from round 2 and the reason the charge UDF
    returns a RAW product: rounding doubles at a decimal place is
    cross-engine unstable. pandas banker's-rounds 47559.285 -> 47559.28 while
    DuckDB (binary half-away) gives 47559.29; Spark F.round (HALF_UP on the
    shortest decimal repr) gives 1.01 for 1.005 while DuckDB gives 1.00. No
    single rounding call agrees across all three engines, so the query and
    its oracle both emit the unrounded IEEE product, which IS reproducible."""
    import pandas as pd
    from pyspark.sql import functions as F

    assert float(pd.Series([47559.285]).round(2)[0]) == 47559.28
    assert duck.execute("SELECT round(CAST(47559.285 AS DOUBLE), 2)").fetchone()[0] == 47559.29
    spark_1005 = (
        spark.range(1).select(F.round(F.lit(1.005), 2).alias("r")).collect()[0]["r"]
    )
    assert spark_1005 == 1.01
    assert duck.execute("SELECT round(CAST(1.005 AS DOUBLE), 2)").fetchone()[0] == 1.0
    # the raw product is bitwise identical across pandas and DuckDB:
    raw_pd = float((pd.Series([47559.285]) * (1 - 0.05) * (1 + 0.02)).iloc[0])
    raw_duck = duck.execute(
        "SELECT CAST(47559.285 AS DOUBLE) * (1 - 0.05) * (1 + 0.02)"
    ).fetchone()[0]
    assert raw_pd == raw_duck


def test_fixed_point_sum_is_partitioning_invariant(spark, sf_dir):
    """Regression for the tpch_q9 one-cent flip (VERDICT r03): double sums
    reassociate across shuffle orders, so round(sum(double), 2) could land
    on either side of a half-cent.  _dsum accumulates exact fixed-point
    int64 addends, so ANY partitioning must produce bit-identical rounded
    sums.
    Drive the same aggregate through adversarially different partitionings
    and require exact equality."""
    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.plans.catalog import _dsum
    from reddit_sse_stream_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def agg(df):
        rows = (
            df.groupBy("l_returnflag")
            .agg(_dsum(vol).alias("s"))
            .collect()
        )
        return {r["l_returnflag"]: r["s"] for r in rows}

    base = agg(li)
    assert base == agg(li.repartition(1))
    assert base == agg(li.repartition(64, "l_orderkey"))
    # reversed sort order inside each partition = reversed addend order
    assert base == agg(
        li.repartition(7).sortWithinPartitions(F.desc("l_extendedprice"))
    )


def test_gate_flags_second_decimal_regression():
    """Regression for the round-2 blind spot: 47559.28 vs 47559.29 (banker's
    vs half-away rounding of 47559.285) normalized equal at 6 sig figs. The
    full-precision gate must distinguish them."""
    assert norm_value(47559.28) != norm_value(47559.29)
    assert canon_rows([(47559.28,)], ["c"]) != canon_rows([(47559.29,)], ["c"])


def test_approx_distinct_error_band(spark, duck, sf_dir):
    """approx_count_distinct has no cross-engine oracle (HLL sketches
    differ), so give it a falsifiable accuracy bar instead: within 5% of
    the exact count per group."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.sources.tables import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .collect()
    }
    exact = {
        k: v
        for k, v in duck.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY event_type"
        ).fetchall()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(0.05 * n, 2), (k, approx[k], n)
    # the catalog query's externally-checked contract flag must agree
    flags = QUERIES["aggx_approx_distinct"].spark(spark, sf_dir).collect()
    assert all(r["approx_within_5pct"] == 1 for r in flags)


def test_approx_quantiles_error_band(spark, duck, sf_dir):
    """percentile_approx has no cross-engine oracle (different sketches);
    bound it against DuckDB's exact discrete quantile instead: within 5%
    of the group's value range."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    from pyspark.sql import functions as F

    from reddit_sse_stream_spark.sources.tables import load_table

    approx = {
        r["event_type"]: (r["p50_approx"], r["p99_approx"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("value", 0.99, 10000).alias("p99_approx"),
        )
        .collect()
    }
    exact = {
        k: (p50, p99, hi - lo)
        for k, p50, p99, lo, hi in duck.execute(
            "SELECT event_type, quantile_disc(value, 0.5), quantile_disc(value, 0.99),"
            "       min(value), max(value) FROM events GROUP BY event_type"
        ).fetchall()
    }
    assert set(approx) == set(exact)
    for k, (p50, p99, spread) in exact.items():
        tol = max(0.05 * spread, 1e-9)
        assert abs(approx[k][0] - p50) <= tol, (k, approx[k][0], p50)
        assert abs(approx[k][1] - p99) <= tol, (k, approx[k][1], p99)
    # the catalog query's externally-checked contract flag must agree
    flags = QUERIES["aggx_approx_quantiles"].spark(spark, sf_dir).collect()
    assert all(r["approx_within_band"] == 1 for r in flags)


def test_freq_items_superset_of_exact_heavy_hitters(spark, sf_dir):
    """The one-pass freqItems sketch (KPS) guarantees every item above the
    support threshold appears in its output (false positives allowed,
    false negatives not) — pin that against the exact two-pass query."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES
    from reddit_sse_stream_spark.sources.feed import feed_df

    exact = {
        r["author"]
        for r in QUERIES["agg_heavy_hitters_exact"].spark(spark, sf_dir).collect()
    }
    assert exact, "threshold too high: exact heavy-hitter set is empty"
    sketch = set(
        feed_df(spark, sf_dir)
        .stat.freqItems(["author"], support=0.02)
        .collect()[0][0]
    )
    assert exact <= sketch
