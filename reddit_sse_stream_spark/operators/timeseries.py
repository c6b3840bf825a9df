"""Time-series resampling: gap-fill a per-key metric onto a regular grid
and forward-fill the holes.

The reference engine streams events in id order with no notion of a time
grid (reference `sse.py` emits raw events); resampling is one of the
"what a training/analytics pipeline additionally needs" operators.

Shape at scale:
  1. hourly pre-aggregation — ONE shuffle on (key, hour); this is also the
     big data reduction (raw events -> one row per key-hour).
  2. per-key span + ``sequence()`` explode generates the dense grid
     JVM-side — no Python, no driver loop; grid size = keys x hours, tiny
     next to the raw input.
  3. left join grid<-hourly on (key, hour) — co-partitioned with step 1's
     output under AQE, and orders of magnitude smaller than the raw scan.
  4. forward-fill = ``last(ignorenulls)`` over (key, hour) running frame —
     one window shuffle on key.

Nothing here is per-row Python; the whole plan is codegen + exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill_ffill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Hourly resample of ``val_col`` per ``key_col``, forward-filled.

    Output: (key, h, v_ffill) for every hour between the key's first and
    last observation. Hours with no events carry the previous hour's
    (rounded) average; the first hour is always observed, so ``v_ffill``
    is never null.
    """
    key = F.col(key_col)
    # Order-independent hourly mean: exact fixed-point decimal numerator
    # (testdata values carry <= 2 decimals), so reassociation across shuffle
    # orders / engines cannot flip the rounded result.
    hourly = (
        events.groupBy(key_col, F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(
            F.round(
                F.sum(F.col(val_col).cast("decimal(18,6)")).cast("double")
                / F.count(val_col),
                3,
            ).alias("v")
        )
    )
    span = hourly.groupBy(key_col).agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = span.select(
        key,
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(hourly, [key_col, "h"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col, "h", F.last("v", ignorenulls=True).over(w).alias("v_ffill")
    )


def rolling_features(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Rolling-window feature backfill — the trailing-window aggregates a
    training pipeline materializes per event for behavioral-ML features:
    event count and fixed-point value sum over the trailing hour
    (3600 s), count over the trailing day (86400 s), and the gap to
    the key's previous event.  Every frame is a time-RANGE frame over
    floored epoch seconds (ties are peers, included in full on both
    engines) and the lag uses the (sec, id) total order, so the whole
    matrix is value-deterministic and SQL-twinnable.

    Scale shape: ONE exchange on the key serves all four window frames —
    the range frames and the lag differ only in sort/frame, which re-sort
    in place on the same clustering (plan-pinned: exactly one
    hashpartitioning Exchange).  Value sums accumulate in the int64
    1e6 fixed-point domain (the `_dsum` convention), so results are
    partition- and order-invariant."""
    sec = F.col(ts_col).cast("long")
    vfp = F.floor(F.col(val_col) * 1_000_000 + 0.5).cast("long")
    base = events.select(
        id_col, key_col, sec.alias("sec"), vfp.alias("vfp")
    )
    w_short = (
        Window.partitionBy(key_col)
        .orderBy("sec")
        .rangeBetween(-(3600 - 1), 0)
    )
    w_long = (
        Window.partitionBy(key_col)
        .orderBy("sec")
        .rangeBetween(-(86400 - 1), 0)
    )
    w_lag = Window.partitionBy(key_col).orderBy("sec", id_col)
    return base.select(
        id_col,
        key_col,
        F.count("*").over(w_short).cast("long").alias("n_short"),
        F.sum("vfp").over(w_short).cast("long").alias("v_short_fp"),
        F.count("*").over(w_long).cast("long").alias("n_long"),
        (F.col("sec") - F.lag("sec").over(w_lag)).cast("long").alias("gap_s"),
    )


def ewma_features(
    events: DataFrame,
    depth: int = 16,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Exponentially-decayed value feature per event — the decay sibling
    of :func:`rolling_features`' flat trailing windows (recent behavior
    should outweigh old in behavioral-ML features; a flat 24h window
    can't express that).  The classic recursive EWMA is order-SEQUENTIAL
    and float-accumulating — unverifiable and unpartitionable — so this
    is the bounded exact form: weight 2^(depth-1-i) on the i-th most
    recent of the key's last ``depth`` events (alpha = 1/2, truncated),
    every term an int64 in the 1e6 fixed-point value domain, plus the
    realized weight sum so partial histories normalize honestly
    (ewma_x1e4 = floor(weighted_sum * 1e4 / weight_sum)).  A lag row
    whose value is NULL is excluded from both sums — "no signal", not
    "signal zero" — identically in both engines.

    The quotient is computed in PURE int64 arithmetic (ADVICE r09
    medium: the previous ``acc * 10000.0 / wsum`` double path loses
    exactness once the product passes 2^53, i.e. |value| > ~14):
    ``num*1e4 - pmod(num*1e4, wsum)`` is exactly divisible by wsum, so
    integer division yields the true floor regardless of the engine's
    div rounding mode — no float ever touches the value.  Domain bound:
    |value| <= ~1.4e4 keeps num*1e4 (<= |v|*1e6*(2^depth-1)*1e4) inside
    int64; beyond that Spark's ANSI overflow check raises rather than
    silently wrapping.

    Scale shape: ONE exchange on the key serves all ``depth`` lag
    columns (same window spec, same sort — the rolling_features
    discipline); everything after is a map-side integer fold.  State is
    zero: unlike the recursive form, any partition of the corpus
    computes its rows independently."""
    sec = F.col(ts_col).cast("long")
    vfp = F.floor(F.col(val_col) * 1_000_000 + 0.5).cast("long")
    base = events.select(
        id_col, key_col, sec.alias("sec"), vfp.alias("vfp")
    )
    w = Window.partitionBy(key_col).orderBy("sec", id_col)
    wsum = None
    acc = None
    for i in range(depth):
        weight = 1 << (depth - 1 - i)
        lag_v = F.col("vfp") if i == 0 else F.lag("vfp", i).over(w)
        term = F.when(lag_v.isNotNull(), lag_v * F.lit(weight)).otherwise(
            F.lit(0)
        )
        wterm = F.when(lag_v.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
        acc = term if acc is None else acc + term
        wsum = wterm if wsum is None else wsum + wterm
    mid = base.select(
        id_col,
        key_col,
        acc.cast("long").alias("ewma_num_fp"),
        wsum.cast("long").alias("weight_sum"),
    )
    return mid.select(
        id_col,
        key_col,
        "ewma_num_fp",
        "weight_sum",
        F.when(
            F.col("weight_sum") > 0,
            F.expr(
                "(ewma_num_fp * 10000 - pmod(ewma_num_fp * 10000,"
                " weight_sum)) div weight_sum"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("ewma_x1e4"),
    )
