"""Exactness contract of operators/sqlrender.py (r15 optimization).

The SQL-rendered constant path replaced element-wise ``F.lit`` expansion
in every plan-literal model state (IVF centroids, PQ codebooks, ADC
tables, sign matrices, hash coefficients).  Results must be
BIT-identical: doubles round-trip through ``repr`` + Spark's
``CAST('…' AS DOUBLE)`` (Java ``parseDouble``, correctly rounded), and
int64s render losslessly.  These tests pin that contract on adversarial
values and on a real centroid-assignment A/B, so a future Spark parser
change or renderer edit that breaks bit-parity fails here rather than
in a drifted oracle row.
"""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators.sqlrender import (
    sql_double_array,
    sql_long_array,
)

# adversarial doubles: denormals, ulp neighbors, negative zero, huge /
# tiny magnitudes, repr-roundtrip stress values, and the fixed-point
# scales the operators actually use
ADVERSARIAL_DOUBLES = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    0.1,
    2.0 / 3.0,
    1e-12,
    1e12,
    5e-324,                      # smallest positive denormal
    2.2250738585072014e-308,     # smallest normal
    1.7976931348623157e308,      # largest finite
    math.pi,
    -math.e,
    1.0000000000000002,          # 1.0 + ulp
    0.30000000000000004,         # classic repr stress
    123456789.123456789,
    -9.87654321e-5,
]

ADVERSARIAL_LONGS = [
    0,
    1,
    -1,
    2**31 - 1,
    -(2**31),
    2**53 + 1,
    2**62,
    -(2**62),
    2**63 - 1,
    -(2**63),
]


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def test_sql_double_array_bit_roundtrip(spark):
    """Every adversarial double survives render -> parse bit-for-bit
    (compared on raw IEEE bits, so -0.0 vs 0.0 and ulp neighbors are
    distinguished)."""
    out = (
        spark.range(1)
        .select(F.expr(sql_double_array(ADVERSARIAL_DOUBLES)).alias("a"))
        .collect()[0]["a"]
    )
    assert [_bits(v) for v in out] == [_bits(v) for v in ADVERSARIAL_DOUBLES]


def test_sql_double_array_matches_lit_path(spark):
    """The rendered array equals the element-wise F.lit array the code
    used before the r15 rewrite, value-for-value on the same session."""
    lit_arr = F.array(*[F.lit(float(v)) for v in ADVERSARIAL_DOUBLES])
    row = (
        spark.range(1)
        .select(
            F.expr(sql_double_array(ADVERSARIAL_DOUBLES)).alias("r"),
            lit_arr.alias("l"),
        )
        .collect()[0]
    )
    assert [_bits(v) for v in row["r"]] == [_bits(v) for v in row["l"]]


def test_sql_long_array_exact(spark):
    out = (
        spark.range(1)
        .select(F.expr(sql_long_array(ADVERSARIAL_LONGS)).alias("a"))
        .collect()[0]["a"]
    )
    assert list(out) == ADVERSARIAL_LONGS


def test_unit_cells_assignments_unchanged_by_renderer(spark):
    """End-to-end pin on the hottest converted site: IVF cell assignment
    through the SQL-rendered centroid table equals an element-wise-lit
    replica of the pre-r15 expression, row for row."""
    from reddit_sse_stream_spark.operators.ml_lsh import unit_cells

    # small synthetic unit frame + centroids with awkward doubles
    cents = [
        (0, [0.1, 2.0 / 3.0, -0.0, 1.0000000000000002]),
        (2, [1e-12, -9.87654321e-5, 0.30000000000000004, -1.0]),
    ]
    rows = [
        (i, [math.sin(i * 1.7 + d) for d in range(4)]) for i in range(32)
    ]
    unit = spark.createDataFrame(rows, "`_id` long, u array<double>")

    got = {
        r["_id"]: r["cell"]
        for r in unit_cells(unit, cents).collect()
    }

    # pre-r15 expression shape: element-wise lits, same fold
    cent_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for _, c in cents]
    )
    ids_lit = F.array(*[F.lit(int(cell)) for cell, _ in cents])
    expr = F.array_min(
        F.transform(
            cent_lit,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("u"),
                        c,
                        lambda a, b: F.floor(
                            (a - b) * (a - b) * 1e12 + 0.5
                        ).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + e,
                ).alias("dist"),
                F.element_at(ids_lit, i + 1).cast("int").alias("cell"),
            ),
        )
    )["cell"]
    want = {
        r["_id"]: r["cell"]
        for r in unit.select("_id", expr.alias("cell")).collect()
    }
    assert got == want


@pytest.mark.parametrize("v", ADVERSARIAL_DOUBLES)
def test_repr_roundtrip_is_exact_python_side(v):
    """The renderer's premise: repr is shortest-roundtrip."""
    assert _bits(float(repr(v))) == _bits(v)


# --- r16 additions: input guards + the string renderer (projection keys) ---

ADVERSARIAL_STRINGS = [
    "k",
    "with space",
    "quote'inside",
    'double"quote',
    "back\\slash",
    "new\nline",
    "tab\tchar",
    "carriage\rreturn",
    "unicode-é-漢字-🙂",
    "semi;colon--comment",
    ")]'); DROP TABLE x; --",
]


def test_sql_string_array_roundtrip(spark):
    """Every adversarial string survives render -> parse exactly — the
    projection-key path takes CALLER-supplied strings, so quoting,
    backslashes, control chars and injection shapes must round-trip."""
    from reddit_sse_stream_spark.operators.sqlrender import sql_string_array

    out = (
        spark.range(1)
        .select(F.expr(sql_string_array(ADVERSARIAL_STRINGS)).alias("a"))
        .collect()[0]["a"]
    )
    assert list(out) == ADVERSARIAL_STRINGS


def test_sql_string_array_matches_lit_path(spark):
    from reddit_sse_stream_spark.operators.sqlrender import sql_string_array

    row = (
        spark.range(1)
        .select(
            F.expr(sql_string_array(ADVERSARIAL_STRINGS)).alias("r"),
            F.array(*[F.lit(s) for s in ADVERSARIAL_STRINGS]).alias("l"),
        )
        .collect()[0]
    )
    assert list(row["r"]) == list(row["l"])


def test_json_key_subset_rendered_keys_exact(spark):
    """The converted projection path (operators/projection.py): rendered
    key arrays select the same subset as the old F.lit path, including a
    key containing a quote."""
    import json as jsonlib

    from reddit_sse_stream_spark.operators.projection import json_key_subset

    payload = jsonlib.dumps({"a": "1", "qu'ote": "2", "c": "3"})
    df = spark.createDataFrame([(payload,)], "json string")
    out = df.select(
        json_key_subset("json", ["a", "qu'ote"]).alias("d")
    ).first()[0]
    assert jsonlib.loads(out) == {"a": "1", "qu'ote": "2"}


def test_renderer_guards_reject_bad_inputs():
    """Empty arrays parse null-typed and non-finite doubles CAST to NULL
    (VERDICT r15 #5) — unreachable from current callers, so the renderers
    raise instead of silently producing a broken literal."""
    from reddit_sse_stream_spark.operators.sqlrender import (
        sql_double,
        sql_string_array,
    )

    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError):
            sql_double(bad)
    for fn in (sql_double_array, sql_long_array, sql_string_array):
        with pytest.raises(ValueError):
            fn([])
