"""Data-layout operators: Z-order (Morton) clustering keys.

At 100 TB the dominant cost of most queries is the scan, and the scan's
cost is set by how many files/row-groups min-max statistics can prune.
Sorting by ONE column gives perfect pruning on that column and none on any
other; interleaving the bits of two columns into a single Morton key and
range-partitioning/sorting by it gives every file a small rectangle in
(c1, c2) space, so predicates on EITHER dimension prune — the standard
Z-order layout trick (Delta/Iceberg OPTIMIZE ZORDER does exactly this).

Everything here is pure codegen bit algebra (shift/and/or chains — no
Python, no shuffle for the key itself); the only exchange is the
``repartitionByRange`` that the clustered write needs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_key(c1: Column, c2: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: bit i of c1 lands at position 2i, bit i of c2 at 2i+1.
    A pure shift/and/or chain — whole-stage codegen, zero Python — and the
    same expression is trivially writable in any ANSI engine, so catalog
    queries over it carry full value-level oracles.

    Callers must mask/scale inputs into [0, 2^bits) themselves (the key of
    a value outside that range would silently collide); the catalog query
    and tests use ``% 2^bits``."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return key


def morton_key_sql(c1: str, c2: str, bits: int = 16) -> str:
    """The identical interleave as ANSI SQL (DuckDB bitwise operators) —
    generated from the same loop so the two engines cannot drift.

    Caller contract: ``c1``/``c2`` must already be BIGINT expressions —
    on INT32 inputs DuckDB raises an overflow on the ``<< 31`` term at
    bits=16 (fuzz-caught, tests/test_generator_fuzz.py) where Spark's
    long-typed column silently widens; the catalog oracles satisfy this
    by selecting from BIGINT columns."""
    terms = []
    for i in range(bits):
        terms.append(f"((({c1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({c2} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


# --------------------------------------------------------------------------- #
# Hilbert curve — the locality upgrade over Morton that Delta Lake's liquid   #
# clustering and recent Iceberg work moved to: the Hilbert curve never jumps  #
# across the space between consecutive codes (Morton's Z shape does, once per #
# quadrant boundary), so equal-size code ranges cover tighter rectangles and  #
# min-max pruning touches fewer files for the same write cost.                #
# --------------------------------------------------------------------------- #

#: quadrant code for one Hilbert round: (3*rx) XOR ry, spelled as pure
#: arithmetic so it needs no engine-specific XOR operator —
#: q = 3*rx + ry - 2*rx*ry  (rx, ry in {0, 1}; table-checked in tests).
_HILBERT_Q = "(3 * {rx} + {ry} - 2 * {rx} * {ry})"


def _hilbert_round_exprs(i: int, x: str, y: str, d: str) -> tuple[str, str, str]:
    """One round of the standard xy->d walk [Hilbert 1891; the iterative
    form is the public-domain convert-xy-to-d loop], for bit position
    ``i`` (s = 2^i): emit (d', x', y') as SQL expressions over the
    engine-shared operator subset (& >> CASE + * -).  Flip-then-swap:
    ry=1 leaves (x, y); ry=0 swaps, with an additional s-1-v reflection
    when rx=1.

    NOTE (invariant, do not "fix"): the reflection uses s-1-v where the
    textbook loop uses n-1-v, so intermediate _hx/_hy go NEGATIVE when
    high bits survive earlier pass-through rounds.  That is expected and
    safe: s-1-v ≡ n-1-v (mod 2^i), and every later round only reads bits
    strictly below i via ``(v >> j) & 1`` with j < i — which stays
    congruent because both engines' ``>>`` is arithmetic and ``&`` acts
    on two's-complement bits.  A refactor to logical shifts or unsigned
    types WOULD break this; keep arithmetic shift semantics (verified
    exhaustively for bits<=8 in tests/test_storage_layout.py)."""
    s = 1 << i
    rx = f"(({x} >> {i}) & 1)"
    ry = f"(({y} >> {i}) & 1)"
    q = _HILBERT_Q.format(rx=rx, ry=ry)
    d2 = f"({d} + {s * s} * {q})"
    x2 = (
        f"(CASE WHEN {ry} = 1 THEN {x} "
        f"WHEN {rx} = 1 THEN {s - 1} - {y} ELSE {y} END)"
    )
    y2 = (
        f"(CASE WHEN {ry} = 1 THEN {y} "
        f"WHEN {rx} = 1 THEN {s - 1} - {x} ELSE {x} END)"
    )
    return d2, x2, y2


def hilbert_key(
    df: DataFrame,
    xcol: str,
    ycol: str,
    bits: int = 8,
    key_col: str = "hkey",
) -> DataFrame:
    """Attach the Hilbert-curve code of (xcol, ycol) — both already in
    [0, 2^bits) — as ``key_col``.  The per-round state update references
    its inputs 2-3 times, so a single nested expression would blow up
    3^bits leaves; instead the walk is ``bits`` chained SELECTs, which
    whole-stage codegen fuses into one map pass (zero shuffle, zero
    Python — same execution class as :func:`morton_key`).

    Raises ``ValueError`` if the input already carries ``_hx``/``_hy``
    or ``key_col`` — silently dropping a caller's column (the old
    behavior) corrupts data instead of failing loudly."""
    clash = [c for c in ("_hx", "_hy", key_col) if c in df.columns]
    if clash:
        raise ValueError(
            f"hilbert_key: input already has column(s) {clash}; rename "
            f"them or pass a different key_col"
        )
    cols = list(df.columns)
    out = df.selectExpr(
        *cols,
        f"CAST({xcol} AS BIGINT) AS _hx",
        f"CAST({ycol} AS BIGINT) AS _hy",
        f"CAST(0 AS BIGINT) AS {key_col}",
    )
    for i in range(bits - 1, -1, -1):
        d2, x2, y2 = _hilbert_round_exprs(i, "_hx", "_hy", key_col)
        out = out.selectExpr(
            *cols,
            f"{x2} AS _hx",
            f"{y2} AS _hy",
            f"{d2} AS {key_col}",
        )
    return out.selectExpr(*cols, key_col)


def hilbert_key_sql_ctes(
    src: str, xcol: str, ycol: str, bits: int = 8, key_col: str = "hkey"
) -> tuple[str, str]:
    """The identical walk as a chain of SQL CTEs (generated from the SAME
    round function, so the engines cannot drift): returns
    (cte_sql_fragment, final_cte_name).  ``src`` must expose xcol, ycol,
    and pass-through columns x_id/y_id named in the caller's SELECT —
    the fragment carries every src column along via SELECT *."""
    parts = [
        f"hil0 AS (SELECT *, CAST({xcol} AS BIGINT) AS _hx,"
        f" CAST({ycol} AS BIGINT) AS _hy,"
        f" CAST(0 AS BIGINT) AS {key_col} FROM {src})"
    ]
    j = 0
    for i in range(bits - 1, -1, -1):
        d2, x2, y2 = _hilbert_round_exprs(i, "_hx", "_hy", key_col)
        j += 1
        parts.append(
            f"hil{j} AS (SELECT * EXCLUDE (_hx, _hy, {key_col}),"
            f" {x2} AS _hx, {y2} AS _hy, {d2} AS {key_col} FROM hil{j - 1})"
        )
    return ",\n    ".join(parts), f"hil{j}"
