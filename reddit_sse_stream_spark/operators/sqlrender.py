"""Exact SQL rendering of driver-held constant arrays.

PySpark's ``F.lit`` on a Python list expands into ``array(lit, lit, ...)``
— one py4j roundtrip PER ELEMENT before the JVM ever sees the constant.
For the plan-literal model states this engine bakes into queries
(centroid tables, codebooks, ADC tables, sign matrices, hash
coefficients: hundreds to a thousand scalars each), that expansion
measured ~0.5 s of pure driver time per expression build (r15,
OPTIMIZATION_r15.md).  Rendering the constant as ONE SQL string and
parsing it server-side via ``F.expr`` is one py4j call and one parse
(~0.08 s warm) and yields the same Catalyst literal tree.

Exactness contract: integers render losslessly by construction (``123L``
BIGINT literals); doubles render via ``repr`` — the shortest decimal
that round-trips to the same IEEE-754 binary64 — wrapped in
``CAST('...' AS DOUBLE)``, which Spark folds through Java's correctly
rounded ``Double.parseDouble``, so the parsed constant is bit-identical
to the Python float.  This is the same shortest-roundtrip contract the
DuckDB oracle renderers in plans/catalog.py already rely on, and every
converted site is covered by a value-level oracle row.

Input guards (VERDICT r15 what's-wrong #5): an EMPTY list would parse as
``array()`` — element type ``ARRAY<STRING>``/null-typed, which breaks
every ``zip_with``/``aggregate`` fold built over it at analysis time or,
worse, silently null-folds — and a non-finite double renders as
``'inf'``/``'nan'``, which ``CAST(... AS DOUBLE)`` turns into NULL (the
Java parser wants 'Infinity'/'NaN').  Neither is reachable from current
callers (model states are non-empty and finite by construction), so both
raise ``ValueError`` (kept under ``python -O``) instead of rendering.
"""

from __future__ import annotations

import math


def sql_double(v: float) -> str:
    """One double as an exactly-round-tripping SQL expression."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(
            f"sql_double: non-finite {v!r} would CAST to NULL, not a DOUBLE "
            "literal — render Infinity/NaN explicitly if a caller ever needs it"
        )
    return f"CAST('{v!r}' AS DOUBLE)"


def sql_double_array(vals) -> str:
    """array<double> literal from Python floats, bit-exact."""
    vals = list(vals)
    if not vals:
        raise ValueError("sql_double_array: empty array() parses null-typed")
    return "array(" + ", ".join(sql_double(v) for v in vals) + ")"


def sql_long_array(vals) -> str:
    """array<bigint> literal from Python ints."""
    vals = list(vals)
    if not vals:
        raise ValueError("sql_long_array: empty array() parses null-typed")
    return "array(" + ", ".join(str(int(v)) + "L" for v in vals) + ")"


#: Characters that must not reach a single-quoted Spark SQL literal raw.
#: With the default lexer (``escapedStringLiterals=false``) backslash
#: escapes are interpreted, so escaping ``\`` and ``'`` is sufficient for
#: round-tripping; control characters are escaped too so a rendered
#: expression stays one printable line (plans, logs, EXPLAIN pins).
_STR_ESCAPES = {
    "\\": "\\\\",
    "'": "\\'",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\0": "\\0",
}


def sql_string(s: str) -> str:
    """One string as a single-quoted Spark SQL literal, exact for any
    content (quotes, backslashes, control chars, unicode)."""
    return "'" + "".join(_STR_ESCAPES.get(c, c) for c in str(s)) + "'"


def sql_string_array(vals) -> str:
    """array<string> literal from Python strings, exact."""
    vals = list(vals)
    if not vals:
        raise ValueError("sql_string_array: empty array() parses null-typed")
    return "array(" + ", ".join(sql_string(v) for v in vals) + ")"
