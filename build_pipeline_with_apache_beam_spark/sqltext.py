"""Python values as Spark SQL text — the one place the engine renders them.

Driver loops inline model state (vectors, centroid matrices, filter masks,
result traces) into ONE ``F.expr``/``spark.sql`` string instead of one py4j
Column per value; Catalyst parses and types the text like any SQL literal.
Renderers return text that parses back to the exact value.  Builders that
splice SQL text take ``str`` only and raise ``TypeError`` otherwise, so a
Column cannot be pasted into the string.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Iterable, Sequence


def _text(s: str) -> str:
    if not isinstance(s, str):
        raise TypeError(f"expected Spark SQL text (str), got {type(s).__name__}")
    return s


def double(x: float) -> str:
    """DOUBLE literal (repr() is exact).  NaN, ±Infinity and -0.0 go
    through a string cast: bare ``nan``/``inf`` parse as column references
    and ``-0.0`` as ``-(0.0)``, which drops the sign."""
    x = float(x)
    if math.isfinite(x) and (x != 0 or math.copysign(1.0, x) > 0):
        return f"CAST({x!r} AS DOUBLE)"
    return f"CAST('{x!r}' AS DOUBLE)"


def doubles(xs: Iterable[float]) -> str:
    return "array({})".format(", ".join(double(x) for x in xs))


def double_matrix(rows: Iterable[Iterable[float]]) -> str:
    return "array({})".format(", ".join(doubles(r) for r in rows))


def longs(xs: Iterable[int]) -> str:
    """``ARRAY<BIGINT>``: without the ``L`` suffix small values type as
    ``ARRAY<INT>``, whose shifts mask the count to 5 bits."""
    return "array({})".format(", ".join(f"{operator.index(m)}L" for m in xs))


def integer(n: int) -> str:
    return str(operator.index(n))


def bigint(n: int) -> str:
    return f"CAST({operator.index(n)} AS BIGINT)"


def boolean(b: bool) -> str:
    return "TRUE" if b else "FALSE"


def string(s: str) -> str:
    """Quoted STRING literal; Spark unescapes backslash sequences too."""
    return "'" + _text(s).replace("\\", "\\\\").replace("'", "''") + "'"


def _zip_sum(a: str, b: str, term: str) -> str:
    # left-to-right from a DOUBLE 0.0 seed: the one summation order every
    # caller, and every oracle twin, relies on
    return (f"aggregate(zip_with({_text(a)}, {_text(b)}, (x, y) -> {term}),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def dot(a: str, b: str) -> str:
    """Σ a[i]·b[i] over two array expressions."""
    return _zip_sum(a, b, "x * y")


def sq_dist(a: str, b: str) -> str:
    """Σ (a[i] − b[i])² over two array expressions."""
    return _zip_sum(a, b, "(x - y) * (x - y)")


_CELL = {"INT": integer, "BIGINT": bigint, "DOUBLE": double,
         "BOOLEAN": boolean, "STRING": string}


def values(rows: Iterable[Sequence], schema: str) -> str:
    """A query over an inline ``VALUES`` relation: a JVM-side
    LocalRelation, never a Python-RDD build side (those stall broadcasts).
    ``schema`` is ``"name TYPE, ..."`` over the ``_CELL`` types; each cell
    renders as its column's literal.  No rows give a typed zero-row result
    (an empty ``VALUES`` list is a parse error)."""
    cols = [c.split() for c in schema.split(",")]
    body = ", ".join(
        "(" + ", ".join(_CELL[t](v) for (_, t), v in zip(cols, row, strict=True))
        + ")" for row in rows)
    if not body:
        return "SELECT {} WHERE 1 = 0".format(", ".join(
            f"CAST(NULL AS {t}) AS {n}" for n, t in cols))
    return "SELECT * FROM (VALUES {}) AS t({})".format(
        body, ", ".join(n for n, _ in cols))
