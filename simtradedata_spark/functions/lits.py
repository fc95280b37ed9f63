"""One-py4j-call construction of large (nested) array literals.

``F.lit(nested_python_list)`` in PySpark 4.1 classic expands RECURSIVELY —
``lit(list)`` becomes ``array(*[lit(x) for x in list])`` — so an
m×k×(d/m) codebook costs ~m·k·(d/m) py4j round trips plus as many Catalyst
nodes before constant folding collapses them. Measured on the 8×16×8 PQ
codebook shape: ~1.0 s of driver time per literal, vs ~1-4 ms for parsing
the equivalent SQL array literal JVM-side (r11 measurement). Both forms
constant-fold to the SAME single Literal in the optimized plan, so the
executed plan, the values and the oracle hashes are untouched — only the
driver-side build cost changes.

Exactness: doubles are rendered with ``repr``, Python's shortest
round-trip decimal form; Java's ``Double.parseDouble`` (what the SQL
parser uses) maps that string back to the identical IEEE double, so the
literal is bit-exact with what ``F.lit`` would have produced. ``Decimal``
values render as exact ``BD`` literals.

``ident`` quotes a column name for SQL text, so a name that needs
backticks (spaces, keywords, punctuation) cannot break the parse."""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


def _render(v) -> str:
    if isinstance(v, (list, tuple)):
        if not v:
            # array() has no element type to infer — callers never build
            # empty tables; fail fast rather than hand Catalyst array<null>
            raise ValueError("fast_lit: empty array has no element type")
        return "array(" + ",".join(_render(x) for x in v) + ")"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"fast_lit: non-finite double {v!r}")
        return repr(v) + "D"
    if isinstance(v, Decimal):
        if not v.is_finite():
            raise ValueError(f"fast_lit: non-finite decimal {v!r}")
        return format(v, "f") + "BD"
    if isinstance(v, int):
        # BIGINT unconditionally: a mixed int32/int64 array would make the
        # element type depend on the VALUES; callers cast where narrower
        # types matter
        return str(v) + "L"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"fast_lit: unsupported element type {type(v).__name__}")


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def fast_lit(values) -> Column:
    """Literal Column for a (possibly nested) list of floats/ints/strs —
    semantically ``F.lit(values)`` (int elements typed bigint), built with
    ONE py4j call instead of one per element."""
    return F.expr(_render(values))
