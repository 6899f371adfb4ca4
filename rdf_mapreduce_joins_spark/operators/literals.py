"""Nested Python constants as one Spark literal column.

A builder that puts a large constant into a plan (a query vector, an
LSH hyperplane table, a centroid matrix, PCA components) renders the
whole value as one SQL expression and parses it with ``F.expr``: a
fixed few py4j round trips for the whole text, where
``F.array(F.lit(x), ...)`` pays several per element. The analyzer
builds the same ``CreateArray`` / ``CreateNamedStruct`` / ``Literal``
tree either way (non-nullable elements included) and constant folding
collapses it to one literal, so plans and values do not depend on
which form built it.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def _double_sql(v: float) -> str:
    if not math.isfinite(v):
        # SQL has no non-null NaN/inf literal; a string cast would make
        # the element type nullable and change the plan.
        raise ValueError(f"literal: {v!r} is not a finite double")
    # Integer mantissa and exponent, no decimal point: Spark's SQL
    # parser reads a 2,048-double array written this way in ~20 ms,
    # written with decimal points in ~80 ms. The mantissa and exponent
    # spell repr()'s shortest round-trip decimal, so the parsed double
    # is bit-identical to ``v`` (-0.0 included).
    sign, digits, exp = Decimal(repr(v)).as_tuple()
    return f"{'-' if sign else ''}{''.join(map(str, digits))}E{exp}D"


def _sql(value) -> str:
    if isinstance(value, dict):
        for k in value:
            if not (isinstance(k, str) and k.isidentifier()):
                raise ValueError(f"struct field name must be an identifier, got {k!r}")
        return "struct(" + ", ".join(f"{_sql(v)} AS `{k}`" for k, v in value.items()) + ")"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(_sql(v) for v in value) + ")"
    if isinstance(value, float):
        return _double_sql(float(value))
    if isinstance(value, int) and not isinstance(value, bool):
        if _INT_MIN <= value <= _INT_MAX:
            return str(value)
        if _LONG_MIN <= value <= _LONG_MAX:
            return f"{value}L"
        raise ValueError(f"integer literal out of BIGINT range: {value}")
    raise TypeError(f"unsupported literal type {type(value).__name__}: {value!r}")


def literal(value) -> Column:
    """``value`` as one constant-folded literal column, built by one
    ``F.expr``: ``dict`` → struct (one field per key, in order),
    ``list``/``tuple`` → array, ``float`` → DOUBLE, ``int`` → INT when
    it fits 32 bits, else BIGINT (the types ``F.lit`` gives). NaN and
    ±inf raise ``ValueError``."""
    return F.expr(_sql(value))
