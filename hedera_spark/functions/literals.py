"""Literal arrays built in one driver→JVM call.

`F.array(*[F.lit(v) for v in values])` pays several py4j round trips per
element (the literal, the array argument list, and in PySpark 4 the
call-site capture of every wrapped `functions.*` call), so a 64-double
centroid or hash plane costs hundreds of round trips before Spark has
planned anything. Writing the same array as SQL text and parsing it with
one `F.expr` call yields the same Catalyst literal: `repr` gives the
shortest string that round-trips a double exactly, and the `D` suffix
makes Spark parse it as a DOUBLE (not a DECIMAL) literal, sign included.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_sql(v: float) -> str:
    """One double as a Spark SQL literal, bit-exact (-0.0 and subnormals
    included). NaN and the infinities have no literal syntax: they are
    casts from their string names, wrapped in a coalesce so the type
    stays non-nullable like `F.lit`'s (a string cast is nullable); both
    fold to a plain literal."""
    v = float(v)
    if math.isnan(v) or math.isinf(v):
        return f"coalesce(CAST('{v!r}' AS DOUBLE), 0.0D)"
    return f"{v!r}D"


def double_array_sql(values) -> str:
    """`array<double>` literal SQL text for `values`."""
    return f"array({', '.join(double_sql(v) for v in values)})"


def double_array(values) -> Column:
    """`array<double>` literal column — `F.array(*[F.lit(float(v)) ...])`
    in one call."""
    return F.expr(double_array_sql(values))
