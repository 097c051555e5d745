"""Embedding vector math and bit codes: the one owner of how two float
arrays become a dot product, a norm, a squared distance or a cosine,
and of how a list of predicates becomes an integer code.

Every kernel returns SQL text, as functions/ngrams.py does. Callers
splice it into one `F.expr` or `selectExpr`, so a 60-bit SimHash vote or
an 8-plane sign-LSH bucket is one driver→JVM call. The same expression
built from `F` functions pays a round trip per function, lambda and
literal: hundreds per bucket.

Determinism: each fold runs left to right over the element products,
every element cast to DOUBLE, the accumulator seeded with `0.0D` (a bare
`0.0` is a DECIMAL in Spark SQL). DuckDB's `list_reduce` over the same
products gives bit-identical sums, which is what lets the registry's
oracles hash-check the approximate structures built on them.
"""

from __future__ import annotations

from hedera_spark.functions.literals import double_array_sql


def _fold_sql(a: str, b: str, term: str) -> str:
    """Sequential sum of `term` over the element pairs (x, y) of a, b."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, (acc, v) -> acc + v)"


def dot_sql(a: str, b: str) -> str:
    """a · b."""
    return _fold_sql(a, b, "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)")


def norm_sql(a: str) -> str:
    """‖a‖, the square root of a · a."""
    return f"sqrt({dot_sql(a, a)})"


def l2sq_sql(a: str, b: str) -> str:
    """‖a − b‖², unrounded."""
    d = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return _fold_sql(a, b, f"{d} * {d}")


def cos_sql(a: str, b: str, na: str, nb: str) -> str:
    """The cosine of a and b rounded to 6 decimals, given their norms
    na and nb (the registry's `_COS`)."""
    return f"round({dot_sql(a, b)} / ({na} * {nb}), 6)"


def bits_sql(preds) -> str:
    """The integer whose bit i is set when the i-th predicate holds. Up
    to bit 30 each term is an INT; from bit 31 on the literal is a BIGINT,
    and so is the sum."""
    return " + ".join(
        f"(CASE WHEN {p} THEN {1 << i} ELSE 0 END)" for i, p in enumerate(preds)
    )


def sign_bucket_sql(col: str, planes) -> str:
    """The sign-LSH bucket of the array column `col`: bit p is set when
    col · planes[p] > 0 (a dot product of exactly 0 leaves it clear)."""
    return bits_sql(f"{dot_sql(col, double_array_sql(plane))} > 0" for plane in planes)
