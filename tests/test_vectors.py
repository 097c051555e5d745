"""functions/vectors.py against Python references on small literal
frames: the folds cast each float element to double and sum left to
right from 0.0, the cosine rounds HALF_UP to 6 decimals, and a bit code
sets bit i only when predicate i holds."""

from __future__ import annotations

import random
import struct

import numpy as np
from pyspark.sql.types import IntegerType, LongType

from hedera_spark.functions.vectors import (
    bits_sql,
    cos_sql,
    dot_sql,
    l2sq_sql,
    norm_sql,
    sign_bucket_sql,
)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def _f32(v: float) -> float:
    """The double a FLOAT element widens to."""
    return float(np.float32(v))


def _fold(terms) -> float:
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def _pairs(n: int, dim: int, seed: int):
    rng = random.Random(seed)
    return [
        ([rng.uniform(-2, 2) for _ in range(dim)], [rng.uniform(-2, 2) for _ in range(dim)])
        for _ in range(n)
    ]


def test_folds_widen_floats_before_multiplying(spark):
    pairs = _pairs(20, 16, 1) + [([0.1, 0.2, 0.3], [0.3, 0.2, 0.1])]
    df = spark.createDataFrame(pairs, "a array<float>, b array<float>")
    got = df.selectExpr(
        f"{dot_sql('a', 'b')} AS dot", f"{norm_sql('a')} AS nrm", f"{l2sq_sql('a', 'b')} AS l2sq"
    ).collect()
    for (a, b), r in zip(pairs, got):
        a, b = [_f32(x) for x in a], [_f32(y) for y in b]
        assert _bits(r["dot"]) == _bits(_fold(x * y for x, y in zip(a, b)))
        assert _bits(r["nrm"]) == _bits(float(np.sqrt(_fold(x * x for x in a))))
        assert _bits(r["l2sq"]) == _bits(_fold((x - y) * (x - y) for x, y in zip(a, b)))


def test_cos_rounds_half_up_to_six_places(spark):
    from hedera_spark.operators.kmeans import _round6_half_up

    pairs = _pairs(20, 8, 2)
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>").selectExpr(
        "a", "b", f"{norm_sql('a')} AS na", f"{norm_sql('b')} AS nb"
    )
    got = [r["c"] for r in df.selectExpr(f"{cos_sql('a', 'b', 'na', 'nb')} AS c").collect()]
    for (a, b), c in zip(pairs, got):
        dot = _fold(x * y for x, y in zip(a, b))
        na = float(np.sqrt(_fold(x * x for x in a)))
        nb = float(np.sqrt(_fold(y * y for y in b)))
        assert _bits(c) == _bits(_round6_half_up(dot / (na * nb)))


def test_l2sq_matches_the_kmeans_driver_replica(spark):
    from hedera_spark.operators.kmeans import _dist2_rows

    pairs = _pairs(50, 64, 3)
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    got = [r["d"] for r in df.selectExpr(f"round({l2sq_sql('a', 'b')}, 6) AS d").collect()]
    want = [
        float(_dist2_rows(np.array([a]), np.array([b]))[0, 0]) for a, b in pairs
    ]
    assert [_bits(g) for g in got] == [_bits(w) for w in want]


def test_sign_bucket_leaves_a_zero_dot_product_clear(spark):
    planes = [[1.0, -1.0], [1.0, 1.0], [-1.0, -1.0]]
    df = spark.createDataFrame([([1.0, 1.0],), ([2.0, -1.0],), ([0.0, 0.0],)], "e array<float>")
    got = [r["b"] for r in df.selectExpr(f"{sign_bucket_sql('e', planes)} AS b").collect()]
    # [1, 1]: dot 0 with plane 0 (clear), 2 with plane 1, -2 with plane 2
    assert got == [0b010, 0b011, 0]


def test_simhash_vote_tie_leaves_the_bit_clear(spark):
    """dedup's fingerprint: bit j is set on a strict majority of the n
    votes b_j; a tie leaves it clear, and bit 59 lands in a BIGINT."""
    from hedera_spark.operators.dedup import _SIMHASH_SQL, SIMHASH_BITS

    votes = {f"b{j}": 0 for j in range(SIMHASH_BITS)} | {"b0": 2, "b1": 3, "b59": 3, "n": 4}
    df = spark.createDataFrame([tuple(votes.values())], ", ".join(f"{c} long" for c in votes))
    out = df.selectExpr(f"{_SIMHASH_SQL} AS c")
    assert isinstance(out.schema["c"].dataType, LongType)
    assert out.first()["c"] == (1 << 1) | (1 << 59)


def test_bits_widen_to_bigint_from_bit_31(spark):
    df = spark.range(1)
    low = df.selectExpr(f"{bits_sql(['true'] * 31)} AS c")
    high = df.selectExpr(f"{bits_sql(['id = 0'] * 32)} AS c")
    assert isinstance(low.schema["c"].dataType, IntegerType)
    assert isinstance(high.schema["c"].dataType, LongType)
    assert (low.first()["c"], high.first()["c"]) == ((1 << 31) - 1, (1 << 32) - 1)
