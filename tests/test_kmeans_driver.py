"""k-means trained on the driver: a training set under the driver
ceiling (plans/broadcast.fits_on_driver) is pulled once and Lloyd's runs
in numpy. The centroids must be bit-identical to the Spark loop's, so
the driver replicas of the SQL arithmetic are checked against Spark
itself: `round(x, 6)` on awkward doubles and half boundaries, and whole
trainings on the test corpora and on tie-heavy quantized corpora. Rows
the local loop cannot reproduce (null, NaN, ragged) train in Spark.
"""

from __future__ import annotations

import math
import os
import random
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hedera_spark.functions.vectors import l2sq_sql
from hedera_spark.operators import kmeans as km
from tests.conftest import SF_DIR
from tests.test_build_path import _AWKWARD


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def _cent_bits(rows) -> list:
    return [(cid, [_bits(v) for v in cemb]) for cid, cemb in rows]


def _emb(spark, sf_dir: str):
    """The training frame kmeans_embeddings builds."""
    from hedera_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )


def _write(path, pts: dict) -> str:
    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(pts), type=pa.int64()),
                "embedding": pa.array(list(pts.values()), type=pa.list_(pa.float32())),
                "label": pa.array([0] * len(pts), type=pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )
    return str(path)


# --- rounding ---------------------------------------------------------


def _half_boundaries() -> list:
    """Doubles at, and one ulp either side of, 6-dp half boundaries, of
    both signs and across magnitudes, plus values that round to zero."""
    rng = random.Random(7)
    out = []
    for scale in (1, 10, 1000, 10**6, 10**8):
        for _ in range(40):
            half = (rng.randrange(10**6) + 0.5) / 10**6 * scale
            for v in (half, math.nextafter(half, 0.0), math.nextafter(half, math.inf)):
                out += [v, -v]
    out += [5e-7, -5e-7, 4.9999999999999996e-7, -1e-9, 2.5e-7, 1.0000005, 0.0000015]
    return out


def test_round6_matches_spark_round(spark):
    """_round6 and _round6_half_up give Spark's round(x, 6) bit for bit,
    including -0.0 and values rounding to zero (a BigDecimal has no
    negative zero), NaN/±inf passing through, and the largest doubles."""
    vals = _AWKWARD + _half_boundaries()
    got = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round("x", 6).alias("r")
    ).collect()
    want = [r["r"] for r in got]
    vec = km._round6(np.array(vals)).tolist()
    one = [km._round6_half_up(v) for v in vals]
    for v, w, a, b in zip(vals, want, vec, one):
        if math.isnan(w):
            assert math.isnan(a) and math.isnan(b), v
        else:
            assert _bits(a) == _bits(w) and _bits(b) == _bits(w), (v, w, a, b)


# --- local and Spark training agree -----------------------------------


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_local_training_matches_the_spark_loop(spark, sf):
    from hedera_spark.plans.broadcast import fits_on_driver

    emb = _emb(spark, os.path.join(os.path.dirname(SF_DIR), sf))
    assert fits_on_driver(emb)
    local = km._train(emb)
    assert len(local) == km.KMEANS_K
    assert _cent_bits(local) == _cent_bits(km._train_spark(emb))


@pytest.mark.parametrize("dims", [2, 64])
def test_local_training_matches_the_spark_loop_under_ties(spark, tmp_path, dims):
    """Points on a tiny integer grid make distances tie exactly, so the
    argmin tie-break decides assignments. Vector 2 repeats vector 1, so
    its cluster never wins a tie and is dropped after the first
    iteration; both loops must drop it."""
    for seed in range(3):
        rng = random.Random(seed)
        pts = {vid: [float(rng.randrange(3)) for _ in range(dims)] for vid in range(1, 61)}
        pts[2] = list(pts[1])
        d = _write(tmp_path / f"tie{dims}_{seed}", pts)
        emb = _emb(spark, d)
        local = km._train_local(emb.toPandas())
        assert local is not None and len(local) < km.KMEANS_K
        assert 2 not in {cid for cid, _ in local}
        assert _cent_bits(local) == _cent_bits(km._train_spark(emb)), f"seed {seed}"


def test_empty_and_short_corpora_train_locally(spark, tmp_path):
    from hedera_spark.operators.kmeans import kmeans_embeddings

    empty = _write(tmp_path / "empty", {})
    assert km._train_local(_emb(spark, empty).toPandas()) == []
    assert kmeans_embeddings(spark, empty).count() == 0

    short = _write(tmp_path / "short", {5: [1.0, 2.0], 3: [0.5, 0.5], 9: [4.0, -1.0]})
    emb = _emb(spark, short)
    local = km._train_local(emb.toPandas())
    assert [cid for cid, _ in local] == [3, 5, 9]
    assert _cent_bits(local) == _cent_bits(km._train_spark(emb))
    rows = kmeans_embeddings(spark, short).collect()
    assert sorted((r["vec_id"], r["cluster_id"], r["dist2"]) for r in rows) == [
        (3, 3, 0.0),
        (5, 5, 0.0),
        (9, 9, 0.0),
    ]


# the odd vector sits outside the init set (the K smallest vec_ids): a
# null init centroid fails the Spark loop itself
_UNREPRODUCIBLE = {
    "null_embedding": {i: [float(i), 1.0] for i in range(1, 13)} | {11: None},
    "null_element": {i: [float(i), 1.0] for i in range(1, 13)} | {11: [None, 1.0]},
    "nan_element": {i: [float(i), 1.0] for i in range(1, 13)} | {11: [float("nan"), 1.0]},
    "ragged": {i: [float(i), 1.0] for i in range(1, 13)} | {11: [4.0, 1.0, 2.0]},
}


@pytest.mark.parametrize("case", sorted(_UNREPRODUCIBLE))
def test_unreproducible_rows_train_in_spark(spark, tmp_path, monkeypatch, case):
    """The local loop declines rows whose null, NaN or ragged semantics
    it does not replicate; kmeans_embeddings then returns exactly what
    the forced Spark loop returns."""
    from hedera_spark.operators.kmeans import kmeans_embeddings
    from hedera_spark.plans import broadcast
    from hedera_spark.session import reset_session_state

    d = _write(tmp_path / case, _UNREPRODUCIBLE[case])
    assert km._train_local(_emb(spark, d).toPandas()) is None

    def rows():
        reset_session_state(spark)
        return sorted(
            (r["vec_id"], r["cluster_id"], None if r["dist2"] is None else _bits(r["dist2"]))
            for r in kmeans_embeddings(spark, d).collect()
        )

    routed = rows()
    monkeypatch.setattr(broadcast, "BROADCAST_MAX_BYTES", 0)
    assert routed == rows()
    reset_session_state(spark)


def test_py_dist2_matches_the_sql_distance(spark):
    """The one driver replica of the rounded l2sq_sql distance (used by
    coreset's pool refinement) gives the column expression's doubles."""
    rng = random.Random(3)
    pairs = [
        ([rng.uniform(-2, 2) for _ in range(64)], [rng.uniform(-2, 2) for _ in range(64)])
        for _ in range(50)
    ]
    df = spark.createDataFrame(
        [(a, {"cemb": b}) for a, b in pairs], "emb array<double>, c struct<cemb: array<double>>"
    )
    dist2 = f"round({l2sq_sql('emb', 'c.cemb')}, 6)"
    want = [r["d"] for r in df.select(F.expr(dist2).alias("d")).collect()]
    assert [_bits(km._py_dist2(a, b)) for a, b in pairs] == [_bits(w) for w in want]
