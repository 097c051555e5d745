"""Group G.4 — multimodal columns (SURVEY.md §2.G): binary payloads with
typed metadata, decoded through Arrow-batched Pandas plumbing.

The container has no image/audio codecs, so the decode itself is a
clearly-marked deterministic stub — but the Spark-side plumbing is real
and is exactly what a production pipeline needs: a `binary` column,
`mapInPandas` with an explicit schema, Arrow batch transfer, and per-batch
vectorized work. Swapping `_decode_stub` for PIL/ffmpeg is a one-function
change; the plan shape (scan → mapInPandas → downstream relational ops)
stays identical.

Scale: mapInPandas streams Arrow batches — constant memory per task, no
per-row Python overhead; partitioning is inherited from the scan, so at
100 TB this is an embarrassingly-parallel map stage.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_spark.sources.tables import load_table

# The mapInPandas kernels below are module-level functions, which
# cloudpickle would send by reference: a worker that cannot import
# hedera_spark (a driver script run from outside the checkout) could not
# load them. By value, they ship with the task.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

DECODE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_frames int, format string"
)


def _decode_stub(payload: bytes) -> tuple[int, int, int, int, str]:
    """Deterministic fake decoder. A real deployment replaces this with
    PIL.Image.open / av.open — NOT implemented here because the codecs are
    not in the container (see module docstring)."""
    n = len(payload)
    return (
        n,
        64 + n % 512,
        64 + (n * 7) % 512,
        1 + n % 16,
        "png" if n % 2 == 0 else "jpeg",
    )


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        meta = [_decode_stub(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            meta, columns=["n_bytes", "width", "height", "n_frames", "format"]
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload (here: utf-8 doc bytes standing in for an
    image blob) → typed metadata via Arrow-batched mapInPandas."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_decode_batches, schema=DECODE_SCHEMA)


FEATURES_SCHEMA = (
    "doc_id long, n_bytes int, resized_w int, resized_h int, "
    "frame_indices string, byte_hist string"
)

TARGET_LONG_EDGE = 256
N_SAMPLED_FRAMES = 4
HIST_BINS = 16


def _features_batches(batches):
    """Feature-extract / resize / frame-sample over binary payloads.
    The byte histogram is REAL vectorized work on the payload (numpy over
    the Arrow batch); resize and frame sampling compute the plan a decoder
    would execute — the decode itself stays stubbed (no codecs in the
    container, see module docstring)."""
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # share the decoder with multimodal_meta so swapping the stub
            # for a real codec changes both operators together
            n, w, h, n_frames, _fmt = _decode_stub(payload)
            # integer HALF_UP rounding of TARGET*edge/long_edge — float
            # round() is banker's in Python but HALF_UP in SQL engines,
            # so the resize plan stays exactly oracle-replicable
            m = max(w, h)
            rw = max(1, (2 * TARGET_LONG_EDGE * w + m) // (2 * m))
            rh = max(1, (2 * TARGET_LONG_EDGE * h + m) // (2 * m))
            step = max(1, n_frames // N_SAMPLED_FRAMES)
            frames = list(range(0, n_frames, step))[:N_SAMPLED_FRAMES]
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist = np.bincount(arr >> 4, minlength=HIST_BINS).astype(np.float64)
            hist /= max(1.0, float(n))
            # arrays serialize to comma-joined strings: the engine-wide
            # convention for list-valued outputs (ir.py array_join), so
            # results stay sortable/hashable in any downstream pandas or
            # SQL canonicalization
            frames_s = ",".join(str(i) for i in frames)
            hist_s = ",".join(f"{v:.6f}" for v in hist)
            rows.append((doc_id, n, rw, rh, frames_s, hist_s))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "n_bytes",
                "resized_w",
                "resized_h",
                "frame_indices",
                "byte_hist",
            ],
        )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal verb set over binary columns: feature-extract
    (16-bin byte histogram — real numpy work per Arrow batch), resize
    (aspect-preserving target-edge plan), frame-sample (uniform indices).
    Swap the stub dims for a real decoder and the plan shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_features_batches, schema=FEATURES_SCHEMA)


FINGERPRINT_PREFIX = 64  # leading payload chars hashed as the content key


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable dedup over the opaque binary column: md5 of the
    payload's leading FINGERPRINT_PREFIX bytes — the stub stand-in for a
    perceptual/content fingerprint (a real image lake hashes decoded
    pixels or a pHash; no codecs in the container, so the deterministic
    prefix digest plays that role — and unlike a whole-blob md5 it
    actually collides on the test corpora, so group/survivor/waste logic
    is exercised, not vacuous). Duplicate groups with min-id survivor and
    wasted-byte accounting over the FULL payload sizes. The digest is
    computed where the bytes are (map-side), so the shuffle carries only
    (digest, doc_id, n_bytes) — never the payloads.

    Scale: one map-side md5 over the scanned blob prefix + one
    partial-agg shuffle bounded by |distinct digests|. Survivor =
    min(doc_id); wasted = total bytes minus the survivor's own bytes
    (min_by keeps that exact without a second pass).

    Reference: the Hedera dedup story is split-boundary revision re-seek
    (io/input/WikiRevisionPageInputFormat.java); this is its
    content-digest counterpart for binary corpora."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.md5(
            F.encode(F.substring("text", 1, FINGERPRINT_PREFIX), "utf-8")
        ).alias("fingerprint"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    groups = payloads.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("survivor_id"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min_by("n_bytes", "doc_id").alias("survivor_bytes"),
    )
    return groups.where(F.col("n_copies") >= 2).select(
        "fingerprint",
        "n_copies",
        "survivor_id",
        (F.col("total_bytes") - F.col("survivor_bytes")).alias("wasted_bytes"),
    )


FRAMES_SCHEMA = "doc_id long, n_frames long, n_sampled long, frame_indices string"


def _frames_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # same decoder as multimodal_meta/_features — swapping the stub
            # for a real container parser changes all three together
            _n, _w, _h, n_frames, _fmt = _decode_stub(payload)
            step = max(1, n_frames // N_SAMPLED_FRAMES)
            frames = list(range(0, n_frames, step))[:N_SAMPLED_FRAMES]
            # comma-joined string per the engine-wide list-serialization
            # convention (keeps the row hashable for value oracles)
            frames_s = ",".join(str(i) for i in frames)
            rows.append((doc_id, n_frames, len(frames), frames_s))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_frames", "n_sampled", "frame_indices"]
        )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample planning over binary video payloads: uniform-stride
    sampled frame indices (up to N_SAMPLED_FRAMES) per payload, through
    the same Arrow mapInPandas plumbing as multimodal_meta. Because the
    stub decoder's frame count is a deterministic function of the payload
    bytes, this operator IS SQL-oracle-checkable — the driver verifies the
    whole frame-sampling arithmetic value-exactly (unlike the rows-only
    multimodal_features, which carries the float histogram).

    Scale: embarrassingly-parallel map stage — partitioning inherited from
    the scan, constant memory per Arrow batch, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_frames_batches, schema=FRAMES_SCHEMA)


RESAMPLE_SCHEMA = (
    "doc_id long, n_bytes int, src_rate int, n_samples bigint,"
    " duration_ms bigint, tgt_rate int, out_samples bigint, chunks int"
)

TARGET_RATE = 16_000
CHUNK_SAMPLES = 160_000  # 10 s at the target rate


def _audio_stub(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake audio header probe (the _decode_stub of the
    audio modality): derives (src_rate, n_samples, n_bytes) from the
    payload alone. A real deployment replaces this with soundfile /
    av.open — codecs are not in the container (module docstring)."""
    n = len(payload)
    src_rate = (8_000, 16_000, 22_050, 44_100, 48_000)[n % 5]
    n_samples = n * 37 + (n % 11) * 1_000
    return src_rate, n_samples, n


def _resample_batches(batches):
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            src_rate, n_samples, n = _audio_stub(payload)
            # integer resample plan: output length under exact integer
            # floor division, then fixed-size chunking for the training
            # loader — the arithmetic a resampler executes, value-oracled
            # because the stub is deterministic
            duration_ms = n_samples * 1000 // src_rate
            out_samples = n_samples * TARGET_RATE // src_rate
            chunks = int((out_samples + CHUNK_SAMPLES - 1) // CHUNK_SAMPLES)
            rows.append(
                (doc_id, n, src_rate, n_samples, duration_ms,
                 TARGET_RATE, out_samples, chunks)
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_bytes", "src_rate", "n_samples",
                "duration_ms", "tgt_rate", "out_samples", "chunks",
            ],
        )


def multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plan operator: probe each binary payload's (stub)
    header, compute the 16 kHz resample plan — exact-integer output
    length, duration, and fixed-size training-chunk count — through the
    same Arrow mapInPandas plumbing as the image/video operators. The
    whole sampling arithmetic is value-oracled because the stub probe is
    deterministic; swapping _audio_stub for a real header parser leaves
    the plan shape untouched (scan → mapInPandas → relational ops)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(_resample_batches, schema=RESAMPLE_SCHEMA)
