"""Seeded input generator for the benchmark.

Writes the ten tables the registry reads (`hedera_spark.sources.tables.TABLES`)
as parquet, with the schemas and value distributions of the repository's
synthetic test corpus: a TPC-H-like star schema scaled by `sf`, an `events`
log spread over `days` calendar days, 64-d isotropic unit embeddings with an
independent label, and documents drawn from a 30-word vocabulary of which 5% are
exact copies of another document plus a trailing ``dup`` token (the
near-duplicates the dedup operators look for).

The same (seed, sf, days) always writes the same rows, so a
run's inputs are a pure function of its seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n: int, n_users: int, days: int) -> pa.Table:
    ts = np.sort(rng.integers(0, days * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EVENTS_START + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    dups = rng.choice(n, max(1, n // 20), replace=False)
    for d in dups:
        src = int(rng.integers(0, n - 1))
        src += src >= d
        texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    # isotropic unit vectors; the label is independent of the vector, as in
    # the test corpus (per-label centroids there are noise-sized)
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def make_events(seed: int, sf: float, days: int) -> pa.Table:
    """The `events` table alone, as `make_tables` sizes it."""
    rng = np.random.default_rng(seed)
    return _events(rng, int(1_000_000 * sf), max(15, int(15_000 * sf)), days)


def make_tables(seed: int, sf: float, days: int = 30) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (sf0.01: 60k lineitem rows,
    10k events, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    def keys(n: int) -> np.ndarray:
        return np.arange(n, dtype=np.int64)

    def nations(n: int) -> np.ndarray:
        return rng.integers(0, 25, n).astype(np.int32)

    return {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int32) % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": keys(n_cust),
                "c_name": names("Customer", n_cust),
                "c_nationkey": nations(n_cust),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": keys(n_supp),
                "s_name": names("Supplier", n_supp),
                "s_nationkey": nations(n_supp),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": keys(n_part),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": keys(n_ord),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": _events(rng, n_ev, max(15, int(15_000 * sf)), days),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
