"""The word-n-gram kernel (functions/ngrams.py) and the MinHash-LSH
kernel in operators/dedup.py against plain-Python references."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

# 0, 1, 2, 3 and 6 tokens, a repeated trigram, and a double space
_TEXTS = ["a", "a b", "a b c", "a b c d e f", "x y z x y z x", "p  q r"]
_TOKS = [[]] + [t.split(" ") for t in _TEXTS]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _ref_ngrams(toks, n, distinct, hashed):
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if hashed:
        grams = [_md5(g) for g in grams]
    return list(dict.fromkeys(grams)) if distinct else grams


@pytest.mark.parametrize(
    "n,distinct,hashed", list(itertools.product([2, 3], [False, True], [False, True]))
)
def test_ngram_sql_matches_python(spark, n, distinct, hashed):
    from hedera_spark.functions.ngrams import ngram_sql

    df = spark.createDataFrame(list(enumerate(_TOKS)), "doc_id int, toks array<string>")
    got = {
        r.doc_id: r.g
        for r in df.selectExpr(
            "doc_id", f"{ngram_sql('toks', n, distinct=distinct, hashed=hashed)} AS g"
        ).collect()
    }
    want = {i: _ref_ngrams(t, n, distinct, hashed) for i, t in enumerate(_TOKS)}
    assert got == want
    if distinct:  # the repeated n-grams really collapse
        assert len(got[5]) < len(_TOKS[5]) - n + 1


def test_adjacent_pairs_match_python(spark):
    from hedera_spark.functions.ngrams import adjacent_pairs

    texts = [""] + _TEXTS
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    got = sorted(tuple(r) for r in adjacent_pairs(docs).collect())
    want = sorted(
        (i, a, b)
        for i, t in enumerate(texts)
        for a, b in zip(t.split(" "), t.split(" ")[1:])
        if a and b
    )
    assert got == want
    assert (6, "q", "r") in got and not any(r[0] == 6 and "" in r for r in got)


def test_minhash_signature_and_bands_match_python(spark):
    from hedera_spark.operators.dedup import (
        N_MINHASH,
        SIG_MATCHES_SQL,
        lsh_band_rows,
        minhash_signatures_from,
        shingles_from,
    )
    from hedera_spark.sources.tables import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .where(F.size(F.split("text", " ")) >= 3)
        .orderBy("doc_id")
        .limit(3)
        .select("doc_id", "text")
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(texts) == 3
    want = {}
    for i, text in texts.items():
        shingles = set(_ref_ngrams(text.split(" "), 3, True, False))
        want[i] = [
            min(_md5(f"{s // 4}|{sh}")[s % 4 * 8 : s % 4 * 8 + 8] for sh in shingles)
            for s in range(N_MINHASH)
        ]
    sigs = minhash_signatures_from(shingles_from(docs))
    assert {r.doc_id: list(r.sig) for r in sigs.collect()} == want

    for n_bands, rpb in [(4, 4), (2, 8)]:
        got = {
            (r.doc_id, r.band): r.band_hash
            for r in lsh_band_rows(sigs, n_bands, rpb).collect()
        }
        assert got == {
            (i, b): _md5("|".join(sig[b * rpb : (b + 1) * rpb]))
            for i, sig in want.items()
            for b in range(n_bands)
        }

    a, b = sorted(want)[:2]
    pair = sigs.where(F.col("doc_id") == a).selectExpr("sig AS sig_a").crossJoin(
        sigs.where(F.col("doc_id") == b).selectExpr("sig AS sig_b")
    )
    assert pair.selectExpr(f"{SIG_MATCHES_SQL} AS m").first().m == sum(
        x == y for x, y in zip(want[a], want[b])
    )
