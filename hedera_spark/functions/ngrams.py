"""Word n-grams of a document: the one owner of how a token array
becomes shingles and adjacent bigrams.

Hoist the split. Callers split the text once into a named array column
(`F.split("text", " ").alias("toks")`) in a projection of its own and
apply these expressions to that column. Catalyst does not hoist
loop-invariant subexpressions out of a lambda, so a `split(text, ' ')`
written inside the `transform` re-splits the whole text once per
position: an O(len^2) term per document (sf0.1, 54-token documents:
warm shingle pass 0.36 -> 0.28 s, cold 2.6 -> 0.8 s once hoisted).
The n-gram array itself stays inline in each consumer's explode or set
operation: projecting it into a column of its own first measured ~2x
slower, because the wide array round-trips through an UnsafeRow.

Short documents: Spark's `sequence(1, 0)` counts down, so a document
with fewer than n tokens needs an explicit empty array, not a clamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ngram_sql(
    toks: str, n: int, *, distinct: bool = False, hashed: bool = False
) -> str:
    """SQL text for the array of word n-grams of the array column `toks`:
    each n-gram is its n tokens joined by single spaces, in document
    order, empty when `toks` has fewer than n elements. `hashed` maps
    each n-gram to its md5 hex digest; `distinct` keeps the first
    occurrence of each value."""
    gram = f"concat_ws(' ', slice({toks}, i, {n}))"
    if hashed:
        gram = f"md5({gram})"
    arr = f"transform(sequence(1, size({toks}) - {n - 1}), i -> {gram})"
    if distinct:
        arr = f"array_distinct({arr})"
    return f"CASE WHEN size({toks}) >= {n} THEN {arr} ELSE array() END"


_PAIRS_SQL = (
    "CASE WHEN size(toks) >= 2 THEN"
    " filter(transform(sequence(1, size(toks) - 1),"
    " i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2)),"
    " p -> p.w1 != '' AND p.w2 != '')"
    " ELSE array() END"
)


def adjacent_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2): one row per adjacent word pair of each
    document's space-split `text`, pairs with an empty token (from a
    double space) dropped."""
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id", f"explode({_PAIRS_SQL}) AS p")
        .selectExpr("doc_id", "p.w1", "p.w2")
    )
