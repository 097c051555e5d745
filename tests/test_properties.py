"""Property-based tests (hypothesis): operator invariants over GENERATED
corpora, not just the shipped testdata — the corpus shapes that break
chunking/packing arithmetic (empty docs, 1-token docs, exact-boundary
lengths) are exactly the ones a fixed synthetic corpus never contains."""

from __future__ import annotations

import pytest

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _write_docs(tmpdir: str, texts: list[str]) -> str:
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["gen"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, f"{tmpdir}/documents.parquet")
    return tmpdir


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lengths=st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=12)
)
def test_chunk_documents_covers_exactly(spark, tmp_path_factory, lengths):
    """For any doc lengths (including 0, 1, and exact chunk boundaries):
    chunks reconstruct the token stream exactly once after removing the
    stride overlap, every chunk is <= CHUNK_SIZE tokens, and starts step
    by CHUNK_STRIDE."""
    from hedera_spark.operators.text_analysis import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        chunk_documents,
    )

    texts = [" ".join(f"t{i}_{j}" for j in range(n)) for i, n in enumerate(lengths)]
    d = _write_docs(str(tmp_path_factory.mktemp("chunks")), texts)
    rows = chunk_documents(spark, d).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if n == 0:
            assert chunks == []
            continue
        toks = texts[i].split(" ")
        for k, c in enumerate(chunks):
            ctoks = c["chunk_text"].split(" ")
            assert c["chunk_id"] == k
            assert 1 <= c["n_tokens"] == len(ctoks) <= CHUNK_SIZE
            start = k * CHUNK_STRIDE
            assert ctoks == toks[start : start + CHUNK_SIZE]
        # position coverage: every token index appears in >= 1 chunk and
        # the chunk set spans exactly the document
        covered = set()
        for k, c in enumerate(chunks):
            covered.update(
                range(k * CHUNK_STRIDE, k * CHUNK_STRIDE + c["n_tokens"])
            )
        assert covered == set(range(n))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.slow
def test_bpe_apply_reconstructs_any_corpus(spark, tmp_path_factory, words):
    """BPE segmentation is lossless and greedy-consistent for arbitrary
    small-alphabet corpora (where merge collisions are most brutal)."""
    from hedera_spark.operators.bpe import bpe_apply, bpe_train

    d = _write_docs(str(tmp_path_factory.mktemp("bpe")), [" ".join(words)])
    merges = bpe_train(spark, d).toPandas().sort_values("step")
    rules = list(zip(merges["left"], merges["right"]))
    applied = bpe_apply(spark, d).toPandas()

    def replay(word: str) -> list[str]:
        syms = list(word)
        for l, r in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    assert set(applied["w"]) == set(words)
    for row in applied.itertuples():
        toks = row.tokens.split(" ")
        assert "".join(toks) == row.w
        assert toks == replay(row.w)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=60), min_size=4, max_size=20
    )
)
def test_pv_anomaly_matches_numpy_statistics(spark, tmp_path_factory, counts):
    """For any daily count series: pv_anomaly's integer-derived mean and
    z-score equal the float statistics computed independently by numpy
    over the same trailing windows (to the output rounding)."""
    import datetime
    import math

    import numpy as np

    tmpdir = str(tmp_path_factory.mktemp("pvprop"))
    rows = []
    eid = 0
    for day_idx, n in enumerate(counts):
        for _ in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1, 8, 0, 0)
                    + datetime.timedelta(days=day_idx),
                    7,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")

    from hedera_spark.operators.timeseries import pv_anomaly

    got = {
        r["day"].day + (r["day"].month - 1) * 31: r
        for r in pv_anomaly(spark, tmpdir).collect()
    }
    for i, n in enumerate(counts):
        day = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        key = day.day + (day.month - 1) * 31
        win = counts[max(0, i - 6) : i + 1]
        if len(win) < 4:
            assert key not in got
            continue
        r = got[key]
        assert r["cnt"] == n
        assert abs(r["mean_7"] - np.mean(win)) < 1e-6
        var = np.var(win, ddof=1)
        if var > 0:
            z = (n - np.mean(win)) / math.sqrt(var)
            assert abs(r["z_score"] - z) < 1e-6
            assert r["is_anomaly"] == (abs(z) >= 2.0 - 1e-9)
        else:
            assert r["z_score"] is None and not r["is_anomaly"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_doc_vectors_delta_is_lossless(spark, tmp_path_factory, texts):
    """For any corpus: cumulative sums of the delta gaps reconstruct a
    strictly-increasing term-id vector of length n_terms, and the VByte
    size is within [n_terms, 4*n_terms]."""
    tmpdir = _write_docs(str(tmp_path_factory.mktemp("dvd")), texts)

    from hedera_spark.operators.ir import doc_vectors_delta

    for r in doc_vectors_delta(spark, tmpdir).collect():
        gaps = [int(g) for g in r["gaps"].split(",")]
        assert len(gaps) == r["n_terms"]
        ids = []
        acc = 0
        for g in gaps:
            acc += g
            ids.append(acc)
        assert ids == sorted(set(ids)), "reconstructed ids must be strictly increasing"
        assert ids[0] >= 1
        assert r["n_terms"] <= r["vbyte_bytes"] <= 4 * r["n_terms"]
        assert r["raw_bytes"] == 4 * r["n_terms"]
        # PFor accounting recomputed by hand (NewPFD: b = width of the
        # ceil(0.9 n)-th smallest gap, exceptions patched at 4 bytes)
        n = r["n_terms"]
        widths = sorted(len(bin(g)) - 2 if g > 0 else 1 for g in gaps)
        b = widths[(9 * n + 9) // 10 - 1]
        exc = sum(1 for w in widths if w > b)
        assert r["pfor_width"] == b
        assert r["pfor_exceptions"] == exc
        assert r["pfor_bytes"] == (n * b + 7) // 8 + 4 * exc + 4


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    )
)
def test_doc_entropy_bounds(spark, tmp_path_factory, texts):
    """For any corpus: 0 <= H <= ln(n_distinct) + rounding slack, H = 0
    iff a single distinct token, and H matches a direct computation."""
    import math
    from collections import Counter

    tmpdir = _write_docs(str(tmp_path_factory.mktemp("ent")), texts)

    from hedera_spark.operators.text_analysis import doc_entropy

    rows = {r["doc_id"]: r for r in doc_entropy(spark, tmpdir).collect()}
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t != ""]
        if not toks:
            assert doc_id not in rows
            continue
        r = rows[doc_id]
        c = Counter(toks)
        n = len(toks)
        want = math.log(n) - sum(v * math.log(v) for _, v in sorted(c.items())) / n
        assert abs(r["entropy"] - want) < 1e-5
        assert -1e-9 <= r["entropy"] <= math.log(len(c)) + 1e-6
        if len(c) == 1:
            assert r["entropy"] == 0.0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(st.integers(min_value=1, max_value=20), min_size=8, max_size=20)
)
def test_pv_autocorr_in_unit_interval(spark, tmp_path_factory, series):
    """For any daily series: the lag-1 Pearson r lies in [-1, 1] and
    matches numpy's correlation of the paired series."""
    import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    eid = 0
    for day_idx, n in enumerate(series):
        for _ in range(n):
            rows.append(
                (eid, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day_idx, hours=1), 7)
            )
            eid += 1
    tmpdir = str(tmp_path_factory.mktemp("ac"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        f"{tmpdir}/events.parquet",
    )

    from hedera_spark.operators.timeseries import pv_autocorr

    out = pv_autocorr(spark, tmpdir).collect()
    x, y = np.array(series[:-1], dtype=float), np.array(series[1:], dtype=float)
    denx, deny = x.std() * len(x), y.std() * len(y)
    if denx == 0 or deny == 0:
        assert out[0]["autocorr_1"] == 0.0
        return
    want = float(np.corrcoef(x, y)[0, 1])
    got = out[0]["autocorr_1"]
    assert -1.0 - 1e-9 <= got <= 1.0 + 1e-9
    assert abs(got - want) < 1e-5


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    gaps=st.lists(
        st.integers(min_value=1, max_value=10**6), min_size=5, max_size=15
    )
)
def test_rev_burstiness_matches_numpy(spark, tmp_path_factory, gaps):
    """For any gap sequence (seconds): mean_gap_s and cv_gap match the
    sample statistics computed directly, and CV >= 0."""
    import datetime
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1)
    times, t = [base], base
    for g in gaps:
        t = t + datetime.timedelta(seconds=int(g))
        times.append(t)
    tmpdir = str(tmp_path_factory.mktemp("burst"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(times)), pa.int64()),
                "ts": pa.array(times, pa.timestamp("us")),
                "user_id": pa.array([3] * len(times), pa.int64()),
                "event_type": pa.array(["edit"] * len(times)),
                "value": pa.array([1.0] * len(times), pa.float64()),
                "props": pa.array(["{}"] * len(times)),
            }
        ),
        f"{tmpdir}/events.parquet",
    )

    from hedera_spark.operators.revisions import rev_burstiness

    row = rev_burstiness(spark, tmpdir).first()
    g = np.array(gaps, dtype=float)
    assert row["n_gaps"] == len(gaps)
    assert abs(row["mean_gap_s"] - g.mean()) < 1e-5
    if len(set(gaps)) == 1:
        assert row["cv_gap"] == 0.0
    else:
        want_cv = g.std(ddof=1) / g.mean()
        assert abs(row["cv_gap"] - want_cv) < 1e-5
    assert row["cv_gap"] >= 0.0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(st.integers(min_value=1, max_value=9), min_size=14, max_size=21)
)
def test_pv_forecast_backtest_matches_direct(spark, tmp_path_factory, series):
    """For any daily series: the reported MAE equals the directly
    computed expanding same-weekday-mean MAE."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, eid = [], 0
    for day_idx, n in enumerate(series):
        for _ in range(n):
            rows.append(
                (eid, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day_idx, hours=2), 11)
            )
            eid += 1
    tmpdir = str(tmp_path_factory.mktemp("fc"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        f"{tmpdir}/events.parquet",
    )

    from hedera_spark.operators.timeseries import pv_forecast_backtest

    out = pv_forecast_backtest(spark, tmpdir).collect()
    errs = []
    for i, cnt in enumerate(series):
        prior = [series[j] for j in range(i % 7, i, 7)]
        if prior:
            errs.append(round(abs(sum(prior) / len(prior) - cnt) * 1e6))
    if len(errs) < 7:
        assert out == []
        return
    assert len(out) == 1
    r = out[0]
    assert r["n_scored"] == len(errs)
    assert r["mae"] == round(sum(int(e) for e in errs) / (len(errs) * 1e6), 6)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=6), min_size=14, max_size=25
    )
)
def test_pv_changepoint_matches_bruteforce(spark, tmp_path_factory, counts):
    """For any daily series (n >= 14): the selected split maximizes the
    between-segment SS gain computed independently by brute force, with
    the earliest-day tie-break, and the reported segment means match."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmpdir = str(tmp_path_factory.mktemp("cpprop"))
    rows = []
    eid = 0
    for day_idx, n in enumerate(counts):
        for _ in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1, 8, 0, 0)
                    + datetime.timedelta(days=day_idx),
                    7,
                    "view",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")

    from hedera_spark.operators.timeseries import pv_changepoint

    got = pv_changepoint(spark, tmpdir).collect()
    assert len(got) == 1
    r = got[0]
    n = len(counts)
    s = sum(counts)
    best = None
    for i in range(1, n):
        sl = sum(counts[:i])
        gain = round(sl * sl / i + (s - sl) ** 2 / (n - i) - s * s / n, 6)
        if best is None or gain > best[0]:
            best = (gain, i)
    gain, i = best
    assert abs(r["gain"] - gain) < 1e-6
    assert r["split_day"] == (
        datetime.date(2024, 1, 1) + datetime.timedelta(days=i - 1)
    )
    assert abs(r["mean_before"] - round(sum(counts[:i]) / i, 4)) < 1e-9
    assert abs(r["mean_after"] - round(sum(counts[i:]) / (n - i), 4)) < 1e-9


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lengths=st.lists(
        st.integers(min_value=0, max_value=5000), min_size=1, max_size=12
    )
)
def test_pack_efficiency_matches_direct(spark, tmp_path_factory, lengths):
    """pack_efficiency equals the direct ceil-div computation for
    arbitrary token-length mixes, including exact multiples of the
    sequence length (zero padding) and empty docs (excluded)."""
    from hedera_spark.operators.text_analysis import PACK_SEQ_LENS, pack_efficiency

    d = _write_docs(
        str(tmp_path_factory.mktemp("pe")), [" ".join(["w"] * n) for n in lengths]
    )
    got = {r["seq_len"]: r for r in pack_efficiency(spark, d).collect()}
    pos = [n for n in lengths if n > 0]
    if not pos:
        assert got == {}
        return
    for L in PACK_SEQ_LENS:
        ns = [-(-n // L) for n in pos]
        r = got[L]
        assert r["n_docs"] == len(pos)
        assert r["total_tokens"] == sum(pos)
        assert r["n_sequences"] == sum(ns)
        assert r["padded_tokens"] == sum(ns) * L - sum(pos)
        # replicate Spark's round(): HALF_UP on the double's shortest
        # decimal representation (BigDecimal.valueOf semantics) — Python's
        # built-in round() is banker's HALF_EVEN and disagrees on exact
        # .5 ties (hypothesis found padding_share = 0.0078125)
        import decimal

        share = (sum(ns) * L - sum(pos)) / (sum(ns) * L)
        want = float(
            decimal.Decimal(repr(share)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert r["padding_share"] == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.lists(
        st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=14),
        min_size=1,
        max_size=4,
    )
)
def test_sequential_folds_match_python_replay(
    spark, tmp_path_factory, series
):
    """pv_ewma / pv_holt / pv_cusum must equal a pure-Python integer
    replay of their documented recurrences for ANY daily count series —
    the micro-unit folds have no float freedom to hide in."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    tmpdir = str(tmp_path_factory.mktemp("foldprop"))
    rows = []
    eid = 0
    for uid, counts in enumerate(series):
        for day_idx, n in enumerate(counts):
            for _ in range(n):
                rows.append(
                    (
                        eid,
                        datetime.datetime(2024, 3, 1, 9)
                        + datetime.timedelta(days=day_idx),
                        uid,
                        "view",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")

    from hedera_spark.operators.timeseries import pv_cusum, pv_ewma, pv_holt

    def fmt(u):
        frac = str(u % 10000).zfill(4).rstrip("0") or "0"
        return f"{u // 10000}.{frac}"

    ewma = {r["user_id"]: r for r in pv_ewma(spark, tmpdir).collect()}
    holt = {r["user_id"]: r for r in pv_holt(spark, tmpdir).collect()}
    cusum = {r["user_id"]: r for r in pv_cusum(spark, tmpdir).collect()}
    for uid, counts in enumerate(series):
        # EWMA replay
        u = counts[0] * 10000
        parts = [fmt(u)]
        for x in counts[1:]:
            u = (3 * x * 10000 + 7 * u + 5) // 10
            parts.append(fmt(u))
        r = ewma[uid]
        assert r["n_days"] == len(counts)
        assert r["ewma_series"] == ",".join(parts)
        assert r["ewma_last"] == u / 10000.0
        # Holt replay
        lv, tr = counts[0] * 10000, 0
        for x in counts[1:]:
            ln = (3 * x * 10000 + 7 * (lv + tr) + 5) // 10
            tr = (2 * (ln - lv) + 8 * tr + 5) // 10
            lv = ln
        h = holt[uid]
        assert h["level"] == lv / 10000.0
        assert h["trend"] == tr / 10000.0
        assert h["forecast_7d"] == (lv + 7 * tr) / 10000.0
        # CUSUM replay (reflected prefix-sum identity, all ints)
        n, s = len(counts), sum(counts)
        p, runmin, runmax = 0, 0, 0
        sp, sn = [], []
        for x in counts:
            p += n * x - s
            runmin = min(runmin, p)
            runmax = max(runmax, p)
            sp.append(p - min(0, runmin))
            sn.append(max(0, runmax) - p)
        c = cusum[uid]
        assert c["n_days"] == n and c["total"] == s
        assert c["max_pos"] == max(sp)
        assert c["pos_idx"] == sp.index(max(sp)) + 1
        assert c["max_neg"] == max(sn)
        assert c["neg_idx"] == sn.index(max(sn)) + 1


def _write_events(tmpdir: str, rows: list[tuple]) -> str:
    """rows = (event_id, minutes_offset, user_id, event_type, value)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(minutes=r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([float(r[4]) for r in rows]),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    journeys=st.lists(
        st.lists(
            st.sampled_from(["view", "click", "signup", "purchase"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_markov_attribution_invariants(spark, tmp_path_factory, journeys):
    """For ANY set of user journeys: removal effects live in [0, 1]
    (removing a channel can only remove conversion paths), attribution
    sums to 1 whenever any removal effect is positive, and the
    no-channel-removed conversion probability is shared by every row."""
    rows, eid = [], 0
    for u, j in enumerate(journeys):
        for k, typ in enumerate(j):
            rows.append((eid, k, u, typ, 1.0))
            eid += 1
    d = _write_events(str(tmp_path_factory.mktemp("mk")), rows)
    from hedera_spark.operators.temporal_join import markov_attribution

    out = markov_attribution(spark, d).collect()
    if not out:  # no non-purchase channel observed
        return
    base = {r["base_conv_prob"] for r in out}
    assert len(base) == 1
    if base == {0.0}:  # zero conversions → removal effects undefined
        assert all(r["removal_effect"] is None for r in out)
        return
    for r in out:
        assert -1e-6 <= r["removal_effect"] <= 1 + 1e-6
        assert r["conv_prob_without"] <= r["base_conv_prob"] + 1e-6
    total = sum(r["removal_effect"] for r in out)
    if total > 1e-6:
        assert abs(sum(r["attribution"] for r in out) - 1.0) < 1e-4


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    user_ids=st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=1, max_size=300
    )
)
def test_hll_union_merged_error_bound(spark, tmp_path_factory, user_ids):
    """For ANY id multiset: the MERGED sketch row must grade against the
    exact distinct count within 5x the m=256 theoretical rsd PLUS a
    2-register absolute quantum (at tiny n a single bucket collision
    shifts the linear-counting estimate by ~1, which is a huge RELATIVE
    error but exactly the sketch's resolution — hypothesis found the
    2-ids-1-bucket case), and every per-day estimate must be positive."""
    rows = [(i, i % (24 * 60), uid, "view", 1.0) for i, uid in enumerate(user_ids)]
    d = _write_events(str(tmp_path_factory.mktemp("hll")), rows)
    from hedera_spark.operators.sketches import HLL_M, hll_union

    out = {r["scope"]: r for r in hll_union(spark, d).collect()}
    merged = out["MERGED"]
    n_exact = len(set(user_ids))
    assert merged["n_exact"] == n_exact
    assert merged["rel_error"] <= 5 * 1.04 / (HLL_M ** 0.5) + 2.0 / n_exact
    for r in out.values():
        assert r["n_hll"] > 0


def _write_events(tmpdir: str, rows) -> str:
    """rows: list of (event_id, ts_us, user_id, event_type, value)."""
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=4),  # attr index
            st.integers(min_value=0, max_value=10**9),  # ts offset us
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_partitions_any_timeline(spark, tmp_path_factory, log):
    """For ANY generated change log (duplicate timestamps, single-event
    users, long constant runs): SCD2 intervals are contiguous per user,
    versions dense from 1, exactly one open current row per user,
    adjacent versions differ in attr, and scd2_resolve assigns every
    event exactly one version."""
    from hedera_spark.operators.scd import scd2_build, scd2_resolve

    types = ["click", "view", "error", "signup", "purchase"]
    base = 1_700_000_000_000_000
    rows = [
        (i, base + off, u, types[a], 1.0)
        for i, (u, a, off) in enumerate(log)
    ]
    sf = _write_events(str(tmp_path_factory.mktemp("scd")), rows)

    dim_rows = scd2_build(spark, sf).collect()
    by_user: dict = {}
    for r in dim_rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == {r[2] for r in rows}
    for rs in by_user.values():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r["is_current"] for r in rs) == 1
        assert rs[-1]["valid_to"] is None
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"]

    res = scd2_resolve(spark, sf)
    assert res.count() == len(rows)
    assert res.where("version IS NULL").count() == 0


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # keeps per bin
            st.integers(min_value=1, max_value=50),  # extra non-keeps
        ),
        min_size=1,
        max_size=12,
    )
)
def test_isotonic_minmax_equals_pav(bins):
    """The min-max characterization used by calibration_isotonic must
    equal the classic pool-adjacent-violators algorithm on arbitrary
    weighted bins (keeps capped at bin size)."""
    ks = [k for k, _ in bins]
    ns = [k + extra for k, extra in bins]
    # min-max formula (the operator's arithmetic)
    ck = [0]
    cn = [0]
    for k, n in zip(ks, ns):
        ck.append(ck[-1] + k)
        cn.append(cn[-1] + n)
    b = len(bins)
    minmax = [
        max(
            min(
                (ck[k + 1] - ck[i]) / float(cn[k + 1] - cn[i])
                for k in range(j, b)
            )
            for i in range(j + 1)
        )
        for j in range(b)
    ]
    # classic PAV: pool adjacent violating blocks [sum_keep, sum_n]
    merged: list[list[float]] = []
    for k, n in zip(ks, ns):
        merged.append([k, n])
        while len(merged) > 1 and (
            merged[-2][0] * merged[-1][1] >= merged[-1][0] * merged[-2][1]
        ):
            a = merged.pop()
            merged[-1][0] += a[0]
            merged[-1][1] += a[1]
    pav = []
    for blk in merged:
        rate = blk[0] / float(blk[1])
        # block spans as many original bins as its weight allows: rebuild
        # by walking weights
        pav.append((rate, blk[1]))
    # expand pav rates to per-bin fits by weight
    fits = []
    it = iter(pav)
    rate, left = next(it)
    for n in ns:
        while left == 0:
            rate, left = next(it)
        fits.append(rate)
        left -= n
    assert len(fits) == b
    for a, c in zip(minmax, fits):
        assert abs(a - c) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40)
)
def test_gini_rank_formula_equals_pairwise_definition(xs):
    """revenue_gini's rank-weighted formula 2Σi·x/(nΣx) − (n+1)/n must
    equal the definitional mean-absolute-difference Gini
    Σ|xi−xj| / (2n²μ) on arbitrary non-negative integer lists."""
    if sum(xs) == 0:
        return
    s = sorted(xs)
    n = len(s)
    tot = sum(s)
    rank_based = 2.0 * sum((i + 1) * x for i, x in enumerate(s)) / (
        n * float(tot)
    ) - (n + 1) / float(n)
    pairwise = sum(abs(a - b) for a in s for b in s) / (
        2.0 * n * n * (tot / float(n))
    )
    assert abs(rank_based - pairwise) < 1e-9


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["10.0.0.1", "192.168.7.9", "2001:db8::1"]),
            st.sampled_from(["-", "ident"]),
            st.sampled_from(["-", "alice", "bob"]),
            st.sampled_from(["GET", "POST", "HEAD"]),
            st.from_regex(r"/[a-z0-9/_.]{0,20}", fullmatch=True),
            st.sampled_from([200, 301, 404, 500]),
            st.one_of(st.none(), st.integers(min_value=0, max_value=10**9)),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_read_common_log_roundtrip(spark, tmp_path_factory, entries):
    """Format random Common Log entries, parse them back, and compare
    field-by-field: the reader must invert the formatter exactly,
    including '-' → NULL and the size-missing case."""
    lines = []
    for i, (ip, logname, user, method, path, status, size) in enumerate(entries):
        size_s = "-" if size is None else str(size)
        ts = f"[01/Feb/2021:0{i % 10}:30:00 +0000]"
        lines.append(
            f'{ip} {logname} {user} {ts} "{method} {path} HTTP/1.1" '
            f"{status} {size_s}"
        )
    d = tmp_path_factory.mktemp("clog")
    (d / "access.log").write_text("\n".join(lines))

    from hedera_spark.sources.formats import read_common_log

    got = sorted(
        read_common_log(spark, str(d)).collect(),
        key=lambda r: (r["epoch_ms"], r["resource"], r["obj_size"] or -1),
    )
    want = sorted(
        entries, key=lambda e: (e[4], -1 if e[6] is None else e[6])
    )
    assert len(got) == len(entries)
    for r in got:
        assert r["method"] in ("GET", "POST", "HEAD")
        assert r["protocol"] == "HTTP/1.1"
        assert (r["remote_logname"] is None) or r["remote_logname"] == "ident"
        assert (r["user_id"] is None) or r["user_id"] in ("alice", "bob")
        assert r["epoch_ms"] is not None and r["epoch_ms"] % 1000 == 0
    # multiset equality on the invertible fields (a missing size sorts
    # first: None does not compare with an int)
    def _key(t):
        return (*t[:4], -1 if t[4] is None else t[4])

    assert sorted(((r["remote_address"], r["method"], r["resource"],
                    r["status_code"], r["obj_size"]) for r in got), key=_key) == sorted(
        ((e[0], e[3], e[4], e[5], e[6]) for e in entries), key=_key
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab X\t\n")), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=10,
    )
)
def test_dedup_exact_normalized_is_idempotent_and_coarsens(
    spark, tmp_path_factory, texts
):
    """For ANY texts (mixed case/whitespace): (1) normalized groups are a
    coarsening of raw groups — raw-equal docs are always norm-equal; (2)
    survivor is the min doc_id of its group; (3) group sizes sum to n."""
    from hedera_spark.operators.dedup import dedup_exact, dedup_exact_normalized

    d = _write_docs(str(tmp_path_factory.mktemp("den")), texts)
    norm = {r["doc_id"]: r for r in dedup_exact_normalized(spark, d).collect()}
    raw = {r["doc_id"]: r for r in dedup_exact(spark, d).collect()}
    assert set(norm) == set(range(len(texts)))
    for i, t in enumerate(texts):
        for j, u in enumerate(texts):
            if t == u:
                assert norm[i]["text_hash"] == norm[j]["text_hash"]
    groups: dict[str, list[int]] = {}
    for i, r in norm.items():
        groups.setdefault(r["text_hash"], []).append(i)
    for h, members in groups.items():
        lead = min(members)
        for m in members:
            assert norm[m]["survivor_id"] == lead
            assert norm[m]["n_copies"] == len(members)
            assert norm[m]["is_dup"] == int(m != lead)
    # coarsening: normalized distinct-hash count <= raw distinct-hash count
    assert len(groups) <= len({r["text_hash"] for r in raw.values()})


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    langs=st.lists(st.sampled_from(["en", "de", "fr"]), min_size=2, max_size=30)
)
def test_t_closeness_tvd_bounds_and_uniform_zero(
    spark, tmp_path_factory, langs
):
    """For ANY lang assignment: every cell's TVD is in [0, 1], a cell
    whose lang mix EQUALS the global mix scores 0, and violates is
    exactly (tvd > 2/5) within rounding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hedera_spark.operators.profile import t_closeness

    tmpdir = str(tmp_path_factory.mktemp("tc"))
    n = len(langs)
    table = pa.table(
        {
            "doc_id": pa.array(range(2 * n), pa.int64()),
            "text": pa.array(["x"] * (2 * n)),
            "lang": pa.array(langs + langs),  # source B mirrors source A
            "source": pa.array(["A"] * n + ["B"] * n),
            "n_chars": pa.array([5] * (2 * n), pa.int64()),
        }
    )
    pq.write_table(table, f"{tmpdir}/documents.parquet")
    rows = t_closeness(spark, tmpdir).collect()
    assert len(rows) == 2
    for r in rows:
        # each source's mix IS the global mix (A and B are identical)
        assert r["tvd"] == 0.0 and r["violates"] == 0
        assert 0.0 <= r["tvd"] <= 1.0
