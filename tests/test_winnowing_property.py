"""Property-based checks for winnowing fingerprints: the SIGMOD'03
guarantee (any shared substring of length >= window + k - 1 produces at
least one shared fingerprint) and a pure-python reference replay of the
whole selection algebra on randomized inputs."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelineetl_spark.operators import text

_K, _W = 5, 4
_text = st.text(alphabet="abcdef gh", min_size=0, max_size=60)
_long_text = st.text(alphabet="abcdef gh", min_size=_W + _K - 1, max_size=40)


def _ref_fingerprints(t: str, k: int = _K, w: int = _W) -> list[int]:
    """Reference implementation: md5-prefix 60-bit k-gram hashes, sliding
    window minima, sorted distinct — mirrors the operator's documented
    algebra independently of Spark."""
    t = t.lower()
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    if not hs:
        return []
    if len(hs) < w:
        return sorted({min(hs)})
    mins = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
    return sorted(mins)


@settings(max_examples=15, deadline=None)
@given(st.lists(_text, min_size=1, max_size=6))
def test_winnowing_matches_reference(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: list(r.winnow_fps)
        for r in text.with_winnowing_fingerprints(df, k=_K, window=_W).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_fingerprints(t), f"doc {i}: {t!r}"


@settings(max_examples=15, deadline=None)
@given(_long_text, _text, _text, _text, _text)
def test_winnowing_shared_substring_guarantee(spark, shared, p1, s1, p2, s2):
    """The paper's theorem: two documents sharing a substring of length
    >= window + k - 1 share at least one selected fingerprint."""
    doc1, doc2 = p1 + shared + s1, p2 + shared + s2
    df = spark.createDataFrame([(1, doc1), (2, doc2)], ["doc_id", "text"])
    got = {
        r.doc_id: set(r.winnow_fps)
        for r in text.with_winnowing_fingerprints(df, k=_K, window=_W).collect()
    }
    assert got[1] & got[2], (
        f"shared {len(shared)}-char substring produced no shared fingerprint: "
        f"{doc1!r} / {doc2!r}"
    )


# ---------------------------------------------------------------------------
# Range-join property: the bucketization rewrite must equal the naive
# inequality join for arbitrary point/interval layouts and bucket widths.
# ---------------------------------------------------------------------------

_day = st.integers(min_value=0, max_value=40)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(_day, min_size=1, max_size=15),
    st.lists(st.tuples(_day, _day), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=9),
)
def test_range_join_property_matches_naive(spark, point_days, intervals, bucket_days):
    import datetime as dt

    from pyspark.sql import functions as F

    from datapipelineetl_spark.operators import relational

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(days=d)) for i, d in enumerate(point_days)],
        ["pid", "ts"],
    )
    ivs = spark.createDataFrame(
        [
            (i, base + dt.timedelta(days=a), base + dt.timedelta(days=b))
            for i, (a, b) in enumerate(intervals)
        ],
        ["iid", "w_start", "w_end"],
    )
    naive = {
        (r.pid, r.iid)
        for r in pts.join(
            ivs, (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
        ).collect()
    }
    got = {
        (r.pid, r.iid)
        for r in relational.range_join(
            pts, ivs, "ts", "w_start", "w_end", bucket_days=bucket_days
        ).collect()
    }
    assert got == naive
