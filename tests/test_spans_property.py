"""Property-based check for exact duplicated-span dedup (Lee et al.
2021 at token-window granularity): flagged (id, start) windows AND the
token-level removal rewrite vs a literal Python replay — window md5
hashes, the (id, start) struct-min first occurrence, overlapping-cut
merging. A tiny vocabulary forces real cross- and within-document
repeats, so the interesting paths (shared spans, overlapping windows,
sub-n documents) are walked constantly."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelineetl_spark.operators import dedup


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _toks(s):
    return [t for t in re.split("[ \\t\\n\\x0b\\f\\r]+", (s or "").lower())
            if t != ""]


def _ref_spans(docs, n):
    """docs: [(id, text)] -> (flagged {(id, start)}, rewritten {id: text})."""
    wins = []  # (id, start, hash) in (id, start) order
    for i, s in sorted(docs):
        ts = _toks(s)
        if len(ts) >= n:
            for st_ in range(len(ts) - n + 1):
                wins.append((i, st_, _hash60(" ".join(ts[st_:st_ + n]))))
    first = {}
    for i, st_, h in wins:
        if h not in first or (i, st_) < first[h]:
            first[h] = (i, st_)
    flagged = {(i, st_) for i, st_, h in wins if (i, st_) != first[h]}
    rewritten = {}
    for i, s in docs:
        ts = _toks(s)
        cut = set()
        for st_ in range(max(len(ts) - n + 1, 0)):
            if (i, st_) in flagged:
                cut.update(range(st_, st_ + n))
        rewritten[i] = " ".join(t for j, t in enumerate(ts) if j not in cut)
    return flagged, rewritten


_doc = st.lists(
    st.sampled_from(["a", "b", "c", "quick", "fox"]), min_size=0, max_size=14
).map(" ".join)
_docs = st.lists(st.one_of(st.none(), _doc), min_size=1, max_size=6)


@settings(max_examples=15, deadline=None)
@given(_docs, st.integers(min_value=1, max_value=3))
def test_duplicate_spans_match_python_reference(spark, texts, n):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want_flags, want_text = _ref_spans(docs, n)
    got_flags = {(r.doc_id, r.start)
                 for r in dedup.duplicate_spans(df, n=n).collect()}
    assert got_flags == want_flags
    got_text = {r.doc_id: r.text
                for r in dedup.remove_duplicate_spans(df, n=n).collect()}
    # NULL text passes through the rewrite as the empty token stream
    assert got_text == {i: want_text[i] for i in got_text}
    assert set(got_text) == {i for i, _ in docs}  # no dropped rows


def test_duplicate_spans_edge_rows_match_python_reference(spark):
    """The fixed edge rows on top of the property: NBSP (not a split,
    lives inside window text), unicode case, NULL/empty/short text,
    exactly-n-token docs and within-doc repeats, for n in {2, 8} — both
    the flagged windows and the removal rewrite replayed in Python."""
    span = "a b c d e f g h"
    docs = [
        (1, span + " i j"),
        (2, "z y " + span),
        (3, "p q r"),
        (4, "m n o p q r s t m n o p q r s t"),
        (5, None),
        (6, ""),
        (7, "one two three four five six seven eight"),  # exactly 8
        (8, "a b\xa0c d e f g h i"),                     # NBSP glues b c
        (9, "İstanbul ΣΟΦΟΣ " + span),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    for n in (2, 8):
        want_flags, want_text = _ref_spans(docs, n)
        got_flags = {(r.doc_id, r.start)
                     for r in dedup.duplicate_spans(df, n=n).collect()}
        assert got_flags == want_flags, n
        got_text = {r.doc_id: r.text
                    for r in dedup.remove_duplicate_spans(df, n=n).collect()}
        assert got_text == want_text, n
    # the implementation switch is gone, not silently ignored
    with pytest.raises(TypeError):
        dedup.duplicate_spans(df, impl="kernel")
    with pytest.raises(TypeError):
        dedup.remove_duplicate_spans(df, impl="kernel")
