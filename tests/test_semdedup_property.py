"""Property-based check for semdedup: the full operator (deterministic
Lloyd trajectory + within-cluster pair stage, the exact side of
``similarity._exact_fit``) must
match a pure-Python reference that mirrors the JVM folds OPERATION FOR
OPERATION — left-to-right zip folds for distances/dots, shuffle-safe
exact integer sums for the centroid means, shortest-repr HALF_UP
rounding for F.round. Integer-valued vectors keep every sum exact in
float64, so the reference is bit-identical by construction, not
approximately equal (the discipline of the batch oracle, NOTES.md)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelineetl_spark.operators import similarity


def _half_up(x: float, dp: int) -> float:
    """Spark F.round on a double: BigDecimal.valueOf uses the SHORTEST
    decimal repr (Double.toString == Python repr), then HALF_UP."""
    if x != x:  # NaN
        return x
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), ROUND_HALF_UP))


def _ref_semdedup(rows, k, iters, threshold, round_dp=6, cos_dp=4):
    """(id, vec|None) rows -> {id: (cluster, n_dups_earlier, kept)}."""
    nonnull = sorted((i, v) for i, v in rows if v is not None)
    cents = [[_half_up(float(x), round_dp) for x in v] for _, v in nonnull[:k]]

    def assign(v, cents):
        best = None
        for cid, c in enumerate(cents):
            acc = 0.0
            for x, y in zip(v, c):
                acc = acc + (x - y) * (x - y)  # the JVM fold, in order
            if best is None or acc < best[0]:
                best = (acc, cid)
        return best[1]

    for _ in range(iters):
        groups: dict[int, list] = {}
        for _, v in nonnull:
            groups.setdefault(assign(v, cents), []).append(v)
        new_cents = []
        for cid, c in enumerate(cents):
            ms = groups.get(cid)
            if not ms:
                new_cents.append(c)  # empty cluster keeps its centroid
                continue
            new_cents.append(
                [
                    _half_up(sum(m[d] for m in ms) / len(ms), round_dp)
                    for d in range(len(c))
                ]
            )
        cents = new_cents

    def unit(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        n = math.sqrt(acc)
        if n > 0:
            return [x / n for x in v]
        return [0.0] * len(v)

    out = {}
    clusters = {i: assign(v, cents) for i, v in nonnull}
    units = {i: unit(v) for i, v in nonnull}
    for i, _ in nonnull:
        n_dups = 0
        for j, _ in nonnull:
            if j >= i or clusters[j] != clusters[i]:
                continue
            acc = 0.0
            for x, y in zip(units[j], units[i]):
                acc = acc + x * y
            if _half_up(acc, cos_dp) >= threshold:
                n_dups += 1
        out[i] = (clusters[i], n_dups, int(n_dups == 0))
    for i, v in rows:
        if v is None:
            out[i] = (None, 0, 1)
    return out


_vecs = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.integers(min_value=-10, max_value=10), min_size=3, max_size=3
        ),
    ),
    min_size=2,
    max_size=14,
)


@settings(max_examples=12, deadline=None)
@given(_vecs, st.integers(min_value=1, max_value=3),
       st.integers(min_value=0, max_value=2),
       st.sampled_from([0.5, 0.9, 0.95, 1.0]))
def test_semdedup_matches_python_reference(spark, vecs, k, iters, threshold):
    rows = [(i, [float(x) for x in v] if v is not None else None)
            for i, v in enumerate(vecs)]
    n_nonnull = sum(1 for _, v in rows if v is not None)
    if n_nonnull < k:
        return  # kmeans raises below k seeds — covered by its unit test
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster, r.n_dups_earlier, r.kept)
        for r in similarity.semdedup(
            df, k=k, iters=iters, threshold=threshold
        ).collect()
    }
    want = _ref_semdedup(rows, k, iters, threshold)
    assert got == want
