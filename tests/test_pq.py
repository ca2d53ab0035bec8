"""Product-quantization family (similarity.pq_fit / pq_encode /
pq_adc_topk): pure-Python trajectory replay of the bit-exact seq path,
seq↔arrow fit and encode parity, measured recall gates, and the
contract corners (nulls, exclusions, validation errors)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from datapipelineetl_spark import catalog
from datapipelineetl_spark.operators import similarity

_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def _half_up(x: float, dp: int) -> float:
    # mirrors F.round's BigDecimal(shortest-repr) HALF_UP — the contract
    # similarity._pq_half_up implements since ADVICE r12 item 3 (the old
    # floor(|x|*scale+0.5) spelling misrounds when |x|*scale FP-rounds
    # across the .5 boundary, e.g. 2.675 at dp=2)
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP)
    )


def _py_pq_fit(vecs: dict, m: int, k_sub: int, iters: int, dp: int):
    """Operation-for-operation replay of pq_fit: seeds = k_sub lowest-id
    subvectors (HALF_UP-rounded), sequential left-to-right distance
    sums, argmin ties to the lower code, id-ordered means HALF_UP
    rounded, empty codes keep the previous codeword."""
    ids = sorted(i for i, v in vecs.items() if v is not None)
    dim = len(vecs[ids[0]])
    sub = dim // m
    books = [
        [
            [_half_up(vecs[i][j * sub + z], dp) for z in range(sub)]
            for i in ids[:k_sub]
        ]
        for j in range(m)
    ]

    def argmin(v, book):
        best = None
        for c, cw in enumerate(book):
            d = 0.0
            for z in range(sub):
                t = v[z] - cw[z]
                d += t * t
            if best is None or d < best[0]:
                best = (d, c)
        return best[1]

    for _ in range(iters):
        sums: dict = {}
        for i in ids:
            for j in range(m):
                s = vecs[i][j * sub:(j + 1) * sub]
                c = argmin(s, books[j])
                n, acc = sums.get((j, c), (0, [0.0] * sub))
                sums[(j, c)] = (n + 1, [a + x for a, x in zip(acc, s)])
        books = [
            [
                [_half_up(a / sums[(j, c)][0], dp) for a in sums[(j, c)][1]]
                if (j, c) in sums
                else cw
                for c, cw in enumerate(book)
            ]
            for j, book in enumerate(books)
        ]
    codes = {
        i: [argmin(vecs[i][j * sub:(j + 1) * sub], books[j]) for j in range(m)]
        for i in ids
    }
    return books, codes


# deterministic "random" fixture: an LCG so there is no RNG import and
# the values exercise non-trivial geometry; ids 3/7 are exact
# duplicates (argmin tie coverage), id 9 is a NULL vector
def _fixture_vecs(n: int = 10, dim: int = 8) -> dict:
    state = 12345
    out = {}
    for i in range(n):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2 ** 31)
            v.append(round(state / 2 ** 31 - 0.5, 3))
        out[i] = v
    out[7] = list(out[3])
    out[9] = None
    return out


_M, _KSUB, _ITERS, _DP = 2, 3, 2, 6


@pytest.fixture(scope="module")
def pq_frame(spark):
    vecs = _fixture_vecs()
    rows = [(i, v) for i, v in sorted(vecs.items())]
    # ONE partition: the replay sums means in id order; a multi-partition
    # partial-agg merge order would differ in the last ulp
    return vecs, spark.createDataFrame(rows, _SCHEMA).coalesce(1)


def test_pq_fit_encode_matches_python_replay(pq_frame):
    vecs, df = pq_frame
    books = similarity.pq_fit(df, m=_M, k_sub=_KSUB, iters=_ITERS, round_dp=_DP)
    py_books, py_codes = _py_pq_fit(vecs, _M, _KSUB, _ITERS, _DP)
    assert books == py_books
    enc = similarity.pq_encode(df, books)
    got = {r.vec_id: r.pq_code for r in enc.collect()}
    assert got[9] is None  # NULL vector → NULL code, no crash
    assert {i: c for i, c in got.items() if c is not None} == py_codes
    # exact duplicates quantize identically (and the tie went the same way)
    assert got[3] == got[7]


def test_pq_adc_matches_python_replay(pq_frame):
    vecs, df = pq_frame
    books = similarity.pq_fit(df, m=_M, k_sub=_KSUB, iters=_ITERS, round_dp=_DP)
    _, py_codes = _py_pq_fit(vecs, _M, _KSUB, _ITERS, _DP)
    sub = len(books[0][0])
    q = vecs[0]
    lut = []
    for j in range(_M):
        row = []
        for cw in books[j]:
            d = 0.0
            for z in range(sub):
                t = q[j * sub + z] - cw[z]
                d += t * t
            row.append(d)
        lut.append(row)
    py = sorted(
        (
            _half_up(sum(lut[j][c] for j, c in enumerate(py_codes[i])), _DP),
            i,
        )
        for i in py_codes
        if i != 0
    )
    enc = similarity.pq_encode(df, books)
    got = similarity.pq_adc_topk(
        enc, q, books, k=len(py), round_dp=_DP, exclude_ids=(0,)
    ).collect()
    assert [(r.adc, r.vec_id) for r in got] == py
    # null-coded rows are excluded, not crashed on
    assert all(r.vec_id != 9 for r in got)


def test_pq_encode_arrow_matches_seq(spark, sf_dir, monkeypatch):
    """The matmul encode kernel (the scale side, reached by setting the
    _exact_fit limit to 0) agrees with the bit-exact seq kernel (the
    exact side, pinned by test_pq_fit_encode_matches_python_replay)
    on the fixture, NULL vector → NULL code in both."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    with_null = emb.unionByName(
        spark.createDataFrame([(10**9, None)], _SCHEMA).withColumn(
            "label", F.lit(None).cast("int")
        )
    )
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    seq = {
        r.vec_id: r.pq_code
        for r in similarity.pq_encode(with_null, books).collect()
    }
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    arrow = {
        r.vec_id: r.pq_code
        for r in similarity.pq_encode(with_null, books).collect()
    }
    assert seq == arrow
    assert seq[10**9] is None
    with pytest.raises(TypeError):
        similarity.pq_encode(with_null, books, mode="arrow")


def test_pq_fit_arrow_matches_seq(spark, sf_dir, monkeypatch):
    """On the scale side (reached by setting the _exact_fit limit to 0)
    pq_fit routes each iteration's argmin through the matmul kernel
    instead of the bit-exact seq kernel (the exact side, pinned by
    test_pq_fit_encode_matches_python_replay). On the fixture the two
    must produce IDENTICAL codebooks (no distance ties at fixture
    geometry, and the mean agg is shared)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    seq = similarity.pq_fit(emb, m=16, k_sub=16, iters=2)
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    arrow = similarity.pq_fit(emb, m=16, k_sub=16, iters=2)
    assert seq == arrow
    with pytest.raises(TypeError):
        similarity.pq_fit(emb, m=16, assignment="arrow")


def test_pq_adc_recall_and_refine(spark, sf_dir):
    """Pin the MEASURED fixture recall (geometry = the staged
    q_pq_codes/q_pq_topk one): adc recall@10 was 0.5 and refine_n=50
    re-rank 0.9 when this gate was written — floors one notch below so
    legitimate float drift cannot flake the suite, while a broken
    encode/LUT (recall ≈ 0.1 at m=4/k_sub=8 before the geometry
    sweep) still fails loudly."""
    import numpy as np

    emb = catalog.load(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    q = x[ids == 0][0]
    d2 = ((x - q) ** 2).sum(axis=1)
    mask = ids != 0
    exact10 = set(
        int(i) for i in ids[mask][np.lexsort((ids[mask], d2[mask]))][:10]
    )
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    enc = similarity.pq_encode(emb, books)
    adc10 = set(
        r.vec_id
        for r in similarity.pq_adc_topk(
            enc, list(q), books, k=10, exclude_ids=(0,)
        ).collect()
    )
    assert len(adc10 & exact10) / 10 >= 0.4
    refined = similarity.pq_adc_topk(
        enc, list(q), books, k=10, exclude_ids=(0,), refine_n=50, vectors=emb
    ).collect()
    assert len(set(r.vec_id for r in refined) & exact10) / 10 >= 0.8
    # the refine leg re-ranks by EXACT distance: l2 ascending, and every
    # exact distance is <= the next one (ties broken by id)
    l2s = [(r.l2, r.vec_id) for r in refined]
    assert l2s == sorted(l2s)


def test_pq_validation_errors(pq_frame):
    _, df = pq_frame
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_fit(df, m=3)
    with pytest.raises(ValueError, match="non-null vectors"):
        similarity.pq_fit(df, m=2, k_sub=100)
    books = similarity.pq_fit(df, m=_M, k_sub=_KSUB, iters=_ITERS)
    with pytest.raises(TypeError):
        similarity.pq_encode(df, books, mode="seq")
    with pytest.raises(ValueError, match="query dim"):
        similarity.pq_adc_topk(df, [0.0] * 5, books)
    with pytest.raises(ValueError, match="vectors"):
        similarity.pq_adc_topk(
            similarity.pq_encode(df, books), [0.0] * 8, books, refine_n=5
        )


def test_ivfpq_topk_composition(spark, sf_dir):
    """IVF-PQ = coarse pruning × ADC compression: (a) the persisted-
    column path (ivf_assign + pq_encode written once) returns the SAME
    result as the on-the-fly path; (b) the probe genuinely prunes (the
    scanned subset is a strict, cell-complete subset); (c) refine_n
    recovers most of the exact top-10 at fixture geometry (measured
    0.8 when this gate was written; floored a notch below)."""
    import numpy as np

    emb = catalog.load(spark, sf_dir, "embeddings")
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=2)
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]

    fly = similarity.ivfpq_topk(
        emb, q, cents, books, k=10, nprobe=3, exclude_ids=(0,)
    ).collect()
    stored = similarity.pq_encode(
        similarity.ivf_assign(emb, cents), books, out="pq_code"
    )
    persisted = similarity.ivfpq_topk(
        stored, q, cents, books, k=10, nprobe=3,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
    ).collect()
    assert [(r.vec_id, r.adc) for r in fly] == [
        (r.vec_id, r.adc) for r in persisted
    ]

    # pruning: the probed subset is exactly the 3 nearest cells' rows
    c = np.asarray(cents)
    probe = set(
        int(x) for x in np.argsort(-(c @ np.asarray(q)), kind="stable")[:3]
    )
    cell_counts = {
        r.ivf_cell: r.n
        for r in stored.groupBy("ivf_cell").agg(F.count("*").alias("n")).collect()
    }
    scanned = sum(n for cell, n in cell_counts.items() if cell in probe)
    assert 0 < scanned < sum(cell_counts.values())
    # every returned id must live in a probed cell
    got_cells = {
        r.ivf_cell
        for r in stored.join(
            spark.createDataFrame(
                [(x.vec_id,) for x in fly], "vec_id long"
            ),
            "vec_id",
            "semi",
        ).collect()
    }
    assert got_cells <= probe

    # refine against raw vectors inside the probed set
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    d2 = ((x - np.asarray(q)) ** 2).sum(axis=1)
    mask = ids != 0
    exact10 = set(
        int(i) for i in ids[mask][np.lexsort((ids[mask], d2[mask]))][:10]
    )
    refined = similarity.ivfpq_topk(
        stored, q, cents, books, k=10, nprobe=8,  # all cells: isolates PQ error
        cell_col="ivf_cell", codes_col="pq_code",
        exclude_ids=(0,), refine_n=50,
    ).collect()
    assert len(set(r.vec_id for r in refined) & exact10) / 10 >= 0.7


def test_ivfpq_partition_pruning_plan(spark, sf_dir, tmp_path):
    """The persisted-store contract (examples/ann_index_build.py): on a
    store written partitionBy(ivf_cell), ivfpq_topk's cell predicate
    must reach the scan as a PartitionFilter — directory pruning, the
    100 TB claim — and return the same rows as the unpartitioned
    path."""
    emb = catalog.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=2)
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    enc = similarity.pq_encode(similarity.ivf_assign(emb, cents), books)
    path = str(tmp_path / "store")
    enc.write.partitionBy("ivf_cell").parquet(path)
    store = spark.read.parquet(path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    pruned = similarity.ivfpq_topk(
        store, q, cents, books, k=10, nprobe=3,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "ivf_cell" in pf
    flat = similarity.ivfpq_topk(
        enc, q, cents, books, k=10, nprobe=3,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
    )
    assert [(r.vec_id, r.adc) for r in pruned.collect()] == [
        (r.vec_id, r.adc) for r in flat.collect()
    ]


def _blob_frame(spark, k=4, per=200, dim=16, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim)) * 2.0
    x = np.concatenate(
        [centers[i] + 0.15 * rng.normal(size=(per, dim)) for i in range(k)]
    )
    # interleave blob membership so the lowest-id seeds span blobs
    order = np.argsort(np.tile(np.arange(per), k) * k + np.repeat(np.arange(k), per))
    x = x[order]
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(len(x))]
    return x, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4).localCheckpoint(eager=True)


def test_ivf_l2_metric_and_residualize_roundtrip(spark):
    """The Euclidean coarse tier: metric="l2" fits UN-normalized
    centroids with L2-argmin assignment (numpy-replayed), and
    residualize satisfies residual + centroid[cell] == original
    exactly; NULL vectors get NULL residuals."""
    import numpy as np

    x, emb = _blob_frame(spark)
    cents = similarity.ivf_fit_centroids(emb, k_cells=4, iters=2, metric="l2")
    c = np.asarray(cents)
    # un-normalized (blob centers live at radius ~2*sqrt(dim), not 1)
    assert (np.abs(np.linalg.norm(c, axis=1) - 1.0) > 0.1).all()
    got = {
        r.vec_id: r.ivf_cell
        for r in similarity.ivf_assign(emb, cents, metric="l2").collect()
    }
    expect = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert all(got[i] == int(expect[i]) for i in range(len(x)))

    res = similarity.residualize(emb, cents, metric="l2")
    row = res.filter(F.col("vec_id") == 7).first()
    back = [a + b for a, b in zip(row.residual, cents[got[7]])]
    assert all(abs(a - b) < 1e-12 for a, b in zip(back, row.embedding))
    with_null = emb.unionByName(
        spark.createDataFrame([(10**9, None)], _SCHEMA)
    )
    nrow = (
        similarity.residualize(with_null, cents, metric="l2")
        .filter(F.col("vec_id") == 10**9)
        .first()
    )
    assert nrow.residual is None
    with pytest.raises(ValueError, match="metric"):
        similarity.ivf_fit_centroids(emb, k_cells=4, metric="dot")


def test_ivfpq_residual_beats_global_at_low_code_budget(spark):
    """The measured characterization (SCALING.md round 12): on CLUSTERED
    data with an L2 coarse tier and a LOW code budget (m=4, k_sub=8 —
    4 bytes/vector), residual codes see the small within-cell
    displacements the global codebook wastes its codewords spanning:
    measured recall@10 0.30 vs 0.12 at this exact geometry (floors a
    notch below; both paths share every other knob)."""
    import numpy as np

    x, emb = _blob_frame(spark)
    ids = np.arange(len(x))
    cents = similarity.ivf_fit_centroids(emb, k_cells=4, iters=3, metric="l2")
    books_g = similarity.pq_fit(emb, m=4, k_sub=8, iters=1)
    books_r = similarity.pq_fit(
        similarity.residualize(emb, cents), m=4, k_sub=8, iters=1,
        vec_col="residual",
    )
    stored = similarity.ivf_assign(emb, cents, metric="l2")
    sg = similarity.pq_encode(stored, books_g)
    sr = similarity.pq_encode(
        similarity.residualize(stored, cents, cell_col="ivf_cell"),
        books_r, "residual", "pq_code",
    )
    rg = rr = 0.0
    qids = [0, 3, 250, 500, 701]
    for qid in qids:
        q = [float(v) for v in x[qid]]
        d2 = ((x - x[qid]) ** 2).sum(axis=1)
        mask = ids != qid
        ex = set(int(i) for i in ids[mask][np.lexsort((ids[mask], d2[mask]))][:10])
        g = set(
            r.vec_id
            for r in similarity.ivfpq_topk(
                sg, q, cents, books_g, k=10, nprobe=1,
                cell_col="ivf_cell", codes_col="pq_code",
                exclude_ids=(qid,), coarse_metric="l2",
            ).collect()
        )
        r_ = set(
            r.vec_id
            for r in similarity.ivfpq_residual_topk(
                sr, q, cents, books_r, k=10, nprobe=1,
                cell_col="ivf_cell", codes_col="pq_code",
                exclude_ids=(qid,), coarse_metric="l2",
            ).collect()
        )
        rg += len(g & ex) / 10
        rr += len(r_ & ex) / 10
    rg, rr = rg / len(qids), rr / len(qids)
    assert rr >= rg + 0.1
    assert rr >= 0.2


def test_ivf_topk_l2_metric_scores_by_l2(spark):
    """ivf_topk(metric="l2") must rank by squared L2 (the geometry that
    probed), matching the numpy exact ranking within the probed cells —
    not by cosine (a vector can be cosine-close yet L2-far)."""
    import numpy as np

    x, emb = _blob_frame(spark)
    ids = np.arange(len(x))
    cents = similarity.ivf_fit_centroids(emb, k_cells=4, iters=3, metric="l2")
    qid = 42
    q = [float(v) for v in x[qid]]
    got = similarity.ivf_topk(
        emb, q, cents, k=10, nprobe=4, exclude_ids=(qid,), metric="l2"
    ).collect()
    assert got[0].l2 <= got[-1].l2  # ascending distance
    d2 = ((x - x[qid]) ** 2).sum(axis=1)
    mask = ids != qid
    exact = [int(i) for i in ids[mask][np.lexsort((ids[mask], d2[mask]))][:10]]
    # nprobe=4 of 4 cells == exhaustive: must equal the exact ranking
    assert [r.vec_id for r in got] == exact


def test_ivfpq_residual_onthefly_and_partition_pruning(spark, tmp_path):
    """The residual variant's remaining contracts: (a) the on-the-fly
    path (no precomputed cell/code columns) equals the persisted-store
    path; (b) on a store written partitionBy(ivf_cell), every probed
    branch's scan carries a PartitionFilter on ivf_cell (directory
    pruning survives the per-cell LUT union)."""
    x, emb = _blob_frame(spark)
    cents = similarity.ivf_fit_centroids(emb, k_cells=4, iters=3, metric="l2")
    books = similarity.pq_fit(
        similarity.residualize(emb, cents), m=4, k_sub=8, iters=1,
        vec_col="residual",
    )
    q = [float(v) for v in x[5]]
    fly = similarity.ivfpq_residual_topk(
        emb, q, cents, books, k=10, nprobe=2, exclude_ids=(5,)
    ).collect()

    stored = similarity.pq_encode(
        similarity.residualize(
            similarity.ivf_assign(emb, cents, metric="l2"), cents,
            cell_col="ivf_cell",
        ),
        books, "residual", "pq_code",
    ).drop("residual")
    path = str(tmp_path / "res_store")
    stored.write.partitionBy("ivf_cell").parquet(path)
    store = spark.read.parquet(path)
    pruned = similarity.ivfpq_residual_topk(
        store, q, cents, books, k=10, nprobe=2,
        cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(5,),
    )
    assert [(r.vec_id, r.adc) for r in pruned.collect()] == [
        (r.vec_id, r.adc) for r in fly
    ]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("PartitionFilters: [")
    pruned_scans = sum(
        "ivf_cell" in part.split("]")[0]
        for part in plan.split("PartitionFilters:")[1:]
    )
    assert scans >= 2 and pruned_scans == scans  # every branch prunes


def test_pq_half_up_matches_spark_round(spark):
    """ADVICE r12 item 3: the Python seed-rounding path must agree with
    Spark F.round on ADVERSARIAL values, not just fixture-friendly ones
    — especially where |x|*scale FP-rounds across the .5 boundary
    (2.675*100 = 267.4999…97: the old floor spelling gave 2.67, F.round
    gives 2.68) and on exact .5s in both signs (banker's-rounding trap).
    One round-trip through a literal column checks the JVM digits."""
    cases = [
        (2.675, 2), (-2.675, 2), (1.005, 2), (0.125, 2), (-0.125, 2),
        (0.5, 0), (-0.5, 0), (2.5, 0), (1.0000005, 6), (-1.0000005, 6),
        (0.3333333333333333, 6), (267.49999999999997, 0),
        (8.835, 2), (-8.835, 2), (1e-7, 6), (-1e-7, 6), (0.0, 3),
    ]
    got = spark.range(1).select(
        *[
            F.round(F.lit(x), dp).alias(f"c{i}")
            for i, (x, dp) in enumerate(cases)
        ]
    ).collect()[0]
    for i, (x, dp) in enumerate(cases):
        assert similarity._pq_half_up(x, dp) == got[f"c{i}"], (x, dp)


def test_l2_topk_null_vectors_and_round_dp(spark):
    """ADVICE r12 item 2: a NULL embedding must be FILTERED, not sorted
    to the top of the ascending top-k by Spark's NULLS FIRST default
    (DuckDB's NULLS LAST would exclude it — a silent cross-engine
    mismatch). And round_dp threads like the PQ family's (VERDICT r12
    cosmetic #4)."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, None),
        (3, [0.5, 0.5]),
        (4, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.l2_topk(df, [0.0, 0.0], k=3, exclude_ids=(0,)).collect()
    assert [r.vec_id for r in got] == [3, 1, 4]
    assert all(r.l2 is not None for r in got)
    coarse = similarity.l2_topk(
        df, [0.1234567, 0.0], k=1, exclude_ids=(0, 2, 3, 4), round_dp=2
    ).collect()[0]
    assert coarse.l2 == similarity._pq_half_up((1 - 0.1234567) ** 2, 2)


def test_ivfpq_residual_refine_shortlist_wider_than_branches(spark):
    """ADVICE r12 item 1 (the failure scenario verbatim): with per-cell
    branches capped at k, refine_n=16/k=2/nprobe=1 silently re-ranked a
    2-candidate shortlist. Degenerate single-codeword codebooks make
    every ADC distance tie (shortlist order = vec_id), and the true
    nearest neighbor carries the HIGHEST id — only a shortlist that
    actually reaches refine_n candidates lets the exact re-rank find
    it."""
    dim, n = 4, 16
    rows = [(i, [10.0 + i, float(i % 3), 0.0, 0.0]) for i in range(1, n)]
    rows.append((n, [0.1, 0.0, 0.0, 0.0]))  # true nearest to q, max id
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0] * dim]  # one coarse cell → nprobe=1 probes everything
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # m=2, k_sub=1: all codes/ADC tie
    q = [0.0] * dim
    got = similarity.ivfpq_residual_topk(
        df, q, cents, books, k=2, nprobe=1, refine_n=n
    ).collect()
    assert [r.vec_id for r in got] == [n, 1]
    assert got[0].l2 == similarity._pq_half_up(0.1 ** 2, 6)


def test_ivf_assign_fold_matches_arrow_and_handles_nulls(spark):
    """ivf_assign_fold is the oracle-replayable L2 assigner: same cells
    as the Arrow kernel on tie-free geometry, NULL vectors → NULL cell,
    and ties go to the LOWER cell id (first-index-of-min) — pinned with
    two equidistant centroids."""
    rows = [
        (0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [0.1, 0.2]),
        (3, [9.8, 0.4]), (4, None), (5, [5.0, 0.0]),  # 5 ties 0 vs 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0], [10.0, 0.0]]
    fold = {r.vec_id: r.ivf_cell
            for r in similarity.ivf_assign_fold(df, cents).collect()}
    assert fold == {0: 0, 1: 1, 2: 0, 3: 1, 4: None, 5: 0}
    arrow = {r.vec_id: r.ivf_cell
             for r in similarity.ivf_assign(df, cents, metric="l2").collect()}
    # tie row 5 excluded: the kernels agree there too (np.argmin is
    # also first-min) but that is implementation luck, not contract
    assert {i: c for i, c in fold.items() if i != 5} == \
        {i: c for i, c in arrow.items() if i != 5}


def test_pq_adc_topk_multi_modes_match_single(spark, sf_dir):
    """pq_adc_topk_multi (one mapInPandas pass with partition-local
    top-k) must reproduce pq_adc_topk per query, including the
    self-exclusion."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    enc = similarity.pq_encode(emb, books).repartition(4)
    vecs = {r.vec_id: r.embedding
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    queries = {int(i): [float(x) for x in v] for i, v in vecs.items()}
    expected = []
    for qid in sorted(queries):
        expected += [
            (qid, r.vec_id, r.adc)
            for r in similarity.pq_adc_topk(
                enc, queries[qid], books, k=7, exclude_ids=(qid,)
            ).collect()
        ]
    got = [
        (r.query_id, r.vec_id, r.adc)
        for r in similarity.pq_adc_topk_multi(
            enc, queries, books, k=7
        ).orderBy("query_id", "adc", "vec_id").collect()
    ]
    assert got == sorted(expected, key=lambda t: (t[0], t[2], t[1]))
    # no self-exclusion: each query's own vector is its 0-distance top hit
    inc = similarity.pq_adc_topk_multi(
        enc, queries, books, k=1, exclude_query_ids=False
    ).collect()
    assert {(r.query_id, r.vec_id) for r in inc} == {(q, q) for q in queries}
    with pytest.raises(ValueError, match="query"):
        similarity.pq_adc_topk_multi(enc, {}, books)


def test_pq_adc_topk_multi_matches_python_replay(pq_frame):
    """Pure-Python replay of the multi-query path (the batch-20
    oracle's guarantee, pinned locally the way the single-query path
    is): every (query, vector) ADC is the j-ordered sequential sum of
    LUT lookups over the replayed codes, HALF_UP-rounded; per-query
    rank ascending, ties to the lower id, self excluded."""
    vecs, df = pq_frame
    books = similarity.pq_fit(df, m=_M, k_sub=_KSUB, iters=_ITERS, round_dp=_DP)
    _, py_codes = _py_pq_fit(vecs, _M, _KSUB, _ITERS, _DP)
    sub = len(books[0][0])
    queries = {i: vecs[i] for i in (0, 3, 5)}

    def lut(q):
        out = []
        for j in range(_M):
            row = []
            for cw in books[j]:
                d = 0.0
                for z in range(sub):
                    t = q[j * sub + z] - cw[z]
                    d += t * t
                row.append(d)
            out.append(row)
        return out

    expected = []
    for qid, q in sorted(queries.items()):
        tbl = lut(q)
        scored = sorted(
            (
                _half_up(sum(tbl[j][c] for j, c in enumerate(py_codes[i])), _DP),
                i,
            )
            for i in py_codes
            if i != qid
        )[:4]
        expected += [(qid, i, adc) for adc, i in scored]
    enc = similarity.pq_encode(df, books)
    got = [
        (r.query_id, r.vec_id, r.adc)
        for r in similarity.pq_adc_topk_multi(enc, queries, books, k=4)
        .orderBy("query_id", "adc", "vec_id")
        .collect()
    ]
    assert got == expected
    # and vec 9 (NULL code) appears nowhere
    assert all(v != 9 for _, v, _ in got)


def test_ivfpq_topk_multi_modes_match_single(spark, sf_dir, tmp_path):
    """ivfpq_topk_multi must reproduce ivfpq_topk per query over a
    PERSISTED cell-partitioned store, each query scoring
    only its own probed cells, and the shared scan must prune to the
    UNION of probed cells (PartitionFilters in the plan)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=2, dim=dim)
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    path = str(tmp_path / "store")
    similarity.pq_encode(
        similarity.ivf_assign(emb, cents), books
    ).write.partitionBy("ivf_cell").parquet(path)
    store = spark.read.parquet(path)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    expected = []
    for qid in sorted(vecs):
        expected += [
            (qid, r.vec_id, r.adc)
            for r in similarity.ivfpq_topk(
                store, vecs[qid], cents, books, k=5, nprobe=3,
                cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(qid,),
            ).collect()
        ]
    expected.sort(key=lambda t: (t[0], t[2], t[1]))
    multi = similarity.ivfpq_topk_multi(
        store, vecs, cents, books, k=5, nprobe=3,
        cell_col="ivf_cell", codes_col="pq_code",
    )
    got = [
        (r.query_id, r.vec_id, r.adc)
        for r in multi.orderBy("query_id", "adc", "vec_id").collect()
    ]
    assert got == expected
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    with pytest.raises(ValueError, match="query"):
        similarity.ivfpq_topk_multi(store, {}, cents, books)


def test_ivfpq_topk_multi_refine_matches_single(spark, sf_dir):
    """The batched two-stage search: ivfpq_topk_multi(refine_n) must
    equal per-query ivfpq_topk(refine_n) — same exact-l2
    re-rank, same output columns — with one broadcast join re-ranking
    ALL queries' shortlists together."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=2, dim=dim)
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    work = similarity.pq_encode(
        similarity.ivf_assign(emb, cents), books
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 2).collect()}
    expected = []
    for qid in sorted(vecs):
        expected += [
            (qid, r.vec_id, r.adc, r.l2)
            for r in similarity.ivfpq_topk(
                work, vecs[qid], cents, books, k=5, nprobe=3,
                cell_col="ivf_cell", codes_col="pq_code",
                exclude_ids=(qid,), refine_n=25,
            ).collect()
        ]
    expected.sort(key=lambda t: (t[0], t[3], t[1]))
    got = [
        (r.query_id, r.vec_id, r.adc, r.l2)
        for r in similarity.ivfpq_topk_multi(
            work, vecs, cents, books, k=5, nprobe=3,
            cell_col="ivf_cell", codes_col="pq_code", refine_n=25,
        ).orderBy("query_id", "l2", "vec_id").collect()
    ]
    assert got == expected


def test_ivf_assign_fold_matches_python_replay_random(spark):
    """Property replay of the oracle-grade coarse assigner (the
    primitive q_ivfpq_topk's full value replay stands on): random
    small-grid vectors and centroids — including exact duplicates, so
    distance TIES occur — assigned by pure Python using the same
    sequential left-to-right squared-sum order and the same
    first-minimum (ties to the lower cell) rule. Exact equality, not
    approx: both sides run identical IEEE double operations in
    identical order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    dim = 4
    grid = st.integers(min_value=-3, max_value=3)
    vec = st.lists(grid.map(lambda g: g / 4.0), min_size=dim, max_size=dim)

    @settings(max_examples=30, deadline=None)
    @given(
        vecs=st.lists(vec, min_size=1, max_size=8),
        cents=st.lists(vec, min_size=1, max_size=4),
    )
    def prop(vecs, cents):
        rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), None)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r.vec_id: r.ivf_cell
            for r in similarity.ivf_assign_fold(df, cents).collect()
        }

        def py_assign(v):
            best = None
            for c, cw in enumerate(cents):
                d = 0.0
                for x, y in zip(v, cw):
                    d += (x - y) * (x - y)
                if best is None or d < best[0]:
                    best = (d, c)
            return best[1]

        expected = {i: py_assign(v) for i, v in enumerate(vecs)}
        expected[len(vecs)] = None
        assert got == expected

    prop()


def test_round_half_up_np_boundary_divergence():
    """ADVICE r13 item 3: the Arrow serving kernels share ONE vectorized
    HALF_UP helper, and its divergence from F.round/_pq_half_up on the
    FP .5 boundary is an explicit, pinned trade — not a bug to
    rediscover. 80.585*100 = 8058.4999…9 in IEEE double, so the scaled-
    double kernel floors to 80.58 while BigDecimal HALF_UP on the
    shortest decimal gives 80.59. (The folklore 2.675 does NOT diverge:
    its product rounds to exactly 267.5 — both give 2.68.) Off-boundary
    values, negatives, and signed zeros agree exactly."""
    import numpy as np

    assert similarity._round_half_up_np(np.array([80.585]), 2)[0] == 80.58
    assert similarity._pq_half_up(80.585, 2) == 80.59  # the documented gap
    assert similarity._round_half_up_np(np.array([2.675]), 2)[0] == 2.68
    assert similarity._pq_half_up(2.675, 2) == 2.68  # folklore case agrees
    arr = np.array([1.2345675, -1.2345675, 0.0, -0.0, 2.5, -2.5, 8.835])
    got = similarity._round_half_up_np(arr.copy(), 6)
    assert got[2] == 0.0 and got[3] == 0.0
    assert not np.signbit(got[2]) and not np.signbit(got[3])
    assert got[4] == 2.5 and got[5] == -2.5
    # sign symmetry everywhere (the drift the two private copies had)
    assert np.array_equal(
        similarity._round_half_up_np(-arr.copy(), 6),
        -similarity._round_half_up_np(arr.copy(), 6) + 0.0,
    )
    off = np.array([0.1234564, -0.1234564, 267.4999, 1e-7, -1e-7])
    for x, g in zip(off, similarity._round_half_up_np(off.copy(), 6)):
        assert g == similarity._pq_half_up(float(x), 6), x


def test_refine_paths_filter_null_vectors(spark):
    """ADVICE r13 item 1: a codes-only store refined against a raw
    table that carries NULL embeddings must FILTER them before the
    exact re-rank — NULL l2 sorts ASC NULLS FIRST in Spark, ranking a
    vectorless id ABOVE every real candidate (DuckDB's NULLS LAST would
    silently diverge). Covers every refine leg: pq_adc_topk's
    single-query join, the carried leg of a store holding codes and
    vectors together (pq_adc_topk with vectors=store, ivfpq_topk,
    ivfpq_residual_topk — the NULL-vector row takes a shortlist slot
    and is then dropped) and _exact_rerank_multi (via
    ivfpq_topk_multi)."""
    dim = 4
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, None),  # the poisoned raw row
        (3, [3.0, 0.0, 0.0, 0.0]),
        (4, [2.0, 0.0, 0.0, 0.0]),
    ]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # degenerate single-codeword books: every ADC ties → the whole
    # corpus (incl. the NULL-embedding id) reaches the shortlist
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]
    code = F.array(F.lit(0), F.lit(0)).cast("array<int>").alias("pq_code")
    enc = vectors.select("vec_id", code)
    q = [0.0] * dim
    cents = [[0.0] * dim]
    store = vectors.select("vec_id", "embedding", code, F.lit(0).alias("ivf_cell"))
    legs = {
        "join": similarity.pq_adc_topk(enc, q, books, k=3, refine_n=4, vectors=vectors),
        "carried": similarity.pq_adc_topk(
            store, q, books, k=3, refine_n=4, vectors=store
        ),
        "ivfpq": similarity.ivfpq_topk(
            store, q, cents, books, k=3, nprobe=1, cell_col="ivf_cell",
            codes_col="pq_code", refine_n=4,
        ),
        "residual": similarity.ivfpq_residual_topk(
            store, q, cents, books, k=3, nprobe=1, cell_col="ivf_cell",
            codes_col="pq_code", refine_n=4,
        ),
    }
    for leg, df in legs.items():
        got = df.collect()
        assert [r.vec_id for r in got] == [1, 4, 3], leg
        assert all(r.l2 is not None for r in got), leg

    multi = similarity.ivfpq_topk_multi(
        store.drop("embedding"), {9: q}, cents, books, k=3, nprobe=1,
        cell_col="ivf_cell", codes_col="pq_code", refine_n=4, vectors=vectors,
        exclude_query_ids=False,
    ).collect()
    assert [r.vec_id for r in multi] == [1, 4, 3]
    assert all(r.l2 is not None for r in multi)


def test_refine_duplicate_ids_follow_the_leg(spark):
    """Duplicate ids are where the two single-query re-rank legs part
    ways, by design (documented in pq_adc_topk): the carried leg scores
    each code against its OWN row's vector, while the broadcast-join
    leg pairs each shortlisted code with EVERY vectors row sharing its
    id. ADC here is code[0] + code[1] (unit codewords), q = 0, so
    l2 is the squared first element."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], [0, 0]),  # adc 0, l2 1
        (1, [2.0, 0.0, 0.0, 0.0], [1, 1]),  # adc 2, l2 4
        (2, [3.0, 0.0, 0.0, 0.0], [1, 0]),  # adc 1, l2 9
    ]
    store = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, pq_code array<int>"
    ).withColumn("ivf_cell", F.lit(0))
    books = [[[0.0, 0.0], [1.0, 0.0]], [[0.0, 0.0], [0.0, 1.0]]]
    q = [0.0] * 4

    def got(df):
        return sorted((r.vec_id, r.adc, r.l2) for r in df.collect())

    own = [(1, 0.0, 1.0), (1, 2.0, 4.0), (2, 1.0, 9.0)]
    assert got(similarity.pq_adc_topk(
        store, q, books, k=10, refine_n=3, vectors=store
    )) == own
    assert got(similarity.ivfpq_topk(
        store, q, [[0.0] * 4], books, k=10, nprobe=1, cell_col="ivf_cell",
        codes_col="pq_code", refine_n=3,
    )) == own
    assert got(similarity.pq_adc_topk(
        store, q, books, k=10, refine_n=3, vectors=store.select("*")
    )) == [(1, 0.0, 1.0), (1, 0.0, 4.0), (1, 2.0, 1.0), (1, 2.0, 4.0),
           (2, 1.0, 9.0)]


def _carry_store(spark):
    """A persisted-store frame (id, vector, code, cell) over 3
    partitions with the refine legs' edge rows: 9 distinct codes over
    24 rows (ADC ties, broken by the lower id), a NULL code (id 5, never
    scored), a NULL vector (id 11, dropped after the shortlist) and a
    NaN-element vector (id 7, l2 NaN ranks last)."""
    rows = []
    for i in range(24):
        vec = None if i == 11 else [((i * 7 + d * 3) % 11) / 4.0 - 1.0 for d in range(4)]
        rows.append((i, vec, None if i == 5 else [i % 3, (i // 3) % 3], i % 2))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, pq_code array<int>, ivf_cell int"
    )
    nan_vec = F.expr("array(double('NaN'), 0D, 0D, 0D)")
    return (
        df.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 7, nan_vec).otherwise(F.col("embedding")),
        )
        .repartition(3, "vec_id")
        .localCheckpoint(eager=True)
    )


def test_refine_carried_leg_matches_join_leg(spark):
    """The one-job re-rank (the shortlist carries the raw vector) must
    return exactly the rows of the broadcast-join leg it replaced —
    floats compared by bit pattern — for pq_adc_topk, ivfpq_topk and
    ivfpq_residual_topk, over tied ADC values, a NULL code, a
    NaN-element vector, exclude_ids, refine_n < k and refine_n ≥ n.
    The join leg is reached by passing the raw vectors as a separate
    frame: ``store.select("*")`` holds the same rows but is not the
    encoded frame itself."""
    import struct

    store = _carry_store(spark)
    books = [
        [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
        [[0.0, 0.0], [-1.0, 0.5], [0.5, 0.5]],
    ]
    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    q = [0.25, -0.5, 0.75, 0.0]
    cols = dict(cell_col="ivf_cell", codes_col="pq_code")

    def bits(df):
        return [
            tuple(
                struct.pack("<d", v) if isinstance(v, float) else v for v in r
            )
            for r in df.collect()
        ]

    seen_nan = seen_tie = False
    for k, refine_n, exclude in ((3, 8, ()), (5, 2, ()), (4, 100, (0, 2)), (40, 40, ())):
        kw = dict(k=k, refine_n=refine_n, exclude_ids=exclude)
        carried = bits(similarity.pq_adc_topk(store, q, books, vectors=store, **kw))
        joined = bits(similarity.pq_adc_topk(
            store, q, books, vectors=store.select("*"), **kw
        ))
        assert carried == joined, ("pq_adc_topk", kw)
        seen_nan |= any(r[0] == 7 for r in carried)
        adcs = [r[1] for r in carried]
        seen_tie |= len(set(adcs)) < len(adcs)
        assert all(r[0] not in (5, 11) + exclude for r in carried)
        for nprobe in (1, 2):
            probe = similarity._probe_cells(cents, q, nprobe, "cosine")
            carried = bits(similarity.ivfpq_topk(
                store, q, cents, books, nprobe=nprobe, **cols, **kw
            ))
            probed = store.filter(F.col("ivf_cell").isin(probe))
            joined = bits(similarity.pq_adc_topk(
                probed, q, books, vectors=store.select("*"), **kw
            ))
            assert carried == joined, ("ivfpq_topk", nprobe, kw)
            carried = bits(similarity.ivfpq_residual_topk(
                store, q, cents, books, nprobe=nprobe, **cols, **kw
            ))
            shortlist = similarity.ivfpq_residual_topk(
                store, q, cents, books, nprobe=nprobe, **cols,
                k=max(k, refine_n), exclude_ids=exclude,
            )
            joined = bits(similarity._refine_l2(
                shortlist, q, k, "vec_id", "embedding", 6, vectors=store.select("*")
            ))
            assert carried == joined, ("ivfpq_residual_topk", nprobe, kw)
    assert seen_nan and seen_tie


def test_probe_cells_sequential_fold_order():
    """ADVICE r13 item 2: _probe_cells ranks probes by the SAME
    sequential left-to-right IEEE fold the oracle's list_sum replays —
    pinned against a pure-Python fold on a near-tie grid (quarter-step
    doubles, the ivf_assign_fold property geometry) for both metrics,
    with exact ties going to the lower cell id."""
    import itertools
    import random

    rng = random.Random(14)
    dim = 3
    for _ in range(50):
        q = [rng.randrange(-8, 9) / 4.0 for _ in range(dim)]
        cents = [
            [rng.randrange(-8, 9) / 4.0 for _ in range(dim)] for _ in range(6)
        ]
        for metric in ("l2", "cosine"):
            dists = []
            for cw in cents:
                d = 0.0
                for x, y in zip(q, cw):
                    d += (x - y) * (x - y) if metric == "l2" else -(x * y)
                dists.append(d)
            expected = sorted(range(len(cents)), key=lambda i: (dists[i], i))[:3]
            assert similarity._probe_cells(cents, q, 3, metric) == expected
    # exact tie: two identical centroids → lower id probes first
    tie = [[1.0, 0.0, 0.0], [1.0, 0.0, 0.0], [9.0, 9.0, 9.0]]
    assert similarity._probe_cells(tie, [1.0, 0.0, 0.0], 2, "l2") == [0, 1]
    # cosine ranks by DESCENDING dot: [9,9,9] wins, then the 0<1 tie
    assert similarity._probe_cells(tie, [1.0, 0.0, 0.0], 3, "cosine") == [2, 0, 1]


def test_pq_adc_topk_multi_refine_matches_single(spark, sf_dir):
    """VERDICT r13 item 7a: the flat-scan batched server's two-stage
    leg. pq_adc_topk_multi(refine_n) must equal per-query
    pq_adc_topk(refine_n) — same exact-l2 re-rank via the
    shared _exact_rerank_multi broadcast join, same output columns,
    shortlists max(k, refine_n) wide (the r12 width lesson)."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k_sub=16, iters=1)
    enc = similarity.pq_encode(emb, books).repartition(4)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 2).collect()}
    expected = []
    for qid in sorted(vecs):
        expected += [
            (qid, r.vec_id, r.adc, r.l2)
            for r in similarity.pq_adc_topk(
                enc, vecs[qid], books, k=5, exclude_ids=(qid,),
                refine_n=25, vectors=emb,
            ).collect()
        ]
    expected.sort(key=lambda t: (t[0], t[3], t[1]))
    got = [
        (r.query_id, r.vec_id, r.adc, r.l2)
        for r in similarity.pq_adc_topk_multi(
            enc, vecs, books, k=5, refine_n=25, vectors=emb,
        ).orderBy("query_id", "l2", "vec_id").collect()
    ]
    assert got == expected


def test_ivfpq_residual_topk_multi_modes_match_single(spark, sf_dir, tmp_path):
    """VERDICT r13 item 7b: batched serving over a RESIDUAL store.
    ivfpq_residual_topk_multi must reproduce per-query
    ivfpq_residual_topk over a persisted cell-partitioned
    residual store — per-(query,cell) LUTs, union-pruned shared scan
    (PartitionFilters asserted) — and the refine leg must match the
    single-query exact re-rank."""
    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents = similarity.ivf_fit_centroids(
        emb, k_cells=8, iters=2, dim=dim, metric="l2"
    )
    assigned = similarity.ivf_assign(emb, cents, metric="l2")
    res = similarity.residualize(assigned, cents, cell_col="ivf_cell")
    books = similarity.pq_fit(res, m=16, k_sub=16, iters=1, vec_col="residual")
    path = str(tmp_path / "res_store")
    similarity.pq_encode(res, books, "residual").drop(
        "residual"
    ).write.partitionBy("ivf_cell").parquet(path)
    store = spark.read.parquet(path)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    expected = []
    for qid in sorted(vecs):
        expected += [
            (qid, r.vec_id, r.adc)
            for r in similarity.ivfpq_residual_topk(
                store, vecs[qid], cents, books, k=5, nprobe=3,
                cell_col="ivf_cell", codes_col="pq_code",
                exclude_ids=(qid,),
            ).collect()
        ]
    expected.sort(key=lambda t: (t[0], t[2], t[1]))
    multi = similarity.ivfpq_residual_topk_multi(
        store, vecs, cents, books, k=5, nprobe=3,
        cell_col="ivf_cell", codes_col="pq_code",
    )
    got = [
        (r.query_id, r.vec_id, r.adc)
        for r in multi.orderBy("query_id", "adc", "vec_id").collect()
    ]
    assert got == expected
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    # refine leg: exact-l2 re-rank parity against the single-query path
    # (the store kept the raw embedding column; the multi call passes
    # the raw table explicitly — the codes-only-store convention)
    exp_ref = []
    for qid in sorted(vecs):
        exp_ref += [
            (qid, r.vec_id, r.adc, r.l2)
            for r in similarity.ivfpq_residual_topk(
                store, vecs[qid], cents, books, k=5, nprobe=3,
                cell_col="ivf_cell", codes_col="pq_code",
                exclude_ids=(qid,), refine_n=20,
            ).collect()
        ]
    exp_ref.sort(key=lambda t: (t[0], t[3], t[1]))
    got = [
        (r.query_id, r.vec_id, r.adc, r.l2)
        for r in similarity.ivfpq_residual_topk_multi(
            store, vecs, cents, books, k=5, nprobe=3,
            cell_col="ivf_cell", codes_col="pq_code",
            refine_n=20, vectors=emb,
        ).orderBy("query_id", "l2", "vec_id").collect()
    ]
    assert got == exp_ref
    with pytest.raises(ValueError, match="query"):
        similarity.ivfpq_residual_topk_multi(store, {}, cents, books)


# --- the driver fit (similarity._driver_fit_rows) ---------------------------


def _reprs(fit) -> list[str]:
    """Every float of a fit result by repr: −0.0 differs from 0.0 and
    NaN equals NaN, so equal lists mean bit-equal values."""
    import numpy as np

    return [repr(float(x)) for x in np.asarray(fit, dtype=np.float64).ravel()]


def _spark_loop(monkeypatch, fit):
    """``fit()`` on the Spark loop: a zero budget sends every input there."""
    with monkeypatch.context() as mp:
        mp.setattr(similarity, "_DRIVER_FIT_ROWS", 0)
        return fit()


def _jobs(spark, fit, group: str):
    """(result, Spark jobs run by ``fit()``), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _random_frame(spark, n: int, dim: int, parts: int, seed: int = 5):
    """n vectors (3-decimal normals) with shuffled ids, round-robin over
    ``parts`` partitions and checkpointed, so every read sees the same
    partitions and row order."""
    import numpy as np

    rng = np.random.default_rng(seed)
    ids = rng.permutation(n)
    rows = [(int(i), [float(x) for x in v])
            for i, v in zip(ids, np.round(rng.normal(size=(n, dim)), 3))]
    return (spark.createDataFrame(rows, _SCHEMA).repartition(parts)
            .localCheckpoint(eager=True))


@pytest.fixture
def small_arrow_batches(spark):
    """16-row Arrow batches, so a partition spans several batches and
    the driver must batch a BLAS kernel's input as a worker does."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("parts", [1, 3, 4, 7])
def test_driver_fit_matches_spark_loop(spark, monkeypatch, small_arrow_batches,
                                       parts):
    """Under budget, pq_fit, ivf_fit_centroids (cosine and l2) and kmeans
    run their Lloyd loop on the driver and return bit-equal results to
    the Spark loop, at iters 0–3 and any partition count: the kernels
    are shared and the mean update replays F.avg's summation order."""
    df = _random_frame(spark, 120, 8, parts)
    fits = {
        **{f"pq/{i}": lambda i=i: similarity.pq_fit(df, m=2, k_sub=4, iters=i)
           for i in range(4)},
        **{f"ivf-{metric}/{i}": lambda i=i, metric=metric:
           similarity.ivf_fit_centroids(df, k_cells=4, iters=i, metric=metric)
           for i in range(1, 4) for metric in ("cosine", "l2")},
        **{f"kmeans/{i}": lambda i=i: sorted(
            map(tuple, similarity.kmeans(df, k=4, iters=i).collect()))
           for i in range(4)},
    }
    for name, fit in fits.items():
        got, want = fit(), _spark_loop(monkeypatch, fit)
        assert got == want, name
        if not name.startswith("kmeans"):
            assert _reprs(got) == _reprs(want), name


def test_driver_fit_edge_rows(spark, monkeypatch):
    """Edge rows reach the driver fit and give the Spark loop's bits: a
    NULL vector (no part in the fit), a NULL id (the lowest seed, as
    ASC NULLS FIRST), a NaN element, −0.0 elements (F.avg's 0.0 start
    makes a lone −0.0 average to 0.0), a seed duplicating another (its
    cell stays empty and keeps its centroid) and a duplicated id."""
    rows = [
        (None, [0.25, -1.0, 0.5, 2.0]),
        (0, [1.0, 2.0, -0.0, 0.5]),
        (1, [1.0, 2.0, -0.0, 0.5]),
        (2, [-0.0, -0.0, -0.0, -0.0]),
        (3, [9.0, 1.0, 2.0, 3.0]),  # its 9.0 becomes NaN below
        (4, None),
        (7, [0.5, 0.5, -0.5, 1.5]),
        (7, [1.5, 2.5, 0.25, -0.75]),
    ] + [(i, [((i * 37 + j * 11) % 17) / 8.0 - 1.0 for j in range(4)])
         for i in range(8, 30)]
    # the NaN is made in Spark: a NaN crossing from pandas is a NULL
    nan_elem = "transform(embedding, x -> IF(x = 9.0, double('NaN'), x))"
    df = (spark.createDataFrame(rows, _SCHEMA).withColumn("embedding", F.expr(nan_elem))
          .repartition(3).localCheckpoint(eager=True))
    assert similarity._driver_fit_rows(
        df, "embedding", "vec_id", 4, None).x.shape == (29, 4)
    fits = [
        lambda: similarity.pq_fit(df, m=2, k_sub=4, iters=3),
        lambda: similarity.ivf_fit_centroids(df, k_cells=4, iters=3),
        lambda: similarity.ivf_fit_centroids(df, k_cells=4, iters=3, metric="l2"),
    ]
    for fit in fits:
        assert _reprs(fit()) == _reprs(_spark_loop(monkeypatch, fit))
    labels = sorted(map(tuple, similarity.kmeans(df, k=4, iters=3).fillna(-1).collect()))
    assert labels == sorted(map(tuple, _spark_loop(
        monkeypatch, lambda: similarity.kmeans(df, k=4, iters=3)).fillna(-1).collect()))
    # _pq_half_up, the driver's rounding of means, is F.round on the
    # zero sign and on non-finite values too
    cases = [-0.0, -1e-9, -4e-7, float("inf"), float("-inf"), float("nan")]
    got = spark.range(1).select(
        *[F.round(F.lit(x), 6).alias(f"c{i}") for i, x in enumerate(cases)]
    ).collect()[0]
    assert [repr(similarity._pq_half_up(x, 6)) for x in cases] == [repr(v) for v in got]


def test_driver_fit_seed_ties_and_fallbacks(spark, monkeypatch):
    """Rows sharing an id seed in scan order (partition, then row), where
    Spark's orderBy leaves the order open. A NULL element sends the fit
    to the Spark loop (F.avg skips it per dimension), and too few
    vectors raise the Spark loop's errors."""
    a, b, c = [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]

    def seeds(rows):
        df = spark.createDataFrame(rows, _SCHEMA).coalesce(1)
        return similarity.pq_fit(df, m=1, k_sub=2, iters=0)[0]

    assert seeds([(5, a), (5, b), (9, c)]) == [a, b]
    assert seeds([(5, b), (5, a), (9, c)]) == [b, a]

    null_elem = spark.createDataFrame(
        [(0, a), (1, b), (2, [1.0, None]), (3, c)], _SCHEMA)
    assert similarity._driver_fit_rows(null_elem, "embedding", "vec_id", 2, None) is None
    assert similarity.pq_fit(null_elem, m=1, k_sub=2, iters=1) == _spark_loop(
        monkeypatch, lambda: similarity.pq_fit(null_elem, m=1, k_sub=2, iters=1))

    few = spark.createDataFrame([(0, a), (1, b), (2, None)], _SCHEMA)
    for budget in (similarity._DRIVER_FIT_ROWS, 0):
        monkeypatch.setattr(similarity, "_DRIVER_FIT_ROWS", budget)
        with pytest.raises(ValueError, match="need >= 3 non-null vectors, got 2"):
            similarity.pq_fit(few, m=1, k_sub=3)
        with pytest.raises(ValueError, match="need >= 3 vectors to fit 3 cells"):
            similarity.ivf_fit_centroids(few, k_cells=3)


def test_driver_fit_job_counts(spark, monkeypatch):
    """A fit under budget is one Spark job, whatever its iters. Over
    budget it returns the Spark loop's result for at most one job more
    than the Spark loop alone (the probe). Each fit reads a frame of
    its own: a later fit of a small checkpointed frame reads the rows
    the first one fetched, and runs no job."""
    dfs = {name: _random_frame(spark, 200, 8, 4) for name in ("pq", "ivf", "kmeans")}
    fits = {
        "pq": lambda: similarity.pq_fit(dfs["pq"], m=2, k_sub=4, iters=3),
        "ivf": lambda: similarity.ivf_fit_centroids(dfs["ivf"], k_cells=4, iters=3),
        "kmeans": lambda: similarity.kmeans(dfs["kmeans"], k=4, iters=3),
    }
    for name, fit in fits.items():
        _, n = _jobs(spark, fit, f"driver-fit-{name}")
        assert n == 1, name
    with monkeypatch.context() as mp:
        mp.setattr(similarity, "_driver_fit_rows", lambda *a: None)
        alone = {name: _jobs(spark, fit, f"spark-loop-{name}")
                 for name, fit in fits.items()}
    monkeypatch.setattr(similarity, "_DRIVER_FIT_ROWS", 199)
    for name, fit in fits.items():
        got, n = _jobs(spark, fit, f"over-budget-{name}")
        want, n_alone = alone[name]
        if name != "kmeans":  # kmeans returns a lazy labeling
            assert got == want, name
        assert n_alone <= n <= n_alone + 1, name


def test_scale_side_fit_keeps_the_spark_loop(spark, monkeypatch):
    """The k_sub=256 PQ fit of examples/ann_* is on the scale side: its
    probe fetches no rows (dim known) or only rows too wide to fit
    (dim inferred), and the Spark loop runs."""
    decided = []
    probe = similarity._driver_fit_rows

    def spy(*args):
        decided.append(probe(*args))
        return decided[-1]

    monkeypatch.setattr(similarity, "_driver_fit_rows", spy)
    df = _random_frame(spark, 300, 32, 2)
    for dim in (32, None):
        books, n = _jobs(spark, lambda: similarity.pq_fit(
            df, m=4, k_sub=256, iters=1, dim=dim), f"scale-side-{dim}")
        assert decided[-1] is None and n >= 3
        assert len(books) == 4 and len(books[0]) == 256


def test_spark_loop_fits_skip_null_element_seeds(spark, monkeypatch):
    """Over the driver budget, pq_fit, kmeans and ivf_fit_centroids(l2)
    seed from the lowest-id vectors that hold no NULL element, and a
    mean dimension that F.avg returns as NULL (every member of the cell
    is NULL there) keeps the previous coordinate.

    Id 0's NULL element makes every distance NaN, so the kernels put it
    in cell 0. Seeds ids 1, 2 → c0 = [0, 0], c1 = [1, 1]. Iteration 1:
    cell 0 = {0, 1, 3}, so c0 = [avg(5, 0, 100), avg(0)] = [35, 0].
    Iteration 2: id 1 moves to cell 1, cell 0 = {0, 3} has no value in
    dimension 1, so c0 = [52.5, 0] and c1 = [0.5, 0.5]."""
    monkeypatch.setattr(similarity, "_DRIVER_FIT_ROWS", 0)
    df = spark.createDataFrame(
        [(0, [5.0, None]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [100.0, None])],
        _SCHEMA,
    )
    want = [[52.5, 0.0], [0.5, 0.5]]
    assert similarity.pq_fit(df, m=1, k_sub=2, iters=2) == [want]
    assert similarity.ivf_fit_centroids(df, k_cells=2, iters=2, metric="l2") == want
    labels = sorted(map(tuple, similarity.kmeans(df, k=2, iters=2).collect()))
    assert labels == [(0, 0), (1, 1), (2, 1), (3, 0)]
