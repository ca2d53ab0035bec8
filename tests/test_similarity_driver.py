"""The driver copy of a small materialized store (``similarity._driver_topk``).

A single-query request against a store whose plan is a ``LocalRelation``
or a checkpointed RDD is answered from one driver copy of the columns it
reads. These tests pin that the copy answers with the Spark plan's rows
and schema — every float by bit pattern, rows tied on score and id as a
multiset — on an edge store, that the first request runs one Spark job
and later ones none, and that every other store keeps its Spark plan.
The Spark side is reached by setting the copy's row budget to 0.
"""

from __future__ import annotations

import re
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelineetl_spark.operators import similarity as sim

NAN, INF = float("nan"), float("inf")

_EDGE_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
    T.StructField("pq_code", T.ArrayType(T.IntegerType())),
    T.StructField("ivf_cell", T.IntegerType()),
    T.StructField("sig_0", T.LongType()),
    T.StructField("sig_1", T.LongType()),
])

# sentinel elements that become NaN / ±inf in Spark: pandas turns a NaN
# crossing into a list frame into NULL
_SENTINELS = ("transform(embedding, x -> CASE WHEN x = 901 THEN double('NaN') "
              "WHEN x = 902 THEN double('Infinity') "
              "WHEN x = 903 THEN double('-Infinity') ELSE x END)")

DIM, M, K_SUB, PLANES = 4, 2, 4, 3


def _edge_rows():
    """Every edge value the copy must replay, around 30 ordinary rows."""
    rng = np.random.default_rng(3)

    def vec():
        return [float(v) for v in np.round(rng.normal(size=DIM), 2)]

    def row(i, v, code=None, cell=0, s0=0, s1=0):
        if code is None:
            code = [int(c) for c in rng.integers(0, K_SUB, size=M)]
        return (i, v, code, cell, s0, s1)

    rows = [row(i, vec(), cell=i % 3, s0=i % 8, s1=(i * 3) % 8) for i in range(30)]
    rows += [
        row(100, None),                              # a NULL vector
        row(101, [0.5, None, 0.25, 1.0]),            # a NULL element
        row(102, [0.5, 901.0, 0.25, 1.0]),           # a NaN element
        row(103, [902.0, 0.5, 0.25, 1.0]),           # +inf
        row(104, [0.5, 903.0, 0.25, 1.0]),           # -inf
        row(105, [-0.0, 0.75, -0.0, -1.0]),          # -0.0 elements
        row(106, [0.0, 0.0, 0.0, 0.0]),              # a zero vector
        row(107, [0.5, 0.5, 0.5]),                   # a dim mismatch
        row(None, [0.25, 0.5, -0.5, 1.0]),           # NULL ids
        row(None, [0.3, -0.2, 0.1, 0.9]),
        row(7, [1.5, -0.5, 0.5, 0.25]),              # duplicate ids
        row(7, [1.25, -0.25, 0.75, 0.5]),
        (108, vec(), None, 1, 1, 1),                 # a NULL code
        (109, vec(), [1, None], 2, 2, 2),            # a NULL code element
        (110, vec(), [K_SUB + 1, 0], 0, 3, 3),       # out of range for j=0 (lands in j=1)
        (111, vec(), [0, K_SUB], 0, 4, 4),           # out of the flat table
        (112, vec(), [-1, 2], 1, 5, 5),              # a negative index
        (113, vec(), [3], 2, 6, 6),                  # a short code
        (114, vec(), [1, 2], None, None, 7),         # a NULL cell, a NULL signature
        (115, vec(), [2, 1], 1, None, None),
    ]
    return rows


def _store(spark, rows, checkpoint=True):
    df = spark.createDataFrame(rows, _EDGE_SCHEMA).withColumn(
        "embedding", F.expr(_SENTINELS))
    return df.localCheckpoint(eager=True) if checkpoint else df


def _books(seed=4):
    rng = np.random.default_rng(seed)
    return [[[float(v) for v in np.round(rng.normal(size=DIM // M), 2)]
             for _ in range(K_SUB)] for _ in range(M)]


_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]


def _requests(store, q, k, books, excl=()):
    """Every single-query shape the copy answers."""
    sigs = ["sig_0", "sig_1"]
    return {
        "cosine": lambda: sim.cosine_topk(store, q, k=k, exclude_ids=excl),
        "l2": lambda: sim.l2_topk(store, q, k=k, exclude_ids=excl),
        "l2-dp2": lambda: sim.l2_topk(store, q, k=k, exclude_ids=excl, round_dp=2),
        "ivf-cos": lambda: sim.ivf_topk(store, q, _CENTS, k=k, nprobe=2,
                                        cell_col="ivf_cell", exclude_ids=excl),
        "ivf-l2": lambda: sim.ivf_topk(store, q, _CENTS, k=k, nprobe=2, metric="l2",
                                       cell_col="ivf_cell", exclude_ids=excl),
        "lsh": lambda: sim.ann_lsh_topk(store, q, k=k, num_planes=PLANES, radius=1,
                                        sig_cols=sigs, exclude_ids=excl),
        "pq": lambda: sim.pq_adc_topk(store, q, books, k=k, exclude_ids=excl),
        "pq-refine": lambda: sim.pq_adc_topk(store, q, books, k=k, refine_n=6,
                                             vectors=store, exclude_ids=excl),
        "ivfpq": lambda: sim.ivfpq_topk(store, q, _CENTS, books, k=k, nprobe=2,
                                        cell_col="ivf_cell", codes_col="pq_code",
                                        exclude_ids=excl),
        "ivfpq-refine": lambda: sim.ivfpq_topk(
            store, q, _CENTS, books, k=k, nprobe=2, cell_col="ivf_cell",
            codes_col="pq_code", refine_n=5, exclude_ids=excl),
    }


def _bits(v):
    return None if v is None else struct.pack(">d", v).hex() if isinstance(v, float) else v


def _canon(rows):
    """Rows by bit pattern, in order, each run tied on its first score
    and id sorted (Spark leaves the order of a full tie open)."""
    rows = [tuple(_bits(v) for v in r) for r in rows]
    out, run = [], []
    for r in rows:
        if run and (r[0], r[-1]) != (run[0][0], run[0][-1]):
            out += sorted(run, key=repr)
            run = []
        run.append(r)
    return out + sorted(run, key=repr)


def _outcome(make):
    """(schema, canonical rows) of one request, or the error it raises."""
    try:
        df = make()
        return df.schema, _canon(df.collect())
    except Exception as e:  # noqa: BLE001 — both paths must fail alike
        return "error", type(e).__name__


def _spark_side(monkeypatch, make):
    with monkeypatch.context() as mp:
        mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
        return _outcome(make)


@pytest.mark.parametrize("checkpoint", [True, False], ids=["checkpoint", "local"])
def test_driver_rows_match_spark_on_edge_store(spark, monkeypatch, checkpoint):
    """On the edge store, every operator the copy serves returns the
    Spark plan's rows and schema (nullability included): NULL, NaN,
    ±inf and −0.0 elements, a zero vector, a dim mismatch, NULL and
    duplicate ids, NULL / short / out-of-range codes, NULL cells and
    signatures, excluded ids, k over the candidate count, and NaN,
    −0.0, zero and short queries."""
    store = _store(spark, _edge_rows(), checkpoint)
    books = _books()
    queries = {
        "plain": [0.5, -0.25, 1.0, 0.75],
        "nan": [0.5, NAN, 1.0, 0.75],
        "neg-zero": [-0.0, 0.5, -0.0, 1.0],
        "inf": [INF, 0.5, 0.0, 1.0],
        "zero": [0.0, 0.0, 0.0, 0.0],
        "short": [0.5, 0.5, 0.5],
    }
    served = 0
    for qname, q in queries.items():
        for k, excl in ((3, ()), (50, (0, 7, 3)), (0, ())):
            for name, make in _requests(store, q, k, books, excl).items():
                got = _outcome(make)
                want = _spark_side(monkeypatch, make)
                assert got == want, (qname, k, excl, name)
                served += got[0] != "error"
    assert served > 150
    # an empty store and a store under a NULL-id exclusion
    empty = _store(spark, _edge_rows()[:1], checkpoint).limit(0)
    empty = empty.localCheckpoint(eager=True) if checkpoint else empty
    for name, make in _requests(empty, queries["plain"], 5, books).items():
        assert _outcome(make) == _spark_side(monkeypatch, make), name


def test_driver_rows_match_spark_on_fitted_store(spark, monkeypatch):
    """A fitted store in the benchmark's geometry (PQ codes, IVF cells
    and LSH signatures written by the operators): the four request
    kinds agree row for row on 8 random queries."""
    rng = np.random.default_rng(21)
    n, dim = 600, 16
    x = rng.normal(size=(n, dim))
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.pq_fit(df, m=4, k_sub=8, iters=1, dim=dim)
    cents = sim.ivf_fit_centroids(df, k_cells=6, iters=1, dim=dim)
    store = sim.ivf_assign(sim.pq_encode(df, books), cents)
    store, sigs = sim.lsh_persist_signatures(store, num_planes=6, num_tables=3, dim=dim)
    store = store.localCheckpoint(eager=True)
    for _ in range(8):
        q = [float(v) for v in rng.normal(size=dim)]
        reqs = {
            "exact": lambda: sim.cosine_topk(store, q, k=10),
            "pq_adc": lambda: sim.pq_adc_topk(store, q, books, k=10, refine_n=40,
                                              vectors=store),
            "ivfpq": lambda: sim.ivfpq_topk(store, q, cents, books, k=10, nprobe=2,
                                            cell_col="ivf_cell", codes_col="pq_code",
                                            refine_n=40),
            "lsh": lambda: sim.ann_lsh_topk(store, q, k=10, num_planes=6,
                                            sig_cols=sigs, radius=2),
        }
        for name, make in reqs.items():
            got = _outcome(make)
            assert got[0] != "error" and len(got[1]) == 10, name
            assert got == _spark_side(monkeypatch, make), name


def _jobs(spark, fn, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_copy_job_counts(spark, monkeypatch, tmp_path):
    """The first request against an eligible store runs one Spark job
    (the fetch) and every later one none, collect included. The same
    store under a filter, and a Parquet scan, keep the Spark plan's job
    counts; the IVF probe still prunes a store partitioned by cell."""
    store = _store(spark, _edge_rows())
    books = _books()
    q = [0.5, -0.25, 1.0, 0.75]
    for i, (name, make) in enumerate(_requests(store, q, 5, books).items()):
        _, first = _jobs(spark, lambda: make().collect(), f"driver-first-{i}")
        _, later = _jobs(spark, lambda: make().collect(), f"driver-later-{i}")
        assert (first, later) == (1, 0) or (first, later) == (0, 0), name
    fresh = store.localCheckpoint(eager=True)
    counts = [_jobs(spark, lambda: sim.cosine_topk(fresh, q).collect(), f"driver-fresh-{i}")[1]
              for i in range(3)]
    assert counts == [1, 0, 0]

    path = str(tmp_path / "store")
    store.write.partitionBy("ivf_cell").parquet(path)
    others = {"filter": store.filter("vec_id >= 0"), "parquet": spark.read.parquet(path)}
    for label, other in others.items():
        for i, (name, make) in enumerate(_requests(other, q, 5, books).items()):
            _, default = _jobs(spark, lambda: make().collect(), f"{label}-default-{i}")
            with monkeypatch.context() as mp:
                mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
                _, spark_only = _jobs(spark, lambda: make().collect(), f"{label}-spark-{i}")
            assert default == spark_only >= 1, (label, name)
    probed = sim.ivf_topk(others["parquet"], q, _CENTS, k=5, nprobe=2, cell_col="ivf_cell")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pruned = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "array_contains" in pruned, plan


def test_driver_copy_over_budget_keeps_spark_plan(spark, monkeypatch):
    """A store over the row budget answers from the Spark plan after one
    fetch; the verdict is kept, so later requests run only their own
    job. Vectors wider than the copy's element cap count as over."""
    store = _store(spark, _edge_rows())
    q = [0.5, -0.25, 1.0, 0.75]
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 10)
    _, first = _jobs(spark, lambda: sim.cosine_topk(store, q, k=5).collect(), "over-1")
    _, later = _jobs(spark, lambda: sim.cosine_topk(store, q, k=5).collect(), "over-2")
    assert first == later + 1 and later >= 1
    want = _outcome(lambda: sim.cosine_topk(store, q, k=5))
    assert want == _spark_side(monkeypatch, lambda: sim.cosine_topk(store, q, k=5))
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 1000)
    for width, fits in ((sim._EXACT_FIT_DIM + 1, False), (sim._EXACT_FIT_DIM, True)):
        frame = spark.createDataFrame([(1, [1.0] * width)],
                                      "vec_id long, embedding array<double>")
        copy = sim._driver_copy(frame.localCheckpoint(eager=True), "vec_id", "embedding",
                                None, ())
        assert (copy is not None) == fits, width


def test_local_vectors_keep_every_double(spark):
    """The batched refine's query frame and residualize's centroid frame
    are inline tables of SQL literals: NaN, −0.0, ±inf and subnormals
    come back bit for bit, and an action runs no Spark job."""
    vals = [NAN, -0.0, INF, -INF, 5e-324, 0.1]
    df = sim._local_vectors(spark, {3: vals, 4: [1.0]}, "query_id", "__qv")
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    rows, jobs = _jobs(spark, df.collect, "local-vectors")
    assert jobs == 0
    got = {r.query_id: [struct.pack(">d", v) for v in r["__qv"]] for r in rows}
    assert got == {3: [struct.pack(">d", v) for v in vals], 4: [struct.pack(">d", 1.0)]}


def test_nan_query_element_survives_batched_refine(spark):
    """A NaN query element reaches the batched refine as NaN: the
    exact-L2 re-rank of each query equals its single-query refine."""
    store = _store(spark, _edge_rows()[:30])
    books = _books()
    queries = {0: [0.5, NAN, 1.0, 0.75], 1: [0.5, -0.25, 1.0, 0.75]}
    batched = sim.pq_adc_topk_multi(store, queries, books, k=3, refine_n=6,
                                    exclude_query_ids=False)
    plan = batched._jdf.queryExecution().optimizedPlan().toString()
    assert "NaN" in plan
    got = {}
    for r in batched.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, _bits(r.l2)))
    for qid, q in queries.items():
        single = sim.pq_adc_topk(store, q, books, k=3, refine_n=6, vectors=store)
        want = [(r.vec_id, _bits(r.l2)) for r in single.collect()]
        assert sorted(got[qid]) == sorted(want), qid
    assert all(v == _bits(NAN) for _, v in got[0])


def test_batched_rows_match_single_on_edge_store(spark):
    """The batched L2, ADC, IVF-PQ and residual IVF-PQ kernels score the edge store's
    ragged rows (a vector of another length, a short code) and its other
    code edges (a NULL element, indexes outside the table) as their
    single-query twins do, with the one difference the module docstring
    states: the batched pass carries no NULL score, so a single-query
    NULL ADC, ranked first, comes back NaN, ranked last. NULL ids come
    back NULL."""
    store = _store(spark, _edge_rows())
    books = _books()
    queries = {0: [0.5, -0.25, 1.0, 0.75], 1: [0.25, 0.5, -0.5, 1.0]}
    k = 50
    ivf = dict(nprobe=2, cell_col="ivf_cell", codes_col="pq_code")
    ops = {
        "l2": (lambda: sim.l2_topk_multi(store, queries, k=k, exclude_query_ids=False),
               lambda q: sim.l2_topk(store, q, k=k)),
        "pq": (lambda: sim.pq_adc_topk_multi(store, queries, books, k=k,
                                             exclude_query_ids=False),
               lambda q: sim.pq_adc_topk(store, q, books, k=k)),
        "ivfpq": (lambda: sim.ivfpq_topk_multi(store, queries, _CENTS, books, k=k,
                                               exclude_query_ids=False, **ivf),
                  lambda q: sim.ivfpq_topk(store, q, _CENTS, books, k=k, **ivf)),
        "ivfpq-res": (lambda: sim.ivfpq_residual_topk_multi(
                          store, queries, _CENTS, books, k=k, exclude_query_ids=False, **ivf),
                      lambda q: sim.ivfpq_residual_topk(store, q, _CENTS, books, k=k, **ivf)),
    }

    def ranked(pairs):
        return sorted(((i, NAN if v is None else v) for i, v in pairs),
                      key=lambda p: (p[1] != p[1], 0.0 if p[1] != p[1] else p[1],
                                     p[0] is not None, p[0] or 0))

    edges = {"l2": {101, 102, 107, None}, "pq": {109, 110, 111, 112, 113, None},
             "ivfpq": {109, 111, 113}, "ivfpq-res": {109, 111, 113}}
    for name, (batched, single) in ops.items():
        got: dict = {}
        for r in batched().collect():
            got.setdefault(r.query_id, []).append((r.vec_id, r[2]))
        for qid, q in queries.items():
            want = ranked((r[0], r[1]) for r in single(q).collect())
            assert [(i, _bits(v)) for i, v in ranked(got[qid])] == [
                (i, _bits(v)) for i, v in want], (name, qid)
        assert edges[name] <= {i for i, _ in got[0]}, name


def test_ragged_vectors_get_null_codes_and_cells(spark):
    """pq_encode and ivf_assign (both metrics) give a vector of another
    length a NULL code or cell, as they give a NULL vector, and encode
    every other edge row."""
    store = _store(spark, [r for r in _edge_rows() if r[0] is not None])
    out = sim.pq_encode(store, _books(), out="c")
    for metric in ("cosine", "l2"):
        out = sim.ivf_assign(out, _CENTS, out=f"cell_{metric}", metric=metric)
    for r in out.collect():
        ragged = r.vec_id in (100, 107)
        assert (r.c is None) == ragged, r.vec_id
        assert (r.cell_cosine is None) == ragged, r.vec_id
        assert (r.cell_l2 is None) == ragged, r.vec_id


def test_small_input_runs_its_kernel_in_one_task(spark, monkeypatch):
    """pq_encode and ivf_assign (both metrics) coalesce an input whose
    plan statistics fit _ONE_TASK_BYTES to one partition; a larger one
    keeps its partitions, with the same codes and cells. The driver
    build is turned off: these are the Spark plans."""
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 0)

    rng = np.random.default_rng(9)
    # from pandas: a LocalRelation, whose size statistics the checkpoint keeps
    pdf = pd.DataFrame({"vec_id": np.arange(64), "embedding": list(rng.normal(size=(64, 8)))})
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>").repartition(4)
    df = df.localCheckpoint(eager=True)
    books = sim.pq_fit(df, m=2, k_sub=4, iters=1, dim=8)
    cents = sim.ivf_fit_centroids(df, k_cells=3, iters=1, dim=8)

    def attach(frame):
        return {
            "pq": sim.pq_encode(frame, books),
            "ivf-cos": sim.ivf_assign(frame, cents),
            "ivf-l2": sim.ivf_assign(frame, cents, metric="l2"),
        }

    one = attach(df)
    for name, out in one.items():
        assert out.rdd.getNumPartitions() == 1, name
    monkeypatch.setattr(sim, "_ONE_TASK_BYTES", -1)
    for name, out in attach(df).items():
        assert out.rdd.getNumPartitions() == 4, name
        assert sorted(map(tuple, out.drop("embedding").collect())) == sorted(
            map(tuple, one[name].drop("embedding").collect())), name


# One column of every type the driver build keeps, besides the edge
# store's own: NULLs, NaN, −0.0, a leap day and non-ASCII text included
_EXTRA = {
    "c_tinyint": "CAST(vec_id % 100 AS TINYINT)",
    "c_smallint": "CAST(vec_id AS SMALLINT)",
    "c_float": "CAST(vec_id / 3 AS FLOAT)",
    "c_double": ("CASE WHEN vec_id = 100 THEN double('NaN') WHEN vec_id = 101 THEN -0.0D "
                 "ELSE vec_id / 7 END"),
    "c_bool": "vec_id % 2 = 0",
    "c_string": "CASE WHEN vec_id % 5 = 0 THEN NULL ELSE concat('s', vec_id, 'é') END",
    "c_binary": "CAST(concat('b', vec_id) AS BINARY)",
    "c_date": "date_add(DATE'2020-02-28', CAST(vec_id AS INT))",
    "c_decimal": "CAST(vec_id / 8 AS DECIMAL(12, 3))",
    "a_float": "CAST(embedding AS ARRAY<FLOAT>)",
    "a_long": "array(vec_id, NULL)",
    "a_string": "array(CAST(vec_id AS STRING), NULL)",
    "a_bool": "array(vec_id > 5, NULL)",
    "a_binary": "array(CAST(CAST(vec_id AS STRING) AS BINARY))",
    "a_date": "array(DATE'2024-02-29', NULL)",
    "a_decimal": "array(CAST(vec_id / 3 AS DECIMAL(9, 4)), NULL)",
}


def _build_frame(spark, kind):
    """The edge store with the extra columns, as a LocalRelation built
    from Arrow ("local") or a checkpointed RDD ("checkpoint")."""
    df = _store(spark, _edge_rows(), checkpoint=False).withColumns(
        {c: F.expr(e) for c, e in _EXTRA.items()})
    if kind == "local":
        return spark.createDataFrame(df.toArrow(), df.schema)
    return df.repartition(3).localCheckpoint(eager=True)


def _deep_bits(v):
    if isinstance(v, list):
        return [_deep_bits(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return _bits(v)


def _rows_of(df):
    """(schema, rows by bit pattern as a multiset) of a frame."""
    return df.schema, sorted((tuple(_deep_bits(v) for v in r) for r in df.collect()), key=repr)


def _built(df) -> bool:
    """True when ``df`` came from a driver build."""
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    return sim._driver_rows.get(df) is not None and plan == "LocalRelation"


def _builds(frame, books, vec):
    """Every driver-build shape: new columns and columns that already
    exist (pq_code, ivf_cell, sig_0 and sig_1), both PQ sides, both IVF
    metrics, the LSH width given and derived, and the whole chain."""
    rng = np.random.default_rng(8)
    scale = [[[float(v) for v in rng.normal(size=DIM // M)] for _ in range(1100)]
             for _ in range(M)]  # k_sub x dim over 4096: the BLAS side
    assert not sim._exact_fit(1100, DIM)

    def chain():
        out = sim.pq_encode(frame, books, vec_col=vec, out="code")
        out = sim.ivf_assign(out, _CENTS, vec_col=vec, out="cell", metric="l2")
        return sim.lsh_persist_signatures(out, num_planes=PLANES, num_tables=2,
                                          vec_col=vec, prefix="s")[0]

    return {
        "pq-replace": lambda: sim.pq_encode(frame, books, vec_col=vec),
        "pq-new": lambda: sim.pq_encode(frame, books, vec_col=vec, out="code"),
        "pq-scale": lambda: sim.pq_encode(frame, scale, vec_col=vec, out="code"),
        "ivf-cos": lambda: sim.ivf_assign(frame, _CENTS, vec_col=vec),
        "ivf-l2": lambda: sim.ivf_assign(frame, _CENTS, vec_col=vec, out="cell",
                                         metric="l2"),
        "lsh": lambda: sim.lsh_persist_signatures(frame, num_planes=PLANES, num_tables=3,
                                                  vec_col=vec, prefix="sig", dim=DIM)[0],
        "lsh-derived": lambda: sim.lsh_persist_signatures(frame, num_planes=5, num_tables=1,
                                                          vec_col=vec, seed=9)[0],
        "chain": chain,
    }


@pytest.mark.parametrize("kind, split", [("local", False), ("checkpoint", False),
                                         ("checkpoint", True)],
                         ids=["local", "checkpoint", "checkpoint-batches"])
def test_driver_build_matches_spark_on_edge_frame(spark, monkeypatch, kind, split):
    """pq_encode, ivf_assign (both metrics) and lsh_persist_signatures
    over a small materialized frame build on the driver, and return the
    Spark plan's rows (floats by bit pattern) and schema, nullability
    included: NULL, NaN, ±inf and −0.0 elements, a NULL vector, a vector
    of another length, NULL and duplicate ids, extra columns of every
    type the path keeps, output columns that replace existing ones, and
    an empty frame. "checkpoint-batches" runs the kernels per partition (the input over
    the one-task size) in Arrow batches of 7 rows, as the UDFs do."""
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(batch)
    if split:
        monkeypatch.setattr(sim, "_ONE_TASK_BYTES", -1)
        spark.conf.set(batch, "7")
    try:
        frame = _build_frame(spark, kind)
        books = _books()
        for vec in ("embedding", "a_float"):
            for name, make in _builds(frame, books, vec).items():
                got = make()
                assert _built(got), (vec, name)
                with monkeypatch.context() as mp:
                    mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
                    want = make()
                    assert not _built(want), (vec, name)
                    want = _rows_of(want)
                assert _rows_of(got) == want, (vec, name)
        # an empty frame: no rows, or the Spark plan's error (no width to derive)
        for name, make in _builds(frame.limit(0), books, "embedding").items():
            assert _outcome(make) == _spark_side(monkeypatch, make), ("empty", name)
    finally:
        spark.conf.set(batch, before)


def test_driver_build_keeps_spark_plan(spark, monkeypatch, tmp_path):
    """An input over the row budget, a Parquet scan, a streaming frame,
    a vector wider than _EXACT_FIT_DIM, a column type outside the
    round trip, a vector column of integers and an output name of
    another spelling keep the Spark plan, with the same rows."""
    books = _books()
    frame = _build_frame(spark, "checkpoint")

    def spark_side(fn, df):
        with monkeypatch.context() as mp:
            mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
            return _rows_of(fn(df))

    ops = {
        "pq": lambda df: sim.pq_encode(df, books, out="code"),
        "ivf": lambda df: sim.ivf_assign(df, _CENTS, out="cell"),
        "lsh": lambda df: sim.lsh_persist_signatures(df, num_planes=PLANES, dim=DIM)[0],
    }
    path = str(tmp_path / "frame")
    frame.select("vec_id", "embedding").write.parquet(path)
    wide = spark.createDataFrame(pd.DataFrame({"vec_id": [1, 2], "embedding": [
        [1.0] * (sim._EXACT_FIT_DIM + 1), [1.0] * DIM]}), "vec_id long, embedding array<double>")
    others = {
        "parquet": spark.read.parquet(path),
        "wide": wide,
        "map": frame.withColumn("m", F.create_map(F.lit("k"), F.col("vec_id"))),
        "timestamp": frame.withColumn("t", F.expr("TIMESTAMP'2020-01-01 00:00:00'")),
        "int-vectors": frame.withColumn("embedding", F.expr("array(1, 2, 3, 4)")),
        "spelling": frame.withColumns({"CODE": F.lit(1), "CELL": F.lit(1),
                                       "LSH_SIG_0": F.lit(1)}),
    }
    for label, df in others.items():
        df = df if label in ("parquet", "wide") else df.localCheckpoint(eager=True)
        for name, op in ops.items():
            got = op(df)
            assert not _built(got), (label, name)
            assert _rows_of(got) == spark_side(op, df), (label, name)
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 10)
    for name, op in ops.items():
        got = op(frame)
        assert not _built(got), ("over budget", name)
        assert _rows_of(got) == spark_side(op, frame), ("over budget", name)
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(path)
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 1000)
    for name, op in ops.items():
        assert op(stream).isStreaming, name
    assert sim._driver_rows[stream] is None


def test_index_build_job_counts(spark, monkeypatch):
    """The benchmark's index build at its shape (2,000 x 32 float32 from
    pandas): pq_fit ... lsh_persist_signatures and the checkpoint run 2
    Spark jobs (one fetch, the checkpoint) and no Python kernel, where
    the Spark plans run 3 (two fit fetches, the checkpoint) with an
    ArrowEvalPython stage; codebooks, centroids and stores are equal."""
    rng = np.random.default_rng(2)
    n, dim = 2000, 32
    x = rng.normal(size=(n, dim)).astype(np.float32)
    schema = T.StructType([T.StructField("vec_id", T.LongType()),
                           T.StructField("embedding", T.ArrayType(T.FloatType()))])

    def build():
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(x)}), schema)
        books = sim.pq_fit(df, m=8, k_sub=16, iters=1, dim=dim)
        cents = sim.ivf_fit_centroids(df, k_cells=8, iters=1, dim=dim)
        store = sim.ivf_assign(sim.pq_encode(df, books), cents)
        store, _ = sim.lsh_persist_signatures(store, num_planes=8, num_tables=4, dim=dim)
        return books, cents, store, store.localCheckpoint(eager=True)

    (books, cents, store, ck), jobs = _jobs(spark, build, "index-build-driver")
    assert jobs == 2 and _built(store)
    plan = store._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    with monkeypatch.context() as mp:
        mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
        (books_s, cents_s, store_s, ck_s), jobs_s = _jobs(spark, build, "index-build-spark")
        assert "ArrowEvalPython" in store_s._jdf.queryExecution().executedPlan().toString()
    assert jobs_s == 3
    assert (books, cents) == (books_s, cents_s)
    assert _rows_of(ck) == _rows_of(ck_s)


def test_driver_fit_of_local_relation_matches_spark_loop(spark, monkeypatch):
    """A fit over a LocalRelation of float64 vectors, NULL vectors
    among them, replays F.avg over the slices of the relation its
    filter folds to (spark_partition_id() reads 0 there), so its
    centroids equal the Spark loop's bit for bit."""
    rng = np.random.default_rng(12)
    x = [None if i % 7 == 3 else v for i, v in enumerate(rng.normal(size=(1000, 8)))]
    df = spark.createDataFrame(pd.DataFrame({"vec_id": np.arange(1000), "embedding": x}),
                               "vec_id long, embedding array<double>")
    fits = {
        "ivf": lambda: sim.ivf_fit_centroids(df, k_cells=6, iters=2, dim=8),
        "ivf-l2": lambda: sim.ivf_fit_centroids(df, k_cells=6, iters=2, dim=8, metric="l2"),
        "pq": lambda: sim.pq_fit(df, m=2, k_sub=4, iters=2, dim=8, round_dp=17),
    }
    for name, fit in fits.items():
        got = fit()
        with monkeypatch.context() as mp:
            mp.setattr(sim, "_DRIVER_FIT_ROWS", 0)
            want = fit()
        assert _deep_bits(got) == _deep_bits(want), name
