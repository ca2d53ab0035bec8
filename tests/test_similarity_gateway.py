"""Plan-building cost of the single-query similarity operators.

A top-k request is built on the driver through the Python→JVM gateway
(py4j); a query-dependent constant spelled one ``F.lit`` per element, or
a fold spelled with Python lambdas, costs one or more gateway round
trips per element. These tests pin the one-call spelling: the SQL array
literal round-trips every double exactly, signatures are unchanged, a
request stays inside a gateway-call budget, and a second request with a
different query vector reuses the generated code of the first.
"""

from __future__ import annotations

import gc
import struct
import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelineetl_spark.operators import similarity as sim

N, DIM, K, REFINE = 400, 32, 10, 100


@contextmanager
def _gateway_calls(spark):
    """Count py4j ``send_command`` calls (every gateway round trip,
    including object releases) made by this thread inside the block.
    Cyclic GC is paused so a collection of unrelated Java handles cannot
    land in it, and calls from other threads are not counted: py4j
    releases handles of earlier, unrelated objects from a background
    thread, at times of its own choosing."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    owner = threading.get_ident()
    n = [0]

    def counting(*a, **kw):
        if threading.get_ident() == owner:
            n[0] += 1
        return orig(*a, **kw)

    client.send_command = counting
    gc.disable()
    try:
        yield n
    finally:
        gc.enable()
        client.send_command = orig


def _compilations(spark) -> int:
    """Generated classes compiled so far (codegen cache misses)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def index(spark):
    """A fitted store in the serving geometry of the vector_topk
    benchmark: PQ m=8 × 16 codes, 8 IVF cells, 8 planes × 4 LSH tables,
    built by the Spark plans (the driver build turned off)."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=(N, DIM)).astype(np.float32)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(N, dtype=np.int64), "embedding": list(x)}),
        schema,
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
        books = sim.pq_fit(df, m=8, k_sub=16, iters=1, dim=DIM)
        cents = sim.ivf_fit_centroids(df, k_cells=8, iters=1, dim=DIM)
        store = sim.ivf_assign(sim.pq_encode(df, books), cents)
        with _gateway_calls(spark) as n:
            store, sig_cols = sim.lsh_persist_signatures(
                store, num_planes=8, num_tables=4, dim=DIM
            )
        persist_calls = n[0]
        store = store.localCheckpoint(eager=True)
    queries = [[float(v) for v in rng.normal(size=DIM)] for _ in range(3)]
    return {"store": store, "books": books, "cents": cents, "sig_cols": sig_cols,
            "queries": queries, "persist_calls": persist_calls}


def _request(kind, ix, q):
    s = ix["store"]
    if kind == "exact":
        return sim.cosine_topk(s, q, k=K)
    if kind == "pq_adc":
        return sim.pq_adc_topk(s, q, ix["books"], k=K, refine_n=REFINE, vectors=s)
    if kind == "ivfpq":
        return sim.ivfpq_topk(s, q, ix["cents"], ix["books"], k=K, nprobe=2,
                              cell_col="ivf_cell", codes_col="pq_code", refine_n=REFINE)
    return sim.ann_lsh_topk(s, q, k=K, num_planes=8, sig_cols=ix["sig_cols"], radius=2)


def test_sql_doubles_round_trip(spark):
    """The one-call array literal folds to the same doubles as a
    per-element ``F.lit`` array, bit for bit, on the edge values."""
    vals = [
        -0.0, 0.0, float("nan"), float("inf"), float("-inf"),
        5e-324,                    # smallest subnormal
        2.225073858507201e-308,    # largest subnormal
        2.2250738585072014e-308,   # smallest normal
        1e308, -1.7976931348623157e308, 0.1, 1 / 3, -123456.789e-20,
    ]
    got = spark.range(1).select(
        F.expr(sim._sql_doubles(vals)).alias("new"),
        F.array(*[F.lit(v) for v in vals]).alias("old"),
    )
    row = got.first()
    bits = [struct.pack(">d", v) for v in row.old]
    assert [struct.pack(">d", v) for v in row.new] == bits
    assert bits == [struct.pack(">d", v) for v in vals]
    # constant folding leaves one array Literal, no per-row parse
    opt = got._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in opt and "cast(" not in opt.lower()


def _lsh_signature_column_api(vec, planes):
    """The signature spelled with per-element F.lit arrays and Python
    lambdas — the reference the SQL spelling must reproduce."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        pl = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig + F.when(sim.dot(vec, pl) >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def test_lsh_persist_signatures_match_column_spelling(spark):
    """Persisted signature columns equal the Column-API spelling on
    ordinary, NULL, all-zero, all −0.0 and mixed-sign-zero vectors."""
    dim, planes_n, tables = 6, 5, 3
    rng = np.random.default_rng(11)
    rows = [(i, [float(v) for v in rng.normal(size=dim)]) for i in range(20)]
    rows += [
        (100, None),
        (101, [0.0] * dim),
        (102, [-0.0] * dim),
        (103, [0.0, -0.0, 1.0, -1.0, 0.0, -0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store, cols = sim.lsh_persist_signatures(df, num_planes=planes_n, num_tables=tables, dim=dim)
    vec = F.col("embedding").cast("array<double>")
    ref = df.select(
        "vec_id",
        *[
            _lsh_signature_column_api(vec, sim._hyperplanes(planes_n, dim, 42 + 1000003 * t))
            .alias(f"ref_{t}")
            for t in range(tables)
        ],
    )
    got = {r.vec_id: [r[c] for c in cols] for r in store.collect()}
    want = {r.vec_id: [r[f"ref_{t}"] for t in range(tables)] for r in ref.collect()}
    assert got == want
    assert got[100] == [0] * tables  # a NULL vector folds to signature 0


@pytest.mark.parametrize(
    "kind, budget",
    # the per-element spelling cost 513 (exact), 1,282 (pq_adc),
    # 1,319 (ivfpq) and 749 (lsh) calls per request in this geometry
    [("exact", 100), ("pq_adc", 150), ("ivfpq", 150), ("lsh", 100)],
)
def test_single_query_gateway_budget(spark, monkeypatch, index, kind, budget):
    """Building and collecting one request on the Spark plan (the driver
    copy turned off) costs O(1) gateway calls in the vector length, the
    LUT size and the number of hyperplanes."""
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
    _request(kind, index, index["queries"][0]).collect()  # warm
    with _gateway_calls(spark) as n:
        rows = _request(kind, index, index["queries"][1]).collect()
    assert len(rows) == K
    assert n[0] <= budget, f"{kind}: {n[0]} gateway calls > {budget}"


def test_lsh_persist_signatures_gateway_budget(index):
    """The index fit's signature pass: one expression per table (the
    per-element spelling cost 8,941 calls at 8 planes × 4 tables × 32
    dims)."""
    assert index["persist_calls"] <= 60, index["persist_calls"]


@pytest.mark.parametrize("kind", ["exact", "pq_adc", "ivfpq", "lsh"])
def test_new_query_vector_reuses_generated_code(spark, monkeypatch, index, kind):
    """Per-query constants stay out of generated code on the Spark plan
    (the driver copy turned off): a request with a different query
    vector, and for ivfpq a different probe set, compiles no new class."""
    monkeypatch.setattr(sim, "_DRIVER_TOPK_ROWS", 0)
    qs = index["queries"]
    _request(kind, index, qs[0]).collect()
    before = _compilations(spark)
    rows = _request(kind, index, qs[2]).collect()
    assert len(rows) == K
    assert _compilations(spark) == before, kind

