"""Twenty-first query battery — STAGED in round 14 for the round-15
verify window.

Round-14 depth: the serving tier's two remaining un-replayed stages get
full DuckDB value oracles —

- ``q_ivfpq_refine_topk`` — the composed IVF-PQ query's TWO-STAGE form
  (``pq_adc_topk(refine_n, vectors)``): the ADC pass over the probed
  cells shortlists 30 candidates, then the exact sequential squared-L2
  re-rank against the raw vectors produces the final 10. The oracle
  replays everything q_ivfpq_topk replays PLUS the shortlist cut and
  every exact re-rank distance — the refine stage was previously
  pinned by tests only.
- ``q_pq_multi_refine`` — the BATCHED two-stage search
  (``pq_adc_topk_multi(refine_n)``, the round-14 flat-scan refine
  leg): per-query 20-wide ADC shortlists, ONE shared exact re-rank,
  per-query top-5 by rounded l2. Extends q_pq_topk_multi's guarantee
  to the output a two-stage serving layer actually returns.
- ``q_residual_codes`` — the RESIDUAL tier's first value oracle:
  frozen seed coarse centroids (the batch-20 quantizer), fold cell
  assignment, residual subtraction (x − centroid[cell]), then the
  SAME per-subspace Lloyd replay (`_pq_ctes` with the round-14
  ``v_chain`` hook) over residuals instead of raw embeddings — every
  residual value, every seed, every argmin and rounded mean, and
  every final code value-checked cross-engine. Until now the residual
  family (residualize / ivfpq_residual_topk / the residual store) was
  verified by parity tests against Python replays only.
- ``q_l2_topk_multi`` — the batched EXACT tier (round 14's
  ``l2_topk_multi``): every (query, vector) sequential fold and each
  query's ranking replayed — the brute-force serving form's first
  driver-checkable row.

Same staging contract as batches 11–20: separate dicts so importing
this module cannot grow the live ``queries()`` surface mid-round;
``tests/test_corpus_oracles.py`` runs the driver-style comparison
locally; ``register()`` promotes when the r15 window has slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import similarity
from datapipelineetl_spark.queries import _t
from datapipelineetl_spark.queries_batch19 import (
    _PQ_DP,
    _PQ_ITERS,
    _PQ_K,
    _PQ_M,
    _PQ_SUB,
    _pq_ctes,
)
from datapipelineetl_spark.queries_batch20 import (
    _D64,
    _IVFPQ_CELLS,
    _IVFPQ_NPROBE,
    _fetch_seed_centroids,
)

STAGED_QUERIES: dict = {}
STAGED_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        STAGED_QUERIES[name] = fn
        if oracle is not None:
            STAGED_ORACLES[name] = oracle
        return fn

    return deco


def register() -> None:
    """Round-15 wiring: promote the staged queries into the live
    registry (call from __spark_entry__ next to the batch-20 register,
    then give them window slots via tools/rotate_window.py)."""
    from datapipelineetl_spark.queries import ORACLES as _GLOBAL_ORACLES
    from datapipelineetl_spark.queries import QUERIES as _GLOBAL_QUERIES

    _GLOBAL_QUERIES.update(STAGED_QUERIES)
    _GLOBAL_ORACLES.update(STAGED_ORACLES)


_REFINE_N = 30
_REFINE_K = 10
_MULTI_REFINE_QIDS = (0, 1)
_MULTI_REFINE_N = 20
_MULTI_REFINE_K = 5

# the cents/assign/probe/lut/adc chain q_ivfpq_topk (batch 20) pins,
# regenerated here for the refine extension — same frozen-seed coarse
# quantizer, same fold assignment, same probe ranking, same ADC sums
_IVFPQ_CTES = f"""cents AS (SELECT CAST(rn - 1 AS INT) AS cell,
                     list_transform(v, x -> ROUND(x, {_PQ_DP})) AS cv
              FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                    FROM v) WHERE rn <= {_IVFPQ_CELLS}),
    assign AS (SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell, ROW_NUMBER() OVER (
            PARTITION BY v.vec_id
            ORDER BY {_D64.format(a="v.v", b="c.cv")}, c.cell) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
    probe AS (SELECT cell FROM (
        SELECT c.cell, ROW_NUMBER() OVER (
            ORDER BY {_D64.format(a="c.cv", b="q.qv")}, c.cell) AS rn
        FROM cents c CROSS JOIN q) WHERE rn <= {_IVFPQ_NPROBE}),
    qs AS (SELECT j, s AS q_s FROM sv WHERE vec_id = 0),
    lut AS (SELECT qs.j, cc.c,
            list_sum(list_transform(generate_series(1, {_PQ_SUB}),
                     z -> (q_s[z] - cv[z]) * (q_s[z] - cv[z]))) AS d
            FROM qs JOIN c{_PQ_ITERS} cc ON qs.j = cc.j),
    adc AS (SELECT vec_id, ROUND(list_sum(list(d ORDER BY j)), {_PQ_DP}) AS adc
            FROM (SELECT codes.vec_id, codes.j, lut.d FROM codes
                  JOIN lut ON codes.j = lut.j AND codes.c = lut.c
                  JOIN assign ON codes.vec_id = assign.vec_id
                  JOIN probe ON assign.cell = probe.cell)
            GROUP BY vec_id)"""


@query(
    "q_ivfpq_refine_topk",
    f"""WITH {_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SUB, _PQ_DP)},
    {_IVFPQ_CTES},
    short AS (SELECT vec_id, adc FROM adc
              WHERE vec_id <> 0 ORDER BY adc, vec_id LIMIT {_REFINE_N})
    SELECT vec_id, adc, l2 FROM (
        SELECT s.vec_id, s.adc,
               ROUND({_D64.format(a="v.v", b="q.qv")}, {_PQ_DP}) AS l2
        FROM short s JOIN v USING (vec_id) CROSS JOIN q)
    ORDER BY l2, vec_id LIMIT {_REFINE_K}""",
)
def q_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ query's TWO-STAGE form, VALUE-replayed end
    to end: everything q_ivfpq_topk pins (frozen seed centroids, fold
    cell assignment, probe selection, probed-cells-only ADC) plus the
    refine stage — the {0}-wide ADC shortlist cut and every exact
    sequential squared-L2 re-rank distance against the raw vectors,
    final top-{1} ascending rounded l2, ties to the lower id.

    Scale: the two-stage search is the standard recall lever (Jégou et
    al. 2011) — the compressed scan does the corpus-sized work, the
    exact re-rank touches refine_n raw vectors via ONE broadcast join
    (`pq_adc_topk` refine leg; NULL raw vectors filtered — the r14
    refine-leg discipline)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _fetch_seed_centroids(spark, sf_dir, _IVFPQ_CELLS)
    books = similarity.pq_fit(
        emb, m=_PQ_M, k_sub=_PQ_K, iters=_PQ_ITERS, round_dp=_PQ_DP
    )
    enc = similarity.pq_encode(
        similarity.ivf_assign_fold(emb, cents), books
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    probe = similarity._probe_cells(cents, qv, _IVFPQ_NPROBE, "l2")
    return similarity.pq_adc_topk(
        enc.filter(F.col("ivf_cell").isin(probe)),
        qv,
        books,
        k=_REFINE_K,
        round_dp=_PQ_DP,
        exclude_ids=(0,),
        refine_n=_REFINE_N,
        vectors=emb,
    )


q_ivfpq_refine_topk.__doc__ = q_ivfpq_refine_topk.__doc__.format(
    _REFINE_N, _REFINE_K
)


@query(
    "q_pq_multi_refine",
    f"""WITH {_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SUB, _PQ_DP)},
    qs AS (SELECT vec_id AS query_id, j, s AS q_s FROM sv
           WHERE vec_id IN {_MULTI_REFINE_QIDS}),
    lut AS (SELECT qs.query_id, qs.j, cc.c,
            list_sum(list_transform(generate_series(1, {_PQ_SUB}),
                     z -> (q_s[z] - cv[z]) * (q_s[z] - cv[z]))) AS d
            FROM qs JOIN c{_PQ_ITERS} cc ON qs.j = cc.j),
    adc AS (SELECT query_id, vec_id,
                   ROUND(list_sum(list(d ORDER BY j)), {_PQ_DP}) AS adc
            FROM (SELECT lut.query_id, codes.vec_id, codes.j, lut.d
                  FROM codes JOIN lut
                    ON codes.j = lut.j AND codes.c = lut.c)
            GROUP BY query_id, vec_id),
    short AS (SELECT query_id, vec_id, adc FROM (
        SELECT query_id, vec_id, adc, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc, vec_id) AS rn
        FROM adc WHERE vec_id <> query_id)
        WHERE rn <= {_MULTI_REFINE_N}),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM v
           WHERE vec_id IN {_MULTI_REFINE_QIDS}),
    rr AS (SELECT s.query_id, s.vec_id, s.adc,
                  ROUND({_D64.format(a="vv.v", b="qv.qv")}, {_PQ_DP}) AS l2
           FROM short s JOIN v vv ON s.vec_id = vv.vec_id
                        JOIN qv ON s.query_id = qv.query_id)
    SELECT CAST(query_id AS INT) AS query_id, vec_id, adc, l2 FROM (
        SELECT query_id, vec_id, adc, l2, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM rr)
    WHERE rn <= {_MULTI_REFINE_K}""",
)
def q_pq_multi_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched TWO-STAGE serving ({0} queries, {1}-wide shortlists,
    top-{2} each), VALUE-replayed: all Q lookup tables, every
    (query, vector) sequential ADC sum, each query's shortlist cut
    (ascending rounded adc, ties to the lower id), and every exact
    re-rank distance of the ONE shared broadcast re-rank
    (`_exact_rerank_multi`) — the round-14 refine leg of
    `pq_adc_topk_multi`, which is the output shape a two-stage serving
    layer actually returns.

    Scale: the shortlists come from one mapInPandas pass over the
    code column (the shared batched kernel); the re-rank touches
    |shortlists| raw vectors total regardless of Q (one broadcast
    join), never the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(
        emb, m=_PQ_M, k_sub=_PQ_K, iters=_PQ_ITERS, round_dp=_PQ_DP
    )
    enc = similarity.pq_encode(emb, books)
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(*_MULTI_REFINE_QIDS)).collect()
    }
    return similarity.pq_adc_topk_multi(
        enc,
        queries,
        books,
        k=_MULTI_REFINE_K,
        round_dp=_PQ_DP,
        refine_n=_MULTI_REFINE_N,
        vectors=emb,
    )


q_pq_multi_refine.__doc__ = q_pq_multi_refine.__doc__.format(
    len(_MULTI_REFINE_QIDS), _MULTI_REFINE_N, _MULTI_REFINE_K
)


# the residual source chain: raw embeddings → frozen rounded seed
# centroids → fold cell assignment → residual subtraction; ends by
# defining v(vec_id, v) = the residual vectors, so the SAME Lloyd
# replay runs over residuals (the _pq_ctes v_chain hook, round 14)
_RES_V_CHAIN = f"""raw AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
    cents AS (SELECT CAST(rn - 1 AS INT) AS cell,
                     list_transform(v, x -> ROUND(x, {_PQ_DP})) AS cv
              FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                    FROM raw) WHERE rn <= {_IVFPQ_CELLS}),
    assign AS (SELECT vec_id, cell FROM (
        SELECT raw.vec_id, c.cell, ROW_NUMBER() OVER (
            PARTITION BY raw.vec_id
            ORDER BY {_D64.format(a="raw.v", b="c.cv")}, c.cell) AS rn
        FROM raw CROSS JOIN cents c) WHERE rn = 1),
    v AS (SELECT raw.vec_id,
                 list_transform(generate_series(1, 64),
                                z -> raw.v[z] - c.cv[z]) AS v
          FROM raw JOIN assign USING (vec_id) JOIN cents c USING (cell))"""


@query(
    "q_residual_codes",
    f"""WITH {_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SUB, _PQ_DP,
                       v_chain=_RES_V_CHAIN)}
    SELECT codes.vec_id, assign.cell AS ivf_cell,
           j AS subspace, c AS code
    FROM codes JOIN assign ON codes.vec_id = assign.vec_id""",
)
def q_residual_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ fit + encode, VALUE-replayed — the residual tier's
    first cross-engine value check: frozen seed coarse centroids ({0}
    lowest-id vectors, rounded), fold cell assignment, residual
    subtraction (`similarity.residualize` — x − centroid[cell], exact
    IEEE), then the m={1}-subspace Lloyd fit and encode over RESIDUALS
    (seeds = the {2} lowest-id residual subvectors rounded, every
    distance, every argmin tiebreak, every rounded codeword mean) —
    every final code posexploded to scalar rows with its cell. Until
    now residualize / the residual store were pinned by parity tests
    against Python replays only; this makes the FAISS-default variant's
    whole encode path value-checked the way q_pq_codes checks the
    global one.

    Scale: residualize is a broadcast join against the k_cells-row
    centroid frame + one zip_with (no literal trees — the measured
    fold cliff); the fit is the q_pq_codes cost shape (one narrow pass
    + one (j, code) partial agg per iteration); codes are m small ints
    regardless of tier."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _fetch_seed_centroids(spark, sf_dir, _IVFPQ_CELLS)
    res = similarity.residualize(
        similarity.ivf_assign_fold(emb, cents), cents, cell_col="ivf_cell"
    )
    books = similarity.pq_fit(
        res, m=_PQ_M, k_sub=_PQ_K, iters=_PQ_ITERS, round_dp=_PQ_DP,
        vec_col="residual",
    )
    enc = similarity.pq_encode(res, books, "residual")
    return enc.filter(F.col("pq_code").isNotNull()).select(
        "vec_id",
        "ivf_cell",
        F.posexplode("pq_code").alias("subspace", "code"),
    )


q_residual_codes.__doc__ = q_residual_codes.__doc__.format(
    _IVFPQ_CELLS, _PQ_M, _PQ_K
)


_EXACT_MULTI_QIDS = (0, 1, 2)
_EXACT_MULTI_K = 8


@query(
    "q_l2_topk_multi",
    f"""WITH v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v
          WHERE vec_id IN {_EXACT_MULTI_QIDS}),
    d AS (SELECT q.query_id, v.vec_id,
                 ROUND({_D64.format(a="v.v", b="q.qv")}, {_PQ_DP}) AS l2
          FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id)
    SELECT CAST(query_id AS INT) AS query_id, vec_id, l2 FROM (
        SELECT query_id, vec_id, l2, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM d)
    WHERE rn <= {_EXACT_MULTI_K}""",
)
def q_l2_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched EXACT serving ({0} queries × top-{1}), VALUE-replayed:
    every (query, vector) sequential squared-L2 fold and each query's
    ranking (ascending rounded l2, ties to the lower id, self
    excluded) — `l2_topk`'s guarantee extended to
    `similarity.l2_topk_multi`, the brute-force tier's batched form
    (round 14: every ANN tier serves batches).

    Scale: one mapInPandas pass over the raw vectors (the shared
    batched kernel) — all Q distance columns from one stacked matmul
    per Arrow batch, ≤ partitions × Q × k rows shuffled (18.5× vs Q
    sequential scans at n=2M — SCALING round-14 addendum). The matmul
    re-associates the oracle's sequential fold; the rounded values
    agree on the fixtures."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(*_EXACT_MULTI_QIDS)).collect()
    }
    return similarity.l2_topk_multi(
        emb, queries, k=_EXACT_MULTI_K, round_dp=_PQ_DP
    )


q_l2_topk_multi.__doc__ = q_l2_topk_multi.__doc__.format(
    len(_EXACT_MULTI_QIDS), _EXACT_MULTI_K
)
