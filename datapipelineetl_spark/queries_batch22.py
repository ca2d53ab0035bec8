"""Twenty-second query battery — STAGED in round 15 for the round-16
verify window.

Round-15 depth (VERDICT r14 item 4): the LAST two batched serving
tiers without driver-facing value oracles get them —

- ``q_ann_lsh_topk_multi`` — batched SRP-LSH serving
  (``ann_lsh_topk_multi``): the Hamming-ball probe sets are
  driver-enumerated ``isin`` literal lists, so the WHOLE query is
  SQL-replayable — the oracle re-derives both tables' sign-bit
  signatures from the same LCG hyperplane constants (the batch-3
  q_ann_lsh_topk technique, extended to num_tables=2), embeds each
  query's per-table probe ball as literal IN-lists, and replays every
  branch's cosine + per-query ranking. Until now the batched LSH tier
  was parity-tested against the single-query operator only.
- ``q_ivf_topk_multi`` — batched raw-vector IVF serving
  (``ivf_topk_multi``, metric="l2"): frozen rounded seed centroids
  (the batch-20 quantizer), fold cell assignment
  (``ivf_assign_fold``), per-query probe ranking (the sequential-fold
  ``_probe_cells`` order), union-pruned scan, per-query exact
  squared-L2 ranking over ONLY that query's probed cells — every
  stage value-replayed via the ``_D64`` sequential fold both engines
  compute term-for-term.

With these, EVERY serving tier (exact, SRP-LSH, IVF, ADC, IVF-PQ,
residual) has both a single-query and a batched driver-facing value
check. Same staging contract as batches 11–21: separate dicts so
importing this module cannot grow the live ``queries()`` surface
mid-round; ``tests/test_corpus_oracles.py`` runs the driver-style
comparison locally; ``register()`` promotes when the r16 window has
slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import similarity
from datapipelineetl_spark.queries import _t
from datapipelineetl_spark.queries_batch19 import _PQ_DP
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
    """Round-16 wiring: promote the staged queries into the live
    registry (call from __spark_entry__ next to the batch-21 register,
    then give them window slots via tools/rotate_window.py)."""
    from datapipelineetl_spark.queries import ORACLES as _GLOBAL_ORACLES
    from datapipelineetl_spark.queries import QUERIES as _GLOBAL_QUERIES

    _GLOBAL_QUERIES.update(STAGED_QUERIES)
    _GLOBAL_ORACLES.update(STAGED_ORACLES)


# =============================================================================
# Batched SRP-LSH serving — fixed synthetic probe vectors (compile-time
# constants, like batch-3's _ANN_PROBE) so every query signature and
# Hamming ball is a literal in the static oracle string
# =============================================================================

_LSH_DIM = 64
_LSH_PLANES_N = 8
_LSH_TABLES = 2
_LSH_RADIUS = 1
_LSH_K = 8
_LSH_SEED = 42
_LSH_PROBES: dict[int, list[float]] = {
    0: [(1.0 if i % 7 == 0 else 0.1) for i in range(_LSH_DIM)],
    1: [(1.0 if i % 5 == 1 else -0.1) for i in range(_LSH_DIM)],
    2: [(-0.5 if i % 3 == 0 else 0.25) for i in range(_LSH_DIM)],
}
_LSH_TABLE_PLANES = [
    similarity._hyperplanes(_LSH_PLANES_N, _LSH_DIM, _LSH_SEED + 1000003 * t)
    for t in range(_LSH_TABLES)
]


def _sql_arr(xs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


def _lsh_multi_oracle() -> str:
    """DuckDB replay of the full batched SRP-LSH probe: both tables'
    hyperplanes as full-precision literals (sign decisions fold
    left-to-right in both engines — the batch-3 guarantee), each
    query's per-table Hamming≤radius ball as a literal IN-list (the
    operator enumerates them driver-side, so the oracle and the plan
    share the exact same probe sets), per-branch cosine + top-k."""
    branches = []
    for qid in sorted(_LSH_PROBES):
        probe = _LSH_PROBES[qid]
        ball_preds = []
        for t, planes in enumerate(_LSH_TABLE_PLANES):
            qsig = similarity._lsh_query_sig(probe, planes)
            ball = similarity._hamming_ball(qsig, _LSH_PLANES_N, _LSH_RADIUS)
            in_list = ", ".join(str(b) for b in sorted(ball))
            ball_preds.append(f"sig{t} IN ({in_list})")
        p = _sql_arr(probe)
        branches.append(
            f"""SELECT {qid} AS query_id, vec_id,
           ROUND(list_dot_product(v, {p})
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product({p}, {p}))), 4) AS cos_sim
    FROM sig WHERE ({" OR ".join(ball_preds)}) AND vec_id <> {qid}"""
        )
    sig_cols = []
    for t, planes in enumerate(_LSH_TABLE_PLANES):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_sql_arr(plane)}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        sig_cols.append(f"({terms})::BIGINT AS sig{t}")
    union = "\n    UNION ALL\n    ".join(branches)
    return f"""
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    sig AS (SELECT vec_id, v, {", ".join(sig_cols)} FROM s),
    br AS (
    {union}
    )
    SELECT CAST(query_id AS INT) AS query_id, vec_id, cos_sim FROM (
        SELECT query_id, vec_id, cos_sim, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY cos_sim DESC, vec_id) AS rn FROM br)
    WHERE rn <= {_LSH_K}
    """


@query("q_ann_lsh_topk_multi", _lsh_multi_oracle())
def q_ann_lsh_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched SRP-LSH serving VALUE-replayed end to end: one
    signature pass over the corpus for num_tables=2 seed-derived
    tables, the scan filtered to the UNION of every query's probed
    buckets, then each of the 3 probe queries scores ONLY its own
    Hamming≤1 ball rows — every signature bit, every probe-ball
    membership, every rounded cosine and each per-query ranking
    (descending similarity, ties to the lower id) checked cross-engine.
    The probe balls are driver-enumerated literal lists on BOTH sides,
    never a scan-side popcount.

    Scale: the signatures are the persistable narrow columns a 100 TB
    store would bucket by (``lsh_persist_signatures``); the batch
    amortizes that one hashing pass across all Q requests (10.7x vs
    sequential at n=2M; 119x with persisted signatures — SCALING
    round 14)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    if dim != _LSH_DIM:
        raise ValueError(
            f"embeddings dim {dim} != {_LSH_DIM}; the oracle's hyperplane "
            "literals are derived for the fixture width"
        )
    return similarity.ann_lsh_topk_multi(
        emb,
        _LSH_PROBES,
        k=_LSH_K,
        num_planes=_LSH_PLANES_N,
        seed=_LSH_SEED,
        num_tables=_LSH_TABLES,
        radius=_LSH_RADIUS,
    )


# =============================================================================
# Batched raw-vector IVF serving — the frozen-seed coarse quantizer +
# fold assignment batch-20 pinned, extended to the multi-query form
# =============================================================================

_IVF_MULTI_QIDS = (0, 1)
_IVF_MULTI_K = 8


@query(
    "q_ivf_topk_multi",
    f"""WITH v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
    cents AS (SELECT CAST(rn - 1 AS INT) AS cell,
                     list_transform(v, x -> ROUND(x, {_PQ_DP})) AS cv
              FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                    FROM v) WHERE rn <= {_IVFPQ_CELLS}),
    assign AS (SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell, ROW_NUMBER() OVER (
            PARTITION BY v.vec_id
            ORDER BY {_D64.format(a="v.v", b="c.cv")}, c.cell) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v
          WHERE vec_id IN {_IVF_MULTI_QIDS}),
    probe AS (SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell, ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY {_D64.format(a="c.cv", b="q.qv")}, c.cell) AS rn
        FROM cents c CROSS JOIN q) WHERE rn <= {_IVFPQ_NPROBE}),
    d AS (SELECT q.query_id, v.vec_id,
                 ROUND({_D64.format(a="v.v", b="q.qv")}, {_PQ_DP}) AS l2
          FROM v JOIN assign ON v.vec_id = assign.vec_id
                 JOIN probe ON assign.cell = probe.cell
                 JOIN q ON probe.query_id = q.query_id
          WHERE v.vec_id <> q.query_id)
    SELECT CAST(query_id AS INT) AS query_id, vec_id, l2 FROM (
        SELECT query_id, vec_id, l2, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY l2, vec_id) AS rn FROM d)
    WHERE rn <= {_IVF_MULTI_K}""",
)
def q_ivf_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched raw-vector IVF serving VALUE-replayed end to end: the
    frozen rounded seed coarse quantizer ({0} lowest-id vectors), fold
    cell assignment (`ivf_assign_fold` — every squared-L2 term in
    sequential order, ties to the lower cell), per-query probe ranking
    (the `_probe_cells` sequential-fold order, top-{1} cells), ONE
    union-pruned scan, and each query's exact squared-L2 top-{2} over
    only ITS probed cells (ascending rounded l2, ties to the lower id,
    self excluded) — the last raw-vector tier whose batched form had
    no driver-facing value check.

    Scale: with the cell column persisted as the store's partition key
    the union filter is directory pruning; the batch scans the probed
    cells ONCE for all Q requests (13.5x vs sequential at n=2M —
    SCALING round 14), scored by the shared one-matmul batched
    kernel."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _fetch_seed_centroids(spark, sf_dir, _IVFPQ_CELLS)
    assigned = similarity.ivf_assign_fold(emb, cents)
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(
            F.col("vec_id").isin(*_IVF_MULTI_QIDS)
            & F.col("embedding").isNotNull()
        ).collect()
    }
    if sorted(queries) != sorted(_IVF_MULTI_QIDS):  # ADVICE r15: clear
        # error instead of a TypeError if a fixture qid is missing/NULL
        raise ValueError(
            f"query vectors {_IVF_MULTI_QIDS} not all present with "
            f"non-NULL embeddings; found {sorted(queries)}"
        )
    return similarity.ivf_topk_multi(
        assigned,
        queries,
        cents,
        k=_IVF_MULTI_K,
        nprobe=_IVFPQ_NPROBE,
        cell_col="ivf_cell",
        metric="l2",
        round_dp=_PQ_DP,
    )


q_ivf_topk_multi.__doc__ = q_ivf_topk_multi.__doc__.format(
    _IVFPQ_CELLS, _IVFPQ_NPROBE, _IVF_MULTI_K
)
