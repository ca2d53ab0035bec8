"""Twentieth query battery — STAGED in round 13 for the round-14
verify window.

Round-13 depth: the ANN ladder's two remaining un-replayed shapes get
full DuckDB value oracles —

- ``q_ivfpq_topk`` — the COMPOSED pruning × compression query
  (coarse cell assignment → nprobe probe selection → ADC over only the
  probed cells), previously verified by tests alone: the coarse tier's
  Arrow fit is deliberately not replayable, so this query freezes the
  coarse centroids to the k_cells lowest-id vectors (rounded — a
  seeds-as-artifact quantizer, the frozen-model practice) and assigns
  cells with ``similarity.ivf_assign_fold``, the round-13
  oracle-replayable assigner. Every cell assignment, the probe ranking,
  and every probed row's ADC sum are value-checked; the pq fit
  trajectory itself is already pinned by q_pq_codes.
- ``q_pq_topk_multi`` — batched ADC serving (``pq_adc_topk_multi``):
  Q queries' LUTs against one code scan, per-query top-k. The oracle
  re-derives all Q LUTs and every (query, vector) sequential sum, and
  ranks per query — the q_pq_topk guarantee extended to the batch
  shape a serving layer actually runs.
- ``q_resize_media`` — the REAL nearest-neighbor resize kernel
  (``multimodal.resize_media``'s numpy pixel gather) with its OUTPUT
  BYTES hash-checked: the oracle reconstructs the resized P6 payload
  from the literal offsets the pixel-center rule selects, compared as
  hex — the multimodal surface's first pixels-not-just-metadata
  value check.

Same staging contract as batches 11–19: separate dicts so importing
this module cannot grow the live ``queries()`` surface mid-round;
``tests/test_corpus_oracles.py`` runs the driver-style comparison
locally; ``register()`` promotes when the r14 window has slots.
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
    """Round-14 wiring: promote the staged queries into the live
    registry (call from __spark_entry__ next to the batch-19 register,
    then give them window slots)."""
    from datapipelineetl_spark.queries import ORACLES as _GLOBAL_ORACLES
    from datapipelineetl_spark.queries import QUERIES as _GLOBAL_QUERIES

    _GLOBAL_QUERIES.update(STAGED_QUERIES)
    _GLOBAL_ORACLES.update(STAGED_ORACLES)


_IVFPQ_CELLS = 8
_IVFPQ_NPROBE = 3
_DIM = 64

# full-dim sequential squared-L2 — the q_l2_topk fold both engines
# replay term-for-term
_D64 = (
    "list_sum(list_transform(generate_series(1, 64), "
    "z -> ({a}[z] - {b}[z]) * ({a}[z] - {b}[z])))"
)


def _fetch_seed_centroids(
    spark: SparkSession, sf_dir: str, k_cells: int
) -> list[list[float]]:
    """The k_cells lowest-id non-null embeddings, HALF_UP-rounded —
    the frozen seeds-as-artifact coarse quantizer this battery pins
    (rounding makes the literals the oracle re-derives digit-identical
    to what the Spark plan folds over)."""
    rows = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(k_cells)
        .select("embedding")
        .collect()
    )
    return [
        [similarity._pq_half_up(float(x), _PQ_DP) for x in r.embedding]
        for r in rows
    ]


@query(
    "q_ivfpq_topk",
    f"""WITH {_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SUB, _PQ_DP)},
    cents AS (SELECT CAST(rn - 1 AS INT) AS cell,
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
            GROUP BY vec_id)
    SELECT a.vec_id, s.cell AS ivf_cell, a.adc
    FROM adc a JOIN assign s USING (vec_id)
    WHERE a.vec_id <> 0
    ORDER BY a.adc, a.vec_id LIMIT 10""",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-10 for vec_id 0's vector, VALUE-replayed end
    to end: frozen seed centroids ({0} lowest-id vectors, rounded),
    fold cell assignment (`similarity.ivf_assign_fold` — sequential
    full-dim L2 sums, ties to the lower cell), driver-side probe
    selection (nprobe={1} nearest centroids, same fold order), then the
    literal-LUT ADC scan over ONLY the probed cells — the oracle
    re-derives the centroids, every cell assignment, the probe ranking,
    the LUT, and every probed row's sequential ADC sum. This closes the
    gap where the composed architecture (the actual 100 TB query shape:
    partition pruning × code compression) was verified by tests and a
    recall boolean but never value-checked cross-engine.

    Scale: with the cell persisted as the store's partition column the
    probe filter is directory pruning (`test_ivfpq_partition_pruning_
    plan`); the scan reads m small ints per row in nprobe/k_cells of
    the corpus; the heap is TakeOrderedAndProject. The fold assigner is
    the oracle-grade path — a production store assigns once with the
    Arrow kernel and persists the column."""
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
    top = similarity.pq_adc_topk(
        enc.filter(F.col("ivf_cell").isin(probe)),
        qv,
        books,
        k=10,
        round_dp=_PQ_DP,
        exclude_ids=(0,),
    )
    return top.join(enc.select("vec_id", "ivf_cell"), "vec_id").select(
        "vec_id", "ivf_cell", "adc"
    )


_MULTI_QIDS = (0, 1, 2)
_MULTI_K = 7


@query(
    "q_pq_topk_multi",
    f"""WITH {_pq_ctes(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_SUB, _PQ_DP)},
    qs AS (SELECT vec_id AS query_id, j, s AS q_s FROM sv
           WHERE vec_id IN {_MULTI_QIDS}),
    lut AS (SELECT qs.query_id, qs.j, cc.c,
            list_sum(list_transform(generate_series(1, {_PQ_SUB}),
                     z -> (q_s[z] - cv[z]) * (q_s[z] - cv[z]))) AS d
            FROM qs JOIN c{_PQ_ITERS} cc ON qs.j = cc.j),
    adc AS (SELECT query_id, vec_id,
                   ROUND(list_sum(list(d ORDER BY j)), {_PQ_DP}) AS adc
            FROM (SELECT lut.query_id, codes.vec_id, codes.j, lut.d
                  FROM codes JOIN lut
                    ON codes.j = lut.j AND codes.c = lut.c)
            GROUP BY query_id, vec_id)
    SELECT CAST(query_id AS INT) AS query_id, vec_id, adc FROM (
        SELECT query_id, vec_id, adc, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc, vec_id) AS rn
        FROM adc WHERE vec_id <> query_id)
    WHERE rn <= {_MULTI_K}""",
)
def q_pq_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ADC serving ({0} queries × top-{1}), VALUE-replayed: all
    Q lookup tables re-derived from the replayed codebooks, every
    (query, vector) approximate distance re-summed in j order, and the
    per-query ranking (ascending rounded adc, ties to the lower id)
    re-ranked — `pq_adc_topk`'s guarantee extended to
    `similarity.pq_adc_topk_multi`, the shape a serving layer runs
    (requests arrive in batches; the code column is scanned ONCE for
    all of them). Self-neighbors excluded (queries drawn from the
    corpus).

    Scale: one mapInPandas pass over the code column (the shared
    batched kernel) — Q × m × k_sub LUT tensor, partition-local top-k,
    ≤ partitions × Q × k rows shuffled (parity-tested; SCALING.md
    "Round 13: multi-query ADC"). Its vectorized HALF_UP rounding
    reproduces the oracle's values on the fixtures."""
    emb = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(
        emb, m=_PQ_M, k_sub=_PQ_K, iters=_PQ_ITERS, round_dp=_PQ_DP
    )
    enc = similarity.pq_encode(emb, books)
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id").isin(*_MULTI_QIDS)).collect()
    }
    return similarity.pq_adc_topk_multi(
        enc, queries, books, k=_MULTI_K, round_dp=_PQ_DP
    )


# 4x3 source → 2x2 target: the pixel-center rule picks rows {0,2} and
# cols {1,3}; pixel (y,x)'s 3 bytes start at byte offset (y*4+x)*3 in
# the raw P6 pixel block (1-based substring offset +1) — the literal
# offsets below ARE the oracle's replay of the numpy fancy-index
_RS_W, _RS_H = 2, 2
_RS_SRC_W, _RS_SRC_H = 4, 3
_RS_PX = _RS_SRC_W * _RS_SRC_H * 3  # 36 raw bytes
_RS_OFFS = [
    (y * _RS_SRC_W + x) * 3 + 1
    for y in (0, 2)
    for x in (1, 3)
]


@query(
    "q_resize_media",
    f"""
    WITH src AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx
      FROM documents
      WHERE octet_length(encode(text)) >= {_RS_PX}),
    hdr AS (SELECT hex(encode('P6' || chr(10) || '2 2' || chr(10)
                              || '255' || chr(10))) AS h)
    SELECT media_id,
           {_RS_W} AS width, {_RS_H} AS height,
           'ppm' AS src_format, TRUE AS resized,
           h || {" || ".join(f"substring(hx, {2 * (o - 1) + 1}, 6)" for o in _RS_OFFS)}
             AS payload_hex
    FROM src CROSS JOIN hdr
    """,
)
def q_resize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL media-resize kernel value-checked cross-engine: each
    document's first {0} text bytes become a {1}×{2} P6 PPM payload
    (header + raw RGB), `multimodal.resize_media` runs the actual
    numpy nearest-neighbor gather (the floor((i+0.5)·src/dst)
    pixel-center rule) to {3}×{4}, and the oracle reconstructs the
    EXACT resized bytes — header plus the four 3-byte pixels at the
    literal offsets the index rule selects — compared as hex. This is
    a mapInPandas kernel whose OUTPUT BYTES are hash-checked, the
    q_multimodal_features guarantee upgraded from metadata to pixels.

    Scale: Arrow-batched; payload bytes never leave the executor
    except as the (tiny) resized artifact; corrupt/short payloads are
    filtered symmetrically on both sides (the kernel itself yields
    resized=false rows for them — pinned by the multimodal tests)."""
    from datapipelineetl_spark.operators import multimodal  # noqa: PLC0415

    payload = F.encode("text", "UTF-8")
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(payload) >= _RS_PX)
        .select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.encode(F.lit(f"P6\n{_RS_SRC_W} {_RS_SRC_H}\n255\n"), "UTF-8"),
                F.substring(payload, 1, _RS_PX),
            ).alias("payload"),
        )
    )
    out = multimodal.resize_media(docs, width=_RS_W, height=_RS_H)
    return out.select(
        "media_id", "width", "height", "src_format", "resized",
        F.hex("payload").alias("payload_hex"),
    )

# ADVICE r13: a `"""...""".format(...)` first statement is an expression, not
# a string literal, so __doc__ was None for these three queries. The
# docstrings above are plain literals with {} placeholders; interpolate the
# geometry constants here, after definition.
q_ivfpq_topk.__doc__ = q_ivfpq_topk.__doc__.format(_IVFPQ_CELLS, _IVFPQ_NPROBE)
q_pq_topk_multi.__doc__ = q_pq_topk_multi.__doc__.format(
    len(_MULTI_QIDS), _MULTI_K
)
q_resize_media.__doc__ = q_resize_media.__doc__.format(
    _RS_PX, _RS_SRC_W, _RS_SRC_H, _RS_W, _RS_H
)
