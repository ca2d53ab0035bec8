"""Similarity search over embedding columns (SURVEY.md §2.11).

Two tiers:

- **Brute-force cosine** (`cosine_topk`, `cosine_pairs`) — exact baseline.
  The dot product is ``zip_with`` + ``aggregate`` array math (JVM-side,
  no Python). Top-k against a query vector is a narrow map +
  TakeOrderedAndProject: perfectly scalable (one pass, no shuffle beyond
  the k-row heap merge). All-pairs is O(n²) — correct at fixture scale,
  and the explicit baseline the ANN tier is measured against.

- **ANN via random-hyperplane LSH** (`ann_lsh_topk`) — the scale path.
  Sign-bit signatures bucket vectors so the pairwise work happens only
  within buckets (multi-probe = compare against all buckets at Hamming
  distance ≤ radius of the query's signature). Recall/latency trades via
  ``num_planes``. Hyperplanes are derived deterministically from a seed so
  runs are reproducible.

Building a single-query plan costs a few Python→JVM gateway calls, not
one per vector element. Every query-dependent constant — the query
vector, a PQ lookup table, an LSH hyperplane — is ONE SQL literal,
``CAST(split('<repr list>', ',') AS ARRAY<DOUBLE>)`` (``_sql_doubles``):
Python's ``repr`` is the shortest round-trip decimal and Java parses it
back to the same double (−0.0, NaN, ±inf and subnormals included), and
constant folding turns the cast into the same array Literal that a
per-element ``F.array(F.lit(x), …)`` built with one gateway call per
element. Every per-row fold is one SQL expression over column names
(``_sql_dot``, ``_sql_sum_sq``, ``_sql_sq_l2``) with the fold tree of the
Column helpers ``dot``/``norm``, so answers are bit-identical. Constants
stay out of generated code: an array Literal is held by reference, and
the LSH probe is ``sig IN (<Hamming ball>)``, which the optimizer turns
into an ``InSet`` (also by reference) once the ball has more values than
``spark.sql.optimizer.inSetConversionThreshold`` — so a new query
vector reuses the cached codegen classes instead of compiling new ones.

Edge values follow one rule in every tier, single-query and batched
alike. A NULL vector is never scored. A cosine candidate must have a
positive, finite squared norm: a zero vector's cosine is 0/0 and a
vector with a NaN or infinite element scores NaN, which Spark's DESC
ranks first and numpy ranks last, so neither is a candidate. An L2 tier
scores a vector with a NaN or a NULL element NaN and ranks it after every
number: the SQL fold's NULL becomes NaN (``_sql_l2_score``), because ASC
NULLS FIRST would rank a NULL score above every real neighbor. The
batched operators (``*_topk_multi``) share one Arrow kernel,
``_batched_topk``, which puts that NaN back after the pass, because
pandas NaN crosses Arrow as NULL and ASC NULLS FIRST would rank it first.
The batched pass therefore carries no NULL score: where a single-query
ADC scores NULL and ranks it first (a NULL or missing code element, an
index outside the table), a batched ADC scores NaN and ranks it last,
and a batched cosine does not score a vector of another length.

Which path answers a single-query request. A request against a small
materialized store is answered on the driver; every other request runs
the Spark plan above.

- **Eligible stores.** The store's optimized plan is a
  ``LocalRelation``, or a ``LogicalRDD`` whose RDD is checkpointed
  (``localCheckpoint`` / ``checkpoint``): rows that cannot change
  between calls. A file scan, a cached relation or a checkpointed
  store under a ``filter`` is not eligible.
- **Eligible requests.** ``cosine_topk``, ``l2_topk``, ``ivf_topk``
  with a persisted ``cell_col``, ``ann_lsh_topk`` with persisted
  ``sig_cols``, ``pq_adc_topk`` without a refine or with the carried
  leg (``vectors is encoded``), and ``ivfpq_topk`` with persisted
  ``cell_col`` and ``codes_col``. Residual IVF-PQ, the join-leg refine,
  cells, codes or signatures attached on the fly, and every
  ``*_multi`` keep the Spark plan.
- **The copy.** The first request fetches the columns it reads in one
  ``limit(budget + 1)`` Arrow collect: at most ``_DRIVER_TOPK_ROWS``
  (32,768) rows, ``_DRIVER_TOPK_BYTES`` (64 MiB) and ``_EXACT_FIT_DIM``
  (256) elements per array cell. The copy, or "over budget", is kept
  per DataFrame object (a ``WeakKeyDictionary``), so it lives as long
  as the caller's handle, and later requests run no Spark job.
- **The answer** (``_driver_topk``) replays the SQL: each fold is the
  same sequential left fold from 0.0, term for term (no BLAS), the
  masks are the cell ``IN`` probe, the signature Hamming balls and
  ``NOT id IN (exclude_ids)``, rounding is ``_pq_half_up`` (``F.round``)
  and ranking is Spark's: DESC NULLS LAST or ASC NULLS FIRST, NaN above
  every number, ties to id ASC NULLS FIRST. The result is a
  ``LocalRelation`` built from Arrow (pandas would turn NaN into NULL)
  with the Spark plan's schema; rows tied on score and id may come in
  another order, as Spark's may.

Edge values on the driver path, as in the Spark plan:

=============================  =========================================
Value                          Outcome
=============================  =========================================
NULL vector                    never a candidate
NULL element                   cosine: not a candidate; L2: NaN, last
NaN / ±inf element             cosine: not a candidate; L2: NaN, last
zero vector                    cosine: not a candidate; L2: scored
dim mismatch                   cosine: NULL score, last; L2: NaN, last
NULL id                        ranked first among equal scores; dropped
                               when any id is excluded
duplicate ids                  each row ranked on its own
NULL code                      never a candidate
NULL / missing code element,   ADC NULL, ranked first (ASC NULLS FIRST)
index outside the LUT
NULL cell or signature         never probed
NaN query element              every score NaN, ties to id
zero query (cosine)            the Spark plan answers (ANSI raises
                               DIVIDE_BY_ZERO)
=============================  =========================================

Which path builds an index column. ``pq_encode``, ``ivf_assign`` and
``lsh_persist_signatures`` over a small materialized frame build on the
driver; every other frame gets the Spark plan.

- **Eligible frames** (``_frame_rows``). A ``LocalRelation`` or a
  checkpointed RDD, as for a driver copy, whose columns an Arrow round
  trip returns bit for bit: integral, float, double, boolean, string,
  binary, date and decimal columns, and one-level arrays of those.
  One ``limit(budget + 1)`` Arrow collect fetches every column, within
  the driver copy's budget (32,768 rows, 64 MiB, at most 256 elements
  an array cell, at most 2 KiB a string or binary cell). The rows, or
  the verdict, are kept per DataFrame object; the fits
  (``_driver_fit_rows``) read the same rows.
- **The build** (``_driver_build``). The encode and assign steps run
  their UDF's kernel over the Arrow batches the UDF would see (the
  partitions, or the one ``_one_task`` coalesces to, ``maxRecordsPerBatch``
  rows at a time); the signature replays the SQL fold. The result is a
  ``LocalRelation`` built from Arrow with the schema ``withColumns``
  would give (an existing column replaced in place), and its table is
  kept, so the next step of a ``pq_fit`` … ``lsh_persist_signatures``
  chain reads it without a job: the whole chain costs one fetch.
- **What keeps the Spark plan.** A frame over budget, not materialized
  or streaming, with a column of another type, a vector column that
  is not array<float> / array<double> by its exact name, a vector wider
  than ``_EXACT_FIT_DIM``, an output name that matches a column of
  another spelling, or more than 63 hyperplanes. There a Python kernel
  runs in one task when the input's plan statistics say it holds at
  most ``_ONE_TASK_BYTES`` (8 MiB): ``_one_task`` coalesces it to one
  partition. Returning a ``LocalRelation`` from the encode and assign
  steps alone would cost more than it saves: the optimizer folds the
  signature columns over a ``LocalRelation`` into one, evaluating every
  fold interpreted on the driver each time a plan over it is optimized.
"""

from __future__ import annotations

import math
import weakref
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import _arrow_rows


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (the Column-pair twin of
    ``_sql_dot``, for callers that hold Columns rather than names)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _sql_col(name: str) -> str:
    """A top-level column name as SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


def _sql_vec(name: str) -> str:
    """``F.col(name).cast("array<double>")`` as SQL expression text."""
    return f"CAST({_sql_col(name)} AS ARRAY<DOUBLE>)"


def _sql_doubles(xs) -> str:
    """A constant ``ARRAY<DOUBLE>`` as SQL expression text that folds to
    the same Literal as ``F.array(*[F.lit(float(x)) for x in xs])``,
    bit for bit: ``repr`` is the shortest decimal that round-trips, and
    the string→double cast parses it back exactly, including ``-0.0``,
    ``nan`` and ``±inf`` (pinned by ``test_sql_doubles_round_trip``).
    The folded Literal's type admits NULL elements (a string→double
    cast can yield NULL), which no value here uses."""
    if not len(xs):
        return "CAST(array() AS ARRAY<DOUBLE>)"
    text = ",".join(repr(float(x)) for x in xs)
    return f"CAST(split('{text}', ',') AS ARRAY<DOUBLE>)"


def _sql_in(col: str, values) -> str:
    """``F.col(col).isin(values)`` for integer values, as SQL text."""
    return f"{_sql_col(col)} IN ({', '.join(str(int(v)) for v in values)})"


def _sql_probe(col: str, values) -> str:
    """``_sql_in``'s semantics (NULL never matches) with the values held
    by reference: ``array(…)`` folds to one array Literal, so a new
    probe set reuses the generated code of the last one, where an
    ``IN`` of at most ``spark.sql.optimizer.inSetConversionThreshold``
    values compiles its literals into a new class. The predicate reads
    only ``col``, so a store partitioned by it still prunes partitions
    (but no longer pushes the values into a Parquet row-group filter)."""
    return f"array_contains(array({', '.join(str(int(v)) for v in values)}), {_sql_col(col)})"


# The SQL folds name their lambda variables x, y as PySpark names a
# Python lambda's, so optimized plans print as the Column spelling's do.
def _sql_dot(a: str, b: str) -> str:
    """``dot(a, b)``'s sequential left fold over two SQL array expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (x, y) -> x + y)"


def _sql_sum_sq(a: str) -> str:
    """The squared norm under ``norm()``'s sqrt, as SQL text."""
    return f"aggregate({a}, 0D, (x, y) -> x + y * y)"


def _sql_sq_l2(a: str, b: str) -> str:
    """Squared L2 distance, the sequential fold every L2 tier ranks by."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0D, (x, y) -> x + y)"
    )


def _sql_l2_score(a: str, b: str, round_dp: int) -> str:
    """The rounded squared L2 an L2 tier ranks by, NaN where the fold is
    NULL (a NULL element), so that vector ranks last."""
    return f"coalesce(round({_sql_sq_l2(a, b)}, {round_dp}), double('NaN'))"


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Exact top-k by cosine against a constant query vector.

    The query vector is one SQL array literal, built in one gateway
    call and broadcast by constant folding (``_sql_doubles``); scoring
    is a narrow projection whose fold is one SQL expression over the
    vector column; ordering+limit compiles to TakeOrderedAndProject — a
    per-partition k-heap, no global sort.

    Only vectors whose squared norm is positive and finite are
    candidates (the module docstring's cosine rule, pinned by
    ``test_cosine_family_excludes_zero_norm_vectors``). The filter is
    ``ln(‖v‖²) < ∞``: Spark's ``ln`` is NULL at or below zero, NaN at
    NaN and ∞ at ∞, and Spark orders NaN above every number, so it holds
    exactly when 0 < ‖v‖² < ∞ and folds the norm once per row. A plain
    ``‖v‖² > 0`` would keep a NaN-element vector, which DESC ranks first.

    A small materialized ``df`` is answered from its driver copy
    (``_driver_topk``, module docstring): the same rows, no Spark job.
    """
    out = _driver_topk(df, query_vec, k, id_col, exclude_ids, "cosine", vec_col)
    if out is not None:
        return out
    return _cosine_topk(df, query_vec, k, id_col, vec_col, exclude_ids)


def _cosine_topk(df, query_vec, k, id_col, vec_col, exclude_ids) -> DataFrame:
    """``cosine_topk``'s Spark plan."""
    v, q = _sql_vec(vec_col), _sql_doubles(query_vec)
    cos = f"{_sql_dot(v, q)} / (sqrt({_sql_sum_sq(v)}) * sqrt({_sql_sum_sq(q)}))"
    scored = df.filter(f"ln({_sql_sum_sq(v)}) < double('Infinity')").selectExpr(
        _sql_col(id_col), f"round({cos}, 4) AS cos_sim"
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def l2_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k by SQUARED L2 distance against a constant query
    vector — the Euclidean twin of ``cosine_topk`` (same plan shape:
    literal query, narrow fold scoring, TakeOrderedAndProject k-heap;
    ordering on the ROUNDED distance, ties to the lower id, so the
    result order is hash-stable cross-engine).

    NULL vectors are filtered before scoring (the ``pq_adc_topk``
    isNotNull discipline): a NULL embedding scores NULL, which Spark's
    ASC default (NULLS FIRST) would place ABOVE every real neighbor
    while DuckDB's default (NULLS LAST) excludes it — a silent
    cross-engine mismatch and a polluted top-k the moment a fixture
    carries null embeddings. A vector with a NULL element scores NaN
    and ranks last (module docstring). ``round_dp`` is threaded like the
    PQ family's so the two tiers can never silently diverge in rounding.
    A small materialized ``df`` is answered from its driver copy."""
    out = _driver_topk(df, query_vec, k, id_col, exclude_ids, "l2", vec_col,
                       round_dp=round_dp)
    if out is not None:
        return out
    return _l2_topk(df, query_vec, k, id_col, vec_col, exclude_ids, round_dp)


def _l2_topk(df, query_vec, k, id_col, vec_col, exclude_ids, round_dp=6) -> DataFrame:
    """``l2_topk``'s Spark plan."""
    l2 = _sql_l2_score(_sql_vec(vec_col), _sql_doubles(query_vec), round_dp)
    scored = df.filter(f"{_sql_col(vec_col)} IS NOT NULL").selectExpr(
        _sql_col(id_col), f"{l2} AS l2"
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    return scored.orderBy("l2", id_col).limit(k)


def l2_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_ids: bool = True,
    round_dp: int = 6,
) -> DataFrame:
    """Exact squared-L2 top-k for a BATCH of queries in one operator —
    the brute-force serving shape (the expensive thing is scanning the
    raw vectors, so scan them ONCE for all Q requests). Output
    (query_id, id_col, l2), each query's top-k ascending rounded l2,
    ties to the lower id — per-query rows identical to ``l2_topk``
    (parity-tested). NULL vectors are filtered (the ``l2_topk``
    isNotNull discipline); a NaN-element vector scores NaN and ranks
    last, as in ``l2_topk``.

    One ``_batched_topk`` pass: per Arrow batch the vectors are stacked
    once and ALL Q distance columns come from the ‖x‖² − 2·X@Qᵀ + ‖q‖²
    expansion (one matmul instead of Q folds). Rounding is the shared
    vectorized HALF_UP kernel and the matmul re-associates the sum —
    the last-ulp trade every Arrow kernel here makes (the batch-21
    oracle and the parity tests pin the answers).
    """
    qids = _query_ids(queries)
    return _batched_topk(
        df, [vec_col], qids, _matmul_scores(queries, qids, vec_col, "l2"),
        k, id_col, "l2", round_dp, exclude_query_ids,
    )


def cosine_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_query_ids: bool = True,
) -> DataFrame:
    """Batched ``cosine_topk``: output (query_id, id_col, cos_sim),
    each query's top-k DESCENDING rounded similarity (4 dp, the
    ``cosine_topk`` contract), ties to the lower id. Same cost shape as
    ``l2_topk_multi`` — one matmul computes all Q similarity columns
    from one stacked batch — and the same candidate rule as
    ``cosine_topk``: only vectors whose squared norm is positive and
    finite are scored (module docstring)."""
    qids = _query_ids(queries)
    return _batched_topk(
        df, [vec_col], qids, _matmul_scores(queries, qids, vec_col, "cosine"),
        k, id_col, "cos_sim", 4, exclude_query_ids, ascending=False,
    )


def _query_ids(queries: dict[int, list[float]]) -> list[int]:
    """The batch's query ids in output order; an empty batch is an error."""
    if not queries:
        raise ValueError("need at least one query")
    return sorted(queries)


def _batched_topk(
    scoped: DataFrame,
    cols: list[str],
    qids: list[int],
    score,
    width: int,
    id_col: str,
    score_col: str,
    round_dp: int,
    exclude_query_ids: bool,
    ascending: bool = True,
) -> DataFrame:
    """The one Arrow pass behind every ``*_topk_multi``: (query_id,
    id_col, score_col), each query's first ``width`` rows of
    ``scoped`` by rounded score (ascending, or descending), ties to the
    lower id.

    ``scoped`` is the operator's candidate scan (the union of every
    query's probed cells or Hamming balls, or the whole store), and
    ``score(pdf)`` is its score block. It gets one Arrow batch of
    (id_col, *cols) as pandas and returns ``(rows, scores, ok)``: the
    positions of the rows it scored, their n×Q score matrix (column i
    is query ``qids[i]``) and an n×Q eligibility mask, or None when
    every scored row is a candidate of every query. The kernel drops
    each query's own id when ``exclude_query_ids``, rounds HALF_UP to
    ``round_dp`` (``_round_half_up_np``), keeps a per-query local top
    ``width`` with one ``lexsort`` each, and a single
    ``Window.partitionBy("query_id")`` cut merges the tasks — at most
    partitions × Q × width rows are shuffled, never n × Q.

    pandas NaN crosses Arrow as NULL, so the score column is put back
    to NaN after the pass: no scored row has a NULL input, so a NULL
    score IS a NaN score, and it must rank last as its single-query
    twin ranks it, not first under ASC NULLS FIRST. A NULL id stays
    NULL: it ranks first among equal scores and an exclusion drops it,
    as in the single-query operators."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    id_t = _validated_id_type(scoped, id_col)
    qid_arr = np.asarray(qids, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            rows, scores, ok = score(pdf)
            if not len(rows):
                continue
            # a NULL id crosses as NaN (the column turns float64): keep
            # it NULL, ranked first among equal scores (id ASC NULLS
            # FIRST), and dropped by an exclusion (NOT id IN (...))
            id_null = pdf[id_col].isna().to_numpy()[rows]
            ids = pdf[id_col].fillna(0).to_numpy(dtype=np.int64)[rows]
            if ok is None:
                ok = np.ones(scores.shape, dtype=bool)
            if exclude_query_ids:
                ok &= ~id_null[:, None] & (ids[:, None] != qid_arr[None, :])
            r = _round_half_up_np(scores, round_dp)
            key = r if ascending else -r
            parts = []
            for qi, qid in enumerate(qids):
                cand = np.flatnonzero(ok[:, qi])
                top = cand[np.lexsort((ids[cand], ~id_null[cand], key[cand, qi]))[:width]]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(top.size, qid, dtype=np.int32),
                            id_col: pd.arrays.IntegerArray(ids[top], id_null[top]),
                            score_col: r[top, qi],
                        }
                    )
                )
            out = pd.concat(parts, ignore_index=True)
            if len(out):
                yield out

    local = scoped.select(id_col, *cols).mapInPandas(
        gen, schema=f"query_id int, {id_col} {id_t}, {score_col} double"
    ).withColumn(score_col, F.coalesce(F.col(score_col), F.lit(float("nan"))))
    return _first_per_query(local, width, score_col, id_col, ascending)


def _first_per_query(
    df: DataFrame, n: int, score_col: str, id_col: str, ascending: bool = True
) -> DataFrame:
    """Each query's first ``n`` rows by ``score_col``, ties to the lower id."""
    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def _matmul_scores(
    queries: dict[int, list[float]], qids: list[int], vec_col: str, metric: str
):
    """The raw-vector score block: squared L2 by the ‖x‖² − 2·X@Qᵀ + ‖q‖²
    expansion, or cosine as X@Qᵀ over the norms. NULL vectors are not
    scored, and for cosine neither is a vector whose squared norm is
    not positive and finite (the ``cosine_topk`` rule) nor one of
    another length. L2 scores a vector with a NULL element or of
    another length NaN, and one with a ±inf element (and no NaN) inf,
    as ``l2_topk`` does."""
    import numpy as np  # noqa: PLC0415

    qm = np.asarray([queries[qid] for qid in qids], dtype=np.float64)  # Q×dim
    dim = qm.shape[1]
    q_sq = (qm * qm).sum(axis=1)
    q_norm = np.sqrt(q_sq)

    def score(pdf):
        x, null, length = _pad_rows(pdf[vec_col].to_numpy(), dim)
        x_sq = (x * x).sum(axis=1)
        keep = ~null
        if metric == "cosine":
            keep &= (x_sq > 0) & (x_sq < np.inf) & (length == dim)
        rows = np.flatnonzero(keep)
        x, x_sq = x[rows], x_sq[rows]
        if metric == "l2":
            with np.errstate(invalid="ignore"):
                scores = x_sq[:, None] - 2.0 * (x @ qm.T) + q_sq[None, :]
            # the expansion gives inf − inf; the fold's sum is inf
            inf = np.isinf(x_sq)
            d = x[inf][:, None, :] - qm[None, :, :]
            scores[inf] = (d * d).sum(axis=2)
            scores[length[rows] != dim] = np.nan
            return rows, scores, None
        return rows, (x @ qm.T) / (np.sqrt(x_sq)[:, None] * q_norm[None, :]), None

    return score


def _pad_rows(arrays, width: int):
    """An Arrow batch of array values as (x, null, length): the n ×
    ``width`` float64 matrix of their first ``width`` elements, NaN
    where an element is NULL or past the array's end (every element of
    a NULL row), a mask of the NULL rows and each array's length."""
    import numpy as np  # noqa: PLC0415

    x = np.full((len(arrays), width), np.nan)
    null = np.zeros(len(arrays), dtype=bool)
    length = np.zeros(len(arrays), dtype=np.int64)
    whole, rows = [], []  # rows of exactly ``width``: one np.stack
    for i, v in enumerate(arrays):
        if v is None or (isinstance(v, float) and v != v):
            null[i] = True
            continue
        length[i] = len(v)
        if len(v) == width:
            whole.append(i)
            rows.append(v)
        else:
            a = np.asarray(v, dtype=np.float64)
            x[i, :min(len(a), width)] = a[:width]
    if rows and len(rows) == len(x):
        x = np.stack(rows).astype(np.float64, copy=False)
    elif rows:
        x[whole] = np.stack(rows)
    return x, null, length


def _in_probed_cells(score, probes: dict[int, list[int]], qids: list[int],
                     n_cells: int, cell_col: str):
    """``score`` with each query's mask set to the rows of its own probed
    cells (every cell of the scan is some query's probe, < n_cells)."""
    import numpy as np  # noqa: PLC0415

    member = np.zeros((n_cells, len(qids)), dtype=bool)
    for qi, qid in enumerate(qids):
        member[probes[qid], qi] = True

    def masked(pdf):
        rows, scores, _ = score(pdf)
        return rows, scores, member[pdf[cell_col].to_numpy()[rows].astype(np.int64)]

    return masked


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, O(n²) cross join).

    Correctness baseline / fixture-scale tool. At 100 TB use
    ``ann_lsh_topk`` or pre-bucket by an LSH signature equi-join instead —
    same output contract, candidate-pruned.
    """
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _validated_id_type(df: DataFrame, id_col: str) -> str:
    """Spark type name of ``id_col``, validated integral — the batched
    serving family (``*_topk_multi``) keys requests by integer query
    id, excludes self-neighbors via ``ids != qid``, and upcasts ids to
    int64 inside its Arrow kernels, so a non-integral id column must
    fail fast HERE instead of erroring (or silently casting) deep in
    Arrow conversion (ADVICE r14 — the resize_media id-dtype lesson
    applied family-wide). The returned name feeds the
    ``_batched_topk`` output schema, so the batched result keeps the
    input's integer width."""
    t = df.schema[id_col].dataType.simpleString()
    if t not in _INTEGRAL_TYPES:
        raise TypeError(
            f"batched serving requires an integral id column; {id_col!r} "
            f"is {t} — cast the id (or use the single-query operator, "
            "which carries any id type through untouched)"
        )
    return t


def lsh_cosine_near_pairs(
    df: DataFrame,
    threshold: float,
    num_planes: int = 8,
    num_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Embedding near-duplicate PAIRS via LSH bucketing — the scale path
    next to the exact O(n²) ``cosine_pairs`` baseline (same output
    contract: (id_a, id_b, cos_sim) with cos_sim ≥ threshold, id_a < id_b).

    Candidates are pairs sharing a full signature bucket in ANY of
    ``num_tables`` independent tables (OR amplification); only candidates
    get the exact cosine verification. Recall for a pair at cosine θ is
    1 − (1 − p^planes)^tables with p = 1 − arccos(θ)/π — tune
    (planes, tables) to the corpus like MinHash-LSH's (bands, rows).

    Scale: ALL table signatures are computed in one pass over the data —
    an Arrow-batched numpy matmul (``_lsh_signatures_pandas``; the JVM
    fold form is tables × planes interpreted lambda dot-products per row
    and dominated the runtime) — then posexploded to (table, signature)
    rows and equi-joined on that composite key: ONE shuffle of
    O(n × tables) rows, the exact shape of ``dedup.lsh_candidate_pairs``
    banding (measured 4.5× total vs the per-table-join-then-union JVM
    form at 16 tables × 64 dims). Hot buckets
    (near-constant vectors) are the skew risk: ``max_bucket_size`` drops
    buckets above the cap, same mitigation and same caveat as
    ``lsh_candidate_pairs``. The verify join touches candidate ids only —
    embeddings shuffle once per side, not per pair.

    Which path verifies. ONE job fetches the (id → vector) matrix when
    it holds at most ``_LSH_VERIFY_BYTES`` (512 MiB) of float64 and no
    id repeats; an Arrow kernel then scores each candidate pair against
    the broadcast matrix (``_lsh_verify_broadcast``). Otherwise a JVM
    join scores it with the same doubles. Edge values: a NULL vector is
    never a candidate; a vector with a NULL element, of another length
    or of zero norm never passes the threshold; a NaN or ±inf element
    scores NaN, which passes any threshold; a NULL id is never a
    candidate; a repeated id pairs every one of its rows.
    """
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    if dim is None:
        # one row
        probe = df.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col).alias("n")).first()
        if probe is None or probe.n < 0:
            raise ValueError("cannot infer embedding dim from an empty/null column")
        dim = probe.n
    vec = F.col(vec_col).cast("array<double>")
    planes_t = [
        _hyperplanes(num_planes, dim, seed + 1000003 * t) for t in range(num_tables)
    ]
    sig_arr = _lsh_signatures_pandas(planes_t)(vec)
    # posexplode_outer, not posexplode: the non-outer form makes the
    # optimizer infer a size()>0 filter whose pushdown re-inlines the
    # whole signature array below the Generate (the same
    # InferFiltersFromGenerate trap documented in
    # dedup.fingerprint_collision_pairs); the array here is never empty.
    tabled = df.select(
        F.col(id_col), F.posexplode_outer(sig_arr).alias("__table", "__sig")
    )
    # localCheckpoint (opt-in — default keeps the operator lazy; the
    # registered query passes True): the self-join (and the optional
    # bucket-size aggregate) reference this subtree 2–3×, each re-running
    # the Arrow signature pass — materialize the narrow (id, table, sig)
    # rows once (same discipline as dedup.fingerprint_collision_pairs).
    if materialize:
        tabled = tabled.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        sizes = (
            tabled.groupBy("__table", "__sig")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
        )
        tabled = tabled.join(sizes.select("__table", "__sig"), ["__table", "__sig"])
    a, b = tabled.alias("a"), tabled.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__table") == F.col("b.__table"))
            & (F.col("a.__sig") == F.col("b.__sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    # Verify parallelism (round 16, re-shaped round 17): the candidate
    # stream is bytes-tiny (two ids per row) but the verify costs real
    # per-row work, so AQE's byte-based post-shuffle coalescing starved
    # the verify stage (the 1 MB minPartitionSize floor left 8
    # partitions carrying 22 s of executor CPU at sf0.1 — stage-level
    # REST metrics). An explicit NUMBERED repartition is exempt from AQE
    # coalescing; the width follows defaultParallelism (cores locally,
    # executors × cores on a cluster), not a local constant, and the
    # exchange carries only the id pairs. Round 17 moved it BELOW the
    # dedup: hash-partitioning on id_a clusters every duplicate
    # (id_a, id_b) row into one partition (a subset of the distinct
    # keys satisfies ClusteredDistribution), so the distinct reuses this
    # exchange instead of adding its own — one 32-wide exchange where
    # r16 had the distinct's AQE-coalesced exchange PLUS this one
    # (plan: q_lsh_cosine_near_pairs_after shows a single
    # REPARTITION_BY_NUM under the aggregate).
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("id_a")
    ).distinct()
    # Verify (round 17). The r16 naive Arrow swap measured 1.5× SLOWER
    # because each candidate pair carried 2×dim doubles through the
    # boundary. The fix (guide §8: "shuffle keys and metadata instead of
    # payloads") is to move the vectors ONCE — the (id → vector) matrix
    # rides a Spark broadcast into the Python workers — and ship only
    # the two ids per pair through Arrow (``_lsh_verify_broadcast``).
    # Over its budget, or when ids repeat, the verify is a pure-JVM join
    # instead: norms are per-VECTOR functions, so they are computed once
    # per id on the (n)-row side of the join, and the per-pair work is
    # one interpreted dim-fold (the dot). Same arithmetic on the same
    # doubles → identical results.
    scored = _lsh_verify_broadcast(cand, df, id_col, vec, dim)
    if scored is None:
        v = df.select(F.col(id_col), vec.alias("__v"), norm(vec).alias("__n"))
        scored = (
            cand.join(
                v.withColumnsRenamed({id_col: "id_a", "__v": "__va", "__n": "__na"}),
                "id_a",
            )
            .join(
                v.withColumnsRenamed({id_col: "id_b", "__v": "__vb", "__n": "__nb"}),
                "id_b",
            )
            .withColumn(
                "__cos",
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
            )
        )
    return (
        scored.withColumn("cos_sim", F.round(F.col("__cos"), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# The LSH verify matrix's budget: at most this many bytes of float64
# vectors (1,048,576 rows at dim 64) are fetched and broadcast
_LSH_VERIFY_BYTES = 1 << 29


def _lsh_verify_broadcast(
    cand: DataFrame, df: DataFrame, id_col: str, vec: Column, dim: int
) -> DataFrame | None:
    """Exact-cosine verify over candidate id pairs with the embedding
    matrix broadcast to the Python workers: only (id_a, id_b) crosses the
    Arrow boundary per pair (the §8 'move heavy bytes once' shape — the
    per-pair join form ships 2×dim doubles per candidate).

    The matrix is ONE ``_arrow_rows`` fetch of (id, vector), at most
    ``_LSH_VERIFY_BYTES // (8 * dim)`` rows (vectors longer than ``dim``
    come back NULL). None — the caller runs the JVM verify join — when
    ``df`` holds more rows, or when a non-NULL id repeats: the matrix
    keeps one row per id, while the join pairs every row of an id.

    Bit-exactness: dot and norm replay ``dot()``/``norm()``'s sequential
    left-fold add order — a Python loop over dim positions, each step an
    elementwise IEEE-double op vectorized across the pair batch — and the
    final ``dot / (norm_a * norm_b)`` matches ``cosine()``'s expression
    tree. Norms are computed once per vector at broadcast-build time
    (a per-vector pure function — same doubles as the per-pair fold).
    Edge values, each matching what the JVM join + fold path emits:

    - NULL vectors, vectors with NULL elements and vectors of another
      length (``bad[]``) score NULL against everything: a NULL product
      poisons the whole fold.
    - Vectors with NaN (or ±inf) elements score the IEEE result, NaN
      included — the fold's own value, which Spark's NaN-greatest
      comparison keeps above any threshold, so the pair is emitted.
    - A zero divisor (a zero-norm vector) scores NULL: there the ANSI
      JVM fold raises DIVIDE_BY_ZERO, and undefined similarity never
      passes the threshold.
    - A candidate id absent from ``df`` scores NULL, as the verify
      join would drop the pair. A NULL id is never a candidate."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    t = _arrow_rows(
        df.select(F.col(id_col).alias("i"), F.when(F.size(vec) <= dim, vec).alias("v")),
        max(1, _LSH_VERIFY_BYTES // (8 * max(dim, 1))),
    )
    if t is None:
        return None
    i = t.column("i").combine_chunks()
    if pc.count_distinct(i).as_py() < len(i) - i.null_count:
        return None
    n = t.num_rows
    x, missing, null, length = _list_matrix(t.column("v").combine_chunks(), np.float64)
    bad = np.zeros(max(n, 1), dtype=bool)
    bad[:n] = null | (length != dim) | missing.any(axis=1)
    mat = np.zeros((max(n, 1), max(dim, 1)), dtype=np.float64)
    mat[:n, :x.shape[1]] = x
    # id → row lookup: sorted-ids + searchsorted for integer ids (fully
    # vectorized — a per-element dict .map() measured as the stage's
    # blocking cost at 1.3M candidate pairs), a dict otherwise
    id2row, sorted_ids, perm = {}, None, None
    if pa.types.is_integer(i.type) and i.null_count < n:
        rows = np.flatnonzero(~i.is_null().to_numpy(zero_copy_only=False))
        ids_arr = i.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)[rows]
        order = np.argsort(ids_arr, kind="stable")
        sorted_ids, perm = ids_arr[order], rows[order]
    else:
        id2row = {v: r for r, v in enumerate(i.to_pylist()) if v is not None}
    # norms once per vector, sequential fold in dim order (= norm())
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(dim):
        acc = acc + mat[:, j] * mat[:, j]
    norms = np.sqrt(acc)
    bc = df.sparkSession.sparkContext.broadcast(
        (id2row, sorted_ids, perm, mat, norms, bad, dim)
    )

    def _lookup(col, sorted_ids_, perm_, id2row_):
        """Matrix row per id, -1 for an id the matrix does not hold."""
        if sorted_ids_ is not None:
            want = col.to_numpy(dtype=np.int64)
            idx = np.minimum(np.searchsorted(sorted_ids_, want), len(sorted_ids_) - 1)
            return np.where(sorted_ids_[idx] == want, perm_[idx], -1)
        return col.map(id2row_).fillna(-1).to_numpy(dtype=np.int64)

    def _cos(ia, ib):
        # Broadcast.value caches after the first deref in each worker, so
        # the matrix unpickles once per executor process, not per batch
        id2row_, sorted_ids_, perm_, mat_, norms_, bad_, dim_ = bc.value
        ra = _lookup(ia, sorted_ids_, perm_, id2row_)
        rb = _lookup(ib, sorted_ids_, perm_, id2row_)
        a, b = mat_[ra], mat_[rb]
        d = np.zeros(len(ra), dtype=np.float64)
        for j in range(dim_):
            d = d + a[:, j] * b[:, j]
        den = norms_[ra] * norms_[rb]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = d / den
        # an explicit mask, not pd.array(cos, "Float64"): that conversion
        # turns every NaN into NULL, while the JVM fold keeps NaN
        null = bad_[ra] | bad_[rb] | (ra < 0) | (rb < 0) | (den == 0)
        return pd.Series(pd.arrays.FloatingArray(cos, null))

    # asNondeterministic stops the threshold filter's pushdown from
    # duplicating the ArrowEvalPython node (guide §4.4, the PQ precedent)
    score = pandas_udf(_cos, "double").asNondeterministic()
    return cand.withColumn("__cos", score(F.col("id_a"), F.col("id_b")))


def _lsh_signatures_pandas(planes_t: list[list[list[float]]]):
    """Arrow-batched pandas UDF computing ALL tables' sign-bit signatures
    in one numpy matmul per batch: (batch × dim) @ (dim × tables·planes)
    → sign bits → packed per-table longs, returned as array<long>.

    This is the §2.9 escape hatch used deliberately: a JVM
    ``lsh_signature`` column is tables × planes separate higher-order
    fold dot-products per row, and higher-order functions don't
    whole-stage-codegen — at 16 tables × 4 planes × 64 dims that is
    ~4096 interpreted lambda steps per row, which dominated
    q_lsh_cosine_near_pairs' runtime. One BLAS call per Arrow batch
    replaces all of it. Both paths are float64 dot products and agree on
    the fixture (parity pinned by tests/test_text_dedup_similarity.py::
    test_lsh_signature_pandas_matches_jvm), but BLAS pairwise summation
    vs a sequential fold CAN round differently and flip a sign bit when
    a dot product lands within float ulps of zero — for a vector exactly
    on a hyperplane the bucket choice is arbitrary either way. If oracle
    flakiness ever appears on borderline vectors, exclude pairs whose
    winning dot is within an epsilon of zero.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    n_tables = len(planes_t)
    n_planes = len(planes_t[0])
    w = np.array(
        [p for planes in planes_t for p in planes], dtype=np.float64
    ).T  # dim × (tables·planes)
    pack = 1 << np.arange(n_planes, dtype=np.int64)

    def _sig(vecs):
        m, null, length = _pad_rows(vecs, w.shape[0])
        mask = null | (length != w.shape[0])
        bits = (m @ w) >= 0  # batch × (tables·planes)
        sigs = np.stack(
            [bits[:, t * n_planes : (t + 1) * n_planes] @ pack for t in range(n_tables)],
            axis=1,
        )  # batch × tables
        # null embedding (or one of another length) → null signature
        # array; downstream equi-joins on (table, sig) drop those rows
        return pd.Series([None if mask[i] else sigs[i] for i in range(len(sigs))])

    # no type hints: `from __future__ import annotations` stringifies them
    # before pandas_udf can inspect them (module convention)
    return pandas_udf(_sig, "array<long>")


def _hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based — no RNG
    state, reproducible across runs/engines)."""
    planes = []
    state = seed
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / n for x in row])
    return planes


def lsh_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the array column ``vec_col`` (read as
    array<double>): bit p set iff dot(vec, plane_p) ≥ 0. One SQL
    expression — each hyperplane one array literal — so a table costs
    one gateway call however many planes and dims it has. A NULL
    vector folds every dot to NULL and gets signature 0."""
    v = _sql_vec(vec_col)
    terms = ["CAST(0 AS BIGINT)"] + [
        f"CASE WHEN {_sql_dot(v, _sql_doubles(plane))} >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p, plane in enumerate(planes)
    ]
    return F.expr(" + ".join(terms))


# _exact_fit's limits, and the centroid-matrix size above which
# _arrow_assign_udf broadcasts (PySpark's UDFCompressionThreshold)
_EXACT_FIT_CELLS = 4096  # k × dim
_EXACT_FIT_DIM = 256
_BROADCAST_BYTES = 1 << 20


def _exact_fit(k: int, dim: int) -> bool:
    """The kernel rule of every k-means / PQ fit here (``kmeans``,
    ``semdedup``, ``ivf_fit_centroids``' update, ``pq_fit``,
    ``pq_encode``): True — the EXACT side, the bit-exact kernels the
    DuckDB oracles replay — when ``k * dim <= 4096`` and
    ``dim <= 256``; else the SCALE side, BLAS kernels whose cost stays
    flat in k but whose summation order is not value-replayable.

    Per 10k rows at dim 64 (numpy, one thread, process CPU) the
    sequential kernel costs 59 vs BLAS 4 ms at k=16, 173 vs 11 at k=64,
    1,088 vs 58 at k=256 and 7,984 vs 158 at k=1024. The dim guard
    keeps the dim × ``F.avg`` update off its measured OOM at dim=1024
    (SCALING.md "Round 12"). Every registered oracle and benchmark fit
    is exact (k × dim 256–2,048); the k_sub=256 PQ fit of
    ``examples/ann_*`` (16,384) is scale."""
    return k * dim <= _EXACT_FIT_CELLS and dim <= _EXACT_FIT_DIM


# The driver fit's budget: an exact-side fit whose input holds at most
# this many non-null vectors runs its whole Lloyd loop on the driver
# (≤ 64 MiB of float64 at the exact side's dim ≤ 256).
_DRIVER_FIT_ROWS = 32768


def _driver_fit_rows(
    df: DataFrame, vec_col: str, id_col: str, k: int, dim: int | None
) -> _FitRows | None:
    """The size probe of ``kmeans``, ``ivf_fit_centroids`` and
    ``pq_fit``, which also fetches the fit's input: at most
    ``_DRIVER_FIT_ROWS`` non-null vectors of ``vec_col`` (read as
    array<double>) with their ids and partitions. The rows come back as
    ``_FitRows`` when they fit the budget and the fit is on the exact
    side of ``_exact_fit(k, dim)``; the fit then runs its seeds and
    every Lloyd iteration on the driver, with the kernels its Spark
    loop runs. None — run the Spark loop — when the input is over
    budget, on the scale side, holds a NULL element (``F.avg`` skips it
    per dimension), has vectors of unequal width or of a width other
    than ``dim``, or has an id column the driver cannot order as Spark
    does (not integral or string).

    A small materialized frame is read from its driver build fetch
    (``_frame_rows``), which the encode, assign and sign steps that
    follow the fit read too. Any other frame costs ONE Spark job: an
    Arrow collect of (partition id, id, vector) of at most
    ``_DRIVER_FIT_ROWS + 1`` non-null vectors. Vectors wider than the
    exact side allows come back NULL, so the probe never ships more
    than the budget's 64 MiB; a ``dim`` already on the scale side
    skips the probe."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    id_type = df.select(id_col).schema.fields[0].dataType.simpleString()
    if id_type not in (*_INTEGRAL_TYPES, "string"):
        return None
    width = min(_EXACT_FIT_DIM, _EXACT_FIT_CELLS // k) if dim is None else dim
    if width < 1 or not _exact_fit(k, width):
        return None
    rows = _frame_rows(df) if _vector_type(df, vec_col) else None
    if rows is not None and id_col in rows.t.column_names:
        v = rows.t.column(vec_col).combine_chunks()
        keep = v.is_valid()
        kept = keep.to_numpy(zero_copy_only=False)
        n = int(kept.sum())
        if n > _DRIVER_FIT_ROWS:
            return None
        # the Spark loop's filter of a LocalRelation folds into a
        # relation of the kept rows, sliced anew
        parts = _local_parts(df.sparkSession, n) if rows.local else rows.parts
        part = np.repeat(np.arange(len(parts)), [hi - lo for lo, hi in parts])
        if not rows.local:
            part = part[kept]
        v = v.filter(keep)
        if len(v) and pc.max(pc.list_value_length(v)).as_py() > width:
            return None
        return _fit_rows(df, part, rows.t.column(id_col).filter(keep), v, dim)
    vec = F.col(vec_col).cast("array<double>")
    t = _arrow_rows(
        df.filter(vec.isNotNull()).select(
            F.spark_partition_id().alias("p"),
            F.col(id_col).alias("i"),
            F.when(F.size(vec) <= width, vec).alias("v"),
        ),
        _DRIVER_FIT_ROWS,
    )
    if t is None:
        return None
    return _fit_rows(df, t.column("p").to_numpy(), t.column("i"),
                     t.column("v").combine_chunks(), dim)


def _fit_rows(df: DataFrame, part, ids, v, dim: int | None) -> _FitRows | None:
    """``_driver_fit_rows``' verdict on fetched rows: ``part`` their
    partition ids, ``ids`` and ``v`` (Arrow) their ids and non-null
    vectors."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    n = len(v)
    flat = v.flatten()
    if v.null_count or flat.null_count:
        return None
    lengths = pc.list_value_length(v).to_numpy(zero_copy_only=False)
    width = int(lengths[0]) if n else 0
    if (lengths != width).any() or (dim is not None and n and width != dim):
        return None
    x = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, width)
    ids = ids.to_pylist()
    if (part[1:] < part[:-1]).any():  # partition order, row order within
        perm = np.argsort(part, kind="stable")
        x, part, ids = x[perm], part[perm], [ids[i] for i in perm]
    bounds = [0, *(np.flatnonzero(np.diff(part)) + 1).tolist(), n]
    batch = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return _FitRows(x, list(zip(bounds[:-1], bounds[1:])) if n else [], ids,
                    batch if batch > 0 else max(n, 1))


class _FitRows:
    """A fit's non-null input vectors on the driver (``_driver_fit_rows``):
    ``x`` (n × dim float64) in Spark partition order and row order
    within each partition, ``parts`` the (start, stop) rows of each
    partition, and what the Spark loop's Arrow UDF would batch them by."""

    def __init__(self, x, parts, ids, batch_rows: int):
        self.x, self.parts, self.ids, self.batch_rows = x, parts, ids, batch_rows

    def seeds(self, k: int) -> list[list[float]]:
        """The k lowest-id vectors — the Spark loop's
        ``orderBy(id).limit(k)``, NULL ids first. Rows sharing an id
        (where Spark's order is undefined) keep their scan order:
        partition, then position in the partition."""
        import heapq  # noqa: PLC0415

        ids = self.ids
        order = heapq.nsmallest(
            k, range(len(ids)),
            key=lambda r: (ids[r] is not None, 0 if ids[r] is None else ids[r], r),
        )
        return [self.x[r].tolist() for r in order]

    def assign(self, kernel, *args):
        """``kernel(x, *args)`` over the batches the Spark loop's Arrow
        UDF would see — each partition's rows, ``batch_rows`` at a time —
        so a BLAS kernel sums each row as a worker would."""
        import numpy as np  # noqa: PLC0415

        return np.concatenate([
            kernel(self.x[a:min(a + self.batch_rows, hi)], *args)
            for lo, hi in self.parts
            for a in range(lo, hi, self.batch_rows)
        ])

    def means(self, cells, cols: slice = slice(None)) -> dict:
        """{cell: mean of ``x[:, cols]`` over its rows} — ``groupBy(cell)
        .agg(F.avg)`` replayed bit for bit: in each partition a cell's
        rows add sequentially in row order from 0.0 (the partial
        aggregate's buffer — so a lone −0.0 averages to 0.0 there too),
        the partials add in partition order from 0.0 (the final
        aggregate), and the sum divides by the count. A cell without
        rows is absent, so it keeps its previous centroid."""
        import numpy as np  # noqa: PLC0415

        sums: dict = {}
        counts: dict = {}
        for lo, hi in self.parts:
            c = cells[lo:hi]
            order = np.argsort(c, kind="stable")
            c, x = c[order], self.x[lo:hi, cols][order]
            starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
            for a, b in zip(starts, [*starts[1:], len(c)]):
                run = np.concatenate([np.zeros((1, x.shape[1])), x[a:b]])
                cell = int(c[a])
                sums[cell] = sums.get(cell, 0.0) + np.add.accumulate(run, axis=0)[-1]
                counts[cell] = counts.get(cell, 0) + (b - a)
        return {cell: sums[cell] / counts[cell] for cell in sums}


def _fit_seeds(
    df: DataFrame, vec: Column, id_col: str, k: int, sample: _FitRows | None
) -> list[list[float]]:
    """The k lowest-id vectors of a fit that are not NULL and hold no
    NULL element: from the driver's ``sample`` when the probe fetched
    one (it holds no NULL element), else one ``orderBy(id).limit(k)``
    collect."""
    if sample is not None:
        return sample.seeds(k)
    return [  # k rows
        r.v
        for r in df.filter(vec.isNotNull() & ~F.exists(vec, lambda x: x.isNull()))
        .orderBy(id_col)
        .limit(k)
        .select(vec.alias("v"))
        .collect()
    ]


def ivf_fit_centroids(
    df: DataFrame,
    k_cells: int = 16,
    vec_col: str = "embedding",
    iters: int = 5,
    id_col: str = "vec_id",
    dim: int | None = None,
    metric: str = "cosine",
) -> list[list[float]]:
    """Deterministic k-means coarse quantizer for an IVF index (the
    k-means-partitioned ANN family next to SRP-LSH). ``metric`` picks
    the geometry: ``"cosine"`` (default, the original spherical form —
    vectors and centroids L2-normalized, max-dot ≡ nearest) or
    ``"l2"`` (plain Euclidean Lloyd, un-normalized centroids — the
    FAISS-default coarse tier, and the REQUIRED one under residual
    IVF-PQ: residuals against unit-normalized centroids barely shrink
    the span, measured in the round-12 residual A/B).

    Deterministic by construction: centroids initialize from the
    ``k_cells`` smallest-id vectors (data-derived, no RNG) and Lloyd
    iterations are fixed-count — the same corpus always yields the same
    index, which is what makes IVF queries testable.

    Scale: each iteration is ONE narrow Arrow-batched assignment pass
    (batch matmul, argmax) + ONE mean update; only the k×dim centroid
    matrix ever reaches the driver. Production practice at 100 TB is
    to FIT on a sample (df.sample) and assign the full corpus once —
    the fit cost is bounded by the sample, the assignment pass by one
    scan. The update follows ``_exact_fit(k_cells, dim)`` (k × dim ≤
    4096, dim ≤ 256): per-dimension ``F.avg`` on the exact side, two
    Arrow passes of running sums (``_mean_update_arrow``) on the scale
    side.

    Driver rule (``_driver_fit_rows``): on the exact side, an input of
    at most ``_DRIVER_FIT_ROWS`` (32,768) non-null vectors is collected
    in one job and the seeds and every iteration run on the driver —
    the same assignment kernel per Arrow batch, ``F.avg``'s summation
    order replayed — for the same centroids. At 2,000 × 32 in 4
    partitions that is 1 Spark job and 0 Python worker tasks instead of
    3 jobs and 4 stages (1.9–3.3 s of CPU, mostly the fixed cost of
    each Python task, SCALING.md "Per-Python-task fixed cost").
    """
    if k_cells < 1 or iters < 1:
        raise ValueError(f"k_cells and iters must be >= 1, got {k_cells}, {iters}")
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    import numpy as np  # noqa: PLC0415

    vec = F.col(vec_col).cast("array<double>")
    sample = _driver_fit_rows(df, vec_col, id_col, k_cells, dim)
    seeds = _fit_seeds(df, vec, id_col, k_cells, sample)
    if not seeds:
        raise ValueError("cannot infer embedding dim from an empty/null column")
    if len(seeds) < k_cells:
        raise ValueError(f"need >= {k_cells} vectors to fit {k_cells} cells")
    if dim is None:
        # infer from the seeds collect instead of a separate .first()
        # probe — one fewer fixed-latency Spark job per fit (round 13)
        dim = len(seeds[0])
    exact = _exact_fit(k_cells, dim)

    def _norm_rows(m):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    centroids = np.array(seeds, dtype=np.float64)
    if metric == "cosine":
        centroids = _norm_rows(centroids)
    for _ in range(iters):
        new_c = centroids.copy()  # empty cells keep their old centroid
        if sample is not None:
            kernel, args = _cell_kernel(centroids, metric)
            for c, mean in sample.means(sample.assign(kernel, *args)).items():
                new_c[c] = mean
        else:
            cell = _cell_assigner(df.sparkSession, centroids.tolist(), metric)(vec)
            # null vectors take no part in the fit (their cell is null);
            # dropping them here keeps the centroid update well-defined
            members = df.filter(vec.isNotNull()).select(
                cell.alias("__c"), vec.alias("__v")
            )
            if exact:  # k rows of dim means
                sums = members.groupBy("__c").agg(
                    *[F.avg(F.col("__v")[i]).alias(f"c{i}") for i in range(dim)]
                ).collect()
                for r in sums:  # a NULL mean (no value in that dimension) keeps its coordinate
                    new_c[r["__c"]] = [
                        new_c[r["__c"]][i] if r[f"c{i}"] is None else r[f"c{i}"]
                        for i in range(dim)
                    ]
            else:
                for c, (n, s) in _mean_update_arrow(members, dim).items():
                    new_c[c] = s / n
        centroids = np.asarray(new_c, dtype=np.float64)
        if metric == "cosine":
            centroids = _norm_rows(centroids)
    return centroids.tolist()


def _cell_assigner(spark: SparkSession, centroids: list[list[float]], metric: str):
    """Metric-dispatched Arrow cell assignment: max-dot for the
    spherical tier (`_ivf_assign_pandas`), L2 argmin for the Euclidean
    tier (the `_arrow_assign_udf` kernel — |v|² drops out of the
    argmin). Both NULL-safe, ties to the lower cell id."""
    if metric == "l2":
        return _arrow_assign_udf(spark, centroids)
    return _ivf_assign_pandas(centroids)


def _cell_kernel(centroids, metric: str):
    """``(kernel, args)`` of ``_cell_assigner``: the numpy function its
    UDF runs per Arrow batch, and the centroid arguments it closes
    over, so ``ivf_fit_centroids``' driver fit runs the same code."""
    import numpy as np  # noqa: PLC0415

    c = np.asarray(centroids, dtype=np.float64)
    if metric == "l2":
        return _l2_argmin_blas, (c, (c * c).sum(axis=1))
    return _max_dot_argmax, (c.T,)


def _cell_series(vecs, dim: int, kernel, *args):
    """One Arrow batch of vectors → nullable Int32 cells: ``kernel(x,
    *args)`` over the (batch × dim) matrix, NULL for a NULL vector or
    one of another length. The body of every scalar cell-assignment UDF
    here."""
    import pandas as pd  # noqa: PLC0415

    x, null, length = _pad_rows(vecs, dim)
    cells = pd.array(kernel(x, *args), dtype="Int32")
    cells[null | (length != dim)] = pd.NA
    return pd.Series(cells)


def _max_dot_argmax(x, ct):
    """Cell of each row of ``x``: argmax of its dot product with the
    (normalized) centroids, ``ct`` = dim × k — one BLAS matmul."""
    import numpy as np  # noqa: PLC0415

    return (x @ ct).argmax(axis=1).astype(np.int32)


def _ivf_assign_pandas(centroids: list[list[float]]):
    """Arrow-batched cell assignment: argmax dot product against the
    (normalized) centroid matrix — one numpy matmul per batch, same
    rationale as ``_lsh_signatures_pandas`` (k dot products per row as
    JVM folds would be interpreted, not codegen)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    kernel, (c,) = _cell_kernel(centroids, "cosine")

    def _assign(vecs):
        return _cell_series(vecs, c.shape[0], kernel, c)

    return pandas_udf(_assign, "int")


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "ivf_cell",
    metric: str = "cosine",
) -> DataFrame:
    """Attach each vector's IVF cell id — the persistable narrow column a
    100 TB embedding store would ``partitionBy`` (or bucket by), so a
    probe becomes partition PRUNING instead of a scan. ``metric`` must
    match the fit (`ivf_fit_centroids`).

    Path: a small materialized input (``_frame_rows``) is assigned on
    the driver from one fetch — the same kernel over the same Arrow
    batches — and comes back as a ``LocalRelation`` with the Spark
    plan's rows and schema (``_cell_build``); any other input runs the
    kernel as a pandas UDF, in one task when small (``_one_task``).
    Either way a NULL vector, or one of another length than the
    centroids, gets a NULL cell; a NULL or NaN element makes every
    score NaN, so the cell is 0; ±inf is assigned as the kernel's
    arithmetic ranks it; ids are not read, so NULL and duplicate ids
    are assigned like any other row."""
    built = _cell_build(df, centroids, metric, vec_col, out)
    if built is not None:
        return built
    return _one_task(df).withColumn(
        out,
        _cell_assigner(df.sparkSession, centroids, metric)(
            F.col(vec_col).cast("array<double>")
        ),
    )


# An input whose plan statistics say it holds at most this many bytes
# runs a Python kernel in one task: each Python task costs ~0.28 s of
# fixed CPU against ~3 µs per row (SCALING.md "Per-Python-task fixed
# cost"), so at 8 MiB one task still finishes in about a second.
_ONE_TASK_BYTES = 8 << 20


def _one_task(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition when ``_fits_one_task(df)``, so
    the Python kernel a caller attaches runs in one task; else ``df``."""
    return df.coalesce(1) if _fits_one_task(df) else df


def _fits_one_task(df: DataFrame) -> bool:
    """True when ``df`` is not streaming and its optimized plan's
    ``sizeInBytes`` is at most ``_ONE_TASK_BYTES``. Spark's estimate
    only errs high where it guesses (an RDD without statistics reads as
    huge), so a large input never lands in one task."""
    if df.isStreaming:
        return False
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= _ONE_TASK_BYTES


def ivf_assign_fold(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "ivf_cell",
) -> DataFrame:
    """``ivf_assign``'s ORACLE-REPLAYABLE twin (L2 metric only): each
    squared-L2 distance is the sequential left-to-right sum DuckDB's
    ``list_sum`` replays term-for-term, ties go to the LOWER cell
    (first-index-of-min), NULL vectors get NULL cells — computed by the
    bit-exact ``_seq_l2_assign_udf`` kernel.

    Why it exists: ``ivf_fit_centroids``/``ivf_assign`` run the
    assignment through the Arrow matmul kernel — the right production
    plan, but its BLAS summation order is not value-replayable
    cross-engine, which is why the IVF family's driver oracles were
    recall BOOLEANS (q_ivf_recall) rather than value checks. With
    FIXED centroids (seeds, or a frozen fit artifact) this assigner
    makes the whole composed IVF-PQ query value-checkable — the
    q_ivfpq_topk oracle replays cell assignment, probe selection, and
    the ADC scan end to end. A JVM fold over the literal centroid
    array gives the same values but pays a k_cells × dim literal tree
    at plan construction, analysis and interpreted per-row evaluation,
    so the kernel is the only implementation (values pinned by
    ``test_ivf_assign_fold_matches_python_replay_random``).
    """
    vec = F.col(vec_col).cast("array<double>")
    return df.withColumn(out, _seq_l2_assign_udf(centroids)(vec))


def _probe_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int, metric: str
) -> list[int]:
    """Driver-side probe-cell selection (k×dim metadata, no data
    touched): nearest-by-metric, stable order.

    Distances are SEQUENTIAL left-to-right folds in IEEE double — the
    ``ivf_assign_fold`` order DuckDB's ``list_sum`` replays — not
    numpy's pairwise summation (ADVICE r13: near-tied centroid
    distances could rank probes differently cross-engine and flake the
    batch-20 value oracle, whose docstring promises "same fold order").
    The matrix is k_cells×dim driver metadata, so the Python loop costs
    microseconds and buys bit-exact oracle replay."""
    dists = []
    for cw in centroids:
        d = 0.0
        if metric == "l2":
            for x, y in zip(query_vec, cw):
                t = float(x) - float(y)
                d += t * t
        else:
            for x, y in zip(query_vec, cw):
                d -= float(x) * float(y)  # negated dot → ascending sort
        dists.append(d)
    order = sorted(range(len(dists)), key=lambda i: (dists[i], i))
    return order[: max(1, nprobe)]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    exclude_ids: tuple[int, ...] = (),
    metric: str = "cosine",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose cell is among the
    ``nprobe`` centroids nearest the query (computed driver-side from the
    k×dim centroid matrix — no data touched). With a precomputed
    ``cell_col`` the filter is a narrow column predicate (partition
    pruning when the store is partitioned by cell); otherwise cells are
    assigned on the fly (one Arrow pass).

    Recall/latency trades via nprobe/k_cells exactly like LSH's
    tables/planes; measured against the exact baseline by
    ``q_ivf_recall`` and tests. Final scoring follows ``metric``:
    cosine (descending similarity) for the spherical tier, squared L2
    (ascending, ``l2_topk``) for the Euclidean one — a mixed pair
    would rank candidates by a different geometry than the one that
    probed them. With a persisted ``cell_col``, a small materialized
    ``df`` is answered from its driver copy.
    """
    probe_cells = _probe_cells(centroids, query_vec, nprobe, metric)
    score = "l2" if metric == "l2" else "cosine"
    if cell_col is not None:
        out = _driver_topk(df, query_vec, k, id_col, exclude_ids, score, vec_col,
                           probe=([cell_col], [probe_cells]))
        if out is not None:
            return out
    else:
        df = ivf_assign(df, centroids, vec_col, "__ivf_cell", metric)
        cell_col = "__ivf_cell"
    probed = df.filter(_sql_probe(cell_col, probe_cells)).drop("__ivf_cell")
    if metric == "l2":
        return _l2_topk(probed, query_vec, k, id_col, vec_col, exclude_ids)
    return _cosine_topk(probed, query_vec, k, id_col, vec_col, exclude_ids)


def ivf_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    exclude_query_ids: bool = True,
    metric: str = "cosine",
    round_dp: int = 6,
) -> DataFrame:
    """Batched ``ivf_topk`` — the raw-vector IVF tier's serving form.
    Per-query probe cells are selected driver-side; the store is
    scanned ONCE over the UNION of all probed cells (directory pruning
    when ``cell_col`` is the partition column); each query scores only
    ITS OWN probed rows. Output (query_id, id_col, l2|cos_sim),
    per-query rows identical to ``ivf_topk`` (parity-tested).

    One ``_batched_topk`` pass over the union-pruned scan: the
    ``l2_topk_multi``/``cosine_topk_multi`` matmul score block, masked
    per query to its own probed cells.
    """
    qids = _query_ids(queries)
    probes = {qid: _probe_cells(centroids, queries[qid], nprobe, metric) for qid in qids}
    work = df
    if cell_col is None:
        work = ivf_assign(work, centroids, vec_col, "__ivf_cell", metric)
        cell_col = "__ivf_cell"
    scoped = work.filter(F.col(cell_col).isin(sorted(set().union(*probes.values()))))
    score = _in_probed_cells(
        _matmul_scores(queries, qids, vec_col, metric), probes, qids, len(centroids), cell_col
    )
    l2 = metric == "l2"
    return _batched_topk(
        scoped, [vec_col, cell_col], qids, score, k, id_col, "l2" if l2 else "cos_sim",
        round_dp if l2 else 4, exclude_query_ids, ascending=l2,
    )


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    num_tables: int = 1,
    radius: int = 1,
    exclude_ids: tuple[int, ...] = (),
    sig_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    Hamming distance ≤ ``radius`` of the query's bucket in ANY of
    ``num_tables`` independent hash tables (standard SRP-LSH OR-of-ANDs
    amplification, Charikar 2002 / Indyk–Motwani 1998).

    Recall math (public SRP result): a neighbor at cosine θ matches one
    plane with p = 1 − θ/π; a table probes it with
    P₁ = Σ_{i≤radius} C(planes,i) (1−p)^i p^(planes−i); L tables give
    recall ≈ 1 − (1 − P₁)^L. Tune (planes, radius, tables) per corpus —
    high-sim corpora need 1 table; near-uniform fixtures need several.

    At scale: the L signatures are narrow persistable columns you'd
    bucket-by; a query touches only the union of probed buckets —
    ~L·Σ_{i≤r} C(planes,i)/2^planes of the data instead of all of it.
    Exactness is traded for that pruning — measure recall against
    ``cosine_topk`` (tests and q_ann_recall do).

    ``sig_cols`` (round 14) names PERSISTED signature columns — the
    production form the bench measured: re-hashing the corpus per query
    was the dominant sequential cost (SCALING round-14 addendum), so a
    real store writes the L signature columns once (``lsh_signature``
    with the SAME (num_planes, dim, seed) table derivation — the caller
    owns that contract) and queries skip the hashing pass entirely;
    ``num_tables`` is then ``len(sig_cols)``. Write the store with
    ``lsh_persist_signatures`` — it owns the canonical derivation and
    this entry point validates the handoff (columns exist + integral).
    """
    if sig_cols is not None:
        _validate_sig_cols(df, sig_cols)
        num_tables = len(sig_cols)
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    dim = len(query_vec)
    persisted = sig_cols is not None
    if not persisted:
        # collision-safe temp-column prefix: user frames may legitimately
        # carry columns named lsh_sig_* (e.g. persisted signatures)
        sig_cols = [f"__ann_lsh_sig_{t}" for t in range(num_tables)]
    planes_t = [
        _hyperplanes(num_planes, dim, seed + 1000003 * t) for t in range(num_tables)
    ]
    balls = [
        _hamming_ball(_lsh_query_sig(query_vec, planes), num_planes, radius)
        for planes in planes_t
    ]
    if persisted:
        out = _driver_topk(df, query_vec, k, id_col, exclude_ids, "cosine", vec_col,
                           probe=(sig_cols, balls))
        if out is not None:
            return out
    # the probe is a membership test against the driver-enumerated
    # Hamming ball, not a scan-side bit_count(sig ^ qsig): the query
    # signature would be inlined into generated code (one new class per
    # request), while the IN list becomes an InSet held by reference
    probe_any = " OR ".join(_sql_in(col, ball) for col, ball in zip(sig_cols, balls))
    sigs = df
    if not persisted:
        sigs = df.withColumns(
            {col: lsh_signature(vec_col, planes) for col, planes in zip(sig_cols, planes_t)}
        )
    probe = sigs.filter(probe_any)
    if not persisted:
        probe = probe.drop(*sig_cols)
    return _cosine_topk(probe, query_vec, k, id_col, vec_col, exclude_ids)


def lsh_persist_signatures(
    df: DataFrame,
    num_planes: int = 8,
    num_tables: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    prefix: str = "lsh_sig",
    dim: int | None = None,
) -> tuple[DataFrame, list[str]]:
    """Attach the CANONICAL persisted SRP signature columns — the
    helper that owns the ``sig_cols`` contract (ADVICE r14: the
    derivation ``_hyperplanes(num_planes, dim, seed + 1000003·t)`` in
    sig_cols order was private, so a store written under any other
    seed or table order silently probed wrong buckets). Write a store
    with THIS, then serve with ``ann_lsh_topk(..., sig_cols=cols)`` /
    ``ann_lsh_topk_multi(..., sig_cols=cols)`` under the SAME
    (num_planes, seed) — the query-side signatures are derived
    identically per table index, so matching is guaranteed by
    construction instead of by convention.

    Returns ``(frame_with_columns, column_names)``; column t is
    ``{prefix}_{t}``. ``dim`` defaults to the first non-null vector's
    length (one metadata-sized probe job — pass it explicitly in
    pipelines that know their width).

    Scale: this is the ONE hashing pass over the corpus (the dominant
    sequential-serving cost the round-14 bench measured — 119× when
    amortized away); persist/bucket the output by a signature column
    and every future probe is narrow-column pruning.

    Path: a small materialized input (``_frame_rows``) is signed on the
    driver from one fetch, each dot product the SQL fold replayed term
    for term, and comes back as a ``LocalRelation`` with the Spark
    plan's rows and schema (``_sign_build``); ``dim=None`` then reads
    the first non-null vector's length from the fetched rows instead of
    a probe job. Any other input gets the ``lsh_signature`` columns, a
    lazy Spark plan. Either way a NULL vector, a NULL element or a
    length other than ``dim`` makes every dot product NULL and the
    signature 0; a NaN dot product (a NaN element, inf·0, inf − inf)
    sets its bit, as Spark orders NaN above every number; ids are not
    read, so NULL and duplicate ids are signed like any other row."""
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    cols = [f"{prefix}_{t}" for t in range(num_tables)]
    built = _sign_build(df, num_planes, seed, vec_col, cols, dim)
    if built is not None:
        return built, cols
    if dim is None:
        row = (  # one row
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        if row is None:
            raise ValueError(f"no non-null {vec_col} rows to derive dim from")
        dim = int(row[0])
    out = df.withColumns(
        {
            col: lsh_signature(vec_col, _hyperplanes(num_planes, dim, seed + 1000003 * t))
            for t, col in enumerate(cols)
        }
    )
    return out, cols


def _validate_sig_cols(df: DataFrame, sig_cols: list[str]) -> None:
    """Fail fast on a malformed persisted-signature handoff (ADVICE
    r14): missing columns meant a typo'd store, non-integral columns
    mean it was not written by ``lsh_signature`` — either way recall
    would silently collapse to near-zero with no error."""
    if not sig_cols:
        raise ValueError("sig_cols must name at least one column")
    missing = [c for c in sig_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"sig_cols not in frame: {missing} (have {df.columns}) — "
            "write the store with lsh_persist_signatures"
        )
    bad = [
        (c, df.schema[c].dataType.simpleString())
        for c in sig_cols
        if df.schema[c].dataType.simpleString() not in _INTEGRAL_TYPES
    ]
    if bad:
        raise ValueError(
            f"sig_cols must be integral signature columns, got {bad} — "
            "write the store with lsh_persist_signatures"
        )


def _lsh_query_sig(query_vec: list[float], planes: list[list[float]]) -> int:
    """The query's SRP signature under one table's hyperplanes —
    driver-side ints, the same sign rule ``lsh_signature`` compiles."""
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(q * x for q, x in zip(query_vec, plane)) >= 0:
            qsig |= 1 << p
    return qsig


def _hamming_ball(sig: int, num_planes: int, radius: int) -> list[int]:
    """Every signature within Hamming distance ≤ radius of ``sig`` —
    Σ_{i≤r} C(planes, i) driver-side ints (9 at planes=8/radius=1),
    so a probe set is an ``isin`` literal list, never a scan-side
    popcount."""
    from itertools import combinations  # noqa: PLC0415

    ball = [sig]
    for r in range(1, radius + 1):
        for bits in combinations(range(num_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            ball.append(sig ^ m)
    return ball


def ann_lsh_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    num_tables: int = 1,
    radius: int = 1,
    exclude_query_ids: bool = True,
    sig_cols: list[str] | None = None,
) -> DataFrame:
    """Batched ``ann_lsh_topk`` — the SRP-LSH tier's serving form. The
    L signature columns are computed ONCE for the whole frame (the
    expensive pass at 100 TB — or already persisted as bucket columns),
    the scan is filtered to the UNION of every query's probed buckets,
    and each query scores only ITS OWN Hamming-ball rows. Output
    (query_id, id_col, cos_sim), per-query rows identical to
    ``ann_lsh_topk`` (parity-tested).

    One ``_batched_topk`` pass: the ``cosine_topk_multi`` matmul score
    block, each query's mask an ``isin`` against its driver-enumerated
    Hamming ball (Σ_{i≤r} C(planes, i) ints per table — probe-set
    literals, never a scan-side popcount).

    ``sig_cols`` names PERSISTED signature columns (the ``ann_lsh_topk``
    contract: written by ``lsh_signature`` under the same
    (num_planes, dim, seed) derivation) — the whole batch then skips
    the hashing pass, the dominant cost the round-14 bench measured.
    """
    import numpy as np  # noqa: PLC0415

    qids = _query_ids(queries)
    if sig_cols is not None:
        _validate_sig_cols(df, sig_cols)
        num_tables = len(sig_cols)
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    dim = len(queries[qids[0]])
    persisted = sig_cols is not None
    if not persisted:
        sig_cols = [f"__ann_lsh_sig_{t}" for t in range(num_tables)]
    tables = [  # (col, planes)
        (col, _hyperplanes(num_planes, dim, seed + 1000003 * t))
        for t, col in enumerate(sig_cols)
    ]
    sigs = df
    if not persisted:
        sigs = df.withColumns({col: lsh_signature(vec_col, planes) for col, planes in tables})
    # per (query, table): the query's signature and its probe ball
    balls = {
        qid: [
            _hamming_ball(
                _lsh_query_sig(queries[qid], planes), num_planes, radius
            )
            for _, planes in tables
        ]
        for qid in qids
    }
    union_probe = F.lit(False)
    for ti, (col, _) in enumerate(tables):
        union_ball = sorted({b for qid in qids for b in balls[qid][ti]})
        union_probe = union_probe | F.col(col).isin(union_ball)
    scores = _matmul_scores(queries, qids, vec_col, "cosine")

    def score(pdf):
        rows, s, _ = scores(pdf)
        ok = np.zeros(s.shape, dtype=bool)
        for ti, col in enumerate(sig_cols):
            sig = pdf[col].to_numpy()[rows].astype(np.int64)
            for qi, qid in enumerate(qids):
                ok[:, qi] |= np.isin(sig, balls[qid][ti])
        return rows, s, ok

    return _batched_topk(
        sigs.filter(union_probe), [vec_col, *sig_cols], qids, score, k, id_col,
        "cos_sim", 4, exclude_query_ids, ascending=False,
    )


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic Euclidean k-means corpus clustering (plain Lloyd —
    the domain-discovery / cluster-balanced-mixing companion to the
    spherical ``ivf_fit_centroids`` quantizer): centroids seed from the
    ``k`` lowest-id vectors (data-derived, no RNG), iterations are
    fixed-count, and every updated centroid coordinate is ROUNDED to
    ``round_dp`` decimals — that rounding is what makes the whole
    trajectory exactly replayable cross-engine (a DuckDB oracle
    re-derives every iteration; un-rounded averages differ in the last
    ulp between engines/summation orders and the argmin near a
    boundary would flip). Returns (id_col, cluster) for EVERY input
    row — cluster is the seed index 0..k-1, NULL for NULL vectors.
    Empty clusters keep their previous centroid. Distance ties break
    to the lower cluster id.

    Scale: centroids are driver metadata (k × dim floats — the only
    thing collected); each iteration is one narrow assignment pass +
    one mean update that collects k × dim rounded means.

    Every assignment pass and mean update follows ``_exact_fit(k,
    dim)`` (k × dim ≤ 4096, dim ≤ 256). Exact side, the oracle path:
    ``_seq_l2_assign_udf`` and per-dimension ``F.round(F.avg)``. Scale
    side: ``_arrow_assign_udf`` and ``_mean_update_arrow`` (means
    rounded by ``_round_half_up_np``), where BLAS summation order can
    flip a vector equidistant to two centroids at the last ulp.

    Driver rule (``_driver_fit_rows``): on the exact side, an input of
    at most ``_DRIVER_FIT_ROWS`` (32,768) non-null vectors is collected
    in one job and the seeds and every iteration run on the driver —
    ``_l2_argmin_seq``, ``F.avg``'s summation order replayed, means
    rounded by ``_pq_half_up`` (``F.round``'s HALF_UP) — for the same
    centroids: one Spark job instead of two per iteration plus the
    seeds job, and no Python worker task (SCALING.md "Per-Python-task
    fixed cost"). The final labeling stays a lazy Spark plan.
    """
    return _kmeans(df, k, iters, id_col, vec_col, round_dp)[0]


def _kmeans(df: DataFrame, k: int, iters: int, id_col: str, vec_col: str,
            round_dp: int) -> tuple[DataFrame, bool]:
    """``kmeans``' body: (assignment frame, ``_exact_fit(k, dim)``), so
    ``semdedup`` picks its pair stage from the fit it already runs."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got {k}, {iters}")
    import numpy as np  # noqa: PLC0415

    vec = F.col(vec_col).cast("array<double>")
    sample = _driver_fit_rows(df, vec_col, id_col, k, None)
    seeds = _fit_seeds(df, vec, id_col, k, sample)
    if len(seeds) < k:
        raise ValueError(f"need >= {k} non-null vectors, got {len(seeds)}")
    cents = [[round(float(x), round_dp) for x in v] for v in seeds]
    dim = len(cents[0])
    exact = _exact_fit(k, dim)

    def assign(cents: list[list[float]]):
        """(assignment Column, broadcast handle or None) for one pass."""
        if exact:
            return _seq_l2_assign_udf(cents)(vec), None
        udf, bc = _arrow_assign_udf(df.sparkSession, cents, return_handle=True)
        return udf(vec), bc

    for _ in range(iters):
        if sample is not None:
            cells = sample.assign(_l2_argmin_seq, np.asarray(cents, dtype=np.float64))
            updated = {
                c: [_pq_half_up(float(x), round_dp) for x in mean]
                for c, mean in sample.means(cells).items()
            }
        else:
            assign_col, iter_bc = assign(cents)
            members = df.filter(vec.isNotNull()).select(
                assign_col.alias("__c"), vec.alias("__v")
            )
            if exact:  # k rows of dim means
                means = members.groupBy("__c").agg(
                    *[
                        F.round(F.avg(F.col("__v")[i]), round_dp).alias(f"c{i}")
                        for i in range(dim)
                    ]
                ).collect()
                updated = {  # a NULL mean keeps the centroid's coordinate
                    r["__c"]: [
                        cents[r["__c"]][i] if r[f"c{i}"] is None else float(r[f"c{i}"])
                        for i in range(dim)
                    ]
                    for r in means
                }
            else:
                upd = _mean_update_arrow(members, dim)
                updated = {
                    c: _round_half_up_np(sums / n, round_dp).tolist()
                    for c, (n, sums) in upd.items()
                }
            if iter_bc is not None:
                # this pass's centroid broadcast was consumed by the
                # mean-update collect above — release the executor copies
                # now instead of waiting on GC to reach the ContextCleaner
                iter_bc.unpersist()
        cents = [updated.get(cid, cvec) for cid, cvec in enumerate(cents)]
    # the FINAL labeling's broadcast must stay alive: it ships with the
    # returned (lazy) plan
    final_col, _final_bc = assign(cents)
    labels = df.select(
        F.col(id_col),
        F.when(vec.isNotNull(), final_col).alias("cluster"),
    )
    return labels, exact


def _mean_update_arrow(members: DataFrame, dim: int) -> dict:
    """Per-cell centroid mean update as TWO Arrow passes — the wide-dim
    escape hatch for the ``groupBy(cell).agg(dim × F.avg(__v[i]))``
    update, whose per-dimension aggregate EXPRESSIONS stop scaling as
    dim grows (measured: at dim=1024/n=20k the agg form OOMs the 1 GiB
    local JVM outright while this path completes — SCALING.md
    "Round 12: wide-dim centroid update").

    Stage 1 (``mapInPandas``): each Arrow batch reduces to at most k
    partial rows (cell, count, dim-wide running sum) — one numpy
    ``sum(axis=0)`` per cell present in the batch, so the shuffle
    carries O(batches × k) dim-wide rows, never the corpus. Stage 2
    folds per cell (``applyInPandas``); above 64 producing partitions a
    SALTED pre-fold runs first — partials combine per
    (cell, partition-id % 64) group, so the final per-cell group sees
    at most 64 rows regardless of task count: a 10⁶-task fit feeds the
    hot cell ~15k-row salted groups, then a 64-row final group, never a
    million-row pandas frame. (Below the salt width the pre-fold is
    pure stage latency — ~1.5 s measured — so it is skipped.) Exactly
    k rows — the k × dim centroid matrix that reaches the driver
    anyway — are collected.

    Float caveat (same as the Arrow assignment kernel): partial sums
    add in batch order, not the agg's shuffle order — last-ulp
    differences vs the JVM agg are expected; a NULL ELEMENT inside a
    vector becomes NaN and poisons its cell's mean for that dimension
    (the agg form's per-dimension null-skip is the oracle behavior).

    ``members`` must be (``__c`` int cell, ``__v`` array<double>) with
    whole-NULL vectors already filtered (kmeans/IVF both do); a vector
    of another length than ``dim`` is skipped, as its NULL cell is. Returns
    {cell: (count, np.ndarray sums)} — empty cells simply absent.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    part_schema = T.StructType(
        [
            T.StructField("__c", T.IntegerType()),
            T.StructField("__cnt", T.LongType()),
            T.StructField("__sums", T.ArrayType(T.DoubleType())),
        ]
    )

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["__c"].to_numpy()
            m, null, length = _pad_rows(pdf["__v"], dim)
            keep = ~null & (length == dim)
            out_c, out_n, out_s = [], [], []
            for c in np.unique(cells[keep]):
                sel = keep & (cells == c)
                out_c.append(int(c))
                out_n.append(int(sel.sum()))
                out_s.append(m[sel].sum(axis=0).tolist())
            yield pd.DataFrame({"__c": out_c, "__cnt": out_n, "__sums": out_s})

    partials = members.mapInPandas(_partials, schema=part_schema)

    def _combine(key, pdf):
        s = np.array(pdf["__sums"].tolist(), dtype=np.float64).sum(axis=0)
        return pd.DataFrame(
            {
                "__c": [int(key[0])],
                "__cnt": [int(pdf["__cnt"].sum())],
                "__sums": [s.tolist()],
            }
        )

    def _combine_salted(key, pdf):
        out = _combine((key[0],), pdf)
        out["__salt"] = np.int32(key[1])
        return out

    # the salted pre-fold only pays for itself when MANY tasks feed the
    # same cell; below the salt width each (cell, salt) group would hold
    # ~1 row and the extra stage is pure latency (~1.5 s measured)
    if partials.rdd.getNumPartitions() > 64:
        partials = (
            partials.withColumn(
                "__salt", F.pmod(F.spark_partition_id(), F.lit(64))
            )
            .groupBy("__c", "__salt")
            .applyInPandas(
                _combine_salted,
                # NOT part_schema.add(...): StructType.add mutates in
                # place and would pollute the final combine's schema
                schema=T.StructType(
                    list(part_schema.fields)
                    + [T.StructField("__salt", T.IntegerType())]
                ),
            )
            .drop("__salt")
        )
    combined = partials.groupBy("__c").applyInPandas(_combine, schema=part_schema)
    return {  # k rows: one (count, dim sums) per cell
        r["__c"]: (r["__cnt"], np.asarray(r["__sums"], dtype=np.float64))
        for r in combined.collect()
    }


def _semdedup_pairs_kernel(
    v: DataFrame,
    id_col: str,
    threshold: float,
    cos_dp: int,
    block: int = 2048,
) -> DataFrame:
    """The giant-cluster pair stage for ``semdedup`` — one
    ``applyInPandas`` group per cluster, counting for every member the
    LOWER-id members whose rounded cosine reaches ``threshold``.

    ``v`` is semdedup's normalized frame: (id_col, __u unit vector,
    cluster). Cosine of unit vectors is a plain dot product, so the
    whole cluster reduces to U @ Uᵀ — computed in ROW BLOCKS of
    ``block`` so peak memory is block×m×8 bytes instead of m²×8 (a
    10⁴-member cluster: 160 MB per block vs 800 MB for the full
    matrix). Corrupt vectors (NULL elements → NaN after the float
    cast) propagate NaN cosines whose comparisons are False — never
    flagged, never counted as anyone's earlier dup, exactly the join
    form's NULL-cosine semantics. Only ids with a positive count are
    returned (the join form's sparse dup_counts contract). Rounding
    matches Spark ``F.round`` (HALF_UP, half away from zero) rather
    than numpy's default round-half-to-even, so exact half-way values
    at ``cos_dp`` agree with the join form; the only remaining parity
    caveat is BLAS summation ORDER inside the dot product itself.

    Scale: the shuffle is the SAME cluster-keyed exchange the join
    form pays (one partition per cluster group); what changes is the
    per-pair cost — a BLAS fused multiply-add instead of O(dim)
    interpreted lambda steps. Crossover vs the join form is measured
    in SCALING.md ("Round 10: semdedup pair-stage crossover").
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    out_schema = T.StructType(
        [
            T.StructField(id_col, v.schema[id_col].dataType),
            T.StructField("n_dups_earlier", T.IntegerType()),
        ]
    )

    def _pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort")
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({id_col: pdf[id_col].iloc[:0], "n_dups_earlier": []})
        u = np.array(pdf["__u"].tolist(), dtype=np.float64)
        counts = np.zeros(m, dtype=np.int64)
        scale = 10.0 ** cos_dp
        for start in range(0, m, block):
            end = min(start + block, m)
            dots = u[start:end] @ u.T
            # HALF_UP (away from zero) to match Spark F.round, not
            # numpy's banker's rounding; NaN propagates through both
            # sign and floor, keeping corrupt-vector semantics.
            sims = np.sign(dots) * np.floor(np.abs(dots) * scale + 0.5) / scale
            earlier = np.arange(m)[None, :] < np.arange(start, end)[:, None]
            counts[start:end] = ((sims >= threshold) & earlier).sum(axis=1)
        hit = counts > 0
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy()[hit],
                "n_dups_earlier": counts[hit].astype(np.int32),
            }
        )

    return (
        v.select(id_col, "__u", "cluster")
        .groupBy("cluster")
        .applyInPandas(_pairs, out_schema)
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cos_dp: int = 4,
    materialize: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public method): k-means-cluster the embedding corpus, compare
    cosine similarity only WITHIN each cluster, and drop every vector
    that is ≥ ``threshold``-similar to a LOWER-id member of its
    cluster (the deterministic stand-in for the paper's arbitrary
    keeper choice). Returns (id_col, cluster, n_dups_earlier, kept)
    for every input row — the annotate-then-filter shape of the
    quality ladder, so attrition stays auditable. NULL vectors get a
    NULL cluster and are kept (nothing to compare).

    This is the embedding-space complement of the surface near-dup
    ladder: MinHash/SimHash find docs sharing n-grams; semdedup finds
    semantic copies sharing none (translations, templated rewrites) —
    ``dedup.semantic_dupes``'s exact O(n²) baseline made scalable by
    the cluster partition.

    Scale: the whole point of the method — the O(n²) pairwise cosine
    is fenced inside clusters, so work is sum over clusters of
    |cluster|² instead of n². Production k grows with corpus
    (SemDeDup used 50k clusters for LAION) keeping clusters small and
    bounded; the pair join is an equi-join on cluster id (one shuffle
    keyed by cluster — skewed clusters hurt, which is an argument for
    larger k, not salting: the cap IS the cluster size). The k-means
    fit itself collects only k×dim centroid metadata
    (``similarity.kmeans``).

    Precision knobs (ADVICE r9): ``round_dp`` governs ONLY the k-means
    centroid trajectory (forwarded to ``kmeans`` — the cross-engine
    ulp fence, NOTES.md); ``cos_dp`` governs the pairwise cosine that
    feeds the threshold decision. They are separate because the
    batch-17 oracle pins the cosine at 4 dp — changing ``round_dp``
    must not silently move the similarity rounding.

    The pair stage follows the k-means fit's ``_exact_fit(k, dim)``
    (k × dim ≤ 4096, dim ≤ 256). Exact side, the oracle path: a self
    equi-join on cluster id, one interpreted dot fold per pair. Scale
    side: ``_semdedup_pairs_kernel``'s blocked BLAS matmul per
    cluster, where a pair exactly on the ``cos_dp`` rounding boundary
    could flip; one cluster (m×dim float64) must fit an executor task.
    """
    if not 0.0 < threshold <= 1.0:
        # strictly positive: at 0.0 every zero-norm vector would pair
        # with its whole cluster through cos 0.0 >= 0.0 — similarity
        # zero is the definition of NOT a duplicate
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    assign, exact = _kmeans(df, k, iters, id_col, vec_col, round_dp)
    if materialize:
        # the assignment (a k×dim argmin per row) feeds the pair join
        # TWICE (both sides) and the output join once — materialize the
        # narrow (id, cluster) rows instead of running the assignment
        # three times (opt-in, keeps the operator lazy)
        assign = assign.localCheckpoint(eager=True)
    # UNIT-normalize once per vector (O(n) folds), so the pair stage —
    # the O(Σ|cluster|²) hot path — is a single dot fold per pair
    # instead of dot + two norm folds: cosine(a, b) == dot(â, b̂). The
    # oracle replays the same normalize-then-dot form so the float
    # path matches operation for operation.
    vec = F.col(vec_col).cast("array<double>")
    v = (
        df.select(F.col(id_col), vec.alias("__v"))
        # norm routed through its own column FIRST: referencing norm()
        # inside the transform lambda would re-run the whole fold per
        # element (interpreted HOFs share no subexpressions — NOTES.md).
        # Zero-norm vectors map to the zero unit vector (x/0.0 would be
        # NULL/NaN and silently skip even byte-identical zero pairs;
        # dot(0⃗, ·) = 0 never reaches the required-positive threshold —
        # defined, deterministic, and replayed by the oracle's CASE).
        # A NULL norm (a NULL ELEMENT inside the vector — corrupt
        # input) falls through BOTH whens to NULL elements: corruption
        # propagates as NULL cosine → never flagged, never rewritten
        # to a fake zero vector.
        .withColumn("__n", norm(F.col("__v")))
        .select(
            F.col(id_col),
            F.transform(
                F.col("__v"),
                lambda x: F.when(F.col("__n") > 0, x / F.col("__n"))
                .when(F.col("__n") == 0, F.lit(0.0)),
            ).alias("__u"),
        )
        .join(assign, id_col)
        .filter(F.col("cluster").isNotNull())
    )
    if materialize:
        v = v.localCheckpoint(eager=True)
    if not exact:
        dup_counts = _semdedup_pairs_kernel(v, id_col, threshold, cos_dp)
    else:
        # Pair-stage parallelism (round 16): the (id, cluster, unit)
        # rows are bytes-tiny but each joined pair costs a dim-length
        # interpreted dot fold, so AQE's byte-based coalescing starves
        # the pair stage (observed 1 task carrying 1.3 s of executor
        # CPU at sf0.1 — the q_lsh_cosine_near_pairs disease in
        # miniature). An explicit NUMBERED repartition on the join key
        # is exempt from coalescing and satisfies the join requirement
        # on both sides, so no extra exchange appears in the join
        # itself; width follows defaultParallelism, not a local
        # constant.
        v = v.repartition(
            v.sparkSession.sparkContext.defaultParallelism, F.col("cluster")
        )
        a, b = v.alias("a"), v.alias("b")
        dup_counts = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"b.{id_col}").alias(id_col),
                F.round(dot(F.col("a.__u"), F.col("b.__u")), cos_dp).alias("__cos"),
            )
            .filter(F.col("__cos") >= threshold)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_dups_earlier"))
        )
    return (
        assign.join(dup_counts, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(F.col("n_dups_earlier"), F.lit(0)).alias("n_dups_earlier"),
            (F.coalesce(F.col("n_dups_earlier"), F.lit(0)) == 0)
            .cast("int")
            .alias("kept"),
        )
    )


def _arrow_assign_udf(spark: SparkSession, centroids: list[list[float]],
                      return_handle: bool = False):
    """The Arrow L2 argmin-assignment kernel as a reusable scalar
    pandas_udf — shared by ``ivf_assign(metric="l2")`` (one-shot
    assignment against fixed centroids) and the scale side of
    ``kmeans`` (one fresh UDF per Lloyd iteration, each closing over
    that iteration's centroid matrix). NULL vector → NULL, distance
    ties → the lower id (``np.argmin`` returns the first minimum).

    One batched matmul per Arrow batch: argmin_c |v−c|² = argmin_c
    (|c|² − 2·v·c) — |v|² is constant per row and drops out, so the
    kernel computes V @ Cᵀ once ((batch × dim) @ (dim × k)) plus a
    k-vector of centroid norms. BLAS sums in a different order than
    the sequential fold, so this is not the oracle path.

    A centroid matrix over ``_BROADCAST_BYTES`` (1 MiB, where PySpark
    would broadcast the pickled closure anyway) ships once per
    executor as a broadcast variable; a smaller one rides the closure.
    ``return_handle=True`` returns ``(udf, broadcast-or-None)`` so
    kmeans' Lloyd loop can ``unpersist()`` each iteration's copy (400
    MB at SemDeDup's 50k × 10³) instead of waiting on Python GC."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    shape = np.shape(centroids)
    if len(shape) != 2 or shape[0] < 1:
        raise ValueError(f"need a non-empty k x dim centroid matrix, got {shape}")
    kernel, (cmat, cnorm2) = _cell_kernel(centroids, "l2")
    dim = cmat.shape[1]

    # the two transports are SEPARATE closures: a shared body with a
    # broadcast-or-matrix fallback would capture the matrix in the
    # closure either way and defeat the broadcast
    bc = None
    if cmat.nbytes > _BROADCAST_BYTES:
        bc = spark.sparkContext.broadcast((cmat, cnorm2))

        def _assign(vecs):
            return _cell_series(vecs, dim, kernel, *bc.value)

    else:

        def _assign(vecs):
            return _cell_series(vecs, dim, kernel, cmat, cnorm2)

    udf = pandas_udf(_assign, "int")
    return (udf, bc) if return_handle else udf


def _l2_argmin_blas(x, c, cnorm2):
    """Nearest of the k × dim centroids ``c`` to each row of ``x`` by
    the BLAS expansion ``|c|² − 2·x·c`` (``cnorm2`` = the k squared
    centroid norms), first minimum on ties. The kernel of
    ``_arrow_assign_udf`` and of the scale side of ``_pq_codes``."""
    import numpy as np  # noqa: PLC0415

    return (cnorm2[None, :] - 2.0 * (x @ c.T)).argmin(axis=1).astype(np.int32)


# =============================================================================
# Product quantization (PQ) — the memory-compression ANN tier
# =============================================================================

# _pq_half_up's context: 400 digits hold any double quantized to any dp
# up to ~90, as BigDecimal's unbounded precision does
_HALF_UP_CTX = Context(prec=400)


def _pq_half_up(x: float, dp: int) -> float:
    """Python-side HALF_UP rounding PROVABLY matching Spark ``F.round``:
    Spark rounds via ``BigDecimal.valueOf(d)`` (= the shortest decimal
    string ``Double.toString`` emits) ``.setScale(dp, HALF_UP)``;
    Python's ``repr(float)`` is the same shortest round-trip decimal,
    so ``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)`` reproduces the
    JVM result digit-for-digit — including the values where the old
    ``floor(|x|*scale + 0.5)`` spelling diverged because ``|x|*scale``
    FP-rounds across the .5 boundary (e.g. 80.585*100 = 8058.4999…9 →
    floor gives 80.58 while BigDecimal HALF_UP on the shortest decimal
    80.585 gives 80.59 — ADVICE r12 item 3; pinned by
    ``test_pq_half_up_matches_spark_round``. NOT the folklore 2.675:
    ITS product rounds to exactly 267.5, so the spellings agree there —
    measured r14). Python's builtin
    ``round`` is banker's and diverges on every exact .5.

    DuckDB ``ROUND`` stays the one intentional third party: it rounds
    the scaled DOUBLE, so on adversarial boundary values it can differ
    from BigDecimal — the oracle fixtures absorb that (documented
    cross-engine risk); what this function guarantees is that the
    Python seed path and the Spark iteration path can never disagree
    with EACH OTHER."""
    if not math.isfinite(x):
        return x  # F.round passes NaN and ±inf through
    q = Decimal(1).scaleb(-dp)
    # + 0.0: BigDecimal has no −0, so F.round(-1e-9, 6) is +0.0
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP, context=_HALF_UP_CTX)) + 0.0


def _round_half_up_np(arr, dp: int):
    """ONE vectorized HALF_UP kernel shared by every Arrow path
    (``_batched_topk``, the one engine of the ``*_topk_multi`` family,
    and the scale-side ``kmeans`` mean update — ADVICE r13:
    private copies had already drifted on sign handling).

    Rounds the scaled DOUBLE: ``floor(|x|·10^dp + 0.5)·sign(x)/10^dp``,
    with exact zeros forced to +0.0. This is deliberately NOT
    bit-identical to ``_pq_half_up``/Spark ``F.round`` on the
    measure-zero boundary set where ``|x|·10^dp`` FP-rounds across the
    .5 boundary (80.585·100 = 8058.4999…9 → this kernel 80.58,
    BigDecimal HALF_UP on the shortest decimal 80.585 gives
    80.59): the batched top-k trades that last-ulp boundary for the
    single-scan vectorized plan. The divergence is pinned by
    ``test_round_half_up_np_boundary_divergence``. The single-query
    operators and the exact-side ``kmeans`` round with ``F.round`` exactly;
    the batched oracles (batches 20–22) are value-checked against this
    kernel's answers on the fixtures."""
    import numpy as np  # noqa: PLC0415

    scale = 10.0 ** dp
    out = np.floor(np.abs(arr) * scale + 0.5) / scale * np.sign(arr)
    out[arr == 0.0] = 0.0
    return out


def pq_fit(
    df: DataFrame,
    m: int = 4,
    k_sub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks (Jégou et al. 2011, public):
    split each dim-d vector into ``m`` contiguous subvectors and run an
    independent deterministic Lloyd per subspace — returns
    ``codebooks[j][c]`` = subspace j's codeword c (k_sub × dim/m each).

    PQ is the memory tier of the ANN ladder next to SRP-LSH
    (``ann_lsh_topk``) and IVF (``ivf_fit_centroids``): a dim-64
    float32 vector is 256 bytes; its PQ code is ``m`` small ints —
    with m=8/k_sub=256 that is 8 bytes, a 32× compression that lets a
    100 TB embedding store scan codes instead of vectors
    (``pq_adc_topk``). Fit on a SAMPLE at scale (same practice as
    ``ivf_fit_centroids``); encoding the full corpus is one narrow
    pass.

    Deterministic by the ``kmeans`` discipline so the whole trajectory
    is value-replayable cross-engine: seeds = the ``k_sub`` lowest-id
    vectors' subvectors (HALF_UP-rounded to ``round_dp``), fixed-count
    iterations, per-iteration codeword means HALF_UP-rounded, empty
    codes keep their previous codeword, argmin ties to the lower code.

    Scale: ALL m subspaces update in ONE job per iteration — the m
    per-subspace assignments are computed in a single narrow pass
    (explode of m (j, code, subvec) structs) feeding a single
    groupBy(j, code) partial-agg; only m × k_sub × dim/m rounded
    doubles (the codebooks) ever reach the driver.

    Each iteration's argmin follows ``_exact_fit(k_sub, dim)`` (k_sub ×
    dim ≤ 4096, dim ≤ 256), as ``pq_encode`` does: ``_pq_codes``'
    bit-exact sequential sums or its BLAS expansion. The mean agg is
    shared: sub stays small, so its width never walls.

    Driver rule (``_driver_fit_rows``): on the exact side, an input of
    at most ``_DRIVER_FIT_ROWS`` (32,768) non-null vectors is collected
    in one job and the seeds and every iteration run on the driver —
    ``_pq_codes`` per Arrow batch, ``F.avg``'s summation order
    replayed, means rounded by ``_pq_half_up`` — for the same
    codebooks. At 2,000 × 32 in 4 partitions that is 1 Spark job and 0
    Python worker tasks instead of 3 jobs and 4 stages (1.9–3.2 s of
    CPU, mostly the fixed cost of each Python task, SCALING.md
    "Per-Python-task fixed cost").
    """
    if m < 1 or k_sub < 1 or iters < 0:
        raise ValueError(f"need m, k_sub >= 1 and iters >= 0, got {m}, {k_sub}, {iters}")
    vec = F.col(vec_col).cast("array<double>")
    sample = _driver_fit_rows(df, vec_col, id_col, k_sub, dim)
    seeds = _fit_seeds(df, vec, id_col, k_sub, sample)
    if not seeds:
        raise ValueError("cannot infer embedding dim from an empty/null column")
    if dim is None:
        # the seeds collect already carries the width — a separate
        # .first() probe job was one whole Spark round-trip of pure
        # fixed latency per fit (round 13). Geometry validation stays
        # AHEAD of the seed-count check (its historical order).
        dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if len(seeds) < k_sub:
        raise ValueError(f"need >= {k_sub} non-null vectors, got {len(seeds)}")
    sub = dim // m
    books = [
        [
            [_pq_half_up(float(x), round_dp) for x in v[j * sub:(j + 1) * sub]]
            for v in seeds
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        if sample is not None:
            codes = sample.assign(_pq_codes, *_pq_kernel_args(books))
            upd = {
                (j, c): [_pq_half_up(float(x), round_dp) for x in mean]
                for j in range(m)
                for c, mean in sample.means(
                    codes[:, j], slice(j * sub, (j + 1) * sub)
                ).items()
            }
        else:
            # materialize the kernel's codes as ONE column first so the m
            # struct references below cannot re-evaluate the UDF
            base = df.filter(vec.isNotNull()).select(
                vec.alias("__v"), _pq_codes_udf(books)(vec).alias("__codes")
            )
            structs = [
                F.struct(
                    F.lit(j).alias("j"),
                    F.get("__codes", j).alias("c"),
                    F.slice("__v", j * sub + 1, sub).alias("s"),
                )
                for j in range(m)
            ]
            rows = base.select(F.explode(F.array(*structs)).alias("e")).select(
                "e.j", "e.c", "e.s"
            )
            means = (  # m × k_sub rows of sub means
                rows.groupBy("j", "c")
                .agg(
                    *[
                        F.round(F.avg(F.col("s")[i]), round_dp).alias(f"m{i}")
                        for i in range(sub)
                    ]
                )
                .collect()
            )
            upd = {  # a NULL mean keeps the codeword's coordinate
                (r["j"], r["c"]): [
                    books[r["j"]][r["c"]][i] if r[f"m{i}"] is None else float(r[f"m{i}"])
                    for i in range(sub)
                ]
                for r in means
            }
        books = [
            [upd.get((j, c), cw) for c, cw in enumerate(book)]
            for j, book in enumerate(books)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Attach each vector's PQ code — ``array<int>`` of length m, the
    persistable narrow column a 100 TB store keeps NEXT TO (or instead
    of) the raw vectors: ADC queries (``pq_adc_topk``) then scan only
    these few bytes per row.

    One Arrow-batched kernel encodes all subspaces, picked by
    ``_exact_fit(k_sub, dim)`` (k_sub × dim ≤ 4096, dim ≤ 256) read
    from the codebooks, so a fit and its encode take the same side.

    Path: a small materialized input (``_frame_rows``) is encoded on
    the driver from one fetch — the same kernel over the same Arrow
    batches — and comes back as a ``LocalRelation`` with the Spark
    plan's rows and schema (``_pq_build``); any other input runs the
    kernel as a pandas UDF, in one task when small (``_one_task``).
    Either way a NULL vector, or one of another length than the
    codebooks', gets a NULL code; a NULL or NaN element makes every
    distance of its subspace NaN, so that subspace codes 0; ±inf codes
    as the kernel's arithmetic ranks it; ids are not read, so NULL and
    duplicate ids are encoded like any other row.
    """
    built = _pq_build(df, codebooks, vec_col, out)
    if built is not None:
        return built
    vec = F.col(vec_col).cast("array<double>")
    return _one_task(df).withColumn(out, _pq_codes_udf(codebooks)(vec))


def _pq_codes_udf(codebooks: list[list[list[float]]]):
    """``pq_fit``'s and ``pq_encode``'s Arrow-batched kernel for m ×
    k_sub × sub ``codebooks``: ``_pq_codes`` per batch → array<int>,
    NULL for a NULL vector or one of another length. Its side follows ``_exact_fit(k_sub,
    dim)``: the bit-exact sequential sums (the oracle path) or the
    BLAS expansion (the kernel for large k_sub, where the sequential
    sums cost k_sub × sub elementwise passes per batch).

    The codebooks ride the closure, so the plan carries no literals:
    the JVM-fold spelling of the same arithmetic (a literal codeword
    tree of m × k_sub × dim/m elements) was paid at plan construction,
    analysis and interpreted per-row evaluation, and was dropped for
    this kernel. Pinned by the python-replay tests in test_pq.py."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    mats, norms = _pq_kernel_args(codebooks)

    def _encode(vecs):
        codes, mask = _pq_batch(vecs, mats, norms)
        return pd.Series(
            [None if mask[i] else codes[i].tolist() for i in range(len(codes))]
        )

    udf = pandas_udf(_encode, "array<int>")
    if norms is not None:
        return udf
    # asNondeterministic: the function is pure, but consumers filter on
    # the codes column (isNotNull, cell prune) and the optimizer's
    # filter pushdown would otherwise DUPLICATE the kernel — one
    # ArrowEvalPython below the filter, one above (guide §4.4; measured
    # two evals per scan in the round-16 before-plans). Marking it
    # non-deterministic yields a single eval; the only trade is that
    # row filters no longer push below the projection, which at the
    # fixture is k excluded ids and at scale is irrelevant — persisted
    # stores carry codes as real columns with no UDF in the plan.
    return udf.asNondeterministic()


def _pq_batch(vecs, mats, norms):
    """One Arrow batch of vectors → (codes, mask): ``_pq_codes`` of the
    (batch × dim) matrix, and True where the code is NULL — a NULL
    vector or one of another length than the codebooks'."""
    dim = len(mats) * mats[0].shape[1]
    x, null, length = _pad_rows(vecs, dim)
    return _pq_codes(x, mats, norms), null | (length != dim)


def _pq_kernel_args(codebooks):
    """``(mats, norms)`` for ``_pq_codes``: the m (k_sub × sub)
    codebook matrices, and their squared codeword norms on the scale
    side of ``_exact_fit(k_sub, dim)`` (None on the exact side)."""
    import numpy as np  # noqa: PLC0415

    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    k_sub, sub = mats[0].shape
    if _exact_fit(k_sub, len(mats) * sub):
        return mats, None
    return mats, [(c * c).sum(axis=1) for c in mats]


def _pq_codes(x, mats, norms):
    """PQ codes (n × m int32) of the rows of ``x``: per subspace j the
    nearest codeword of ``mats[j]``, by ``_l2_argmin_seq`` (``norms``
    None, bit-exact) or ``_l2_argmin_blas``."""
    import numpy as np  # noqa: PLC0415

    if not len(x):
        return np.zeros((0, len(mats)), np.int32)
    sub = mats[0].shape[1]
    cols = []
    for j, c in enumerate(mats):
        xs = x[:, j * sub:(j + 1) * sub]
        cols.append(
            _l2_argmin_seq(xs, c) if norms is None
            else _l2_argmin_blas(xs, c, norms[j])
        )
    return np.stack(cols, axis=1)


def _l2_argmin_seq(x, c):
    """BIT-EXACT nearest of the k × dim centroids ``c`` to each row of
    ``x``: explicit elementwise left-to-right accumulation gives the
    sequential IEEE sum ``(0 + t₀²) + t₁² + …`` DuckDB's ``list_sum``
    replays term for term, first-min ``argmin`` sends ties to the lower
    id, and NaN distances rank last (as the JVM ``array_min`` ranks NaN
    greatest) — unlike the BLAS expansion of ``_l2_argmin_blas``
    (pairwise summation, different rounding)."""
    import numpy as np  # noqa: PLC0415

    d = None
    for z in range(c.shape[1]):
        t = x[:, z][:, None] - c[:, z][None, :]
        sq = t * t  # (n × k)
        d = sq if d is None else d + sq
    if d is None:
        d = np.zeros((len(x), len(c)), dtype=np.float64)
    d[np.isnan(d)] = np.inf
    return d.argmin(axis=1).astype(np.int32)


def _seq_l2_assign_udf(centroids: list[list[float]]):
    """Arrow-batched BIT-EXACT L2 argmin assignment (``_l2_argmin_seq``;
    NULL vectors → NULL): the one implementation behind the exact side
    of ``kmeans`` and ``ivf_assign_fold``. The JVM fold over a k × dim
    literal centroid tree it replaced gave the same values at a
    plan-size cost that grew with k (and OOMed the driver at
    k=1024/dim=64)."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    c = np.asarray(centroids, dtype=np.float64)  # k × dim

    def _assign(vecs):
        return _cell_series(vecs, c.shape[1], _l2_argmin_seq, c)

    # same single-eval rationale as _pq_codes_udf: probe filters on
    # the assigned cell column would otherwise re-evaluate the kernel
    # below the filter (guide §4.4)
    return pandas_udf(_assign, "int").asNondeterministic()


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_code",
    round_dp: int = 6,
    exclude_ids: tuple[int, ...] = (),
    refine_n: int = 0,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes: the
    query's m × k_sub lookup table of exact subspace distances is
    computed DRIVER-side (metadata — m·k_sub doubles) and shipped as a
    literal; each row's approximate squared L2 is then a pure JVM fold
    of m table lookups over its code — no Python, no join, no shuffle
    beyond the TakeOrderedAndProject k-heap. This is what makes PQ the
    100 TB scan tier: without ``refine_n`` the pass reads m small ints
    per row instead of the dim-sized vector.

    Output: (id_col, ``adc`` = the approximate distance HALF_UP-rounded
    to ``round_dp``), ascending, ties to the lower id — ordering is on
    the ROUNDED value (the ``cosine_topk`` discipline) so the result
    order itself is hash-stable cross-engine. LUT entries are
    left-to-right sequential sums over each subspace, the fold over m
    is sequential in j — both match DuckDB's list_sum term-for-term.
    Rows with a NULL code are never scored.

    ``refine_n`` > 0 with ``vectors`` enables the standard two-stage
    search: ADC shortlists ``max(k, refine_n)`` candidates (widened so
    a ``refine_n < k`` call still yields k rows and matches the multi
    path's width — ADVICE r14), then EXACT squared L2 against the raw
    vectors re-ranks the shortlist to the final k, adding column
    ``l2`` (recall of exact search whenever the true top-k survives the
    shortlist). Which re-rank leg runs follows frame identity:

    - ``vectors is encoded`` (a store holding codes and vectors side by
      side): the shortlist heap CARRIES ``vec_col`` next to (id, adc),
      so filter and refine are one Spark job of two stages — one scan
      of codes + vectors instead of two scans and a broadcast exchange.
      Each code is scored against its own row's vector.
    - any other frame (a codes-only store whose raw vectors live
      elsewhere): ``_refine_l2`` broadcast-joins the shortlist back
      into a scan of ``vectors``, pairing each shortlisted code with
      EVERY ``vectors`` row sharing its id.

    With unique ids the two legs return bit-identical rows. Either way
    a shortlisted row whose raw vector is NULL takes its shortlist slot
    and is then dropped (never ranked with a NULL ``l2``), and a
    NaN-element vector scores NaN, which sorts after every number.

    Without a refine, or with the carried leg, a small materialized
    ``encoded`` is answered from its driver copy (module docstring).
    """
    if refine_n > 0 and vectors is None:
        raise ValueError("refine_n > 0 needs the raw `vectors` frame")
    carried = refine_n > 0 and vectors is encoded
    if refine_n <= 0 or carried:
        out = _driver_topk(encoded, query_vec, k, id_col, exclude_ids, "adc",
                           vec_col if carried else None, round_dp,
                           codebooks=codebooks, codes_col=codes_col, refine_n=refine_n)
        if out is not None:
            return out
    return _pq_adc_topk(encoded, query_vec, codebooks, k, id_col, codes_col, round_dp,
                        exclude_ids, refine_n, vectors, vec_col)


def _pq_adc_topk(encoded, query_vec, codebooks, k, id_col, codes_col, round_dp,
                 exclude_ids, refine_n, vectors, vec_col) -> DataFrame:
    """``pq_adc_topk``'s Spark plan."""
    carried = refine_n > 0 and vectors is encoded
    ranked = _adc_scored(
        encoded, query_vec, codebooks, id_col, codes_col, round_dp, exclude_ids,
        carry=vec_col if carried else None,
    ).orderBy("adc", id_col)
    if refine_n <= 0:
        return ranked.limit(k)
    return _refine_l2(
        ranked.limit(max(k, refine_n)), query_vec, k, id_col, vec_col, round_dp,
        vectors=None if carried else vectors,
    )


def _adc_scored(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    id_col: str,
    codes_col: str,
    round_dp: int,
    exclude_ids: tuple[int, ...],
    carry: str | None = None,
) -> DataFrame:
    """The ADC projection every single-query PQ search ranks: (id_col,
    ``adc``) over the rows whose code is not NULL and whose id is not
    excluded, plus column ``carry`` unchanged when given (the raw
    vector a one-job exact re-rank reads from the shortlist)."""
    m = len(codebooks)
    lut = _pq_lut(query_vec, codebooks)
    # ONE flat LUT literal + an unrolled m-term sum — constant-folds to
    # a single Literal (held by reference, so a new query reuses the
    # generated class) and stays inside whole-stage codegen; the
    # higher-order-function spelling (aggregate over transform with
    # nested get) evaluates interpreted and re-walks the literal per
    # row — measured 14× slower at n=200k/m=8/k_sub=256 (SCALING.md).
    # Left-to-right adds keep the sequential IEEE order the oracle
    # replays (list_sum over the j-ordered lut terms). The whole
    # projection is one SQL expression: the literal is one gateway call
    # however large the table (``_sql_doubles``).
    table = _sql_doubles([d for row in lut for d in row])
    codes = _sql_col(codes_col)
    adc = " + ".join(
        f"get({table}, {j * len(lut[j])} + get({codes}, {j}))" for j in range(m)
    )
    cols = [_sql_col(id_col), f"round({adc}, {round_dp}) AS adc"]
    if carry is not None:
        cols.append(_sql_col(carry))
    scored = encoded.filter(f"{codes} IS NOT NULL").selectExpr(*cols)
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    return scored


def _refine_l2(
    shortlist: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """The exact re-rank leg of the two-stage single-query search:
    exact squared L2 of each shortlisted vector against the query
    literal, HALF_UP-rounded, then the final k-heap — (id_col, adc,
    ``l2``), ascending rounded l2, ties to the lower id.

    With ``vectors`` None the shortlist already carries ``vec_col``
    (the one-job leg: the ADC heap and this re-rank share one job).
    Otherwise the raw vectors live in a separate frame, and the (id,
    adc) shortlist is broadcast INTO a scan of ``vectors`` so only the
    shortlisted ids are scored — the codes-only-store shape the
    refine oracles declare; it runs the shortlist as its own job and
    pairs each shortlisted id with every ``vectors`` row sharing it.

    NULL raw vectors are dropped BEFORE scoring (the l2_topk isNotNull
    discipline — ADVICE r13): they would otherwise yield NULL l2, which
    ASC NULLS FIRST ranks above every real candidate. A vector with a
    NULL element scores NaN and ranks last."""
    l2 = _sql_l2_score(_sql_vec(vec_col), _sql_doubles(query_vec), round_dp)
    present = f"{_sql_col(vec_col)} IS NOT NULL"
    if vectors is None:
        rows = shortlist.filter(present)
    else:
        rows = vectors.filter(present).join(F.broadcast(shortlist), id_col, "inner")
    return (
        rows.selectExpr(_sql_col(id_col), "adc", f"{l2} AS l2")
        .orderBy("l2", id_col)
        .limit(k)
    )


def _pq_lut(query_vec: list[float], codebooks: list[list[list[float]]]):
    """The m × k_sub exact-subspace-distance lookup table for one query
    (driver metadata), sequential left-to-right sums — shared by the
    single- and multi-query ADC paths."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query_vec) != m * sub:
        raise ValueError(f"query dim {len(query_vec)} != m*sub {m * sub}")
    lut = []
    for j in range(m):
        q = [float(x) for x in query_vec[j * sub:(j + 1) * sub]]
        row = []
        for cw in codebooks[j]:
            d = 0.0
            for z in range(sub):
                t = q[z] - cw[z]
                d += t * t
            row.append(d)
        lut.append(row)
    return lut


def pq_adc_topk_multi(
    encoded: DataFrame,
    queries: dict[int, list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_code",
    round_dp: int = 6,
    exclude_query_ids: bool = True,
    refine_n: int = 0,
    vectors: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k for a BATCH of queries in one operator — the shape a
    100 TB serving layer actually runs (requests arrive in batches; the
    expensive thing is touching the code column, so touch it ONCE for
    all of them). Output: (query_id, id_col, adc), each query's top-k
    ascending, ties to the lower id — per-query rows identical to
    ``pq_adc_topk`` (parity-tested).

    ``queries`` maps query_id → vector. ``exclude_query_ids=True``
    drops each query's OWN id from its result (the self-neighbor, for
    queries drawn from the corpus — ids must share the id_col space;
    pass False for external queries).

    One ``_batched_topk`` pass: per Arrow batch the Q × m × k_sub LUT
    tensor gathers all Q distances from the codes matrix, j-ordered
    sequential adds as in the single-query fold, HALF_UP-rounded by the
    vectorized kernel. Rows with a NULL code are never scored.

    ``refine_n`` > 0 enables the standard two-stage search per query:
    each query shortlists ``max(k, refine_n)`` ADC candidates (the r12
    ADVICE width lesson), then ONE broadcast join
    (``_exact_rerank_multi``) re-ranks all Q shortlists against the raw
    vectors together — output gains the exact ``l2`` column and
    ordering switches to it. ``vectors`` defaults to ``encoded`` (the
    single-query convention; pass the raw table when the store is
    codes-only).
    """
    import numpy as np  # noqa: PLC0415

    qids = _query_ids(queries)
    luts = np.asarray([_pq_lut(queries[qid], codebooks) for qid in qids], dtype=np.float64)
    ranked = _batched_topk(
        encoded, [codes_col], qids, _adc_scores(luts, codes_col),
        max(k, refine_n), id_col, "adc", round_dp, exclude_query_ids,
    )
    if refine_n > 0:
        vectors = encoded if vectors is None else vectors
        ranked = _exact_rerank_multi(ranked, vectors, queries, k, id_col, vec_col, round_dp)
    return ranked


def _adc_scores(luts, codes_col: str):
    """The PQ score block: ``luts`` is the Q × m × k_sub tensor of the
    batch's lookup tables; adc[n, Q] is the j-ordered sequential sum
    0 + t_0 + t_1 + … the single-query fold adds, term for term, each
    term the flat table's entry j·k_sub + code[j] (``_adc_scored``'s
    ``get``). Rows with a NULL code are not scored. A code with a NULL
    element, fewer than m elements or an index outside the flat table
    scores NaN — the single-query fold's NULL, which the batched pass
    ranks last (module docstring)."""
    import numpy as np  # noqa: PLC0415

    flat = luts.reshape(luts.shape[0], -1)  # Q × (m·k_sub)
    m, k_sub = luts.shape[1], luts.shape[2]

    def score(pdf):
        rows, idx, whole = _code_index(pdf[codes_col].to_numpy(), m, k_sub)
        adc = np.zeros((len(rows), flat.shape[0]), dtype=np.float64)
        for j in range(m):
            adc += flat[:, idx[:, j]].T
        adc[~whole] = np.nan
        return rows, adc, None

    return score


def _code_index(codes, m: int, k_sub: int):
    """An Arrow batch of PQ codes as (rows, idx, whole): the rows whose
    code is not NULL, each of their m elements' index j·k_sub + code[j]
    into the flat m × k_sub table (``_adc_scored``'s ``get``; 0 where
    unusable), and whether all m are usable — not NULL, present and
    inside the table."""
    import numpy as np  # noqa: PLC0415

    c, null, _ = _pad_rows(codes, m)
    rows = np.flatnonzero(~null)
    c = c[rows]
    idx = np.nan_to_num(c, nan=-1.0).astype(np.int64) + k_sub * np.arange(m)
    ok = ~np.isnan(c) & (idx >= 0) & (idx < m * k_sub)
    return rows, np.where(ok, idx, 0), ok.all(axis=1)


def _ivfpq_store(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    cell_col: str | None,
    codes_col: str | None,
    coarse_metric: str,
    residual: bool = False,
) -> tuple[DataFrame, str, str]:
    """``df`` with its IVF cell and PQ code columns, attaching whichever
    is missing on the fly (one Arrow pass each; residual codes encode
    x − centroid[cell]). Returns (frame, cell_col, codes_col)."""
    if cell_col is None:
        df = ivf_assign(df, centroids, vec_col, "__ivfpq_cell", coarse_metric)
        cell_col = "__ivfpq_cell"
    if codes_col is None:
        src = vec_col
        if residual:
            df = residualize(df, centroids, vec_col, cell_col, "__ivfpq_res")
            src = "__ivfpq_res"
        df = pq_encode(df, codebooks, src, "__ivfpq_code")
        codes_col = "__ivfpq_code"
    return df, cell_col, codes_col


def ivfpq_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    codes_col: str | None = None,
    round_dp: int = 6,
    exclude_ids: tuple[int, ...] = (),
    refine_n: int = 0,
    coarse_metric: str = "cosine",
) -> DataFrame:
    """IVF-PQ approximate top-k — the two index tiers COMPOSED the way a
    100 TB store runs them (the public FAISS ``IVF,PQ`` architecture,
    Jégou et al. 2011): the coarse quantizer prunes to the ``nprobe``
    cells nearest the query (partition pruning when the store is laid
    out by ``cell_col``), then the ADC pass scans only the PROBED
    cells' m-int code column — pruning × compression, so a query
    touches nprobe/k_cells of the corpus at ~dim·8/m of the bytes.

    This is the NON-RESIDUAL variant: one GLOBAL codebook over raw
    vectors, so the persisted code column is cell-independent — one
    encode pass serves every query and re-clustering the coarse tier
    never re-encodes. (Residual PQ — codes on x − centroid — buys
    accuracy at the cost of per-cell LUTs and cell-coupled codes;
    at the storage layout this engine targets, the global-codebook
    trade is the operational one. ``refine_n`` recovers exactness
    the same way either way.)

    With precomputed ``cell_col``/``codes_col`` (the persisted-store
    shape: `ivf_assign` + `pq_encode` written once) the query plan is a
    narrow predicate + literal-LUT scan + k-heap — no Python, no
    shuffle. Missing columns are attached on the fly (one Arrow pass
    each) for ad-hoc use. ``refine_n`` re-ranks an ADC shortlist
    against the raw vectors in ``df``, the standard two-stage recipe:
    the shortlist carries ``vec_col`` out of the probed-cell scan
    (``pq_adc_topk``'s one-job leg), so the re-rank reads no vector of
    an unprobed cell and needs no second scan or broadcast join. Edge
    values follow ``pq_adc_topk``: NULL codes are not scored, a NULL
    vector gives up its shortlist slot, and each code is scored
    against its own row's vector even when ids repeat. With persisted
    ``cell_col`` and ``codes_col``, a small materialized ``df`` is
    answered from its driver copy (module docstring).
    """
    probe_cells = _probe_cells(centroids, query_vec, nprobe, coarse_metric)
    if cell_col is not None and codes_col is not None:
        out = _driver_topk(df, query_vec, k, id_col, exclude_ids, "adc",
                           vec_col if refine_n > 0 else None, round_dp,
                           probe=([cell_col], [probe_cells]), codebooks=codebooks,
                           codes_col=codes_col, refine_n=refine_n)
        if out is not None:
            return out
    work, cell_col, codes_col = _ivfpq_store(
        df, centroids, codebooks, vec_col, cell_col, codes_col, coarse_metric
    )
    probed = work.filter(_sql_probe(cell_col, probe_cells))
    return _pq_adc_topk(probed, query_vec, codebooks, k, id_col, codes_col, round_dp,
                        exclude_ids, refine_n, probed if refine_n > 0 else None, vec_col)


def _exact_rerank_multi(
    shortlist: DataFrame,
    vectors: DataFrame,
    queries: dict[int, list[float]],
    k: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
) -> DataFrame:
    """Shared two-stage tail for the batched ANN paths: broadcast the
    (query_id, id) shortlist INTO the raw-vector scan, attach each
    query's vector via a broadcast Q-row frame, exact squared-L2
    re-rank per query (ascending rounded l2, ties to the lower id).
    Touches |shortlist| raw vectors total — never the corpus.

    NULL raw vectors are filtered BEFORE scoring (the l2_topk /
    pq_adc_topk isNotNull discipline — ADVICE r13): a NULL ``vec_col``
    in a separate ``vectors`` table would produce NULL l2, which
    Spark's ASC NULLS FIRST would rank ABOVE every real candidate."""
    qdf = _local_vectors(
        vectors.sparkSession, {int(qid): v for qid, v in queries.items()}, "query_id", "__qv"
    )
    l2 = _sql_l2_score(_sql_vec(vec_col), "__qv", round_dp)
    cand = (
        vectors.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .join(F.broadcast(shortlist), id_col)
        .join(F.broadcast(qdf), "query_id")
        .selectExpr("query_id", _sql_col(id_col), "adc", f"{l2} AS l2")
    )
    return _first_per_query(cand, k, "l2", id_col)


def ivfpq_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    codes_col: str | None = None,
    round_dp: int = 6,
    exclude_query_ids: bool = True,
    coarse_metric: str = "cosine",
    refine_n: int = 0,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """The full serving architecture in one operator: pruning ×
    compression × BATCHING. For a batch of queries, probe cells are
    selected per query driver-side; the store is scanned ONCE over the
    UNION of all probed cells (directory pruning when ``cell_col`` is
    the store's partition column — the scan never even lists
    un-probed cells); each query then scores only the rows inside ITS
    OWN probed cells. Output (query_id, id_col, adc), per-query rows
    identical to ``ivfpq_topk`` (parity-tested).

    Cost shape at 100 TB: one pruned compressed scan of
    |∪ probe cells| / k_cells of the corpus serves the WHOLE request
    batch — overlapping probe sets (the common case: queries cluster
    where the data does) are read once, not once per query. It is one
    ``_batched_topk`` pass: the ``pq_adc_topk_multi`` LUT-gather score
    block, masked per query to its own cells. ``exclude_query_ids``
    drops each query's own id (corpus-drawn queries).

    ``refine_n`` > 0 enables the standard two-stage search per query
    (output gains the exact ``l2`` column, ordering switches to it):
    each query shortlists refine_n ADC candidates — per-query width
    is max(k, refine_n), the r12 ADVICE lesson — and ONE broadcast
    join re-ranks all Q shortlists against the raw vectors together
    (``vectors`` defaults to ``df``, the single-query convention;
    pass the raw table when the store is codes-only).
    """
    import numpy as np  # noqa: PLC0415

    qids = _query_ids(queries)
    probes = {q: _probe_cells(centroids, queries[q], nprobe, coarse_metric) for q in qids}
    work, cell_col, codes_col = _ivfpq_store(
        df, centroids, codebooks, vec_col, cell_col, codes_col, coarse_metric
    )
    luts = np.asarray([_pq_lut(queries[qid], codebooks) for qid in qids], dtype=np.float64)
    score = _in_probed_cells(
        _adc_scores(luts, codes_col), probes, qids, len(centroids), cell_col
    )
    scoped = work.filter(F.col(cell_col).isin(sorted(set().union(*probes.values()))))
    ranked = _batched_topk(
        scoped, [codes_col, cell_col], qids, score, max(k, refine_n), id_col, "adc",
        round_dp, exclude_query_ids,
    )
    if refine_n > 0:
        vectors = df if vectors is None else vectors
        ranked = _exact_rerank_multi(ranked, vectors, queries, k, id_col, vec_col, round_dp)
    return ranked


def _local_vectors(spark: SparkSession, rows: dict[int, list[float]], key: str,
                   vec: str) -> DataFrame:
    """(key int, vec array<double>) rows as a JVM-only local relation: an
    inline table of ``_sql_doubles`` literals, so every double — NaN
    included — arrives bit for bit, and an action runs no Python worker
    (a list ``createDataFrame`` is a pickled-row RDD)."""
    values = ", ".join(f"({int(i)}, {_sql_doubles(v)})" for i, v in rows.items())
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({_sql_col(key)}, {_sql_col(vec)})")


def residualize(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str | None = None,
    out: str = "residual",
    metric: str = "l2",
) -> DataFrame:
    """Attach each vector's coarse-quantization RESIDUAL
    (x − centroid[cell]) — the preprocessing step of residual IVF-PQ
    (the FAISS ``IVF,PQ`` default): PQ codebooks fit on residuals see
    the small within-cell displacements instead of the whole embedding
    span, which is where the accuracy of that variant comes from.

    The centroid lookup is a BROADCAST JOIN against a k_cells-row frame
    (not a literal array-of-arrays indexed by cell): literal trees are
    the measured fold cliff as k grows, while the coarse tier at real
    scale runs k_cells in the thousands — a tiny broadcast dim stays
    flat there. The subtraction is JVM ``zip_with``. NULL vectors pass
    through with NULL residuals (their cell is NULL → join miss → NULL
    centroid).
    """
    work = df
    if cell_col is None:
        work = ivf_assign(work, centroids, vec_col, "__res_cell", metric)
        cell_col = "__res_cell"
    cents = _local_vectors(
        df.sparkSession, dict(enumerate(centroids)), "__res_cell_key", "__res_cent"
    )
    vec = F.col(vec_col).cast("array<double>")
    joined = work.join(
        F.broadcast(cents), F.col(cell_col) == F.col("__res_cell_key"), "left"
    )
    return joined.withColumn(
        out, F.zip_with(vec, F.col("__res_cent"), lambda x, y: x - y)
    ).drop("__res_cell_key", "__res_cent")


def ivfpq_residual_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    codes_col: str | None = None,
    round_dp: int = 6,
    exclude_ids: tuple[int, ...] = (),
    refine_n: int = 0,
    coarse_metric: str = "l2",
) -> DataFrame:
    """Residual IVF-PQ top-k (the FAISS-default accuracy variant):
    ``codebooks`` must have been fit on RESIDUALS
    (``pq_fit(residualize(df, centroids), vec_col="residual")``), and
    each probed cell gets ITS OWN lookup table computed from
    (query − that cell's centroid) — ADC distances then approximate
    ‖(q − c_cell) − code‖², the within-cell geometry.

    Cost shape vs the global-codebook ``ivfpq_topk``: the scan is the
    SAME (nprobe pruned partitions × m-int codes; per-cell branches are
    unioned TakeOrderedAndProject scans, nprobe of them), the storage
    trade is NOT — residual codes are coupled to the coarse tier, so
    re-clustering means re-encoding the corpus. Accuracy is measured
    against the global variant in SCALING.md ("Round 12: residual vs
    global PQ"). ``refine_n`` re-ranks against the raw vectors in
    ``df`` exactly as everywhere else: each per-cell branch carries
    ``vec_col`` next to (id, adc) into the shared shortlist, so the
    re-rank is part of the same job — no second scan of ``df`` and no
    broadcast join. Edge values follow ``pq_adc_topk``: NULL codes are
    not scored, a NULL vector gives up its shortlist slot, and each
    code is scored against its own row's vector even when ids repeat.
    """
    import numpy as np  # noqa: PLC0415

    c = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(query_vec, dtype=np.float64)
    probe_cells = _probe_cells(centroids, query_vec, nprobe, coarse_metric)
    work, cell_col, codes_col = _ivfpq_store(
        df, centroids, codebooks, vec_col, cell_col, codes_col, coarse_metric,
        residual=True,
    )
    # each per-cell branch must shortlist max(k, refine_n) rows, not k:
    # with per-branch limit k the unioned shortlist tops out at
    # nprobe*k candidates, silently shrinking a refine_n=100/k=10/
    # nprobe=4 re-rank pool to 40 and weakening the two-stage recall
    # contract (ADVICE r12 item 1 — ivfpq_topk avoids this by
    # shortlisting refine_n inside one pq_adc_topk call; here the
    # per-cell LUTs force per-branch scans, so the width goes per
    # branch). Still nprobe tiny k-heaps — no plan-shape change.
    branch_k = max(k, refine_n)
    carry = vec_col if refine_n > 0 else None
    branches = None
    for cell in probe_cells:
        q_res = [float(x) for x in (qv - c[cell])]
        branch = (
            _adc_scored(
                work.filter(f"{_sql_col(cell_col)} = {int(cell)}"),
                q_res,
                codebooks,
                id_col,
                codes_col,
                round_dp,
                exclude_ids,
                carry=carry,
            )
            .orderBy("adc", id_col)
            .limit(branch_k)
        )
        branches = branch if branches is None else branches.unionByName(branch)
    # max(k, refine_n), not refine_n: a refine_n < k call must still
    # yield k rows and match the multi path's shortlist width (ADVICE r14)
    merged = branches.orderBy("adc", id_col).limit(branch_k)
    if refine_n <= 0:
        return merged
    return _refine_l2(merged, query_vec, k, id_col, vec_col, round_dp)


def ivfpq_residual_topk_multi(
    df: DataFrame,
    queries: dict[int, list[float]],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    codes_col: str | None = None,
    round_dp: int = 6,
    exclude_query_ids: bool = True,
    coarse_metric: str = "l2",
    refine_n: int = 0,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Batched serving over a RESIDUAL store — completes the residual
    variant's serving story (VERDICT r13 item 7b): ``codebooks`` must
    have been fit on residuals, so every (query, probed cell) pair gets
    ITS OWN lookup table computed from (query − that cell's centroid),
    and the store is still scanned ONCE over the UNION of all queries'
    probed cells. Output (query_id, id_col, adc), per-query rows
    identical to ``ivfpq_residual_topk`` (parity-tested).

    Cost shape at 100 TB vs the global-codebook ``ivfpq_topk_multi``:
    the pruned scan is the SAME (union of probed cells × m-int codes);
    the LUT metadata grows from Q×m×k_sub to Q×nprobe×m×k_sub — still
    driver-side kilobytes. It is one ``_batched_topk`` pass whose score
    block gathers each query's rows from the LUT of the row's own cell
    (sequential j-ordered adds — the single-query fold order).

    ``refine_n`` > 0 re-ranks all Q shortlists (each max(k, refine_n)
    wide — the r12 ADVICE width lesson) against the raw vectors with
    ONE broadcast join (``_exact_rerank_multi``; output gains ``l2``
    and orders by it). ``vectors`` defaults to ``df``.
    """
    import numpy as np  # noqa: PLC0415

    qids = _query_ids(queries)
    c = np.asarray(centroids, dtype=np.float64)
    probes = {q: _probe_cells(centroids, queries[q], nprobe, coarse_metric) for q in qids}
    work, cell_col, codes_col = _ivfpq_store(
        df, centroids, codebooks, vec_col, cell_col, codes_col, coarse_metric,
        residual=True,
    )
    m, k_sub = len(codebooks), len(codebooks[0])
    # per query: its probed cells' flat residual LUTs (nprobe × m·k_sub
    # driver floats) and a cell → LUT slot map, −1 for unprobed cells
    res_luts, slots = [], []
    for qid in qids:
        qv = np.asarray(queries[qid], dtype=np.float64)
        res_luts.append(np.asarray(
            [_pq_lut([float(x) for x in (qv - c[cell])], codebooks) for cell in probes[qid]],
            dtype=np.float64,
        ).reshape(len(probes[qid]), m * k_sub))
        slot = np.full(len(centroids), -1, dtype=np.int64)
        slot[probes[qid]] = np.arange(len(probes[qid]))
        slots.append(slot)

    def score(pdf):
        rows, idx, whole = _code_index(pdf[codes_col].to_numpy(), m, k_sub)
        cells = pdf[cell_col].to_numpy()[rows].astype(np.int64)
        adc = np.zeros((len(rows), len(qids)), dtype=np.float64)
        ok = np.zeros(adc.shape, dtype=bool)
        for qi in range(len(qids)):
            slot = slots[qi][cells]
            ok[:, qi] = slot >= 0
            sel = np.flatnonzero(ok[:, qi])
            s = np.zeros(len(sel), dtype=np.float64)
            for j in range(m):
                s += res_luts[qi][slot[sel], idx[sel, j]]
            adc[sel, qi] = s
        adc[~whole] = np.nan
        return rows, adc, ok

    scoped = work.filter(F.col(cell_col).isin(sorted(set().union(*probes.values()))))
    ranked = _batched_topk(
        scoped, [codes_col, cell_col], qids, score, max(k, refine_n), id_col, "adc",
        round_dp, exclude_query_ids,
    )
    if refine_n > 0:
        vectors = df if vectors is None else vectors
        ranked = _exact_rerank_multi(ranked, vectors, queries, k, id_col, vec_col, round_dp)
    return ranked


# =============================================================================
# Driver copies — single-query requests against a small materialized store
# =============================================================================

# The driver copy's budget: the columns one request reads, at most this
# many rows and bytes, each array cell at most _EXACT_FIT_DIM elements
# (256 doubles × 32,769 rows is the byte budget). A row budget below 1
# turns the copy off.
_DRIVER_TOPK_ROWS = _DRIVER_FIT_ROWS
_DRIVER_TOPK_BYTES = 64 << 20

# {store: False (not materialized) or {columns read: _DriverCopy, or
# None when over budget}}, keyed by the caller's DataFrame object, so a
# copy lives exactly as long as the caller's handle on the store
_driver_copies: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _materialized(df: DataFrame) -> str:
    """The kind of ``df``'s optimized plan — "LocalRelation", or
    "LogicalRDD" when its RDD is checkpointed (``localCheckpoint`` /
    ``checkpoint``) — when its rows cannot change between two reads,
    else "". A file scan, a cached relation, a store under a filter and
    a streaming frame are not."""
    if df.isStreaming:
        return ""
    plan = df._jdf.queryExecution().optimizedPlan()
    kind = plan.getClass().getSimpleName()
    if kind == "LocalRelation" or (kind == "LogicalRDD" and plan.rdd().isCheckpointed()):
        return kind
    return ""


def _driver_copy(df: DataFrame, id_col: str, vec_col: str | None,
                 codes_col: str | None, ints: tuple[str, ...]) -> _DriverCopy | None:
    """The driver copy of the columns a request reads from ``df``, or
    None: the Spark plan answers. The first request against a
    materialized store fetches them in ONE ``limit(budget + 1)`` Arrow
    collect; the copy, or the verdict "over budget", is kept for every
    later request with the same columns, which then runs no Spark job."""
    if _DRIVER_TOPK_ROWS < 1:
        return None
    copies = _driver_copies.get(df)
    if copies is None:
        copies = {} if _materialized(df) else False
        _driver_copies[df] = copies
    if copies is False:
        return None
    key = (id_col, vec_col, codes_col, ints)
    if key not in copies:
        copies[key] = _DriverCopy.fetch(df, id_col, vec_col, codes_col, ints)
    return copies[key]


def _list_matrix(arr, dtype):
    """An Arrow list array as (values, missing, null, length): the n × L
    matrix of its elements (L the longest list, zero-padded), True where
    an element is NULL or past its list's end, True for a NULL list, and
    each list's length (0 for a NULL list)."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    n = len(arr)
    null = arr.is_null().to_numpy(zero_copy_only=False)
    length = pc.list_value_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    flat = arr.flatten()
    width = int(length.max()) if n else 0
    values = np.zeros((n, width), dtype=dtype)
    missing = np.ones((n, width), dtype=bool)
    rows = np.repeat(np.arange(n), length)
    cols = np.arange(len(flat)) - np.repeat(np.cumsum(length) - length, length)
    values[rows, cols] = flat.fill_null(0).to_numpy(zero_copy_only=False)
    missing[rows, cols] = flat.is_null().to_numpy(zero_copy_only=False)
    return values, missing, null, length


def _vector_matrix(arr):
    """An Arrow list array of vectors as (x, null, length, folds): the
    float64 matrix of ``_list_matrix``, its NULL-list mask and lengths,
    and True where a SQL fold over the vector is not NULL — the vector
    is not NULL and holds no NULL element."""
    import numpy as np  # noqa: PLC0415

    x, missing, null, length = _list_matrix(arr, np.float64)
    holes = (missing & (np.arange(x.shape[1])[None, :] < length[:, None])).any(axis=1)
    return x, null, length, ~null & ~holes


def _sql_fold(x, folds, length, q, term):
    """The SQL ``aggregate(zip_with(v, q, term), 0D, +)`` of each row
    ``v`` of ``x`` (``_vector_matrix``): a sequential left fold from
    0.0, term for term, so the sums are the JVM's bits. NaN where the
    fold is NULL (a NULL vector or element, or ``v`` and ``q`` of
    unequal length — zip_with pads with NULL), with the NULL mask."""
    import numpy as np  # noqa: PLC0415

    null = ~folds | (length != len(q))
    acc = np.zeros(len(x))
    if len(q) <= x.shape[1]:
        with np.errstate(all="ignore"):
            for i, qi in enumerate(q):
                acc = acc + term(x[:, i], qi)
    acc[null] = np.nan
    return acc, null


_INT_MAX = (1 << 31) - 1


class _DriverCopy:
    """One request's columns of a materialized store, on the driver, and
    the score blocks and masks that replay the Spark plan's SQL on them.

    Every fold is the SQL fold term for term — a sequential left fold
    over the elements from 0.0, vectorized across rows only — so the
    scores are the JVM's bits. ``None`` from a score block means the
    Spark plan must answer (an edge this copy does not replay, such as a
    division by zero, which ANSI Spark raises)."""

    @staticmethod
    def fetch(df, id_col, vec_col, codes_col, ints) -> _DriverCopy | None:
        """ONE Spark job: ``_fetch_rows`` of the columns read. None when
        a column has a type the copy does not replay, or the rows are
        over budget."""
        read = [c for c in (id_col, vec_col, codes_col, *ints) if c]
        if any(c not in df.columns for c in read):
            return None  # a name Spark resolves case-insensitively
        names = {c: df.schema[c].dataType.simpleString() for c in read}
        if names[id_col] not in _INTEGRAL_TYPES or any(
            names[c] not in _INTEGRAL_TYPES for c in ints
        ):
            return None
        if vec_col and names[vec_col] not in ("array<float>", "array<double>"):
            return None
        if codes_col and names[codes_col] != "array<int>":
            return None
        rows = _fetch_rows(df.select(*[F.col(_sql_col(c)) for c in read]), "")
        return None if rows is None else _DriverCopy(rows.t, df.schema[id_col], vec_col,
                                                     codes_col, ints)

    def __init__(self, t, id_field, vec_col, codes_col, ints):
        import numpy as np  # noqa: PLC0415

        col = iter(t.column(i).combine_chunks() for i in range(t.num_columns))
        self.n = t.num_rows
        self.id_field = id_field
        self.ids = next(col)
        self.id_null = self.ids.is_null().to_numpy(zero_copy_only=False)
        self.id64 = self.ids.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        if vec_col:
            self.x, self.vec_null, self.length, self.folds = _vector_matrix(next(col))
            # ‖v‖², the query-independent half of the cosine: padding
            # zeros add +0.0 to a sum that started at +0.0
            with np.errstate(all="ignore"):
                sq = np.zeros(self.n)
                for i in range(self.x.shape[1]):
                    sq = sq + self.x[:, i] * self.x[:, i]
                self.norm = np.sqrt(sq)
            self.cosine_ok = self.folds & (sq > 0) & (sq < np.inf)
        if codes_col:
            self.codes, self.code_missing, self.codes_null, _ = _list_matrix(
                next(col), np.int64)
        self.ints = {
            c: (v.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64),
                v.is_null().to_numpy(zero_copy_only=False))
            for c, v in ((c, next(col)) for c in ints)
        }

    def kept(self, exclude_ids, probe):
        """Rows surviving ``NOT id IN (exclude_ids)`` (a NULL id never
        does, when any id is excluded) and the probe: some table's
        column, not NULL, holds a value of that table's set."""
        import numpy as np  # noqa: PLC0415

        keep = np.ones(self.n, dtype=bool)
        if exclude_ids:
            keep &= ~self.id_null & ~np.isin(self.id64, list(exclude_ids))
        if probe is not None:
            hit = np.zeros(self.n, dtype=bool)
            for c, values in zip(*probe):
                v, null = self.ints[c]
                hit |= ~null & np.isin(v, list(values))
            keep &= hit
        return keep

    def _fold(self, rows, q, term):
        """``_sql_fold`` of each row in ``rows``."""
        return _sql_fold(self.x[rows], self.folds[rows], self.length[rows], q, term)

    def cosine(self, keep, q):
        """``cosine_topk``'s candidates and scores: rows with
        0 < ‖v‖² < ∞, dot / (‖v‖·‖q‖) before rounding."""
        import numpy as np  # noqa: PLC0415

        rows = np.flatnonzero(keep & self.cosine_ok)
        dot, null = self._fold(rows, q, lambda x, y: x * y)
        q_sq = 0.0
        for y in q:
            q_sq = q_sq + y * y
        with np.errstate(all="ignore"):
            den = self.norm[rows] * math.sqrt(q_sq)
            if (den == 0).any():
                return None
            return rows, dot / den, null

    def l2(self, rows, q):
        """Squared L2 of ``rows`` against ``q``, NaN where the SQL fold is
        NULL (``_sql_l2_score``'s coalesce)."""
        def sq_diff(x, y):
            t = x - y
            return t * t

        return self._fold(rows, q, sq_diff)[0]

    def adc(self, keep, lut):
        """``_adc_scored``'s candidates (a code not NULL) and sums:
        ``get(table, j·k_sub + get(code, j))`` added over j, NULL when a
        code element is NULL or indexes outside the flat table."""
        import numpy as np  # noqa: PLC0415

        rows = np.flatnonzero(keep & ~self.codes_null)
        table = np.asarray([d for row in lut for d in row], dtype=np.float64)
        codes, missing = self.codes[rows], self.code_missing[rows]
        s, null = None, np.zeros(len(rows), dtype=bool)
        for j, row in enumerate(lut):
            if j < codes.shape[1]:
                miss = missing[:, j]
                idx = j * len(row) + codes[:, j]
            else:
                miss = np.ones(len(rows), dtype=bool)
                idx = np.zeros(len(rows), dtype=np.int64)
            if j * len(row) > _INT_MAX or (
                (~miss) & ((idx > _INT_MAX) | (idx < -_INT_MAX - 1))
            ).any():
                return None  # the int sum overflows: ANSI Spark raises
            ok = ~miss & (idx >= 0) & (idx < len(table))
            null |= ~ok
            term = table[np.where(ok, idx, 0)]
            s = term if s is None else s + term
        s[null] = np.nan
        return rows, s, null


def _ranked(copy: _DriverCopy, rows, score, null, n: int, dp: int, desc: bool):
    """The first ``n`` of ``rows`` as Spark's ``orderBy(round(score,
    dp), id).limit(n)`` ranks them — DESC NULLS LAST or ASC NULLS
    FIRST, NaN above every number, ties to id ASC NULLS FIRST — and
    their rounded scores (None for NULL). Rounding is ``_pq_half_up``
    (``F.round``), applied only as far down the raw order as the cut
    needs: it is monotone, so no later row can round past the cut."""
    import numpy as np  # noqa: PLC0415

    def by(sel, *keys):
        order = np.lexsort((sel, copy.id64[rows[sel]], ~copy.id_null[rows[sel]], *keys))
        return sel[order]

    nan = np.isnan(score) & ~null
    num = np.flatnonzero(~nan & ~null)
    classes = [np.flatnonzero(nan), None, np.flatnonzero(null)]
    if not desc:
        classes.reverse()
    out: list = []
    for cls in classes:
        if len(out) >= n:
            break
        if cls is not None:
            out += [(p, None if null[p] else float(score[p])) for p in by(cls)[: n - len(out)]]
            continue
        order = by(num, -score[num] if desc else score[num])
        need = n - len(out)
        rounded = [_pq_half_up(float(score[p]), dp) for p in order[:need]]
        for p in order[need:] if rounded else ():  # the cut's tie block
            v = _pq_half_up(float(score[p]), dp)
            if v != rounded[-1]:
                break
            rounded.append(v)
        head = order[: len(rounded)]
        r = np.asarray(rounded, dtype=np.float64)
        pick = np.lexsort((head, copy.id64[rows[head]], ~copy.id_null[rows[head]],
                           -r if desc else r))[:need]
        out += [(head[i], rounded[i]) for i in pick]
    pos = np.asarray([p for p, _ in out], dtype=np.int64)
    return pos, [v for _, v in out]


def _driver_topk(df, query_vec, k, id_col, exclude_ids, score, vec_col,
                 round_dp=6, probe=None, codebooks=None, codes_col=None, refine_n=0):
    """The answer to one single-query request from ``df``'s driver
    copy, or None: the Spark plan answers.

    ``score`` is the request's ranking: "cosine" (``cosine_topk``),
    "l2" (``l2_topk``) or "adc" (``_adc_scored``, then — with
    ``refine_n`` > 0 — the carried leg of ``_refine_l2`` over the
    ``max(k, refine_n)`` shortlist). ``probe`` is (columns, value sets):
    a row is a candidate when any column holds a value of its set, as
    the IVF cell probe and the LSH Hamming balls filter. The result is
    a ``LocalRelation`` built from Arrow, with the Spark plan's schema
    and rows: ids and rounded scores bit for bit; rows tied on score and
    id come in an order of their own, as Spark's do."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    lut = _pq_lut(query_vec, codebooks) if score == "adc" else None
    if not (type(k) is int and k >= 0 and type(round_dp) is int and type(refine_n) is int
            and (lut is None or len(lut))
            and all(type(e) is int and -(1 << 63) <= e < 1 << 63 for e in exclude_ids)
            and (probe is None or all(0 <= v < 1 << 63 for vs in probe[1] for v in vs))):
        return None
    copy = _driver_copy(df, id_col, vec_col, codes_col,
                        tuple(probe[0]) if probe is not None else ())
    if copy is None:
        return None
    keep = copy.kept(exclude_ids, probe)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    cols = {}
    if score == "cosine":
        scored = copy.cosine(keep, q)
        if scored is None:
            return None
        rows, s, null = scored
        pos, r = _ranked(copy, rows, s, null, k, 4, desc=True)
        rows, cols["cos_sim"] = rows[pos], r
    elif score == "l2":
        rows = np.flatnonzero(keep & ~copy.vec_null)
        s = copy.l2(rows, q)
        pos, r = _ranked(copy, rows, s, np.zeros(len(rows), bool), k, round_dp, False)
        rows, cols["l2"] = rows[pos], r
    else:
        scored = copy.adc(keep, lut)
        if scored is None:
            return None
        rows, s, null = scored
        width = max(k, refine_n) if refine_n > 0 else k
        pos, r = _ranked(copy, rows, s, null, width, round_dp, False)
        rows, adc = rows[pos], r
        if refine_n > 0:
            present = np.flatnonzero(~copy.vec_null[rows])
            rows, adc = rows[present], [adc[i] for i in present]
            s = copy.l2(rows, q)
            pos, r = _ranked(copy, rows, s, np.zeros(len(rows), bool), k, round_dp, False)
            rows, adc = rows[pos], [adc[i] for i in pos]
            cols["adc"], cols["l2"] = adc, r
        else:
            cols["adc"] = adc
    table = pa.table(
        [copy.ids.take(pa.array(rows, type=pa.int64())),
         *[pa.array(v, type=pa.float64()) for v in cols.values()]],
        names=[id_col, *cols],
    )
    schema = T.StructType([copy.id_field, *[T.StructField(c, T.DoubleType()) for c in cols]])
    return df.sparkSession.createDataFrame(table, schema)


# =============================================================================
# Driver builds — encode, assign and sign a small materialized frame
# =============================================================================

# Column types an Arrow round trip (toArrow, then createDataFrame from
# the table) returns bit for bit, alone or as a one-level array's
# elements; a frame with a column of any other type keeps the Spark plan
_ROUND_TRIP_TYPES = (*_INTEGRAL_TYPES, "float", "double", "boolean", "string", "binary",
                     "date")
# A string or binary cell of more bytes than this (64 MiB over 32,768
# rows) makes a frame over budget before its fetch ships it
_BUILD_CELL_BYTES = _DRIVER_TOPK_BYTES // _DRIVER_TOPK_ROWS

# {frame: _Rows, or None (not materialized, over budget, or a column the
# round trip does not keep)}, keyed by the caller's DataFrame object as
# _driver_copies is; a frame a driver build returns is entered with the
# table it was built from, so the next step of a chain fetches nothing
_driver_rows: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


class _Rows:
    """Every column of a small materialized frame on the driver: ``t``,
    a ``pyarrow.Table`` in scan order, ``parts``, the (start, stop) rows
    of each of the frame's partitions, and ``local``, True for a
    ``LocalRelation`` (whose filter folds into a relation that slices
    its rows anew)."""

    def __init__(self, t, parts, local: bool):
        self.t, self.parts, self.local = t, parts, local


def _frame_rows(df: DataFrame) -> _Rows | None:
    """``df``'s rows on the driver, or None: the Spark plan runs. A
    materialized frame (``_materialized``) is fetched by its first
    caller in ONE ``limit(budget + 1)`` Arrow collect of every column,
    within the driver copy's budget (``_DRIVER_TOPK_ROWS`` rows,
    ``_DRIVER_TOPK_BYTES``, ``_EXACT_FIT_DIM`` elements per array cell,
    ``_BUILD_CELL_BYTES`` per string or binary cell); the rows, or the
    verdict, are kept for every later caller. A row budget below 1
    turns the path off."""
    if _DRIVER_TOPK_ROWS < 1:
        return None
    if df not in _driver_rows:
        kind = _materialized(df)
        _driver_rows[df] = _fetch_rows(df, kind) if kind else None
    return _driver_rows[df]


def _fetch_rows(df: DataFrame, kind: str) -> _Rows | None:
    """ONE Spark job: every column of ``df``, its partition ids and a
    flag for a cell over the per-cell budget, which comes back NULL.
    None when a column's type or name is one the round trip does not
    keep (two names Spark resolves alike), or the rows are over
    budget."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    names = df.columns
    if len({n.lower() for n in names}) < len(names):
        return None
    cols, wide = [], ["false"]
    for i, f in enumerate(df.schema.fields):
        typ = f.dataType.simpleString()
        array = typ.startswith("array<")
        elem = typ[len("array<"):-1] if array else typ
        if elem not in _ROUND_TRIP_TYPES and not elem.startswith("decimal("):
            return None
        c = _sql_col(f.name)
        if array:
            over = f"size({c}) > {_EXACT_FIT_DIM}"
        elif typ in ("string", "binary"):
            over = f"octet_length({c}) > {_BUILD_CELL_BYTES}"
        else:
            cols.append(F.col(c).alias(f"c{i}"))
            continue
        cols.append(F.when(~F.expr(over), F.col(c)).alias(f"c{i}"))
        wide.append(f"coalesce({over}, false)")
    t = _arrow_rows(
        df.select(*cols, F.spark_partition_id().alias("p"),
                  F.expr(" OR ".join(wide)).alias("wide")),
        _DRIVER_TOPK_ROWS,
    )
    if t is None or t.nbytes > _DRIVER_TOPK_BYTES or pc.any(t.column("wide")).as_py():
        return None
    t, part = t.select(range(len(names))).rename_columns(names).combine_chunks(), t.column("p")
    if kind == "LocalRelation":
        # the optimizer folds spark_partition_id() over a LocalRelation to 0
        return _Rows(t, _local_parts(df.sparkSession, t.num_rows), True)
    bounds = [0, *(np.flatnonzero(np.diff(part.to_numpy())) + 1).tolist(), t.num_rows]
    return _Rows(t, list(zip(bounds[:-1], bounds[1:])), False)


def _local_parts(spark: SparkSession, n: int) -> list[tuple[int, int]]:
    """The (start, stop) rows of each partition of a ``LocalRelation``
    of ``n`` rows: its scan slices them into min(n, leaf parallelism)
    partitions as ``parallelize`` does."""
    conf = spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
    p = min(max(n, 1), int(conf) if conf else spark.sparkContext.defaultParallelism)
    return [(i * n // p, (i + 1) * n // p) for i in range(p)]


def _vector_type(df: DataFrame, vec_col: str) -> bool:
    """True when ``vec_col`` is a column of ``df`` by its exact name, of
    type array<float> or array<double>: the vectors the driver path
    reads as Spark's ``CAST(… AS ARRAY<DOUBLE>)`` reads them."""
    return vec_col in df.columns and df.schema[vec_col].dataType.simpleString() in (
        "array<float>", "array<double>")


def _udf_batches(df: DataFrame, rows: _Rows) -> list[tuple[int, int]]:
    """The (start, stop) rows of each Arrow batch a scalar pandas UDF
    attached to ``_one_task(df)`` sees: ``maxRecordsPerBatch`` rows at
    a time within each partition — or within the one partition
    ``_one_task`` coalesces the frame to — so a BLAS kernel sums each
    row as a worker would. An empty frame is one empty batch."""
    n = rows.t.num_rows
    parts = [(0, n)] if _fits_one_task(df) else rows.parts
    b = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    b = b if b > 0 else max(n, 1)
    return [(a, min(a + b, hi)) for lo, hi in parts for a in range(lo, hi, b)] or [(0, 0)]


def _driver_build(df: DataFrame, vec_col: str, outs: dict, build) -> DataFrame | None:
    """``df`` with the columns ``outs`` ({name: StructField}) set as
    ``withColumns`` sets them — a column of the same name replaced in
    place, a new one appended — from ``build(rows)`` ({name: Arrow
    array}) over ``df``'s driver rows. The result is a ``LocalRelation``
    built from Arrow, entered in ``_driver_rows`` with its table, so the
    next build of a chain reads it without a job. None — the Spark plan
    builds the columns — when ``vec_col`` is not an array<float> or
    array<double> column of that exact name, an output name matches a
    column of another spelling, or ``_frame_rows`` gives no rows."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    if not _vector_type(df, vec_col):
        return None
    spelled = {c.lower(): c for c in df.columns}
    if any(spelled.get(o.lower(), o) != o for o in outs):
        return None
    rows = _frame_rows(df)
    if rows is None:
        return None
    with np.errstate(all="ignore"):  # NaN rows, as a worker's kernel meets them
        new = build(rows)
    fields = [outs.get(f.name, f) for f in df.schema.fields]
    fields += [f for name, f in outs.items() if name not in df.columns]
    t = pa.Table.from_arrays(
        [new[f.name] if f.name in outs else rows.t.column(f.name) for f in fields],
        names=[f.name for f in fields],
    )
    out = df.sparkSession.createDataFrame(t, T.StructType(fields))
    _driver_rows[out] = _Rows(t, _local_parts(df.sparkSession, t.num_rows), True)
    return out


def _pq_build(df: DataFrame, codebooks, vec_col: str, out: str) -> DataFrame | None:
    """``pq_encode`` on the driver: ``_pq_batch`` over the batches its
    UDF sees (``_udf_batches``), or None."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    mats, norms = _pq_kernel_args(codebooks)

    def build(rows):
        vecs = rows.t.column(vec_col).to_numpy()
        done = [_pq_batch(vecs[a:b], mats, norms) for a, b in _udf_batches(df, rows)]
        codes = np.concatenate([c for c, _ in done])
        null = np.concatenate([m for _, m in done])
        n, m = codes.shape
        return {out: pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * m + 1, m, dtype=np.int32)),
            pa.array(codes.ravel(), type=pa.int32()), mask=pa.array(null))}

    field = T.StructField(out, T.ArrayType(T.IntegerType()))
    return _driver_build(df, vec_col, {out: field}, build)


def _cell_build(df: DataFrame, centroids, metric: str, vec_col: str,
                out: str) -> DataFrame | None:
    """``ivf_assign`` on the driver: ``_cell_series`` with
    ``_cell_kernel`` over the batches its UDF sees, or None."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    shape = np.shape(centroids)
    if len(shape) != 2 or min(shape) < 1:
        return None  # the Spark path raises, or runs, as it always has
    kernel, args = _cell_kernel(centroids, "l2" if metric == "l2" else "cosine")

    def build(rows):
        vecs = rows.t.column(vec_col).to_numpy()
        return {out: pa.concat_arrays([
            pa.array(_cell_series(vecs[a:b], shape[1], kernel, *args), type=pa.int32())
            for a, b in _udf_batches(df, rows)])}

    return _driver_build(df, vec_col, {out: T.StructField(out, T.IntegerType())}, build)


def _sign_build(df: DataFrame, num_planes: int, seed: int, vec_col: str,
                cols: list[str], dim: int | None) -> DataFrame | None:
    """``lsh_persist_signatures`` on the driver: each plane's dot
    product is ``_sql_fold`` — ``lsh_signature``'s SQL fold term for
    term — and its bit is set where the dot is not NULL and ``>= 0``
    (Spark ranks NaN above every number, so a NaN dot sets it). None
    when a bit would not fit a signed long."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    if num_planes > 63:
        return None

    def build(rows):
        x, null, length, folds = _vector_matrix(rows.t.column(vec_col).combine_chunks())
        width = dim
        if width is None:  # the first non-null vector's length
            first = np.flatnonzero(~null)
            if not len(first):
                raise ValueError(f"no non-null {vec_col} rows to derive dim from")
            width = int(length[first[0]])
        sigs = {}
        for t, col in enumerate(cols):
            sig = np.zeros(len(x), dtype=np.int64)
            for p, plane in enumerate(_hyperplanes(num_planes, width, seed + 1000003 * t)):
                d, dot_null = _sql_fold(x, folds, length, plane, lambda a, b: a * b)
                sig += np.where(~dot_null & ((d >= 0) | np.isnan(d)), 1 << p, 0)
            sigs[col] = pa.array(sig)
        return sigs

    fields = {c: T.StructField(c, T.LongType(), False) for c in cols}
    return _driver_build(df, vec_col, fields, build)
