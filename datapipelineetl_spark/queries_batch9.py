"""Ninth query battery (round 4): the collision/scale paths that complete
two §2.11 families — the winnowing fingerprint collision join (the
candidate-pair stage next to q_winnowing_fingerprints, the same way
q_minhash_near_dups completes MinHash) and LSH-bucketed embedding-cosine
near-pairs (the scale path next to the exact O(n²) q_cosine_near_pairs
baseline). Both oracle-checked by replaying the identical hash algebra /
hyperplane constants in DuckDB SQL (VERDICT r3 items 4–5).

Conventions identical to queries.py: aliases match the oracle exactly;
no session-conf dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import dedup, relational, similarity, text
from datapipelineetl_spark.operators.dedup import MINHASH_P
from datapipelineetl_spark.queries import _t, _t_spread, query
from datapipelineetl_spark.queries_batch8 import _WINNOW_K, _WINNOW_W, _winnow_cte
from datapipelineetl_spark.queries_ext import _minhash_sig_sql, _SQL_HASH60, _SQL_TOKSET

# =============================================================================
# Winnowing collision join — the fingerprint family's candidate-pair stage
# =============================================================================

# The synthetic documents corpus is template-generated and extremely
# self-similar: 972 distinct fingerprints across 500 docs at sf0.01, with
# the hottest fingerprint in 394 of them. Uncapped, the bucket self-join
# is effectively all-pairs (the data is degenerate, not the plan). The cap
# keeps the query measuring the ENGINE's bucketed-join shape — and is the
# same boilerplate-bucket mitigation a real corpus needs at 100 TB.
_WINNOW_CAP = 20


def _winnow_collision_oracle(k: int, w: int, cap: int) -> str:
    """Pair join replayed on the shared winnowing CTE prefix: unnest the
    distinct selected hashes, drop fingerprints in > cap docs, equi-join
    on the fingerprint, count shared fingerprints per (id_a, id_b)."""
    return f"""{_winnow_cte(k, w)},
    fp AS (
      SELECT doc_id, UNNEST(list_distinct(mins)) AS fp FROM mins),
    keep AS (
      SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {cap}),
    c AS (
      SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


@query(
    "q_winnow_collisions",
    _winnow_collision_oracle(_WINNOW_K, _WINNOW_W, _WINNOW_CAP),
)
def q_winnow_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing collision candidates: docs sharing ≥1 selected k-gram
    hash pair up with the shared-fingerprint count — the candidate stage
    of fingerprint-based near-dup detection (Schleimer et al. SIGMOD'03
    §4: matching fingerprints locate matching substrings). Completes the
    family's scale path: q_winnowing_fingerprints verifies the signature
    construction, this verifies the bucketed collision join over it.

    Scale: explode → equi-join on the fingerprint — O(n × fps/doc)
    shuffle, never pairwise; hot boilerplate fingerprints are dropped by
    the bucket cap (see dedup.fingerprint_collision_pairs for the cap
    rationale and the explode_outer plan subtlety).
    """
    docs = _t_spread(spark, sf_dir, "documents")
    fps = text.with_winnowing_fingerprints(docs, k=_WINNOW_K, window=_WINNOW_W)
    return dedup.fingerprint_collision_pairs(
        fps, "doc_id", "winnow_fps", max_bucket_size=_WINNOW_CAP, materialize=True
    )


# =============================================================================
# Range join — point-in-interval, bucketized (the non-equi join scale path)
# =============================================================================

@query(
    "q_range_join_ship_windows",
    """
    WITH w AS (
      SELECT o_orderkey, o_orderdate AS w_start,
             o_orderdate + INTERVAL 3 DAY AS w_end
      FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT w.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           SUM(l_quantity) AS sum_qty
    FROM w JOIN lineitem
      ON l_shipdate >= w_start AND l_shipdate < w_end
    GROUP BY w.o_orderkey
    """,
)
def q_range_join_ship_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: global shipment count/volume inside each urgent
    order's 3-day window — a pure point-in-interval join (NO key
    equality), the shape OSS Spark would execute as
    BroadcastNestedLoopJoin. relational.range_join rewrites it to an
    equi-join on time buckets + exact containment filter; the oracle is
    DuckDB's native inequality join, so the whole rewrite is
    value-checked (same technique as the as-of join's oracle).

    Scale: bucket equi-join shuffles O(|points| + |intervals| ×
    spans) rows and confines pair evaluation to per-bucket groups —
    ~work ∝ (window + bucket)/horizon × |P|×|I|, a ~500× reduction vs
    the naive form here; bucket_days=2 measured best for the 3-day
    windows (A/B in the round-4 log: 1d 3.7s / 2d 3.3s / 4d 4.0s warm
    at sf0.1). Plan-asserted free of nested-loop/cartesian operators in
    tests/test_scale_patterns.py.

    Round 17 (guide §2.3 "aggregate before you shuffle"): COUNT/SUM over
    a day-granular point column decompose by day, so lineitem is
    pre-aggregated to (l_shipdate, n_day, qty_day) — ~2.4k day rows at
    any SF — BEFORE the range join; the windowed aggregates become sums
    of day partials. Pair evaluations drop from |lineitem|×density
    (~36M at sf0.1) to |days|×density (~150k), and the payload shuffled
    into the bucket join is day rows, not lineitems. Value-identical:
    COUNT(*) = Σ day counts exactly, and SUM(l_quantity) re-associates
    EXACTLY because every l_quantity is an integer 1..50 stored in
    double (TPC-H spec) and all partial sums stay far below 2^53 —
    integer double addition is associative (pinned by
    tests/test_relational.py::test_range_join_ship_day_preagg_exact;
    oracle hash unchanged on every SF)."""
    orders = _t(spark, sf_dir, "orders")
    windows = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("w_end"),
    )
    day_points = (
        _t(spark, sf_dir, "lineitem")
        .select("l_shipdate", "l_quantity")
        .groupBy("l_shipdate")
        .agg(
            F.count(F.lit(1)).alias("__n_day"),
            F.sum("l_quantity").alias("__qty_day"),
        )
    )
    joined = relational.range_join(
        day_points, windows, "l_shipdate", "w_start", "w_end", bucket_days=2
    )
    return joined.groupBy("o_orderkey").agg(
        F.sum("__n_day").alias("n_shipments"),
        F.sum("__qty_day").alias("sum_qty"),
    )


# =============================================================================
# Forward as-of join + salted join — tested-only scale paths, now oracled
# =============================================================================

@query(
    "q_asof_join_next_purchase",
    """
    SELECT c.event_id, c.user_id, c.ts, p.ts AS next_purchase_ts,
           ROUND(p.value, 2) AS next_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def q_asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click gets the user's EARLIEST purchase
    at or after it — the attribution-window direction
    (q_asof_join_purchase covers backward; this oracles the other half
    of relational.asof_join via DuckDB's ASOF with the inequality
    flipped). Same union-and-window plan: one shuffle, no pair blowup."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("next_purchase_ts"),
            F.round("value", 2).alias("next_purchase_value"),
        )
    )
    return relational.asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="next_purchase_ts",
        right_cols=["next_purchase_ts", "next_purchase_value"],
        direction="forward",
    ).select("event_id", "user_id", "ts", "next_purchase_ts", "next_purchase_value")


@query(
    "q_salted_join_volume",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_salted_join_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, value-checked: order volume per nation computed
    through relational.salted_join (orders⋈customer spread over 8 salt
    sub-keys) must equal the plain join the oracle runs — salting
    changes the key DISTRIBUTION, never the result. The aggregate output
    is deterministic even though row→salt assignment is not.

    Scale: this is the hot-key mitigation for when AQE's skew split
    isn't available/enough (relational.salted_join docstring) — the
    salted key spreads one giant hash bucket over N reducers at the
    cost of replicating the small side N×."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = relational.salted_join(orders, customer, on=["custkey"], buckets=8)
    return (
        joined.join(F.broadcast(nation), joined.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# =============================================================================
# Hypertable-style multi-resolution rollup (continuous-aggregate shape)
# =============================================================================

@query(
    "q_hypertable_rollup",
    """
    WITH ev AS (
      SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             date_trunc('month', ts) AS m, event_type, value
      FROM events)
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                ELSE 'month' END AS grain,
           COALESCE(h, d, m) AS bucket_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM ev
    GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (m, event_type))
    """,
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: the TimescaleDB continuous-aggregate shape —
    one pass over the event stream producing hour, day, AND month
    buckets per event type via GROUPING SETS over pre-truncated time
    buckets (grain disambiguated with GROUPING(), not nullness, so a
    legitimately-null bucket can't masquerade as a coarser grain).

    Scale: ONE scan + ONE shuffle for all three grains (plan: Scan →
    Expand ×3 → partial HashAggregate → Exchange → final). Expand
    replicates rows in-memory before the partial aggregate — 3× map-side
    rows, but the partial agg collapses them to bucket cardinality
    BEFORE the exchange, so the shuffle carries only aggregated buckets;
    vs three separate groupBys this saves two full scans and two
    shuffles. At 100 TB this is the batch form of the streaming
    tumbling-window aggregate (ST8) materialized at multiple
    resolutions."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
        "event_type",
        "value",
    )
    grain = (
        F.when(F.grouping("h") == 0, F.lit("hour"))
        .when(F.grouping("d") == 0, F.lit("day"))
        .otherwise(F.lit("month"))
    )
    return (
        ev.groupingSets(
            [["h", "event_type"], ["d", "event_type"], ["m", "event_type"]],
            "h", "d", "m", "event_type",
        )
        .agg(
            grain.alias("grain"),
            F.coalesce("h", "d", "m").alias("bucket_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("grain", "bucket_ts", "event_type", "n_events", "sum_value")
    )


# =============================================================================
# Capped MinHash near-dups + clusters — the dedup ladder's production shape
# =============================================================================

# The corpus is template-generated: the hottest minhash band bucket holds
# 2650 of 5000 docs at sf0.1, so UNCAPPED banding is effectively all-pairs
# (q_minhash_near_dups keeps the uncapped form as the recall reference;
# VERDICT r1 noted its output is O(n²) on this degenerate fixture). The
# capped form is what actually runs at 100 TB — boilerplate buckets are
# dropped before the K² pair emission — and is the variant the bench
# times, so the measurement tracks the engine, not the data degeneracy.
_MH_CAP = 50
_MH_THRESHOLD = 0.7
_MH_BANDS = 4
_MH_ROWS = 4


def _minhash_capped_pairs_cte(threshold: float, bands: int, rows: int, cap: int) -> str:
    """DuckDB replay of the FULL capped ladder: signature → banding →
    bucket-size cap → candidate pairs → exact-Jaccard verify. Ends at the
    ``pairs`` CTE so the cluster query can extend it. (No leading WITH —
    callers prepend ``WITH`` or ``WITH RECURSIVE``.)"""
    h = _SQL_HASH60.format(t="tok")
    band_rows = ", ".join(f"({b})" for b in range(bands))
    jac = """len(list_intersect(ta.ts, tb.ts)) * 1.0
            / GREATEST(len(list_distinct(list_concat(ta.ts, tb.ts))), 1)"""
    return rf"""toks AS (
      SELECT doc_id, {_SQL_TOKSET.format(c='text')} AS ts FROM documents),
    hs AS (
      SELECT doc_id, ts, list_transform(ts, tok -> {h} % {MINHASH_P}) AS hs FROM toks),
    sig AS (
      SELECT doc_id, ts, {_minhash_sig_sql()} AS s FROM hs),
    bands AS (
      SELECT doc_id, band,
             md5(array_to_string(list_slice(s, band * {rows} + 1, band * {rows} + {rows}), ',')) AS bk
      FROM sig, (VALUES {band_rows}) b(band)),
    keep AS (
      SELECT band, bk FROM bands GROUP BY band, bk HAVING COUNT(*) <= {cap}),
    kb AS (
      SELECT bands.doc_id, bands.band, bands.bk FROM bands JOIN keep USING (band, bk)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kb a JOIN kb b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT id_a, id_b, ROUND({jac}, 6) AS jaccard
      FROM cand JOIN toks ta ON cand.id_a = ta.doc_id
                JOIN toks tb ON cand.id_b = tb.doc_id
      WHERE {jac} >= {threshold})"""


@query(
    "q_minhash_capped_near_dups",
    f"""WITH {_minhash_capped_pairs_cte(_MH_THRESHOLD, _MH_BANDS, _MH_ROWS, _MH_CAP)}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
)
def q_minhash_capped_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4×4) near-dup pairs WITH the hot-bucket cap —
    the production form of q_minhash_near_dups (see _MH_CAP note). The
    oracle replays signature, banding, the cap, AND the exact-Jaccard
    verify, so the skew mitigation itself is value-checked.

    Scale: O(n × bands) banding shuffle; the cap bounds any bucket's pair
    emission at cap², making worst-case work linear in n for fixed cap."""
    docs = _t_spread(spark, sf_dir, "documents")
    return dedup.near_dup_pairs(
        docs, "doc_id", "text",
        threshold=_MH_THRESHOLD, num_hashes=16,
        bands=_MH_BANDS, rows_per_band=_MH_ROWS,
        max_bucket_size=_MH_CAP, materialize=True,
    )


@query(
    "q_dedup_clusters_lsh",
    f"""WITH RECURSIVE {_minhash_capped_pairs_cte(_MH_THRESHOLD, _MH_BANDS, _MH_ROWS, _MH_CAP)},
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, cc.label FROM edges e JOIN cc ON cc.node = e.dst)
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY node
    """,
)
def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the CAPPED MinHash-LSH pair graph — the
    dedup ladder end-to-end in its production shape (signature → banding
    → cap → verify → clusters), where q_dedup_clusters runs the same
    union-find over the exact O(n²) ngram-Jaccard baseline graph.

    Scale: every stage is bucketed/capped (see q_minhash_capped_near_dups)
    and the union-find contraction is one lazy plan of
    ⌈log_64(partitions)⌉ small shuffles (dedup.cluster_pairs)."""
    pairs = q_minhash_capped_near_dups(spark, sf_dir).select("id_a", "id_b")
    return dedup.cluster_pairs(pairs)


# =============================================================================
# LSH-bucketed cosine near-pairs — the embedding near-dup scale path
# =============================================================================

_LSH_DIM = 64          # fixture embedding width; the query asserts it
# 4 planes × 16 tables: the fixture's vectors are near-uniform — LSH's
# hardest case (p_plane ≈ 0.65 at cosine 0.45, so per-table collision
# p⁴ ≈ 0.18; 16 tables give expected recall 1−(1−0.18)¹⁶ ≈ 0.96).
# Measured on the fixture: recall 1.00 vs the exact q_cosine_near_pairs
# baseline, output a strict subset of it. A clustered real corpus
# reaches the same recall with far fewer tables.
_LSH_N_PLANES = 4
_LSH_N_TABLES = 16
_LSH_PLANES_T = [
    similarity._hyperplanes(_LSH_N_PLANES, _LSH_DIM, seed=42 + 1000003 * t)
    for t in range(_LSH_N_TABLES)
]
_LSH_THRESHOLD = 0.45


def _lsh_cosine_oracle() -> str:
    """DuckDB replay of the multi-table SRP-LSH near-pair path: identical
    hyperplane constants (full-precision literals), identical sign-bit
    signatures, identical OR-of-tables candidate rule, identical rounded
    cosine verify — the same literal-embedding technique as batch-3's
    q_ann_lsh_topk oracle."""

    def arr(xs: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in xs) + "]"

    sig_exprs = []
    for planes in _LSH_PLANES_T:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {arr(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        sig_exprs.append(f"({terms})::BIGINT")
    sig_cols = ", ".join(f"{e} AS sig{t}" for t, e in enumerate(sig_exprs))
    any_table = " OR ".join(f"a.sig{t} = b.sig{t}" for t in range(_LSH_N_TABLES))
    return f"""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
      SELECT vec_id, v, {sig_cols} FROM s),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id AND ({any_table})),
    sc AS (
      SELECT id_a, id_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
      FROM cand JOIN s a ON cand.id_a = a.vec_id
                JOIN s b ON cand.id_b = b.vec_id)
    SELECT id_a, id_b, cos_sim FROM sc WHERE cos_sim >= {_LSH_THRESHOLD}
    """


@query(
    "q_ivf_recall",
    """
    SELECT 10 AS k, TRUE AS recall_ge_090
    """,
)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 gate for the IVF ANN family (the k-means-partitioned
    path next to SRP-LSH — the two index families a 100 TB embedding
    store would choose between): |IVF top-10 ∩ exact top-10| / 10 ≥ 0.9,
    emitted as a boolean the oracle asserts TRUE — the same
    constant-gate pattern as q_ann_recall.

    Deterministic: the spherical-k-means fit initializes from the
    k_cells smallest-id vectors with fixed Lloyd iterations (no RNG),
    so the index — and therefore the recall value — is a pure function
    of the fixture.

    Config: 16 cells, nprobe 6 → probes ~37% of a near-uniform corpus
    for 0.90 recall (measured; uniform vectors are the worst case — a
    clustered corpus concentrates neighbors in 1–2 cells). Scale: the
    cell id is a persistable partition column, so a probe is partition
    pruning; fit runs on a sample, assignment is one narrow Arrow pass
    (similarity.ivf_fit_centroids / ivf_topk docstrings)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    probe = [(1.0 if i % 7 == 0 else 0.1) for i in range(dim)]
    exact = similarity.cosine_topk(emb, probe, k=10).select("vec_id")
    cents = similarity.ivf_fit_centroids(emb, k_cells=16, iters=5, dim=dim)
    approx = similarity.ivf_topk(emb, probe, cents, k=10, nprobe=6).select("vec_id")
    hits = approx.join(F.broadcast(exact), "vec_id", "semi")
    return hits.agg(
        F.lit(10).alias("k"),
        (F.count(F.lit(1)) >= F.lit(9)).alias("recall_ge_090"),
    )


@query("q_lsh_cosine_near_pairs", _lsh_cosine_oracle())
def q_lsh_cosine_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via 16-table × 4-plane SRP-LSH
    bucketing — the scale path whose exact baseline is
    q_cosine_near_pairs (same threshold, same output contract; measured
    recall 1.00 on the fixture, output a strict subset — see the
    _LSH_N_TABLES note). The seed-fixed hyperplanes are embedded in the
    oracle as literals, so signature, candidate rule, AND the cosine
    verify are value-checked.

    Scale: per table one narrow signature + one equi-join shuffle on the
    full signature — O(n × tables), never pairwise; the exact cosine runs
    on bucket collisions only (similarity.lsh_cosine_near_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    if dim != _LSH_DIM:
        raise ValueError(
            f"embeddings dim {dim} != {_LSH_DIM}; the oracle's hyperplane "
            "literals are derived for the fixture width — regenerate _LSH_PLANES_T"
        )
    return similarity.lsh_cosine_near_pairs(
        emb,
        _LSH_THRESHOLD,
        num_planes=_LSH_N_PLANES,
        num_tables=_LSH_N_TABLES,
        seed=42,
        dim=_LSH_DIM,
        materialize=True,
    )
