"""Fifth query battery: TF-IDF (completing the §2.11 text-analysis ladder),
and the remaining fixture-expressible TPC-H join shapes — Q7 (two-role
dimension aliasing), Q13 (distribution of an outer-join aggregate), Q17
(correlated per-group average threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import dedup, text
from datapipelineetl_spark.queries import _t, query
from datapipelineetl_spark.queries_ext import _SQL_TOKENS

# =============================================================================
# Text analysis: TF-IDF
# =============================================================================

@query(
    "q_tf_idf",
    rf"""
    WITH terms AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS.format(c='text')}) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM terms WHERE token <> '' GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df, ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tf_idf
    FROM tf JOIN dfreq USING (token), n
    """,
)
def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, token) — the classic text-featurization
    aggregate (text.tf_idf docstring has the two-shuffle plan analysis)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tf_idf(docs)
    return out.select(
        "doc_id", "token", "tf", "df", F.round("tf_idf", 6).alias("tf_idf")
    )


@query(
    "q_dedup_clusters",
    rf"""
    WITH RECURSIVE
    toks AS (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS ts FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ts) - 2),
                           i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sg
      FROM toks),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sg, b.sg)) * 1.0
            / GREATEST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)), 1) >= 0.3),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    cc AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, cc.label FROM edges e JOIN cc ON cc.node = e.dst)
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the n-gram-Jaccard
    pair graph (union-find contraction, dedup.cluster_pairs) — the
    union-find step that turns pairwise matches into keep-one groups.

    An ITERATIVE algorithm, still hash-checked: the oracle computes the
    same components with a recursive CTE. Scale analysis in the operator
    docstring (one lazy union-find contraction plan)."""
    from datapipelineetl_spark.queries_batch3 import q_ngram_jaccard_pairs

    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    return dedup.cluster_pairs(pairs)


# =============================================================================
# Remaining TPC-H join shapes
# =============================================================================

@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the same dimension table joined twice
    in different roles (supplier-nation vs customer-nation).

    Scale: both nation aliases broadcast; the OR-pair predicate prunes
    after the joins. lineitem⋈orders is the only big shuffle; supplier
    and customer broadcast at any realistic dimension/fact ratio."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): outer-join aggregate of an
    aggregate — customers with zero orders must appear (COUNT of a NULL
    key = 0, left join preserved).

    Scale: the custkey aggregate reuses the join's partitioning (no second
    exchange under AQE); the distribution re-agg is over ≤ max-orders keys."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated per-part
    average, decorrelated as a window over partkey — the brand filter
    (on part attributes only) is applied FIRST via broadcast semi-join,
    so the window sees just the brand's lineitems yet each part's average
    is still over all of that part's rows. One shuffle on partkey instead
    of the textbook rescan-per-row."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    mine = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        mine.withColumn("avg_q", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# =============================================================================
# Approximate sketches (HLL / t-digest) — rows-only: approximation families
# differ across engines by design; accuracy asserted in
# tests/test_scale_patterns.py against exact values.
# =============================================================================

@query(
    "q_approx_sketches",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS parts_within_tol,
           TRUE AS median_within_tol,
           TRUE AS p90_within_tol,
           TRUE AS p99_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch aggregates — the 100 TB substitutes for exact
    distinct counts and percentiles: approx_count_distinct (HyperLogLog++)
    and approx_percentile (t-digest-style). Both combine map-side, so the
    shuffle carries one sketch per partition instead of the value stream.

    Cross-engine sketch families differ, so raw approx values can't be
    hash-compared — instead the query computes the EXACT answers alongside
    the sketches and emits within-tolerance booleans (HLL++ default rsd
    0.05 → 10% bound; approx_percentile at default accuracy → 2% bound).
    The oracle asserts every boolean is TRUE plus the exact distinct
    count, so the sketch-accuracy claim is a hard pass/fail driver check,
    not a rows-only count."""
    li = _t(spark, sf_dir, "lineitem")
    rel_ok = lambda approx, exact, tol: (  # noqa: E731
        F.abs(approx - exact) <= F.lit(tol) * F.abs(exact)
    )
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("a_med"),
        F.expr("approx_percentile(l_extendedprice, array(0.9, 0.99))").alias("a_tail"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("x_med"),
        F.expr("percentile(l_extendedprice, array(0.9, 0.99))").alias("x_tail"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        rel_ok(F.col("approx_parts"), F.col("exact_parts"), 0.10).alias("parts_within_tol"),
        rel_ok(F.col("a_med"), F.col("x_med"), 0.02).alias("median_within_tol"),
        rel_ok(F.col("a_tail")[0], F.col("x_tail")[0], 0.02).alias("p90_within_tol"),
        rel_ok(F.col("a_tail")[1], F.col("x_tail")[1], 0.02).alias("p99_within_tol"),
    )
