"""Scale-pattern tests: the techniques that matter at 100 TB — skew
salting, bucketed co-located joins, forward as-of — verified for both
result-correctness and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import relational
from datapipelineetl_spark.sinks import tables


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    """Salting must not change results — only the key distribution."""
    left = spark.createDataFrame(
        [(1, i) for i in range(100)] + [(2, 0)], ["k", "v"]  # key 1 is hot
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "name"])
    plain = {(r.k, r.v, r.name) for r in left.join(right, "k").collect()}
    salted = {
        (r.k, r.v, r.name)
        for r in relational.salted_join(left, right, ["k"], buckets=8).collect()
    }
    assert salted == plain and len(salted) == 101


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, 10), (9, 90)], ["k", "v"])
    right = spark.createDataFrame([(1, "a")], ["k", "name"])
    got = {
        (r.k, r.name)
        for r in relational.salted_join(left, right, ["k"], how="left").collect()
    }
    assert got == {(1, "a"), (9, None)}


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows must land on multiple salt sub-keys."""
    left = spark.createDataFrame([(1, i) for i in range(64)], ["k", "v"])
    lt = left.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), 8).cast("int")
    )
    assert lt.select("__salt").distinct().count() > 1


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key → sort-merge join with no
    Exchange (the persisted shuffle) and no per-query Sort."""
    n = 1000
    a = spark.range(n).withColumn("va", F.col("id") * 2)
    b = spark.range(n).withColumn("vb", F.col("id") * 3)
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    tables.write_bucketed(a, "bkt_a", ["id"], 4, path=str(tmp_path / "a"))
    tables.write_bucketed(b, "bkt_b", ["id"], 4, path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = tables.read_table(spark, "bkt_a").join(
            tables.read_table(spark, "bkt_b"), "id"
        )
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_approx_sketches_within_tolerance(spark, sf_dir):
    """HLL distinct count within 5% of exact; t-digest median within 2%
    of exact — the sketch accuracy contract the rows-only
    q_approx_sketches query relies on."""
    from datapipelineetl_spark import catalog

    li = catalog.load(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey").alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_m"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("approx_m"),
    ).collect()[0]
    assert abs(row.approx_d - row.exact_d) <= 0.05 * row.exact_d
    assert abs(row.approx_m - row.exact_m) <= 0.02 * row.exact_m


def test_profile_single_scan_and_nulls(spark):
    """Profiler: one job, correct null/distinct accounting, and exactly
    one scan of the input in the plan."""
    from datapipelineetl_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], ["k", "s"]
    )
    out = {r.column: r for r in profiling.profile(df, exact_distinct=True).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0 and out["k"].n_distinct == 2
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert (out["k"].min_value, out["k"].max_value) == ("1", "2")


def test_tf_idf_hapax_and_common(spark):
    """A token in every doc gets idf 0; a hapax gets ln(N)."""
    import math

    from datapipelineetl_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "common alpha"), (2, "common beta"), (3, "common beta")],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.token): (r.tf, r.df, r.tf_idf) for r in t.tf_idf(docs).collect()}
    assert out[(1, "common")][2] == 0.0
    assert abs(out[(1, "alpha")][2] - math.log(3)) < 1e-9
    assert out[(2, "beta")][1] == 2


def test_asof_join_forward(spark):
    """Forward as-of: earliest right row at-or-after each left row."""
    clicks = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 250), (3, 2, 100)], ["event_id", "user_id", "t"]
    )
    ships = spark.createDataFrame(
        [(1, 150, "s1"), (1, 300, "s2"), (2, 50, "s0")], ["user_id", "st", "ship"]
    )
    out = {
        r.event_id: r.ship
        for r in relational.asof_join(
            clicks, ships, ["user_id"], "t", "st", ["ship"], direction="forward"
        ).collect()
    }
    # click@100 → ship@150; click@250 → ship@300; user2 click@100 → none (ship@50 is before)
    assert out == {1: "s1", 2: "s2", 3: None}


def test_asof_join_forward_tie_inclusive(spark):
    """right_ts == left_ts must match in forward mode (>= semantics)."""
    left = spark.createDataFrame([(1, 1, 100)], ["event_id", "user_id", "t"])
    right = spark.createDataFrame([(1, 100, "x")], ["user_id", "st", "ship"])
    out = relational.asof_join(
        left, right, ["user_id"], "t", "st", ["ship"], direction="forward"
    ).collect()[0]
    assert out.ship == "x"


# ---------------------------------------------------------------------------
# Plan-shape regression tests: assert the structural properties PLANS.md
# promises, so a refactor that silently adds a shuffle / Python eval to a
# narrow operator fails here instead of in the next round's bench.
# ---------------------------------------------------------------------------


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"doc number {i} with some shared tokens") for i in range(20)],
        ["doc_id", "text"],
    )


def test_winnowing_operator_plan_is_narrow(spark):
    """with_winnowing_fingerprints: per-row only — no Exchange; the
    round-16 kernel is exactly one Arrow eval (never row-at-a-time
    Python)."""
    from datapipelineetl_spark.operators import text

    plan = _physical_plan(text.with_winnowing_fingerprints(_docs(spark)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_simhash_operator_plan_is_narrow(spark):
    from datapipelineetl_spark.operators import text

    plan = _physical_plan(text.with_simhash(_docs(spark)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # round-16 kernel default


def test_fingerprint_collision_join_no_inferred_generate_filter(spark):
    """The collision join must not let the optimizer push a filter
    containing the fingerprint EXPRESSION below the Generate — the
    optimized plan's Filter must reference only the generated column
    (the 36× regression class fixed in round 4)."""
    from datapipelineetl_spark.operators import dedup
    from tests import jvm_reference

    # the guard needs a fingerprint column built from md5 EXPRESSIONS
    # (the kernel has none for the optimizer to re-inline): take it from
    # the expression-side winnowing reference
    fps = jvm_reference.with_winnowing_fingerprints(_docs(spark))
    # materialize=False: inspect the LOGICAL shape the optimizer produces
    # (a checkpoint would hide the Generate behind an RDD scan)
    out = dedup.fingerprint_collision_pairs(
        fps, "doc_id", "winnow_fps", materialize=False
    )
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    for line in optimized.splitlines():
        if line.strip().startswith("Filter"):
            assert "md5" not in line, f"fingerprint expr re-inlined into: {line}"


def test_lsh_cosine_near_pairs_single_arrow_pass(spark, sf_dir):
    """Signatures must come from the Arrow-batched matmul (ArrowEvalPython),
    never row-at-a-time Python (BatchEvalPython), and the candidate join
    must be a single equi-join on (table, sig) — visible as exactly one
    pair of SortMergeJoin/ShuffledHashJoin keyed on __table/__sig."""
    from datapipelineetl_spark import catalog
    from datapipelineetl_spark.operators import similarity

    emb = catalog.load(spark, sf_dir, "embeddings").limit(50)
    plan = _physical_plan(
        similarity.lsh_cosine_near_pairs(
            emb, 0.45, num_planes=4, num_tables=4, dim=64, materialize=False
        )
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_cosine_topk_uses_take_ordered(spark, sf_dir):
    """Top-k must compile to TakeOrderedAndProject (per-partition k-heap),
    not a global Sort + Limit."""
    from datapipelineetl_spark import catalog
    from datapipelineetl_spark.operators import similarity

    emb = catalog.load(spark, sf_dir, "embeddings")
    plan = _physical_plan(similarity.cosine_topk(emb, [1.0] * 64, k=10))
    assert "TakeOrderedAndProject" in plan


def test_range_join_matches_naive_and_avoids_nested_loop(spark):
    """Bucketized range join must equal the naive inequality join on the
    same inputs (closed-open containment, multi-bucket spans, boundary
    points) AND compile without nested-loop/cartesian operators."""
    import datetime as dt

    from datapipelineetl_spark.operators import relational

    d = dt.datetime
    points = spark.createDataFrame(
        [(i, d(2024, 1, 1 + i % 28)) for i in range(60)], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [
            (100, d(2024, 1, 2), d(2024, 1, 5)),    # multi-day window
            (101, d(2024, 1, 4), d(2024, 1, 4)),    # empty (start == end)
            (102, d(2024, 1, 10), d(2024, 1, 25)),  # spans many buckets
            (103, d(2024, 1, 30), d(2024, 1, 20)),  # inverted → dropped
        ],
        ["iid", "w_start", "w_end"],
    )
    naive = {
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        ).collect()
    }
    out = relational.range_join(points, intervals, "ts", "w_start", "w_end", bucket_days=3)
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == naive and naive  # non-trivial match set
    plan = _physical_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_sub_day_bucket_seconds(spark):
    """bucket_seconds mode: minute-scale windows must match the naive
    inequality join (closed-open, multi-bucket spans, boundary points)
    and keep the no-nested-loop plan — the events-fixture use case
    day-granularity bucketing can't serve (VERDICT r4 item 5)."""
    import datetime as dt

    from datapipelineetl_spark.operators import relational

    base = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=3 * i)) for i in range(200)], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [
            (100, base + dt.timedelta(minutes=10), base + dt.timedelta(minutes=40)),
            (101, base + dt.timedelta(minutes=30), base + dt.timedelta(minutes=30)),  # empty
            (102, base + dt.timedelta(minutes=55), base + dt.timedelta(hours=4)),  # many buckets
            (103, base + dt.timedelta(minutes=21), base + dt.timedelta(minutes=24)),  # boundary
        ],
        ["iid", "w_start", "w_end"],
    )
    naive = {
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        ).collect()
    }
    out = relational.range_join(
        points, intervals, "ts", "w_start", "w_end", bucket_seconds=1800
    )
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == naive and naive
    plan = _physical_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError, match="bucket_seconds"):
        relational.range_join(points, intervals, "ts", "w_start", "w_end", bucket_seconds=0)


def test_range_join_validates_bucket_width(spark):
    import datetime as dt

    import pytest as _pytest

    from datapipelineetl_spark.operators import relational

    df = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], ["pid", "ts"])
    iv = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))],
        ["iid", "w_start", "w_end"],
    )
    with _pytest.raises(ValueError, match="bucket_days"):
        relational.range_join(df, iv, "ts", "w_start", "w_end", bucket_days=0)


def test_ivf_partitioned_store_prunes_partitions(spark, sf_dir, tmp_path):
    """The IVF scale story made concrete: write embeddings partitioned by
    ivf_cell, probe-read with a cell filter — the scan must touch only
    the probed cells' directories (partition pruning), visible as a
    PartitionFilters entry and a pruned partition count in the plan."""
    from datapipelineetl_spark import catalog
    from datapipelineetl_spark.operators import similarity

    emb = catalog.load(spark, sf_dir, "embeddings")
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=2)
    store = str(tmp_path / "ivf_store")
    similarity.ivf_assign(emb, cents).write.partitionBy("ivf_cell").parquet(store)

    probe_cells = [0, 3]
    df = spark.read.parquet(store).filter(F.col("ivf_cell").isin(probe_cells))
    plan = _physical_plan(df)
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    # the FileIndex must have selected a strict subset of the 8 cell dirs
    import re

    m = re.search(r"partition.*?(\d+)\s*/\s*(\d+)", plan, re.IGNORECASE)
    if m:  # Spark prints "N/M partitions read" in some versions
        assert int(m.group(1)) < int(m.group(2))
    # rows read == rows in the probed cells, never the full table
    full = spark.read.parquet(store).count()
    probed = df.count()
    assert 0 < probed < full


# ---------------------------------------------------------------------------
# Broadcast-side plan tests for the headline TPC-H stars (VERDICT r4 item 3):
# the r2 regression class was a fact-side broadcast hint — OOM at 100 TB.
# These pin the hint STRUCTURE: with auto-broadcast disabled, every
# BroadcastExchange in the plan must cover only dimension scans (or an
# aggregate survivor set), never a raw fact scan.
# ---------------------------------------------------------------------------


def _tree_depth(line: str) -> int:
    i = 0
    while line[i : i + 3] in ("   ", ":  ", ":- ", "+- "):
        i += 3
    return i // 3


def _broadcast_subtrees(plan: str) -> list[list[str]]:
    """For each BroadcastExchange node, the plan lines of its subtree."""
    lines = plan.splitlines()
    out = []
    for idx, line in enumerate(lines):
        if "BroadcastExchange" in line:
            d = _tree_depth(line)
            sub = []
            for nxt in lines[idx + 1 :]:
                if _tree_depth(nxt) <= d:
                    break
                sub.append(nxt)
            out.append(sub)
    return out


def _assert_broadcasts_are_dim_only(plan: str, n_expected: int, fact_tables=("lineitem", "orders")):
    subs = _broadcast_subtrees(plan)
    assert len(subs) == n_expected, f"expected {n_expected} broadcasts, plan has {len(subs)}"
    for sub in subs:
        scans = [ln for ln in sub if "Scan parquet" in ln or "FileScan" in ln]
        for ln in scans:
            if any(t in ln for t in fact_tables):
                # broadcasting an AGGREGATE of a fact table (e.g. q18's
                # >300-qty survivor keys) is fine — the subtree must
                # contain the aggregate that shrinks it
                assert any("HashAggregate" in s for s in sub), (
                    f"fact-table scan directly under BroadcastExchange: {ln.strip()}"
                )


@pytest.fixture()
def no_auto_broadcast(spark):
    """Disable size-based broadcast so the plan shows ONLY hinted ones
    (at test SF everything is tiny and would otherwise auto-broadcast)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q3_broadcasts_only_customer(spark, sf_dir, no_auto_broadcast):
    from datapipelineetl_spark.queries import q3_shipping_priority

    plan = _physical_plan(q3_shipping_priority(spark, sf_dir))
    _assert_broadcasts_are_dim_only(plan, n_expected=1)
    # and the one broadcast is the segment-filtered customer dimension
    assert any(
        any("customer" in ln for ln in sub) for sub in _broadcast_subtrees(plan)
    )


def test_q5_broadcasts_only_dimensions(spark, sf_dir, no_auto_broadcast):
    from datapipelineetl_spark.queries import q5_local_supplier_volume

    plan = _physical_plan(q5_local_supplier_volume(spark, sf_dir))
    # supplier, nation, region hinted; customer/orders/lineitem shuffle
    _assert_broadcasts_are_dim_only(plan, n_expected=3)


def test_q18_broadcasts_survivors_not_facts(spark, sf_dir, no_auto_broadcast):
    from datapipelineetl_spark.queries_batch3 import q18_large_orders

    plan = _physical_plan(q18_large_orders(spark, sf_dir))
    # broadcast(big survivor keys) + broadcast(customer)
    _assert_broadcasts_are_dim_only(plan, n_expected=2)


def test_hypertable_rollup_single_expand_single_exchange(spark, sf_dir):
    """The multi-grain rollup must stay ONE scan → ONE Expand → partial
    agg → ONE hash exchange → final agg (PLANS.md contract): a refactor
    to per-grain groupBys would triple the scans and shuffles."""
    from datapipelineetl_spark.queries_batch9 import q_hypertable_rollup

    plan = _physical_plan(q_hypertable_rollup(spark, sf_dir))
    assert plan.count("Expand") == 1
    assert sum(1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln) == 1
    assert sum(1 for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan" in ln) == 1


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC as a first-class batch format: write the lineitem fixture to
    ORC, read it back, and confirm filters reach the ORC scan (ORC has
    the same pushdown/pruning machinery as parquet — a 100 TB store in
    either format scans only what the predicate needs)."""
    from datapipelineetl_spark import catalog

    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    path = str(tmp_path / "li_orc")
    li.write.orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") > 45)
    assert back.count() == li.filter(F.col("l_quantity") > 45).count() > 0
    plan = _physical_plan(back)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_q9_q11_q16_q20_broadcast_only_dims_or_aggregates(spark, sf_dir, no_auto_broadcast):
    """The round-5 TPC-H shapes keep the same hint discipline as q3/q5/
    q18: every BroadcastExchange covers a dimension scan or an aggregate
    survivor set — never a raw fact scan (the r2 regression class)."""
    from datapipelineetl_spark.queries_batch10 import (
        q9_product_type_profit,
        q11_important_parts,
        q16_supplier_part_counts,
        q20_top_part_shippers,
    )

    # exact counts vary with plan-tree duplication (q11's val subtree
    # prints twice pre-AQE-reuse), so pin a MINIMUM plus the dim-only
    # property for every broadcast present
    for fn, n_min in (
        (q9_product_type_profit, 3),     # part, supplier, nation
        (q11_important_parts, 3),        # nation, nation-suppliers, scalar total
        (q16_supplier_part_counts, 2),   # filtered part, blacklist
        (q20_top_part_shippers, 3),      # filtered part, scalar thr, qualifiers
    ):
        plan = _physical_plan(fn(spark, sf_dir))
        subs = _broadcast_subtrees(plan)
        assert len(subs) >= n_min, f"{fn.__name__}: only {len(subs)} broadcasts"
        for sub in subs:
            for ln in (s for s in sub if "Scan parquet" in s or "FileScan" in s):
                if "lineitem" in ln or "orders" in ln:
                    assert any("HashAggregate" in s for s in sub), (
                        f"{fn.__name__}: raw fact scan under BroadcastExchange: {ln.strip()}"
                    )


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Spark's runtime bloom-filter injection — the engine-native bloom-
    pruned join: a selective dim filter materializes a bloom of its join
    keys and the FACT scan pre-filters through might_contain BEFORE the
    shuffle, shrinking shuffle volume without changing results. On by
    default in production (creation ≤10 MB dim, ≥10 GB fact scan); the
    size thresholds are lowered here so the 100 TB behavior is visible
    and pinned at test scale."""
    fpath, dpath = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(200_000).selectExpr("id AS k", "id % 997 AS v").write.parquet(fpath)
    spark.range(500).selectExpr("id * 400 AS k", "id AS dv").write.parquet(dpath)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast would subsume it
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fpath)
        dim = spark.read.parquet(dpath).filter(F.col("dv") < 50)
        joined = fact.join(dim, "k")
        opt = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        assert "might_contain" in opt
        # semantics unchanged: bloom is a pre-filter superset, the exact
        # join still decides membership
        assert joined.count() == 50
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_default_session_follows_the_machine(monkeypatch):
    """Without SPARK_GRAFT_CPUS (or SPARK_MASTER) the default session
    runs local[os.cpu_count()] with as many shuffle partitions; the
    variable still overrides both."""
    import os

    from datapipelineetl_spark.session import session_builder

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    opts = session_builder()._options
    cpus = os.cpu_count()
    assert opts["spark.master"] == f"local[{cpus}]"
    assert opts["spark.sql.shuffle.partitions"] == str(cpus)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    opts = session_builder()._options
    assert (opts["spark.master"], opts["spark.sql.shuffle.partitions"]) == ("local[3]", "3")
