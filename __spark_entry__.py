"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``datapipelineetl_spark`` (queries.py registers
every named query + oracle); this module is a thin adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from datapipelineetl_spark import queries as _q  # noqa: E402
from datapipelineetl_spark import queries_batch2  # noqa: E402, F401 — registers batch-2 queries
from datapipelineetl_spark import queries_batch3  # noqa: E402, F401 — registers batch-3 queries
from datapipelineetl_spark import queries_batch4  # noqa: E402, F401 — registers batch-4 queries
from datapipelineetl_spark import queries_batch5  # noqa: E402, F401 — registers batch-5 queries
from datapipelineetl_spark import queries_batch6  # noqa: E402, F401 — registers batch-6 queries
from datapipelineetl_spark import queries_batch7  # noqa: E402, F401 — registers batch-7 queries
from datapipelineetl_spark import queries_batch8  # noqa: E402, F401 — registers batch-8 queries
from datapipelineetl_spark import queries_batch9  # noqa: E402, F401 — registers batch-9 queries
from datapipelineetl_spark import queries_batch10  # noqa: E402, F401 — registers batch-10 queries
from datapipelineetl_spark import queries_batch11  # noqa: E402
from datapipelineetl_spark import queries_ext  # noqa: E402, F401 — registers extension queries

queries_batch11.register()  # promoted the 10 staged corpus queries (round 6)

from datapipelineetl_spark import queries_batch12  # noqa: E402

queries_batch12.register()  # promote the 12 staged batch-12 queries (round 7)

from datapipelineetl_spark import queries_batch13  # noqa: E402

queries_batch13.register()  # promote the 7 staged batch-13 queries (round 8)

from datapipelineetl_spark import queries_batch14  # noqa: E402
from datapipelineetl_spark import queries_batch15  # noqa: E402
from datapipelineetl_spark import queries_batch16  # noqa: E402

queries_batch14.register()  # promote the 11 staged batch-14 queries (round 9)
queries_batch15.register()  # promote the 9 staged batch-15 sketch queries (round 9)
queries_batch16.register()  # promote q_zipf_fit (round 9 — the tiering
# policy freed the slot the flat contract would have spent on batch-11)

from datapipelineetl_spark import queries_batch17  # noqa: E402
from datapipelineetl_spark import queries_batch18  # noqa: E402

queries_batch17.register()  # promote the 6 staged corpus-curation queries (round 10)
queries_batch18.register()  # promote the 2 staged fertility/estimator queries (round 10)

from datapipelineetl_spark import queries_batch19  # noqa: E402

queries_batch19.register()  # promote the 5 staged PQ/temperature/L2 queries (round 13)

from datapipelineetl_spark import queries_batch20  # noqa: E402

queries_batch20.register()  # promote the 3 staged IVF-PQ/batched-ADC/resize queries (round 14)

from datapipelineetl_spark import queries_batch21  # noqa: E402

queries_batch21.register()  # promote the 4 staged refine/residual/batched-exact queries (round 15)

from datapipelineetl_spark import queries_batch22  # noqa: E402
from datapipelineetl_spark import queries_batch23  # noqa: E402

queries_batch22.register()  # promote the 2 staged batched ANN serving oracles (round 16)
queries_batch23.register()  # promote the 2 staged real-decode measurement oracles (round 16)


def _extension_tier() -> frozenset[str]:
    """Names promoted from any staged battery — derived, not hand-kept.

    Freshness tiers (VERDICT r8 item 2 — the rotation-capacity policy).
    CORE = the SURVEY §2 reference-parity surface (relational battery,
    cleaning chain, feeds, streaming envelopes): re-verified every 3
    CORRECTNESS records. EXTENSION = the LLM-pipeline batteries promoted
    from the staged batches (corpus/text/dedup/similarity/sketch):
    re-verified every 5 records. Capacity math at the round-10 census
    (99 core + 58 extension): 99/3 + 58/5 ≈ 45 forced slots per round
    against the 50-slot window — ~5 slots of structural slack.

    VERDICT r9 item 2 hardening: the tier auto-discovers every
    ``queries_batch*`` module carrying a ``STAGED_QUERIES`` dict and
    takes the keys that actually reached the live registry, so
    promotion is ONE step (call ``register()``) and a forgotten tuple
    entry can no longer silently mis-tier a battery. A staged-but-not-
    registered battery contributes nothing (its names aren't in
    ``_q.QUERIES`` yet), which is the correct tier for it.
    """
    import importlib
    import pkgutil

    import datapipelineetl_spark as _pkg

    names: set[str] = set()
    for info in pkgutil.iter_modules(_pkg.__path__):
        if not info.name.startswith("queries_batch"):
            continue
        mod = importlib.import_module(f"datapipelineetl_spark.{info.name}")
        staged = getattr(mod, "STAGED_QUERIES", None)
        if staged:
            names.update(n for n in staged if n in _q.QUERIES)
    return frozenset(names)


EXTENSION_TIER: frozenset[str] = _extension_tier()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return _q.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# The driver verifies the FIRST 50 entries of queries() in dict order.
# Nine queries lead whose optimized plans changed most recently: pq_encode /
# ivf_assign coalesce a small input to one task (q_ivf_recall,
# q_ivfpq_topk, q_ivfpq_refine_topk, q_pq_refine_recall,
# q_pq_multi_refine, q_pq_topk_multi, q_pq_codes, q_pq_topk), the IVF
# probe became array_contains (q_ivf_recall), and the batched refine's
# query frame and residualize's centroid frame became inline tables
# (q_pq_multi_refine, q_residual_codes); the fillers q_retention_cohorts
# and q_pack_greedy gave up their slots. Then five queries whose plans
# or cleaning chain changed: the cell-metrics chain became one
# projection (q_clean_cell_metrics), and the four whose L2 re-rank or top-k now scores a NULL-element vector NaN. Then the nine
# queries whose plans the single batched top-k engine changed
# lead: the five batched oracles (their per-query branches became one
# Arrow pass) and the four whose cosine candidate filter became
# 0 < |v|^2 < inf. Then the round-18 rotation (tools/rotate_window.py):
# the four round-17 plan rewrites (q_lsh_cosine_near_pairs, q_range_join_ship_windows,
# q_pack_sequences, q_encode_tokens) and the two round-17 overflow rows
# (q_hll_distinct, q_bloom_decontam) lead, so the next CORRECTNESS
# record hashes each of them; the other 32 queries at their re-verification
# horizon follow, then the oldest-green rows fill the free slots (the
# last nine fillers gave their slots to the queries above).
PRIORITY: list[str] = [
    "q_ivf_recall",
    "q_ivfpq_topk",
    "q_ivfpq_refine_topk",
    "q_pq_refine_recall",
    "q_pq_multi_refine",
    "q_pq_topk_multi",
    "q_pq_codes",
    "q_pq_topk",
    "q_residual_codes",
    "q_clean_cell_metrics",
    "q_l2_topk",
    "q_l2_topk_multi",
    "q_ann_lsh_topk_multi",
    "q_ivf_topk_multi",
    "q_cosine_topk",
    "q_ann_lsh_topk",
    "q_ann_recall",
    "q_lsh_cosine_near_pairs",
    "q_range_join_ship_windows",
    "q_pack_sequences",
    "q_encode_tokens",
    "q_hll_distinct",
    "q_bloom_decontam",
    "q_dedup_token_set",
    "q_cosine_near_pairs",
    "q_tf_idf",
    "q7_volume_shipping",
    "q13_order_count_distribution",
    "q17_small_quantity_revenue",
    "q_profile_orders",
    "q_kpi_pivot",
    "q_session_window_events",
    "q_grouping_sets",
    "q_posexplode_embedding",
    "q_array_lambda_battery",
    "q_null_semantics",
    "q_nullsafe_join",
    "q8_market_share",
    "q_fuzzy_name_pairs",
    "q21_blamable_suppliers",
    "q_price_histogram",
    "q_regex_extract_ldn",
    "q_bigram_logprob",
    "q_pmi_bigrams",
    "q_vocab_overlap",
    "q_token_entropy",
    "q_oov_rate",
    "q_blocklist_filter",
    "q_zipf_fit",
    "q_temperature_mix",
]


def _ordered(mapping: dict) -> dict:
    front = {n: mapping[n] for n in PRIORITY if n in mapping}
    back = {n: v for n, v in mapping.items() if n not in front}
    return {**front, **back}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(_q.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    return _ordered(dict(_q.ORACLES))
