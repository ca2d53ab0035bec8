"""Dump query plans.

Usage:
  python tools/dump_plans.py [sf_dir]
      Regenerate PLANS.md: formatted physical plans of representative
      queries.
  python tools/dump_plans.py --shapes OUT_DIR [sf_dir]
      Write the optimized logical plan of every rewritten shape (the
      round-17 plan rewrites, SHAPE_QUERIES, and the four single-query
      top-k requests of the vector_topk benchmark) to OUT_DIR/<name>.txt, with
      expression ids and lambda-variable counters normalized away.
  python tools/dump_plans.py --diff OTHER_CHECKOUT [sf_dir]
      Dump the shapes once with OTHER_CHECKOUT's package (before) and
      once with this one (after) and print a unified diff of the two.

sf_dir is a generated fixture directory (PLANS.md is written from the
sf0.1 one); it defaults to $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import difflib
import importlib
import os
import pkgutil
import re
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# registered queries whose plans a recent round rewrote
SHAPE_QUERIES = [
    "q_lsh_cosine_near_pairs",
    "q_range_join_ship_windows",
    "q_pack_sequences",
    "q_encode_tokens",
    "q_clean_cell_metrics",
    "q_l2_topk",
    "q_pq_refine_recall",
    "q_ivfpq_refine_topk",
    "q_pq_multi_refine",
]
# the single-query top-k requests of benchmark/vector_topk.py
TOPK_KINDS = ("exact", "pq_adc", "ivfpq", "lsh")

PICK = {
    "q1_pricing_summary": "Flagship aggregate: filter pushed to parquet, 7-column ReadSchema, partial+final hash agg — shuffle carries ~6 rows/task.",
    "q6_revenue_delta": "All four predicates are PushedFilters; 4-column ReadSchema; single global sum.",
    "q3_shipping_priority": "3-way join: segment-filtered customer broadcast; orders (fact-sized after its 97%-selectivity filter) is NOT hinted — shuffle join on orderkey, AQE free to convert; top-10 as TakeOrderedAndProject.",
    "q5_local_supplier_volume": "Star join: region/nation/supplier broadcast; customer (15M rows at SF100) NOT hinted — shuffle join, AQE converts only when it fits; single agg shuffle on n_name.",
    "q10_returned_items": "4-table join: fact filters pushed; customer/nation broadcast; top-20 as TakeOrderedAndProject (no global sort).",
    "q18_large_orders": "IN-subquery: HAVING aggregate first, winners broadcast left-semi; no fact-fact shuffle join.",
    "q_asof_join_purchase": "As-of via union-and-window: ONE Exchange on user_id, in-partition sort, last(ignorenulls) carry — no range cross-join.",
    "q_minhash_near_dups": "MinHash+LSH: narrow signature math, posexplode bands, equi-join on (band,key) buckets — shuffle O(n*bands), pairwise work only on bucket collisions.",
    "q12_line_priority_split": "Q12 shape: IN-list + year range as PushedFilters on lineitem; fact-fact join UNHINTED (shuffle on orderkey, AQE decides); 2-group conditional agg collapses map-side.",
    "q_winnowing_fingerprints": "Winnowing (round-16 kernel): the whole ladder (k-gram md5-60, window-min, distinct/sort) is ONE ArrowEvalPython — the interpreted transform/array_min(slice) chains are gone; the only Exchange is the query's explicit repartition (CPU-bound work vs a 1-split fixture file; see the query docstring); the operator itself is shuffle-free.",
    "q_winnow_collisions": "Fingerprint collision join over the round-16 winnow kernel's ArrowEvalPython: explode_outer (NOT explode — the inferred size()>0 filter would duplicate the Generate's input), bucket-size cap on the same Exchange the pair join reuses, equi-join on the fingerprint — O(n*fps) shuffle, never pairwise.",
    "q_minhash_capped_near_dups": "Capped MinHash ladder: banding posexplode, the HAVING<=cap bucket filter sharing the banding Exchange (AQE reuse), candidate equi-join, exact-Jaccard verify on candidates only.",
    "q_lsh_cosine_near_pairs": "SRP-LSH near-pairs (round-17 verify): ALL 16 table signatures from one Arrow-batched matmul, posexplode to (table,sig), ONE equi-join shuffle; candidate dedup + verify share a single REPARTITION_BY_NUM exchange, and the exact-cosine verify is a broadcast-matrix ArrowEvalPython — only the two ids per pair cross the Python boundary (the §8 'move heavy bytes once' shape).",
    "q_range_join_ship_windows": "Bucketized range join (round-17 day pre-agg): lineitem collapses to ~2.4k (day, count, qty) rows BEFORE the bucket equi-join (COUNT/SUM decompose by day; integer-double sums re-associate exactly), intervals explode to covered buckets, exact containment filter — pair evaluations ~36M → ~150k, and no BroadcastNestedLoopJoin/CartesianProduct anywhere.",
    "q_hypertable_rollup": "Multi-grain rollup: Scan → Expand ×3 → partial HashAggregate → ONE Exchange → final — three grains for the price of one scan and one shuffle; only aggregated buckets cross the wire.",
    "q_range_join_event_windows": "SUB-DAY range join (bucket_seconds=1800): purchase windows explode to ≤2 half-hour buckets, clicks get one bucket each, equi-join on the bucket + exact containment — the minute-scale form of the same no-nested-loop rewrite.",
    "q9_product_type_profit": "Q9 star: p_name filter pushed into the part scan; part/supplier/nation broadcast; lineitem⋈orders is the single fact-fact shuffle; rollup by (nation, year) collapses map-side.",
    "q11_important_parts": "Q11 decorrelation: nation's supplier keys broadcast-semi onto lineitem, ONE partkey aggregate, grand-total threshold as a 1-row broadcast over the SAME aggregate (exchange reuse, no second scan).",
    "q16_supplier_part_counts": "Q16: part attribute filters broadcast; blacklist as broadcast ANTI join; COUNT(DISTINCT) two-phase expand+aggregate shuffling only (brand,size,suppkey) triples.",
    "q20_top_part_shippers": "Q20: filtered part broadcast prunes before the suppkey aggregate; scalar AVG threshold as 1-row broadcast; qualifying suppliers broadcast into the final dim join.",
    "q_pack_chunks": "Sequence packing (contiguous): ONE Exchange on the hash shard, per-shard window sort, pack-id arithmetic in codegen — parallelism = n_shards, never a global sort.",
    "q_contamination_pairs": "Train/test contamination: both sides shingle narrowly (explode_outer per the computed-array rule), equi-join on the 60-bit gram hash, partial+final count on the pair key — O(corpus × grams/doc) shuffle, never |train|×|test|.",
    "q_split_documents": "Document chunking: pure narrow array math (sequence + posexplode_outer + slice/join) — zero Exchange, zero Python; 1 row → ceil(n/step) rows inside WholeStageCodegen.",
    "q_repetition_stats": "Gopher repetition metrics (round-16 kernel): all four duplicate-fraction ratios from ONE ArrowEvalPython struct (the jvm HOF form carried 11.75 s executor CPU in one stage) — zero Exchange, zero Generate.",
    "q_select_budget": "Token-budget best-first selection: the two-phase global cumsum — per-score partial agg, the ONLY Exchange SinglePartition sits over that score-cardinality aggregate, offsets broadcast back, row-level within-key windows stay hashpartitioned. No global ORDER BY anywhere.",
    "q_dedup_spans": "Exact span dedup: window hashes narrow (posexplode_outer per the computed-array rule), first-occurrence argmin as one partial-agg shuffle on the 60-bit hash, occurrence equi-join — O(total windows), never pairwise; rebuild is the in-aggregate ordered reassembly.",
    "q_normalize_text": "Unicode normalization: the whole repair chain is codegen replace/regexp except ONE ArrowEvalPython stage (NFC — no Spark built-in); zero shuffle beyond the fixture spread.",
    "q_shuffle_corpus": "Deterministic loader shuffle: hash + pmod narrow, ONE Exchange on the shard id, per-shard rank sorts independent — no global ordering materializes.",
    "q_unigram_logprob": "Unigram-LM scoring: one vocabulary-sized token-count aggregate (materialized once via checkpoint), the LM join broadcast, the totals row an allowlisted 1-row BroadcastNestedLoopJoin, one groupBy(doc) — the reference corpus is scanned once.",
    "q_dsir_weights": "DSIR importance weights: two fixed-size (n_buckets) distribution aggregates, bucket model broadcast into the scoring join, 1-row totals crossJoin, one groupBy(doc) — model size independent of corpus size.",
    "q_vocab_growth": "Heaps-law curve: one token min-id shuffle, narrow per-doc counts, and every window over the BUCKET-cardinality frame — the single-partition WindowExec is metadata-sized by construction (corpus_rows / bucket_width).",
    "q_kmeans_clusters": "Deterministic k-means: the final assignment pass is ONE narrow Project (JVM fold distances over literal centroid arrays → array_min struct argmin) — zero Exchange, zero Python; the Lloyd iterations ran as k-row partial aggs before this plan.",
    "q_countmin_counts": "Count-min grid: one explode + ONE partial-agg shuffle bounded by depth×width per partition; the 20-row probe side joins the broadcast 3×64 grid — no vocabulary-sized shuffle on the estimate path.",
    "q_hll_distinct": "HyperLogLog two-grain: per grain ONE partial-agg shuffle on (source, bucket) — at most m=64 partial registers per group per partition cross the exchange; the estimator fold is register-cardinality work; the exact BIGINT harmonic numerator keeps the plan partitioning-invariant.",
    "q_bloom_decontam": "Bloom decontamination: the bloom half is MAP-ONLY — narrow gram/position math into one Arrow-batched bit test against the broadcast bitset, zero corpus shuffle; the only Exchange serves the exact-join comparison column that production omits.",
    "q_bigram_logprob": "Interpolated bigram LM: (prev,tok) pairs from per-row array math — NO window Exchange; bigram/context/unigram fits are vocabulary-bounded partial aggs, broadcast back into the scoring join; 1-row totals crossJoin allowlisted.",
    "q_pmi_bigrams": "PMI collocations: two vocabulary-bounded partial aggs, unigram tables broadcast onto the bigram frame, 1-row totals crossJoin allowlisted, top-k as TakeOrderedAndProject — corpus scanned twice narrowly, never sorted.",
    "q_vocab_overlap": "Vocabulary overlap: ONE corpus distinct shuffle materialized once (localCheckpoint feeds sizes + pair join), token self-join over vocabulary-sized rows, pair-cardinality aggregate with broadcast size joins.",
    "q_token_entropy": "Token entropy: ONE (source, token) partial-agg Exchange, then a group-cardinality fold — the ln T - (sum c ln c)/T identity keeps everything in two aggregates, no per-token probability join.",
    "q_zipf_fit": "Zipf OLS: count Exchange → per-source rank Window over vocabulary-sized rows (hash-partitioned by source, never SinglePartition) → group-cardinality OLS fold.",
    "q_semdedup": "SemDeDup: the k-means assignment + unit vectors land as ONE materialized (id, cluster, unit) table; the pair stage is a cluster-keyed equi-join whose work is bounded by Σ|cluster|² with a single dot fold per pair; output is two id-keyed left joins — no O(n²) anywhere.",
    "q_gopher_rules": "Gopher rule battery: one narrow Project of integer inequalities over token/line array math — zero Exchange, zero Python, zero Generate.",
    "q_quality_linear": "Hashed linear quality: per-row aggregate fold over token milli-weights (inline formula, exact BIGINT) — zero Exchange, zero Python; the sigmoid is one scalar expression.",
    "q_source_kl": "Per-source KL: ONE (source, token) partial-agg Exchange materialized once (feeds corpus counts + the per-group folds), 1-row totals crossJoin allowlisted — corpus scanned once.",
    "q_gram_novelty": "Gram novelty: the drop_empty gram table materialized once; doc-frequency agg + gram join + doc fold — three Exchanges all bounded by the DISTINCT-gram table, never pairwise.",
    "q_doc_containment": "Containment pairs: materialized gram table self-joined on the 60-bit hash, pair counts partial-agg, lazy doc-size joins left to AQE (no forced broadcast of a corpus-cardinality table).",
    "q_token_fertility": "Tokenizer fertility: piece segmentation replays off the TRAINING WORD TABLE (vocabulary-bounded, materialized once) — the corpus-side work is one words-explode + one broadcast join of the piece stats + per-language partial aggs; no per-document re-segmentation pass.",
    "q_minhash_estimate": "MinHash estimator accuracy: signatures once per doc (narrow hash math), candidate pairs from the SAME banding equi-join the near-dup path uses, exact Jaccard replayed only on candidates — estimator-vs-exact error is a candidate-cardinality aggregate.",
    "q_pq_codes": "PQ fit+encode: the encode is ONE narrow Project — per subspace a single transform over the literal codebook + first-index-of-min (the r13 nested-HOF argmin; HOFs never codegen, so the small tree is pure analysis savings) — zero Exchange beyond the posexplode reshape, zero Python; the Lloyd iteration ran as an m-struct explode + ONE (subspace, code) partial agg before this plan.",
    "q_pq_topk": "ADC top-k: the LUT is one constant-folded literal array; each row's distance is an unrolled m-term add chain inside WholeStageCodegen over the m-int code column; top-10 is TakeOrderedAndProject — no join, no Exchange beyond the heap merge.",
    "q_l2_topk": "Exact L2 top-k: NULL vectors filtered, one sequential fold per row against the literal query, ordering on the ROUNDED distance — TakeOrderedAndProject, zero Exchange beyond the heap merge.",
    "q_temperature_mix": "Temperature remix: the per-source thresholds ride as ONE nested-CASE expression over the hash gate (3 sources — the measured CASE regime; the >64-source broadcast-join dispatch is tools/bench_temperature_dispatch.py territory) — zero joins, the only Exchange is the source-count metadata aggregate that ran before this plan.",
    "q_ivfpq_topk": "Composed IVF-PQ (staged): fold cell assignment + literal-LUT ADC are narrow Projects; the probe filter is a 3-value IN predicate on the cell column (directory pruning once the store persists it); top-10 TakeOrderedAndProject; the trailing cell join rides broadcast.",
    "q_pq_topk_multi": "Batched ADC: ONE MapInPandas pass (the shared batched top-k kernel) over the narrow (id, code) projection gathers all Q distances from the Q×m×k_sub LUT tensor and keeps each query's partition-local top-k; one Window on query_id cuts the final k (≤ partitions×Q×k rows shuffled) — no per-query branches, no Union.",
}


def _optimized(df) -> str:
    """The optimized logical plan, with the run-specific numbering
    (expression ids, lambda-variable counters) normalized so that two
    runs — or two checkouts — diff only where the plans differ."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "", plan)
    return re.sub(r"\b([xyz])_\d+\b", r"\1", plan)


def _topk_requests(spark) -> dict:
    """The four request kinds of the vector_topk benchmark against one
    fitted index in its geometry (dim 32; PQ m=8 x 16; 8 IVF cells,
    nprobe 2; 8 planes x 4 LSH tables, radius 2; refine 100), as Spark
    plans: the driver copy that answers them in the benchmark is turned
    off, since its answer is a LocalRelation of the result rows."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    from datapipelineetl_spark.operators import similarity as sim  # noqa: PLC0415

    sim._DRIVER_TOPK_ROWS = 0
    n, dim = 500, 32
    rng = np.random.default_rng(0)
    schema = T.StructType([T.StructField("vec_id", T.LongType()),
                           T.StructField("embedding", T.ArrayType(T.FloatType()))])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                      "embedding": list(rng.normal(size=(n, dim)).astype(np.float32))}),
        schema,
    )
    books = sim.pq_fit(df, m=8, k_sub=16, iters=1, dim=dim)
    cents = sim.ivf_fit_centroids(df, k_cells=8, iters=1, dim=dim)
    store = sim.ivf_assign(sim.pq_encode(df, books), cents)
    store, sig_cols = sim.lsh_persist_signatures(store, num_planes=8, num_tables=4, dim=dim)
    store = store.localCheckpoint(eager=True)
    q = [float(v) for v in rng.normal(size=dim)]
    return {
        "topk_exact": sim.cosine_topk(store, q, k=10),
        "topk_pq_adc": sim.pq_adc_topk(store, q, books, k=10, refine_n=100, vectors=store),
        "topk_ivfpq": sim.ivfpq_topk(store, q, cents, books, k=10, nprobe=2,
                                     cell_col="ivf_cell", codes_col="pq_code", refine_n=100),
        "topk_lsh": sim.ann_lsh_topk(store, q, k=10, num_planes=8, sig_cols=sig_cols, radius=2),
    }


def dump_shapes(out_dir: Path, sf_dir: str) -> None:
    import __spark_entry__ as entrymod  # noqa: PLC0415
    from datapipelineetl_spark.session import get_session  # noqa: PLC0415

    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_session("dump-shapes")
    qs = entrymod.queries()
    frames = {name: qs[name](spark, sf_dir) for name in SHAPE_QUERIES}
    frames.update(_topk_requests(spark))
    for name, df in frames.items():
        (out_dir / f"{name}.txt").write_text(_optimized(df))
        print(f"wrote {out_dir / name}.txt", file=sys.stderr)
    spark.stop()


def diff_shapes(other: str, sf_dir: str) -> None:
    with tempfile.TemporaryDirectory() as tmp:
        before, after = Path(tmp) / "before", Path(tmp) / "after"
        for root, out in ((other, before), (str(ROOT), after)):
            subprocess.run(
                [sys.executable, __file__, "--root", root, "--shapes", str(out), sf_dir],
                check=True, cwd=root,
            )
        for name in SHAPE_QUERIES + [f"topk_{k}" for k in TOPK_KINDS]:
            a = (before / f"{name}.txt").read_text().splitlines(keepends=True)
            b = (after / f"{name}.txt").read_text().splitlines(keepends=True)
            d = list(difflib.unified_diff(a, b, f"before/{name}", f"after/{name}"))
            sys.stdout.writelines(d if d else [f"= {name}: unchanged\n"])


def dump_picks(sf_dir: str) -> None:
    import __spark_entry__ as entrymod  # noqa: PLC0415
    from datapipelineetl_spark.session import get_session  # noqa: PLC0415

    import datapipelineetl_spark as _pkg  # noqa: PLC0415

    spark = get_session("plans")
    # pkgutil-discover every staged battery (the check_correctness r12
    # fix): a hand-kept import list silently drops the newest batch's
    # plans from this file
    qs = dict(entrymod.queries())
    for info in sorted(pkgutil.iter_modules(_pkg.__path__), key=lambda i: i.name):
        if info.name.startswith("queries_batch"):
            mod = importlib.import_module(f"datapipelineetl_spark.{info.name}")
            for name, fn in (getattr(mod, "STAGED_QUERIES", {}) or {}).items():
                qs.setdefault(name, fn)
    lines = [
        "# PLANS — physical plans of representative queries (sf0.1, AQE on)",
        "",
        "Regenerate: `python tools/dump_plans.py <sf0.1 dir>`. What to look for per query is",
        "noted above each plan; the full formatted output is verbatim from",
        "`df.explain('formatted')`.",
        "",
    ]
    for name, note in PICK.items():
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # plans can embed literal control/invisible chars from string
        # literals in the query (normalize_text's \x07 / zero-widths) —
        # escape everything non-printable so the file stays text
        plan = "".join(
            c if c == "\n" or c.isprintable() else f"\\u{ord(c):04x}"
            for c in plan
        )
        lines += [f"## {name}", "", note, "", "```", plan.strip(), "```", ""]
    Path("PLANS.md").write_text("\n".join(lines))
    print(f"wrote PLANS.md ({len(PICK)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="fixture directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--shapes", metavar="OUT_DIR")
    ap.add_argument("--diff", metavar="OTHER_CHECKOUT")
    ap.add_argument("--root", default=str(ROOT), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass sf_dir or set SPARK_GRAFT_SF_DIR")
    sys.path.insert(0, os.path.abspath(args.root))
    if args.diff:
        diff_shapes(args.diff, args.sf_dir)
    elif args.shapes:
        dump_shapes(Path(args.shapes), args.sf_dir)
    else:
        dump_picks(args.sf_dir)


if __name__ == "__main__":
    main()
