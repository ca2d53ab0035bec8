"""Measure multi-query ADC amortization (round-13 depth: VERDICT r12
item 8b — "the per-query fixed overhead dominates below ~0.5M rows").

A serving layer answers ANN requests in BATCHES; the expensive thing at
100 TB is touching the code column, so the question is: what does
answering Q queries cost as ONE `pq_adc_topk_multi` pass
(Q×m×k_sub LUT tensor gathered per Arrow batch, partition-local top-k,
≤ partitions×Q×k rows shuffled) vs Q sequential `pq_adc_topk` scans?

    python tools/bench_pq_multi.py [n ...] [--q Q]
    # default n = 500000 2000000, Q = 16, k = 10, m=8/k_sub=256 codes
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

from datapipelineetl_spark.operators import similarity

DIM, M, KSUB, FIT_N, K = 64, 8, 256, 10_000, 10


def _timed(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ns = [int(a) for a in args] or [500_000, 2_000_000]
    q_n = 16
    if "--q" in sys.argv:
        q_n = int(sys.argv[sys.argv.index("--q") + 1])
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bench-pq-multi")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def vec_expr(seed: int) -> str:
        return (
            "transform(sequence(0, {d}), z -> "
            "cast(pmod(id * 31 + z * {s}, 997) as double) / 997.0 - 0.5)"
        ).format(d=DIM - 1, s=seed)

    for n in ns:
        base = spark.range(n).selectExpr(
            "id as vec_id", f"{vec_expr(7)} as embedding"
        )
        books = similarity.pq_fit(
            base.limit(FIT_N), m=M, k_sub=KSUB, iters=1, dim=DIM
        )
        tmp = tempfile.mkdtemp(prefix="pqmulti_")
        enc_path = str(Path(tmp) / "codes")
        similarity.pq_encode(base, books).select(
            "vec_id", "pq_code"
        ).write.parquet(enc_path)
        enc = spark.read.parquet(enc_path)
        queries = {
            int(i): [((i * 31 + z * 7) % 997) / 997.0 - 0.5 for z in range(DIM)]
            for i in range(q_n)
        }

        def loop_single():
            for qid, qv in queries.items():
                similarity.pq_adc_topk(
                    enc, qv, books, k=K, exclude_ids=(qid,)
                ).collect()

        def multi_arrow():
            similarity.pq_adc_topk_multi(
                enc, queries, books, k=K
            ).collect()

        t_single = _timed(loop_single)
        t_multi = _timed(multi_arrow)
        print(
            f"n={n:>9,} Q={q_n}: {q_n} sequential scans {t_single:6.2f}s  "
            f"one arrow pass {t_multi:6.2f}s  "
            f"amortization {t_single / t_multi:5.2f}x"
        )

        # the PRUNED variant over a cell-partitioned store: Q sequential
        # ivfpq_topk directory-pruned scans vs one union-pruned batch
        cents = similarity.ivf_fit_centroids(
            base.limit(FIT_N), k_cells=16, iters=2, dim=DIM
        )
        store_path = str(Path(tmp) / "store")
        similarity.pq_encode(
            similarity.ivf_assign(base, cents), books
        ).select("vec_id", "ivf_cell", "pq_code").write.partitionBy(
            "ivf_cell"
        ).parquet(store_path)
        store = spark.read.parquet(store_path)

        def loop_ivfpq():
            for qid, qv in queries.items():
                similarity.ivfpq_topk(
                    store, qv, cents, books, k=K, nprobe=4,
                    cell_col="ivf_cell", codes_col="pq_code",
                    exclude_ids=(qid,),
                ).collect()

        def multi_ivfpq():
            similarity.ivfpq_topk_multi(
                store, queries, cents, books, k=K, nprobe=4,
                cell_col="ivf_cell", codes_col="pq_code",
            ).collect()

        t_ls = _timed(loop_ivfpq)
        t_ms = _timed(multi_ivfpq)
        print(
            f"n={n:>9,} Q={q_n} PRUNED store: {q_n} sequential ivfpq "
            f"{t_ls:6.2f}s  one union-pruned arrow pass {t_ms:6.2f}s  "
            f"amortization {t_ls / t_ms:5.2f}x"
        )

        if "--exact" in sys.argv:
            # the EXACT brute-force tier (round 14): Q sequential l2_topk
            # fold scans of the raw vectors vs one stacked-matmul pass
            raw_path = str(Path(tmp) / "raw")
            base.write.parquet(raw_path)
            raw = spark.read.parquet(raw_path)

            def loop_exact():
                for qid, qv in queries.items():
                    similarity.l2_topk(
                        raw, qv, k=K, exclude_ids=(qid,)
                    ).collect()

            def multi_exact():
                similarity.l2_topk_multi(
                    raw, queries, k=K
                ).collect()

            t_le = _timed(loop_exact)
            t_me = _timed(multi_exact)
            print(
                f"n={n:>9,} Q={q_n} EXACT raw vectors: {q_n} sequential "
                f"l2_topk {t_le:6.2f}s  one matmul arrow pass {t_me:6.2f}s  "
                f"amortization {t_le / t_me:5.2f}x"
            )

        if "--lsh" in sys.argv:
            # the SRP-LSH tier (round 14): Q sequential ann_lsh_topk
            # (each re-computes L signature passes) vs one batched pass
            raw_path2 = str(Path(tmp) / "raw_lsh")
            base.write.parquet(raw_path2)
            raw2 = spark.read.parquet(raw_path2)

            def loop_lsh():
                for qid, qv in queries.items():
                    similarity.ann_lsh_topk(
                        raw2, qv, k=K, num_planes=8, num_tables=2,
                        radius=1, exclude_ids=(qid,),
                    ).collect()

            def multi_lsh():
                similarity.ann_lsh_topk_multi(
                    raw2, queries, k=K, num_planes=8, num_tables=2,
                    radius=1,
                ).collect()

            t_ll = _timed(loop_lsh)
            t_ml = _timed(multi_lsh)
            print(
                f"n={n:>9,} Q={q_n} LSH (2 tables, planes=8, r=1): {q_n} "
                f"sequential ann_lsh_topk {t_ll:6.2f}s  one batched pass "
                f"{t_ml:6.2f}s  amortization {t_ll / t_ml:5.2f}x"
            )

            # the PERSISTED-signature store (round 14 sig_cols): the
            # production form — hashing written once, queries skip it
            sig_df, cols = similarity.lsh_persist_signatures(
                raw2, num_planes=8, num_tables=2, dim=DIM
            )
            lshp_path = str(Path(tmp) / "lsh_store")
            sig_df.write.parquet(lshp_path)
            lsh_store = spark.read.parquet(lshp_path)

            def multi_lshp():
                similarity.ann_lsh_topk_multi(
                    lsh_store, queries, k=K, num_planes=8, radius=1,
                    sig_cols=cols,
                ).collect()

            t_mp = _timed(multi_lshp)
            print(
                f"n={n:>9,} Q={q_n} LSH PERSISTED sigs: one batched pass "
                f"{t_mp:6.2f}s  ({t_ml / t_mp:4.2f}x vs computing sigs, "
                f"{t_ll / t_mp:6.2f}x vs the sequential loop)"
            )

        if "--ivfraw" in sys.argv:
            # the raw-vector IVF tier (round 14): Q sequential pruned
            # ivf_topk scans vs one union-pruned batched pass
            cents2 = similarity.ivf_fit_centroids(
                base.limit(FIT_N), k_cells=16, iters=2, dim=DIM,
                metric="l2",
            )
            ivf_path = str(Path(tmp) / "ivf_store")
            similarity.ivf_assign(base, cents2, metric="l2").write.partitionBy(
                "ivf_cell"
            ).parquet(ivf_path)
            ivf_store = spark.read.parquet(ivf_path)

            def loop_ivfraw():
                for qid, qv in queries.items():
                    similarity.ivf_topk(
                        ivf_store, qv, cents2, k=K, nprobe=4,
                        cell_col="ivf_cell", exclude_ids=(qid,),
                        metric="l2",
                    ).collect()

            def multi_ivfraw():
                similarity.ivf_topk_multi(
                    ivf_store, queries, cents2, k=K, nprobe=4,
                    cell_col="ivf_cell", metric="l2",
                ).collect()

            t_li = _timed(loop_ivfraw)
            t_mi = _timed(multi_ivfraw)
            print(
                f"n={n:>9,} Q={q_n} IVF raw vectors: {q_n} sequential "
                f"ivf_topk {t_li:6.2f}s  one union-pruned pass "
                f"{t_mi:6.2f}s  amortization {t_li / t_mi:5.2f}x"
            )

        if "--residual" not in sys.argv:
            continue
        # the RESIDUAL store (round-14 depth: per-(query,cell) LUTs):
        # Q sequential ivfpq_residual_topk pruned scans vs one
        # union-pruned batch with Q×nprobe LUTs
        res = similarity.residualize(
            similarity.ivf_assign(base, cents, metric="l2"),
            cents, cell_col="ivf_cell",
        )
        res_books = similarity.pq_fit(
            res.limit(FIT_N), m=M, k_sub=KSUB, iters=1, dim=DIM,
            vec_col="residual",
        )
        res_path = str(Path(tmp) / "res_store")
        similarity.pq_encode(res, res_books, "residual").select(
            "vec_id", "ivf_cell", "pq_code"
        ).write.partitionBy("ivf_cell").parquet(res_path)
        res_store = spark.read.parquet(res_path)

        def loop_res():
            for qid, qv in queries.items():
                similarity.ivfpq_residual_topk(
                    res_store, qv, cents, res_books, k=K, nprobe=4,
                    cell_col="ivf_cell", codes_col="pq_code",
                    exclude_ids=(qid,),
                ).collect()

        def multi_res():
            similarity.ivfpq_residual_topk_multi(
                res_store, queries, cents, res_books, k=K, nprobe=4,
                cell_col="ivf_cell", codes_col="pq_code",
            ).collect()

        t_lr = _timed(loop_res)
        t_mr = _timed(multi_res)
        print(
            f"n={n:>9,} Q={q_n} RESIDUAL store: {q_n} sequential residual "
            f"{t_lr:6.2f}s  one union-pruned arrow pass {t_mr:6.2f}s  "
            f"amortization {t_lr / t_mr:5.2f}x"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
