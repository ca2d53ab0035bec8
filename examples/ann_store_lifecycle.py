"""The persisted ANN store's FULL lifecycle in one runnable script —
every stage is an operator this engine ships, composed the way a
100 TB embedding service would run them:

1. **Fit** frozen index models on a sample (`ivf_fit_centroids` +
   `pq_fit`; k_sub=256 puts the PQ fit on its BLAS kernel).
2. **Build** the initial store: `ivf_assign` + `pq_encode` written
   ``partitionBy(ivf_cell)`` with ``__batch_id`` subpartitions.
3. **Stream** new arrivals into it exactly-once
   (`runner.streaming_ann_index` — dynamic (cell, batch) partition
   overwrites, frozen broadcast models).
4. **Compact** the accumulated batch history per cell
   (`maintenance.compact_ann_store` — listing cost back to O(cells),
   content and answers unchanged).
5. **Serve**: single-query `ivfpq_topk` (directory-pruned, asserted via
   PartitionFilters) and batched `pq_adc_topk_multi`
   (one code scan for a whole request batch).

    python examples/ann_store_lifecycle.py [n_initial] [n_batches]
    # default 200000 initial + 8 streamed batches of 5000
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import similarity
from datapipelineetl_spark.sinks import maintenance
from datapipelineetl_spark.streaming import runner

DIM, M, KSUB, KCELLS, NPROBE, FIT_N = 64, 8, 256, 16, 4, 10_000


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    per_batch = 5_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("ann-store-lifecycle")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="annlife_")
    store, arrivals, ck = (str(Path(tmp) / d) for d in ("store", "arrivals", "ck"))

    def vec_expr(seed: int) -> str:
        return (
            "transform(sequence(0, {d}), z -> "
            "cast(pmod(id * 31 + z * {s}, 997) as double) / 997.0 - 0.5)"
        ).format(d=DIM - 1, s=seed)

    base = spark.range(n).selectExpr("id as vec_id", f"{vec_expr(7)} as embedding")

    t0 = time.perf_counter()
    cents = similarity.ivf_fit_centroids(
        base.limit(FIT_N), k_cells=KCELLS, iters=2, dim=DIM
    )
    books = similarity.pq_fit(base.limit(FIT_N), m=M, k_sub=KSUB, iters=1, dim=DIM)
    print(f"1. fit (sample {FIT_N}): {time.perf_counter() - t0:.1f}s")

    t0 = time.perf_counter()
    maintenance.overwrite_partitions(
        similarity.pq_encode(similarity.ivf_assign(base, cents), books)
        .withColumn("__batch_id", F.lit(-1)),
        store,
        ["ivf_cell", "__batch_id"],
    )
    print(f"2. initial build ({n:,} rows): {time.perf_counter() - t0:.1f}s")

    t0 = time.perf_counter()
    for b in range(n_batches):
        spark.range(n + b * per_batch, n + (b + 1) * per_batch).selectExpr(
            "id as vec_id", f"{vec_expr(7)} as embedding"
        ).coalesce(1).write.mode("append").parquet(arrivals)
    stream = spark.readStream.schema("vec_id long, embedding array<double>").option(
        "maxFilesPerTrigger", 1
    ).parquet(arrivals)
    runner.streaming_ann_index(stream, cents, books, store, ck)
    total = spark.read.parquet(store).count()
    print(
        f"3. streamed {n_batches} batches x {per_batch}: store {total:,} rows, "
        f"{time.perf_counter() - t0:.1f}s"
    )

    q = [((17 * 31 + z * 7) % 997) / 997.0 - 0.5 for z in range(DIM)]

    def serve():
        df = spark.read.parquet(store)
        top = similarity.ivfpq_topk(
            df, q, cents, books, k=10, nprobe=NPROBE,
            cell_col="ivf_cell", codes_col="pq_code",
        )
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "ivf_cell" in plan
        return [(r.vec_id, r.adc) for r in top.collect()]

    t0 = time.perf_counter()
    before = serve()
    print(f"   pruned single-query serve (pre-compact): {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    dirs_before = len(
        maintenance._parse_partition_dirs(store, ["ivf_cell", "__batch_id"])
    )
    removed = maintenance.compact_ann_store(
        spark, store, upto_batch_id=n_batches - 1
    )
    dirs_after = len(
        maintenance._parse_partition_dirs(store, ["ivf_cell", "__batch_id"])
    )
    print(
        f"4. compact: {dirs_before} -> {dirs_after} partition dirs "
        f"({removed} removed), {time.perf_counter() - t0:.1f}s"
    )
    t0 = time.perf_counter()
    after = serve()
    assert after == before, "compaction changed answers"
    print(f"   pruned single-query serve (post-compact): {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    queries = {
        i: [((i * 31 + z * 7) % 997) / 997.0 - 0.5 for z in range(DIM)]
        for i in range(16)
    }
    enc = spark.read.parquet(store)
    batch_ans = similarity.pq_adc_topk_multi(enc, queries, books, k=10).count()
    print(
        f"5. batched serve (16 queries, one arrow pass over the code "
        f"column): {batch_ans} result rows, {time.perf_counter() - t0:.2f}s"
    )

    # round 14: the batched PRUNED serve over the same compacted store —
    # one union-pruned scan answers the whole request batch, and query 17
    # (the single-query serve above) must get the IDENTICAL answer from
    # the batch path
    t0 = time.perf_counter()
    multi = similarity.ivfpq_topk_multi(
        enc, {**queries, 17: q}, cents, books, k=10, nprobe=NPROBE,
        cell_col="ivf_cell", codes_col="pq_code",
        exclude_query_ids=False,
    )
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ivf_cell" in plan
    rows = multi.collect()
    from_batch = [(r.vec_id, r.adc) for r in rows if r.query_id == 17]
    assert from_batch == after, "batched pruned serve diverged from single-query"
    print(
        f"6. batched PRUNED serve (17 queries, one union-pruned arrow "
        f"pass): {len(rows)} result rows, query 17 identical to the "
        f"single-query answer, {time.perf_counter() - t0:.2f}s"
    )
    print("lifecycle complete — answers stable across compaction and batching")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
