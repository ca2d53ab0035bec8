"""Measure ANN-store compaction (VERDICT r12 "what's wrong" #3:
``runner.streaming_ann_index``'s per-(ivf_cell, __batch_id) layout
fragments — k_cells directories per micro-batch, so listing cost grows
with HISTORY even though cell pruning stays correct).

The claim to pin: after ~B batch generations, a cold
``spark.read.parquet(store)`` (file listing + partition discovery
dominates) and a pruned ivfpq query both pay for B×k_cells directories;
``maintenance.compact_ann_store`` collapses history to ONE subpartition
per cell and returns both costs to their B=1 shape, with row content
and query answers unchanged (asserted here, not assumed).

    python tools/bench_ann_compact.py [n_batches] [rows_per_batch]
    # default 100 x 2000 rows, k_cells=16, dim=64, m=8
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

DIM, M, KSUB, KCELLS = 64, 8, 16, 16


def _cold_read_sec(spark: SparkSession, store: str) -> float:
    # a fresh path string per timing defeats Spark's FileIndex cache so
    # the measurement includes the real listing cost
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    n = spark.read.parquet(store).count()
    return time.perf_counter() - t0, n


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bench-ann-compact")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="annstore_")
    store = str(Path(tmp) / "store")

    def vec(i: int) -> list[float]:
        return [((i * 31 + z * 7) % 997) / 997.0 - 0.5 for z in range(DIM)]

    fit = spark.createDataFrame(
        [(i, vec(i)) for i in range(4_000)], "vec_id long, embedding array<double>"
    )
    cents = similarity.ivf_fit_centroids(fit, k_cells=KCELLS, iters=2, dim=DIM)
    books = similarity.pq_fit(fit, m=M, k_sub=KSUB, iters=1, dim=DIM)

    print(f"writing {n_batches} batches x {per_batch} rows, k_cells={KCELLS}")
    t0 = time.perf_counter()
    for b in range(n_batches):
        batch = spark.createDataFrame(
            [(b * per_batch + i, vec(b * per_batch + i)) for i in range(per_batch)],
            "vec_id long, embedding array<double>",
        )
        enc = similarity.pq_encode(
            similarity.ivf_assign(batch, cents), books
        ).withColumn("__batch_id", F.lit(b))
        maintenance.overwrite_partitions(enc, store, ["ivf_cell", "__batch_id"])
    print(f"  ingest wall {time.perf_counter() - t0:.1f}s")

    def n_dirs() -> int:
        return len(maintenance._parse_partition_dirs(store, ["ivf_cell", "__batch_id"]))

    q = vec(17)

    def pruned_query() -> list:
        df = spark.read.parquet(store)
        return [
            (r.vec_id, r.adc)
            for r in similarity.ivfpq_topk(
                df, q, cents, books, k=10, nprobe=4,
                cell_col="ivf_cell", codes_col="pq_code",
            ).collect()
        ]

    read_b, rows_b = _cold_read_sec(spark, store)
    t0 = time.perf_counter()
    ans_before = pruned_query()
    query_b = time.perf_counter() - t0
    dirs_b = n_dirs()
    print(f"before: {dirs_b} partition dirs, cold read {read_b:.2f}s "
          f"({rows_b} rows), pruned ivfpq query {query_b:.2f}s")

    t0 = time.perf_counter()
    removed = maintenance.compact_ann_store(spark, store, upto_batch_id=n_batches - 2)
    wall = time.perf_counter() - t0
    print(f"compact_ann_store(upto={n_batches - 2}): removed {removed} "
          f"batch dirs in {wall:.1f}s")

    read_a, rows_a = _cold_read_sec(spark, store)
    t0 = time.perf_counter()
    ans_after = pruned_query()
    query_a = time.perf_counter() - t0
    dirs_a = n_dirs()
    print(f"after : {dirs_a} partition dirs, cold read {read_a:.2f}s "
          f"({rows_a} rows), pruned ivfpq query {query_a:.2f}s")
    assert rows_a == rows_b, (rows_a, rows_b)
    assert ans_after == ans_before, "compaction changed query answers"
    print(f"listing ratio {read_b / max(read_a, 1e-9):.1f}x, "
          f"query ratio {query_b / max(query_a, 1e-9):.1f}x, "
          f"dirs {dirs_b} -> {dirs_a}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
