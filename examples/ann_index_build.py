"""Build and query a persisted IVF-PQ ANN store — the 100 TB layout.

The point of the ANN ladder's index columns (`ivf_assign`'s cell,
`pq_encode`'s code) is that they are PERSISTED STORAGE LAYOUT, not
query-time computation: write the store partitioned by coarse cell
with the m-int code column next to the ids, and a top-k query becomes

    directory pruning  (nprobe of k_cells partitions even LISTED)
  × column pruning     (the code column read, the vector column not)
  × compressed scan    (m ints per row instead of dim floats)

with the exact re-rank (`refine_n`) touching raw vectors only for a
broadcast-shortlist's worth of rows. This demo builds the store from a
synthetic corpus, runs the same query three ways (exact full scan,
ADC full scan, ADC pruned via the partition column), verifies the
pruned plan shows PartitionFilters, and prints measured walls —
recorded in SCALING.md ("Round 12: IVF-PQ store layout").

    python examples/ann_index_build.py [n] [k_cells] [nprobe]
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

DIM, M, KSUB, FIT_N = 64, 8, 256, 10_000


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("ann-index-build")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as td:
        # --- corpus straight to parquet (never cached in-heap) --------
        (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.array(*[F.rand(77_000 + i) for i in range(DIM)]).alias(
                    "embedding"
                ),
            )
            .repartition(32)
            .write.parquet(f"{td}/raw")
        )
        raw = spark.read.parquet(f"{td}/raw")

        # --- fit both tiers on a sample (the production practice) -----
        sample = raw.filter(F.col("vec_id") < FIT_N)
        cents = similarity.ivf_fit_centroids(
            sample, k_cells=k_cells, iters=2, dim=DIM
        )
        books = similarity.pq_fit(sample, m=M, k_sub=KSUB, iters=2, dim=DIM)

        # --- ONE indexing pass, store partitioned by coarse cell ------
        t0 = time.time()
        (
            similarity.pq_encode(similarity.ivf_assign(raw, cents), books)
            .write.partitionBy("ivf_cell")
            .parquet(f"{td}/store")
        )
        t_index = time.time() - t0
        store = spark.read.parquet(f"{td}/store")
        q = [float(x) for x in raw.filter(F.col("vec_id") == 0).first().embedding]

        def timed(fn, reps=2):
            best = float("inf")
            for _ in range(reps):
                s = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - s)
            return best

        # 1) exact brute force over raw vectors
        t_exact = timed(
            lambda: similarity.cosine_topk(raw, q, k=10, exclude_ids=(0,)).collect()
        )
        # 2) ADC over EVERY cell (compression only, no pruning)
        t_adc_full = timed(
            lambda: similarity.pq_adc_topk(
                store, q, books, k=10, exclude_ids=(0,)
            ).collect()
        )
        # 3) ADC over the probed cells only (pruning × compression)
        pruned = similarity.ivfpq_topk(
            store, q, cents, books, k=10, nprobe=nprobe,
            cell_col="ivf_cell", codes_col="pq_code", exclude_ids=(0,),
        )
        t_adc_pruned = timed(lambda: pruned.collect())

        # the partition column must reach the scan as a PartitionFilter —
        # at 100 TB this is the difference between listing nprobe
        # directories and scanning the corpus
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split(
            "PartitionFilters:"
        )[1].split("]")[0], "expected ivf_cell partition pruning in the scan"

        rows_scanned = store.filter(
            F.col("ivf_cell").isin(
                [int(x) for x in __import__("numpy").argsort(
                    -(__import__("numpy").asarray(cents) @ __import__("numpy").asarray(q))
                )[:nprobe]]
            )
        ).count()
        print(
            f"| n={n} k_cells={k_cells} nprobe={nprobe} | index pass {t_index:.1f}s "
            f"| exact {t_exact:.2f}s | ADC-full {t_adc_full:.2f}s "
            f"| ADC-pruned {t_adc_pruned:.2f}s "
            f"| rows scanned {rows_scanned}/{n} ({100 * rows_scanned / n:.1f}%) |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
