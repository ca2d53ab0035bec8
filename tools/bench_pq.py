"""Measure the PQ ADC scan tier against the exact brute-force scan it
replaces (round 12 depth: the memory-compression leg of the ANN ladder,
similarity.pq_fit/pq_encode/pq_adc_topk).

Two claims to pin with numbers, not arguments:

1. **Scan cost**: an ADC top-k pass reads m small ints per row and does
   m literal-LUT lookups — vs the exact pass reading the dim-sized
   vector and doing a dim-term fold. Measured as warm best-of-2 top-10
   wall over an n-vector synthetic corpus, both from the same cached
   encoded frame (the persisted-store shape: codes NEXT TO vectors).
2. **Storage**: the code column is m × int vs dim × float — the 100 TB
   store either drops the raw vectors entirely (ADC-only, refine
   against a small exact shard) or scans 10-30× fewer bytes per query.
   Reported from the parquet footprint of each column written alone.

Fit is on a SAMPLE (the ivf_fit_centroids practice) — fit cost is
excluded from the scan comparison on purpose; encode cost (one Arrow
pass) is reported once. At k_sub=256 the fit and the encode both take
the BLAS kernel (``similarity._exact_fit``).

    python tools/bench_pq.py [n ...]    # default 200000 1000000
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

DIM, M, KSUB, ITERS, FIT_N = 64, 8, 256, 2, 10_000


def _timed(fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    ns = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000]
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bench-pq")
        .config("spark.sql.shuffle.partitions", "32")
        # local mode = driver JVM hosts all executor threads; the
        # default 1g heap cannot decode 32 concurrent 16 MiB vector
        # splits at n=10^6 (the bench_dedup lesson)
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(
        f"| n (dim={DIM}, m={M}, k_sub={KSUB}, arrow encode, fit on "
        f"{FIT_N}-row sample) | encode (s) | exact top-10 (s) "
        f"| ADC top-10 (s) | vec col (MiB) | code col (MiB) |"
    )
    print("| --- | --- | --- | --- | --- | --- |")
    for n in ns:
        # generate Spark-side (64 seeded rand columns) straight TO
        # PARQUET — never cached: a driver-built row list or an
        # in-heap checkpoint walls at n=10^6 long before the scans
        # being measured do. Everything below reads the written store —
        # the persisted shape the 100 TB claim is about: the exact pass
        # decodes the dim-sized vector column, the ADC pass only the
        # m-int code column.
        with tempfile.TemporaryDirectory() as td:
            (
                spark.range(n)
                .select(
                    F.col("id").alias("vec_id"),
                    F.array(*[F.rand(42_000 + i) for i in range(DIM)]).alias(
                        "embedding"
                    ),
                )
                .repartition(32)
                .write.parquet(f"{td}/vec")
            )
            vec_store = spark.read.parquet(f"{td}/vec")
            books = similarity.pq_fit(
                vec_store.filter(F.col("vec_id") < FIT_N),
                m=M, k_sub=KSUB, iters=ITERS, dim=DIM,
            )
            t0 = time.perf_counter()
            similarity.pq_encode(vec_store, books).select(
                "vec_id", "pq_code"
            ).write.parquet(f"{td}/code")
            t_enc = time.perf_counter() - t0
            code_store = spark.read.parquet(f"{td}/code")
            q = [
                float(x)
                for x in vec_store.filter(F.col("vec_id") == 0).first().embedding
            ]
            mib = lambda p: sum(
                f.stat().st_size for f in Path(p).rglob("*.parquet")
            ) / 2**20
            v_mib, c_mib = mib(f"{td}/vec"), mib(f"{td}/code")
            t_exact = _timed(
                lambda: similarity.cosine_topk(
                    vec_store, q, k=10, exclude_ids=(0,)
                ).collect()
            )
            t_adc = _timed(
                lambda: similarity.pq_adc_topk(
                    code_store, q, books, k=10, exclude_ids=(0,)
                ).collect()
            )
        print(
            f"| {n} | {t_enc:.2f} | {t_exact:.2f} | {t_adc:.2f} "
            f"| {v_mib:.1f} | {c_mib:.1f} |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
