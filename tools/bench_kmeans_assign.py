"""Measure kmeans assignment cost as k grows: the bit-exact
sequential-sum kernel (``assignment="seq"``, the oracle path — k × dim
elementwise numpy passes per Arrow batch) vs the Arrow matmul kernel
(``assignment="arrow"``, one BLAS matmul per batch). Warm best-of-2
per (k, mode); the earlier fold-vs-arrow crossover is recorded in
SCALING.md ("Round 11: kmeans assignment crossover").

    python tools/bench_kmeans_assign.py [k ...]    # default 16 64 128 256
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

from datapipelineetl_spark.operators import similarity
from datapipelineetl_spark.session import get_session

N, DIM, ITERS = 20_000, 64, 2


def main() -> int:
    ks = [int(a) for a in sys.argv[1:]] or [16, 64, 128, 256]
    spark = get_session("bench-kmeans-assign")
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(N, DIM))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)
    print(f"| k (n={N}, dim={DIM}, iters={ITERS}) | seq (s) | arrow (s) | ratio |")
    print("| --- | --- | --- | --- |")
    for k in ks:
        timings = {}
        for mode in ("seq", "arrow"):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                similarity.kmeans(
                    df, k=k, iters=ITERS, assignment=mode
                ).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[mode] = best
        print(
            f"| {k} | {timings['seq']:.2f} | {timings['arrow']:.2f} "
            f"| {timings['seq'] / timings['arrow']:.1f}x |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
