"""``vector_topk``: repeated top-k requests against one fitted vector index.

Set-up generates clustered unit vectors and fits the index once
(``pq_fit``, ``pq_encode``, ``ivf_fit_centroids`` + ``ivf_assign``,
``lsh_persist_signatures``), materializing codes, cells and signatures
next to the vectors. The loop then issues rounds of ``cosine_topk``,
``pq_adc_topk``, ``ivfpq_topk`` (both with an exact re-rank of a
``REFINE``-long shortlist) and ``ann_lsh_topk`` requests, each round in a
seeded order. Exact answers are checked against a numpy brute force;
approximate answers are scored by recall@k against it.
"""

from __future__ import annotations

import time

import numpy as np

from benchmark import gen, stats
from benchmark.eventlog import driver_ms, in_span, totals
from benchmark.workload import Workload

KINDS = ("exact", "pq_adc", "ivfpq", "lsh")
N, DIM, CLUSTERS, K = 2000, 32, 16, 10
N_QUERIES = 400
REFINE = 100  # ADC shortlist re-ranked exactly (the two-stage PQ recipe)
WARM_ROUNDS = 4  # untimed rounds before the loop, while request latency settles


class VectorTopk(Workload):
    name = "vector_topk"
    latency_kind = "one top-k request"
    items_kind = "requests"

    def setup(self) -> None:
        from pyspark.sql import types as T

        from datapipelineetl_spark.operators import similarity as sim

        self.sim = sim
        self.rng = np.random.default_rng(self.seed)
        x, _, centres, self.props = gen.embeddings(self.rng, N, DIM, CLUSTERS)
        self.x = x.astype(np.float64)
        self.queries = gen.queries(self.rng, centres, N_QUERIES)
        self.next_q = 0
        self.recall: dict[str, list[float]] = {k: [] for k in KINDS if k != "exact"}
        schema = T.StructType([T.StructField("vec_id", T.LongType()),
                               T.StructField("embedding", T.ArrayType(T.FloatType()))])
        import pandas as pd

        df = self.spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(N, dtype=np.int64), "embedding": list(x)}), schema)
        t0 = time.perf_counter()
        with self.bench.span("similarity", "fit"):
            self.codebooks = sim.pq_fit(df, m=8, k_sub=16, iters=1, dim=DIM)
            self.centroids = sim.ivf_fit_centroids(df, k_cells=8, iters=1, dim=DIM)
            store = sim.pq_encode(df, self.codebooks)
            store = sim.ivf_assign(store, self.centroids)
            store, self.sig_cols = sim.lsh_persist_signatures(store, num_planes=8, num_tables=4, dim=DIM)
            self.store = store.localCheckpoint(eager=True)
        self.fit_s = time.perf_counter() - t0
        self.props.update({"pq": f"m=8 k_sub=16 refine={REFINE}", "ivf": "8 cells nprobe=2",
                           "lsh": "8 planes x 4 tables radius 2", "k": K})

    def _request(self, kind: str, q: list[float]):
        sim, s = self.sim, self.store
        if kind == "exact":
            df = sim.cosine_topk(s, q, k=K)
        elif kind == "pq_adc":
            df = sim.pq_adc_topk(s, q, self.codebooks, k=K, refine_n=REFINE, vectors=s)
        elif kind == "ivfpq":
            df = sim.ivfpq_topk(s, q, self.centroids, self.codebooks, k=K, nprobe=2,
                                cell_col="ivf_cell", codes_col="pq_code", refine_n=REFINE)
        else:
            df = sim.ann_lsh_topk(s, q, k=K, num_planes=8, sig_cols=self.sig_cols, radius=2)
        return [r["vec_id"] for r in df.collect()]

    def warm(self) -> None:
        """Untimed rounds on queries from the end of the list, which the
        loop does not reach in a run."""
        for r in range(WARM_ROUNDS):
            q = [float(v) for v in self.queries[-1 - r]]
            for kind in KINDS:
                self.attempt(lambda: self._request(kind, q), f"warm-up {kind}")

    def step(self) -> None:
        """One round: every kind once, in a seeded order, so every run
        measures the same number of requests of each kind."""
        for kind in (KINDS[k] for k in self.rng.permutation(len(KINDS))):
            i = self.next_q % N_QUERIES
            self.next_q += 1
            q = [float(v) for v in self.queries[i]]
            t0 = time.perf_counter()
            with self.bench.span("similarity", kind):
                ids = self.attempt(lambda: self._request(kind, q), kind)
            dt = time.perf_counter() - t0
            if ids is None:
                continue
            self.out.items += 1
            self.out.busy_s += dt
            self.latency(dt * 1e3, kind)
            self._score(kind, np.asarray(self.queries[i], dtype=np.float64), ids)

    def _score(self, kind: str, q: np.ndarray, ids: list[int]) -> None:
        """Exact answers must equal the numpy brute force (ties at the
        4-decimal rounding ``cosine_topk`` ranks by may swap);
        approximate answers are scored by recall@k."""
        cos = self.x @ q / (np.linalg.norm(self.x, axis=1) * np.linalg.norm(q))
        r = np.round(cos, 4)
        truth = sorted(range(N), key=lambda j: (-r[j], j))[:K]
        if kind != "exact":
            self.out.attempted += 1
            self.recall[kind].append(len(set(ids) & set(truth)) / K)
            self.out.quality.append(self.recall[kind][-1])
            return
        same = ids == truth or (len(ids) == K and all(
            abs(cos[a] - cos[b]) < 1e-4 for a, b in zip(ids, truth)))
        self.check(same, f"exact top-{K} {ids} != numpy {truth}")

    def layers(self, trace, measure_start: float) -> dict[str, float]:
        jobs = trace.tagged(self.name, "similarity")
        out = {"similarity.fit_s": self.fit_s}
        for kind in KINDS:
            per, driver, rows = [], [], []
            for s in self.bench.spans:
                if s.call != kind:
                    continue
                mine = [j for j in in_span(jobs, s.start, s.end) if j.tag[2] == kind]
                per.append(totals(mine))
                driver.append(driver_ms(s.start, s.end, mine))
                execs = {j.execution_id for j in mine}
                rows.append(sum(trace.topk_rows.get(e, 0) for e in execs) / N)
            n = max(1, len(per))
            out[f"similarity.jobs_per_query.{kind}"] = sum(t["jobs"] for t in per) / n
            out[f"similarity.driver_ms_per_query.{kind}"] = sum(driver) / n
            xs = self.out.by_kind.get(kind)
            out[f"similarity.query_ms.{kind}"] = stats.median(xs) if xs else 0.0
            out[f"similarity.executor_cpu_ms_per_query.{kind}"] = sum(t["cpu_ms"] for t in per) / n
            out[f"similarity.rows_scored_ratio.{kind}"] = sum(rows) / n
            if kind in self.recall:
                xs = self.recall[kind]
                out[f"similarity.recall_at_10.{kind}"] = sum(xs) / len(xs) if xs else 0.0
        return out
