"""``sql_analytics``: the relational/window dashboard battery.

The 17 relational and window rows of the legacy bench headline, taken from
``__spark_entry__.queries()`` and forced with the ``noop`` sink over a
seeded TPC-H-shaped star schema. The seed shuffles the order of every
pass, and the loop runs whole passes, so every run measures the same
queries. Set-up also runs each query's ``oracle_sql()`` twin in DuckDB over
the same parquet files; before the loop an untimed pass collects every
query and compares it with that answer, order-insensitively (exact, except
that a float may differ by one step in its last printed decimal).
"""

from __future__ import annotations

import os
import time

import numpy as np

from benchmark import gen, stats
from benchmark.eventlog import driver_ms, in_span, totals
from benchmark.workload import Workload

QUERIES = (
    "q1_pricing_summary", "q6_revenue_delta", "q_agg_stats",
    "q3_shipping_priority", "q5_local_supplier_volume", "q9_product_type_profit",
    "q10_returned_items", "q18_large_orders", "q_asof_join_purchase",
    "q_range_join_ship_windows", "q_range_join_event_windows",
    "q_top3_orders_per_customer", "q_window_trailing_revenue", "q_sessionize",
    "q_events_pivot", "q_unpivot_lineitem", "q_hypertable_rollup",
)
SCALE = 0.005  # lineitem ≈ 30k rows


def _canon(rows, cols) -> list[tuple]:
    """Rows with columns in name order, sorted on their text form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda t: tuple(repr(v) if isinstance(v, float) else str(v) for v in t))


def _close(a, b) -> bool:
    """Equal, or one step apart in the last printed decimal: a rounded sum
    can flip there when two engines add the same floats in another order."""
    if not (isinstance(a, float) and isinstance(b, float)):
        return str(a) == str(b)
    if a == b:
        return True
    if "e" in repr(a) + repr(b):  # exponent notation: no printed decimal to step
        return False
    scale = 10 ** min(len(repr(x).partition(".")[2]) for x in (a, b))
    return abs(round(a * scale) - round(b * scale)) <= 1


def same_result(srows, scols, orows, ocols) -> bool:
    """Order-insensitive comparison of a Spark result with its oracle."""
    if sorted(scols) != sorted(ocols) or len(srows) != len(orows):
        return False
    return all(len(x) == len(y) and all(map(_close, x, y))
               for x, y in zip(_canon(srows, scols), _canon(orows, ocols)))


class SqlAnalytics(Workload):
    name = "sql_analytics"
    latency_kind = "one query, forced with the noop sink"
    items_kind = "queries"

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.rng = np.random.default_rng(self.seed)
        self.data_dir = self.bench.fresh_dir("sql", "tables")
        tabs, self.props = gen.tables(self.rng, SCALE)
        gen.write_tables(tabs, self.data_dir)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in QUERIES}
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.expected = {}  # the oracle answers: DuckDB over the same files
        with duckdb.connect() as con:
            for t in tabs:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in QUERIES:
                res = con.execute(oracles[q])
                self.expected[q] = (res.fetchall(), [d[0] for d in res.description])

    def warm(self) -> None:
        """Untimed: every query collected once, in a seeded order, and
        compared with its oracle answer. Running before the loop, this pass
        also pays each plan's first-run compilation, so the timed passes
        are warm."""
        for i in self.rng.permutation(len(QUERIES)):
            q = QUERIES[i]
            got = self.attempt(lambda: (lambda d: (d.collect(), d.columns))(
                self.fns[q](self.spark, self.data_dir)), q)
            if got is None:
                continue
            orows, ocols = self.expected[q]
            ok = same_result(got[0], got[1], orows, ocols)
            self.check(ok, f"{q}: result differs from its DuckDB oracle "
                           f"({len(got[0])} vs {len(orows)} rows)")
            self.out.quality.append(1.0 if ok else 0.0)

    def step(self) -> None:
        """One whole pass over the battery, in a seeded order."""
        for i in self.rng.permutation(len(QUERIES)):
            q = QUERIES[i]
            t0 = time.perf_counter()
            with self.bench.span("sql", q):
                ok = self.attempt(lambda: self.fns[q](self.spark, self.data_dir)
                                  .write.format("noop").mode("overwrite").save() or True, q)
            dt = time.perf_counter() - t0
            if ok:
                self.out.attempted += 1
                self.out.items += 1
                self.out.busy_s += dt
                self.latency(dt * 1e3, q)
                self.per_query[q].append(dt)

    def layers(self, trace, measure_start: float) -> dict[str, float]:
        jobs = trace.tagged(self.name, "sql")
        per_exec, driver = [], []
        for s in self.bench.spans:
            if s.layer != "sql":
                continue
            mine = [j for j in in_span(jobs, s.start, s.end) if j.tag[2] == s.call]
            per_exec.append(totals(mine))
            driver.append(driver_ms(s.start, s.end, mine))
        n = max(1, len(per_exec))
        mean = lambda k: sum(t[k] for t in per_exec) / n  # noqa: E731
        out = {
            "sql.jobs_per_query": mean("jobs"),
            "sql.stages_per_query": mean("stages"),
            "sql.tasks_per_query": mean("tasks"),
            "sql.driver_ms_per_query": sum(driver) / n,
            "sql.executor_cpu_s": mean("cpu_ms") / 1e3,
            "sql.executor_run_s": mean("run_ms") / 1e3,
            "sql.shuffle_write_bytes": mean("shuffle_write_bytes"),
            "catalog.scan_bytes": mean("input_bytes"),
            "kernels.python_ms": mean("python_ms"),
            "kernels.arrow_rows": mean("python_rows"),
        }
        for q, xs in self.per_query.items():
            out[f"sql.query_s.{q}"] = stats.median(xs) if xs else 0.0
        return out
