"""``feed_drain``: the reference's own job — drops of raw feed files land in
one persistent input dir and are drained into one persistent sink.

A drop is ``csv_files`` cell-metrics CSVs plus ``xml_files`` gzip
measCollec documents. After each drop the benchmark calls
``pipelines.run_csv_feed`` (archive + quarantine) and
``pipelines.run_xml_feed(variant="gzip")``, then checks the returned
sink counts and the leftover audit.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

from benchmark import gen, stats
from benchmark.eventlog import union_ms
from benchmark.workload import Workload

WARM_DROPS = 2  # untimed drops before the loop
PREGENERATED = 6  # measured drops generated during set-up, after the warm-up drops


def replay_clean(raw: dict) -> dict:
    """Pure-Python replay of cleaning rules C1–C6 + P1/P3 on one raw row."""
    out = {}

    def num(col, cast, default):
        v = raw[col]
        return default if v is None else cast(v)

    t = raw["Time"]
    try:
        out["Time"] = dt.datetime.strptime(t, "%m-%d-%Y %H:%M") if t else None
    except ValueError:
        out["Time"] = None
    for c in ("Downlink EARFCN", "LocalCell Id", "Downlink bandwidth"):
        out[c] = num(c, int, 0)  # C2
    for c in ("eNodeB Name", "Cell Name"):
        out[c] = raw[c] if raw[c] is not None else "N/A"  # C3
    for c in ("Longitude", "Latitude"):
        out[c] = num(c, float, 999.0)  # C4
    for c in gen.CSV_COLUMNS[11:]:  # C5 (numeric columns after the targeted fills)
        if c in gen.INT_COLS:
            out[c] = num(c, int, 0)
        elif c in gen.FLOAT_COLS:
            out[c] = num(c, float, 0.0)
    out["Frequency band"] = raw["Frequency band"]
    ul = raw["FT_UL.Interference"]  # P3 rename + C6
    out["FT_UL_Interference"] = "0" if ul is not None and ul.strip().lower() == "nil" else ul
    return out  # P1: Integrity is not carried


class FeedDrain(Workload):
    name = "feed_drain"
    latency_kind = "file write → micro-batch commit"
    items_kind = "rows committed"

    def setup(self) -> None:
        from datapipelineetl_spark import pipelines

        self.pipelines = pipelines
        self.rng = np.random.default_rng(self.seed)
        self.profile = gen.FeedProfile()
        root = self.bench.fresh_dir("feed")
        self.dirs = {k: os.path.join(root, k) for k in
                     ("in_csv", "in_xml", "archive", "archive_xml", "quarantine", "sink",
                      "ck_csv", "ck_xml", "staging")}
        for k in ("in_csv", "in_xml", "staging"):
            os.makedirs(self.dirs[k])
        self.expected = {"csv": 0, "xml": 0, "malformed": 0}
        self.samples: dict[str, dict] = {}
        self.written_at: dict[str, float] = {}
        self.measured_drops = 0
        self.props = {**vars(self.profile), "xml_kpi_rows_per_file": None}
        self.warm_drops = [self._generate(d) for d in range(WARM_DROPS)]
        self.pending = [self._generate(WARM_DROPS + d) for d in range(PREGENERATED)]

    def _generate(self, d: int) -> list[tuple[str, bytes, str, dict]]:
        """Drop ``d``'s files as (name, bytes, input dir, expected counts)."""
        p, files = self.profile, []
        for k in range(p.csv_files):
            text, good, bad, samples = gen.feed_csv(self.rng, f"d{d}f{k}", p)
            files.append((f"d{d:05d}_{k}.csv", text.encode(), "in_csv",
                          {"csv": good, "malformed": bad, "samples": samples}))
        for k in range(p.xml_files):
            data, rows = gen.feed_xml(self.rng, f"ENB{d}x{k}")
            self.props["xml_kpi_rows_per_file"] = rows
            files.append((f"d{d:05d}_{k}.xml.gz", data, "in_xml", {"xml": rows}))
        return files

    def warm(self) -> None:
        for files in self.warm_drops:  # the first pays the queries' start-up
            self._drop(files, measured=False)

    def _write(self, name: str, data: bytes, into: str) -> str:
        staged = os.path.join(self.dirs["staging"], name)
        with open(staged, "wb") as fh:
            fh.write(data)
        path = os.path.join(self.dirs[into], name)
        os.replace(staged, path)  # the file appears whole
        return path

    def _drop(self, files, measured: bool) -> None:
        before = self.expected["csv"] + self.expected["xml"]
        written = {}
        for name, data, into, exp in files:
            written[self._write(name, data, into)] = time.time()
            for key in ("csv", "xml", "malformed"):
                self.expected[key] += exp.get(key, 0)
            self.samples.update(exp.get("samples", {}))
        if measured:
            self.written_at.update(written)
        t0 = time.perf_counter()
        with self.bench.span("pipelines", "run_csv_feed"):
            res = self.attempt(lambda: self.pipelines.run_csv_feed(
                self.spark, self.dirs["in_csv"], out_dir=self.dirs["sink"],
                archive_dir=self.dirs["archive"], checkpoint=self.dirs["ck_csv"],
                quarantine_dir=self.dirs["quarantine"]), "run_csv_feed")
        if res is not None:
            self.check(res.rows == self.expected["csv"],
                       f"csv sink rows {res.rows} != parseable generated {self.expected['csv']}")
            self.check(not res.leftovers, f"csv leftovers {res.leftovers[:3]}")
        with self.bench.span("pipelines", "run_xml_feed"):
            res = self.attempt(lambda: self.pipelines.run_xml_feed(
                self.spark, self.dirs["in_xml"], variant="gzip", out_dir=self.dirs["sink"],
                checkpoint=self.dirs["ck_xml"], archive_dir=self.dirs["archive_xml"]),
                "run_xml_feed")
        if res is not None:
            self.check(res.rows == self.expected["xml"],
                       f"xml sink rows {res.rows} != generated {self.expected['xml']}")
            self.check(not res.leftovers, f"xml leftovers {res.leftovers[:3]}")
        if measured:
            self.out.busy_s += time.perf_counter() - t0
            self.out.items += self.expected["csv"] + self.expected["xml"] - before

    def step(self) -> None:
        self.measured_drops += 1
        files = self.pending.pop(0) if self.pending else self._generate(WARM_DROPS - 1 + self.measured_drops)
        self._drop(files, measured=True)

    def finish(self) -> None:
        from pyspark.sql import functions as F

        for kind in ("csv", "xml"):
            ck = self.dirs[f"ck_{kind}"]
            lat, missing = stats.file_latencies(
                {p: t for p, t in self.written_at.items() if p.startswith(self.dirs[f"in_{kind}"])},
                stats.file_batches(ck), stats.commit_times(ck))
            self.check(not missing, f"files with no committed batch: {missing[:3]}")
            for v in lat.values():
                self.latency(v * 1e3, kind)
        q = self.spark.read.parquet(self.dirs["quarantine"]).count()
        self.check(q == self.expected["malformed"],
                   f"quarantine rows {q} != injected malformed {self.expected['malformed']}")
        names = list(self.samples)
        got = {r["Cell Name"]: r.asDict() for r in self.spark.read.parquet(self.dirs["sink"])
               .filter((F.col("feed") == "csv") & F.col("Cell Name").isin(names)).collect()}
        bad = []
        for name, raw in self.samples.items():
            want, row = replay_clean(raw), got.get(name)
            if row is None or any(row.get(k) != v for k, v in want.items()) or "Integrity" in row:
                bad.append(name)
        self.check(not bad and len(got) == len(names),
                   f"{len(bad)} of {len(names)} sampled rows differ from the C1–C6 replay")
        self.out.quality.append(0.0 if self.out.failed else 1.0)

    def layers(self, trace, measure_start: float) -> dict[str, float]:
        sink = os.path.realpath(self.dirs["sink"])
        batches = trace.streaming()
        prog = [p for p in trace.progress
                if dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                >= measure_start and p["sources"] and p["sources"][0]["numInputRows"] > 0]
        overhead = [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in prog]
        planning = [p["durationMs"].get("queryPlanning", 0) for p in prog]
        add_batch = [p["durationMs"].get("addBatch", 0) for p in prog]
        jobs_per, write_ms, cpu_ms, readback = [], [], [], 0
        for p in prog:
            jobs = batches.get((p["id"], p["batchId"]), [])
            jobs_per.append(len(jobs))
            writes = [j for j in jobs if sink in trace.plans.get(j.execution_id, "")
                      and "InsertIntoHadoopFsRelationCommand" in trace.plans.get(j.execution_id, "")]
            reads = [j for j in jobs if sink in trace.plans.get(j.execution_id, "")
                     and "InsertIntoHadoopFsRelationCommand" not in trace.plans.get(j.execution_id, "")]
            write_ms.append(union_ms([(j.submit_ms, j.end_ms) for j in writes]))
            cpu_ms.append(sum(j.cpu_ms for j in writes))
            readback += sum(j.input_records for j in reads)
        files = [f for f in self._sink_files() if os.stat(f).st_mtime >= measure_start]
        med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
        return {
            "runner.batches_per_drop": len(prog) / max(1, self.measured_drops),
            "runner.batch_overhead_ms": med(overhead),
            "runner.query_planning_ms": med(planning),
            "runner.jobs_per_batch": sum(jobs_per) / max(1, len(jobs_per)),
            "pipelines.add_batch_ms": med(add_batch),
            "pipelines.readback_rows_per_row": readback / max(1.0, self.out.items),
            "sinks.write_ms": med(write_ms),
            "sinks.files_written": len(files) / max(1, len(prog)),
            "cleaning.executor_cpu_ms": sum(cpu_ms) / max(1, len(prog)),
        }

    def _sink_files(self) -> list[str]:
        out = []
        for root, _, names in os.walk(self.dirs["sink"]):
            out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
        return out
