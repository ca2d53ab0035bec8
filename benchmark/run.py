"""Benchmark entry point: one seeded, closed-loop workload per invocation.

    python3 benchmark/run.py --workload feed_drain --seed 1 --seconds 6 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` measures three times in one JVM
(untraced, with Spark's event log on, and with the event log on at
local[1]), then traces the warm-up and one pass of the workload's
``SIDE`` workload, and reports the per-layer metrics. The last stdout
line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the report under the workload's own metric names, with sample
counts, and (traced) the full ``layers`` block.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if sys.path and Path(sys.path[0]).resolve() == HERE:
    # run as a script: import the package as ``benchmark``, not its modules
    # as top-level names that could shadow installed ones
    sys.path[0] = str(ROOT)

from benchmark.harness import Bench, RssSampler, tree_cpu_s  # noqa: E402
from benchmark.stats import (  # noqa: E402
    highest_supported_percentile, kind_percentile, median, tail_supported,
)

# Set-ups per untraced run; setup_s is the median of their CPU times (of
# the whole process tree, as for cpu_ms_per_item: wall time would move
# with the host's steal). After the loop the run sets up again until it
# has SETUPS and has spent SETUP_SECONDS of wall time on the repeats, up
# to MAX_SETUPS, so a cheap set-up is sampled more often.
SETUPS, SETUP_SECONDS, MAX_SETUPS = 3, 2.0, 9
# The traced run of a gated workload also traces one pass of a workload
# the gated runs leave out, so that its layers are still measured: the
# JVM read/shuffle path rides with the JVM write path, the corpus kernels
# with the similarity kernels.
SIDE = {"feed_drain": "sql_analytics", "vector_topk": "corpus_prep"}

# Per workload: the workload's own names for the generic metrics, as
# (name, generic metric, scale, unit).
NAMED = {
    "feed_drain": [
        ("feed_rows_per_s", "throughput_per_s", 1, "rows/s"),
        ("feed_file_latency_p50_ms", "latency_p50_ms", 1, "ms"),
        ("feed_file_latency_p90_ms", "latency_p90_ms", 1, "ms"),
    ],
    "sql_analytics": [
        ("sql_queries_per_min", "throughput_per_s", 60, "1/min"),
        ("sql_query_latency_p50_s", "latency_p50_ms", 1e-3, "s"),
    ],
    "corpus_prep": [
        ("corpus_docs_per_s", "throughput_per_s", 1, "docs/s"),
    ],
    "vector_topk": [
        ("vector_qps", "throughput_per_s", 1, "1/s"),
        ("vector_query_latency_p50_ms", "latency_p50_ms", 1, "ms"),
        ("vector_query_latency_p90_ms", "latency_p90_ms", 1, "ms"),
        ("vector_recall_at_10", "answer_quality", 1, "ratio"),
    ],
}


def workload_class(name: str):
    if name == "feed_drain":
        from benchmark.feed_drain import FeedDrain as cls
    elif name == "sql_analytics":
        from benchmark.sql_analytics import SqlAnalytics as cls
    elif name == "corpus_prep":
        from benchmark.corpus_prep import CorpusPrep as cls
    elif name == "vector_topk":
        from benchmark.vector_topk import VectorTopk as cls
    else:
        raise SystemExit(f"unknown workload {name!r}; known: {sorted(NAMED)}")
    return cls


def run_phase(bench, cls, seed: int, seconds: float, setups: int, master=None, event_dir=None,
              warm: bool = True):
    """Set up, warm up (first phase of a run only: later phases reuse the
    warm JVM), run the closed loop for ``seconds`` and check, then, if
    ``setups`` > 1, set up again on the JVM the loop left warm as
    ``SETUPS`` / ``SETUP_SECONDS`` / ``MAX_SETUPS`` say; ``setup_s`` is the
    median of their CPU times. Returns (workload, set-up CPU seconds,
    layers or None)."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    bench.start(master, event_dir)
    bench.workload = cls.name  # the job-group tag of the phase's spans
    wl = cls(bench, seed)
    wl.setup()
    tw = time.perf_counter()
    setup_s, setup_wall = [tree_cpu_s() - c0], [tw - t0]
    if warm:
        wl.warm()
    bench.spans = []
    measure_start = time.time()
    cpu, tm = tree_cpu_s(), time.perf_counter()
    while True:
        items, before = wl.out.items, cpu
        wl.step()
        cpu = tree_cpu_s()
        if wl.out.items > items:
            wl.out.cpu_per_item.append((cpu - before) / (wl.out.items - items))
        if time.perf_counter() - tm >= seconds:
            break
    tf = time.perf_counter()
    wl.finish()
    finish_s = time.perf_counter() - tf
    layers = None
    if event_dir:
        trace = bench.close_trace()
        layers = wl.layers(trace, measure_start)
    repeats = 0.0
    while setups > 1 and len(setup_s) < MAX_SETUPS and (len(setup_s) < setups or repeats < SETUP_SECONDS):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        cls(bench, seed).setup()
        setup_s.append(tree_cpu_s() - c0)
        setup_wall.append(time.perf_counter() - t0)
        repeats += setup_wall[-1]
    print(f"phase {cls.name}: setups {' '.join(f'{x:.2f}' for x in setup_wall)} s"
          f" ({' '.join(f'{x:.2f}' for x in setup_s)} s CPU), warm {tm - tw:.1f}s"
          f" measure {tf - tm:.1f}s finish {finish_s:.1f}s", file=sys.stderr)
    return wl, setup_s, layers


def end_to_end(wl, setup_s: list[float]) -> dict[str, float]:
    o = wl.out
    by_kind = o.by_kind or {"": o.latencies_ms}
    return {
        "setup_s": median(setup_s),
        "latency_p50_ms": kind_percentile(by_kind, 50) if o.latencies_ms else 0.0,
        "latency_p90_ms": kind_percentile(by_kind, 90) if o.latencies_ms else 0.0,
        "throughput_per_s": o.items / o.busy_s if o.busy_s else 0.0,
        "cpu_ms_per_item": 1e3 * median(o.cpu_per_item) if o.cpu_per_item else 0.0,
        "answer_quality": sum(o.quality) / len(o.quality) if o.quality else 0.0,
    }


def report(name: str, e2e: dict, wl, setups: int, peak_mb: float) -> dict:
    """The workload's own metric names with unit and sample count. Peak
    RSS is reported here and in the traced run but not gated: its run-to-run
    spread is wider than any bound the benchmark may set."""
    n_lat = len(wl.out.latencies_ms)
    rows = {"setup_s": {"value": e2e["setup_s"], "unit": "s", "samples": setups},
            "cpu_ms_per_item": {"value": e2e["cpu_ms_per_item"], "unit": "ms",
                                "samples": len(wl.out.cpu_per_item)},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB", "samples": 1}}
    for label, key, scale, unit in NAMED[name]:
        samples = n_lat if key.startswith("latency") else (
            len(wl.out.quality) if key == "answer_quality" else int(wl.out.items))
        row = {"value": e2e[key] * scale, "unit": unit, "samples": samples}
        if key == "latency_p90_ms":
            row["tail_supported"] = tail_supported(n_lat, 90)
        rows[label] = row
    return {"workload": name, "latency_sample": wl.latency_kind, "throughput_item": wl.items_kind,
            "highest_supported_percentile": highest_supported_percentile(n_lat),
            "props": wl.props, "report": rows}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        import datapipelineetl_spark  # noqa: F401 — the program under test
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    cls = workload_class(args.workload)
    cores = os.cpu_count() or 1
    workdir = os.path.realpath(ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    # keep every temp file of Python and of each JVM (launcher and driver)
    # inside the checkout; HotSpot's perf-data files would go to /tmp
    os.environ["TMPDIR"] = workdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"
    bench = Bench(args.workload, workdir, cores)
    try:
        with RssSampler() as rss:
            cold_s = bench.start(f"local[{cores}]")
            wl, setup_s, _ = run_phase(bench, cls, args.seed, args.seconds, SETUPS if not args.trace else 1)
            e2e = end_to_end(wl, setup_s)
            outcomes = [wl.out]
            if args.trace:
                # the overhead compares the traced phase with the untraced
                # one before it; both run after the warm-up
                twl, tsetup, layers = run_phase(bench, cls, args.seed, args.seconds, 1,
                                                event_dir=os.path.join(workdir, "events"), warm=False)
                traced = end_to_end(twl, tsetup)
                w1, s1, layers1 = run_phase(bench, cls, args.seed, args.seconds, 1, "local[1]",
                                            os.path.join(workdir, "events1"), warm=False)
                single = end_to_end(w1, s1)
                outcomes += [twl.out, w1.out]
                side_layers = {}
                if args.workload in SIDE:
                    # its warm-up (with its output checks), then one pass
                    swl, _, side_layers = run_phase(
                        bench, workload_class(SIDE[args.workload]), args.seed, 0, 1,
                        f"local[{cores}]", os.path.join(workdir, "events_side"))
                    outcomes.append(swl.out)
    finally:
        bench.shutdown()
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    print(json.dumps(report(args.workload, e2e, wl, len(setup_s), rss.peak_mb)))
    if not args.trace:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    else:
        values = {**layers, **side_layers}
        values["session.start_s"] = cold_s
        values["process.peak_rss_mb"] = rss.peak_mb
        values.update({f"local1.{k}": v for k, v in layers1.items()})
        values["scaling.local1_throughput_per_s"] = single["throughput_per_s"]
        values["scaling.speedup"] = (traced["throughput_per_s"] / single["throughput_per_s"]
                                     if single["throughput_per_s"] else 0.0)
        values["tracing.untraced_latency_p50_ms"] = e2e["latency_p50_ms"]
        values["tracing.latency_p50_overhead_ms"] = traced["latency_p50_ms"] - e2e["latency_p50_ms"]
        values["tracing.throughput_overhead_pct"] = (
            100.0 * (e2e["throughput_per_s"] - traced["throughput_per_s"])
            / e2e["throughput_per_s"] if e2e["throughput_per_s"] else 0.0)
        print(json.dumps({"workload": args.workload, "layers": values}))
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
