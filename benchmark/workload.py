"""What every workload shares: operation/check accounting and its outcome."""

from __future__ import annotations

import sys
import traceback
from dataclasses import dataclass, field

from benchmark.harness import Bench


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    # the same latencies by request kind; empty when requests are all alike
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    items: float = 0.0  # work units completed (rows, queries, docs, requests)
    busy_s: float = 0.0  # wall time those items took
    # per loop step: CPU seconds of the whole process tree ÷ items the step completed
    cpu_per_item: list[float] = field(default_factory=list)
    quality: list[float] = field(default_factory=list)  # per-answer accuracy in [0, 1]


class Workload:
    """One closed-loop workload. Subclasses implement ``setup`` (inputs and
    index state; counted in ``setup_s``), ``warm`` (untimed warm-up before
    the loop), ``step`` (one request), ``finish`` (untimed checks) and
    ``layers`` (per-layer metrics from a parsed event log)."""

    name = ""
    latency_kind = ""  # what one latency sample is, for the report
    items_kind = ""  # what one throughput item is, for the report

    def __init__(self, bench: Bench, seed: int):
        self.bench = bench
        self.seed = seed
        self.out = Outcome()
        self.props: dict = {}

    @property
    def spark(self):
        return self.bench.spark

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed one is reported on stderr."""
        self.out.attempted += 1
        if not ok:
            self.out.failed += 1
            print(f"[{self.name}] check failed: {what}", file=sys.stderr)
        return ok

    def latency(self, ms: float, kind: str | None = None) -> None:
        """Record one latency sample, of request kind ``kind`` if given."""
        self.out.latencies_ms.append(ms)
        if kind is not None:
            self.out.by_kind.setdefault(kind, []).append(ms)

    def attempt(self, fn, what: str):
        """Run one operation; an exception counts as a failure."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            self.out.attempted += 1
            self.out.failed += 1
            print(f"[{self.name}] {what} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        pass

    def step(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def layers(self, trace, measure_start: float) -> dict[str, float]:
        raise NotImplementedError
