"""Spark event-log parsing and attribution (pure Python, no Spark import).

The traced run turns on Spark's own event log (uncompressed, not
rolling: one JSON object per line) and reads it back after the context
stops. This module folds that log into jobs with their stage and task
totals, then attributes each job to a benchmark span:

- batch calls carry the benchmark's job group ``<workload>:<layer>:<call>``;
- streaming micro-batch jobs carry the query ``runId`` as their job group
  instead, so they are attributed by ``(queryId, batchId)`` from the job
  properties and matched to ``QueryProgressEvent`` records.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"
TOPK_NODE = "TakeOrderedAndProject"


@dataclass
class Job:
    job_id: int
    group: str
    description: str
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    execution_id: int | None = None
    query_id: str | None = None
    batch_id: int | None = None
    succeeded: bool = True
    tasks: int = 0
    stages: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    result_bytes: int = 0
    python_ms: float = 0.0
    python_rows: int = 0

    @property
    def tag(self) -> tuple[str, str, str] | None:
        parts = self.group.split(":", 2)
        return (parts[0], parts[1], parts[2]) if len(parts) == 3 else None


@dataclass
class Trace:
    jobs: list[Job]
    progress: list[dict]  # StreamingQueryProgress payloads, in log order
    plans: dict[int, str]  # SQL execution id -> physical plan text
    topk_rows: dict[int, int]  # SQL execution id -> rows fed to its top-k heap

    def tagged(self, workload: str, layer: str | None = None, call: str | None = None) -> list[Job]:
        """Jobs whose group is ``workload:layer:call`` (None = any)."""
        out = []
        for j in self.jobs:
            t = j.tag
            if t and t[0] == workload and layer in (None, t[1]) and call in (None, t[2]):
                out.append(j)
        return out

    def streaming(self) -> dict[tuple[str, int], list[Job]]:
        """Micro-batch jobs keyed by ``(queryId, batchId)``."""
        out: dict[tuple[str, int], list[Job]] = defaultdict(list)
        for j in self.jobs:
            if j.query_id is not None and j.batch_id is not None:
                out[(j.query_id, j.batch_id)].append(j)
        return dict(out)


def _rows_below(node: dict, pattern, out: set[int], inside: bool = False) -> None:
    """Collect the row-count accumulator of the first node below each node
    whose name matches ``pattern``: the rows that node consumed."""
    hit = bool(pattern.search(node.get("nodeName", "")))
    if inside and not hit:
        rows = [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == ROWS]
        if rows:
            out.add(rows[0])
            inside = False  # counted; keep looking for matches further down
    for child in node.get("children", []):
        _rows_below(child, pattern, out, inside or hit)


def parse_lines(lines) -> Trace:
    """Fold event-log lines (str or already-decoded dicts) into a Trace."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    py_rows_ids: set[int] = set()
    topk_ids: dict[int, int] = {}
    plans: dict[int, str] = {}
    topk_rows: dict[int, int] = defaultdict(int)
    progress: list[dict] = []
    for raw in lines:
        e = json.loads(raw) if isinstance(raw, str) else raw
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            batch = props.get("streaming.sql.batchId")
            job = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id") or "",
                description=props.get("spark.job.description") or "",
                submit_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
                execution_id=int(exec_id) if exec_id is not None else None,
                query_id=props.get("sql.streaming.queryId"),
                batch_id=int(batch) if batch is not None else None,
            )
            jobs[job.job_id] = job
            for s in job.stage_ids:
                stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job:
                job.end_ms = e["Completion Time"]
                job.succeeded = e.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            agg = stage_tasks[sid]
            tm = e.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["run_ms"] += tm.get("Executor Run Time", 0)
            agg["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            agg["result_bytes"] += tm.get("Result Size", 0)
            agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            inp = tm.get("Input Metrics") or {}
            agg["input_bytes"] += inp.get("Bytes Read", 0)
            agg["input_records"] += inp.get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd, acc_id = acc.get("Name"), acc.get("Update"), acc.get("ID")
                if name == PY_TIME:
                    agg["python_ms"] += float(upd)
                elif acc_id in py_rows_ids:
                    agg["python_rows"] += float(upd)
                if acc_id in topk_ids:
                    topk_rows[topk_ids[acc_id]] += int(float(upd))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            exec_id = e["executionId"]
            if "physicalPlanDescription" in e:
                plans[exec_id] = e["physicalPlanDescription"]
            plan = e.get("sparkPlanInfo")
            if plan:
                _rows_below(plan, PYTHON_NODE, py_rows_ids)
                found: set[int] = set()
                _rows_below(plan, re.compile(TOPK_NODE), found)
                topk_ids.update({a: exec_id for a in found})
        elif kind.endswith("QueryProgressEvent"):
            progress.append(e["progress"])
    for sid, agg in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None or not agg.get("tasks"):
            continue
        job.stages += 1
        job.tasks += int(agg["tasks"])
        job.run_ms += agg["run_ms"]
        job.cpu_ms += agg["cpu_ms"]
        job.shuffle_write_bytes += int(agg["shuffle_write_bytes"])
        job.input_bytes += int(agg["input_bytes"])
        job.input_records += int(agg["input_records"])
        job.result_bytes += int(agg["result_bytes"])
        job.python_ms += agg["python_ms"]
        job.python_rows += int(agg["python_rows"])
    return Trace(
        jobs=sorted(jobs.values(), key=lambda j: j.job_id),
        progress=progress,
        plans=plans,
        topk_rows=dict(topk_rows),
    )


def parse_file(path: str) -> Trace:
    with open(path) as fh:
        return parse_lines(fh)


def union_ms(spans: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_span(jobs: list[Job], start_s: float, end_s: float) -> list[Job]:
    """Jobs submitted inside ``[start_s, end_s]`` (epoch seconds; the log
    stamps milliseconds, so the window is widened by one)."""
    lo, hi = start_s * 1e3 - 1, end_s * 1e3 + 1
    return [j for j in jobs if lo <= j.submit_ms <= hi]


def driver_ms(start_s: float, end_s: float, jobs: list[Job]) -> float:
    """Span wall time that none of ``jobs`` covers: time on the driver."""
    lo, hi = start_s * 1e3, end_s * 1e3
    return (hi - lo) - union_ms([(max(j.submit_ms, lo), min(j.end_ms, hi)) for j in jobs])


def totals(jobs: list[Job]) -> dict:
    """Summed job/stage/task counters over ``jobs``."""
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "run_ms": sum(j.run_ms for j in jobs),
        "cpu_ms": sum(j.cpu_ms for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "input_bytes": sum(j.input_bytes for j in jobs),
        "input_records": sum(j.input_records for j in jobs),
        "result_bytes": sum(j.result_bytes for j in jobs),
        "python_ms": sum(j.python_ms for j in jobs),
        "python_rows": sum(j.python_rows for j in jobs),
        "job_span_ms": union_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms]),
    }
