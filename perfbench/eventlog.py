"""Spark event-log reader: per-span executor, Python-UDF and exchange figures.

The log is enabled with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false``: one JSON event per line.  This module reads the events it
needs and attributes each job and SQL execution to a benchmark span:

* by the ``bench.span`` job property (``spans.SPAN_PROPERTY``) when the
  submitting thread carried it;
* otherwise by time, to the innermost span open at the job's
  submission (the program submits some jobs from its own threads,
  which do not inherit the property; the benchmark's driver thread is
  closed-loop, so its spans never overlap in time except by nesting).

Python-worker time and bytes come from the ArrowEvalPython SQL metrics
("time to run Python workers", "data sent to Python workers", ...),
summed over task updates; executor time, shuffle, input, output, spill
and GC come from the task metrics.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from .spans import SPAN_PROPERTY

MB = 2**20

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"
_STAGE_SQL = (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RECEIVED)

# UDFs that verify candidate pairs; their input rows are the pairs
# sent to verification
VERIFY_UDFS = ("jaccard_udf(", "lcs_udf(")


@dataclass
class Stage:
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    spill_bytes: float = 0.0
    task_ms: list = field(default_factory=list)
    sql: dict = field(default_factory=lambda: defaultdict(float))


@dataclass
class EventLog:
    jobs: list = field(default_factory=list)         # dicts: id, time, stages, tag
    stages: dict = field(default_factory=dict)       # stage id -> Stage
    executions: dict = field(default_factory=dict)   # execution id -> dict
    accumulators: dict = field(default_factory=lambda: defaultdict(float))
    stage_owner: dict = field(default_factory=dict)  # stage id -> job id


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerTaskEnd":
                _task_end(log, event)
            elif kind == "SparkListenerJobStart":
                # a stage belongs to the first job that lists it; later
                # jobs that reuse its shuffle output skip it
                for stage_id in event["Stage IDs"]:
                    log.stage_owner.setdefault(stage_id, event["Job ID"])
                log.jobs.append(
                    {
                        "id": event["Job ID"],
                        "time": event["Submission Time"] / 1000,
                        "stages": event["Stage IDs"],
                        "tag": (event.get("Properties") or {}).get(SPAN_PROPERTY),
                    }
                )
            elif kind.endswith("SQLExecutionStart"):
                log.executions[event["executionId"]] = {
                    "time": event["time"] / 1000,
                    "plan": event["sparkPlanInfo"],
                }
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                # the last update is the plan that ran
                if event["executionId"] in log.executions:
                    log.executions[event["executionId"]]["plan"] = event[
                        "sparkPlanInfo"
                    ]
    return log


def _task_end(log: EventLog, event: dict) -> None:
    metrics = event.get("Task Metrics")
    if not metrics:
        return
    stage = log.stages.setdefault(event["Stage ID"], Stage())
    stage.run_ms += metrics["Executor Run Time"]
    stage.cpu_ns += metrics["Executor CPU Time"]
    stage.gc_ms += metrics["JVM GC Time"]
    shuffle_read = metrics["Shuffle Read Metrics"]
    stage.shuffle_read += shuffle_read["Remote Bytes Read"] + shuffle_read["Local Bytes Read"]
    stage.shuffle_write += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    stage.input_bytes += metrics["Input Metrics"]["Bytes Read"]
    stage.output_bytes += metrics["Output Metrics"]["Bytes Written"]
    stage.spill_bytes += metrics["Disk Bytes Spilled"]
    stage.task_ms.append(metrics["Executor Run Time"])
    for acc in event["Task Info"].get("Accumulables", []):
        name = acc.get("Name")
        if name in _STAGE_SQL:
            stage.sql[name] += float(acc["Update"])
        elif name == OUTPUT_ROWS:
            log.accumulators[acc["ID"]] += float(acc["Update"])


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for span in spans:
        if span["start"] <= t <= span["end"] and (
            best is None or span["start"] >= best["start"]
        ):
            best = span
    return best


def attribute(log: EventLog, spans: list[dict]) -> dict:
    """Map span id -> {"jobs": [...], "executions": [...]} for the
    events attributed directly to that span."""
    closed = [s for s in spans if s["end"] is not None]
    out: dict = defaultdict(lambda: {"jobs": [], "executions": []})
    for job in log.jobs:
        if job["tag"] is not None and job["tag"].isdigit():
            out[int(job["tag"])]["jobs"].append(job)
            continue
        span = _innermost(closed, job["time"])
        if span is not None:
            out[span["id"]]["jobs"].append(job)
    for execution in log.executions.values():
        span = _innermost(closed, execution["time"])
        if span is not None:
            out[span["id"]]["executions"].append(execution)
    return out


def subtree(spans: list[dict], root_id: int) -> set[int]:
    ids, frontier = {root_id}, {root_id}
    while frontier:
        frontier = {s["id"] for s in spans if s["parent"] in frontier}
        ids |= frontier
    return ids


def span_metrics(
    log: EventLog, attributed: dict, span_ids: set[int], wall_s: float, cores: int
) -> dict[str, float]:
    """Spark figures for the jobs and executions attributed to any span
    in ``span_ids`` (a span and its descendants, usually)."""
    jobs = [j for sid in span_ids for j in attributed.get(sid, {"jobs": []})["jobs"]]
    executions = [
        e for sid in span_ids for e in attributed.get(sid, {"executions": []})["executions"]
    ]
    job_ids = {j["id"] for j in jobs}
    stages = [
        stage for stage_id, stage in sorted(log.stages.items())
        if log.stage_owner.get(stage_id) in job_ids
    ]

    def total(attr: str) -> float:
        return sum(getattr(s, attr) for s in stages)

    def sql(name: str) -> float:
        return sum(s.sql.get(name, 0.0) for s in stages)

    run_s = total("run_ms") / 1000
    # a node is identified by its metrics' accumulator ids: a cached
    # frame's plan reappears under every scan of the cache, but its
    # ArrowEvalPython node ran once
    arrow_nodes: set = set()
    verify_rows = 0.0
    for execution in executions:
        for node in _walk(execution["plan"]):
            if node["nodeName"] != "ArrowEvalPython":
                continue
            ids = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
            key = tuple(sorted(ids.values()))
            if key in arrow_nodes:
                continue
            arrow_nodes.add(key)
            if any(u in node.get("simpleString", "") for u in VERIFY_UDFS):
                verify_rows += log.accumulators.get(ids.get(OUTPUT_ROWS), 0.0)

    skew = 1.0
    for stage in stages:
        # the worst stage among those holding >= 5% of the executor time
        if len(stage.task_ms) >= 2 and stage.run_ms >= 0.05 * total("run_ms"):
            median = statistics.median(stage.task_ms)
            if median > 0:
                skew = max(skew, max(stage.task_ms) / median)

    return {
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.python_run_s": sql(PY_RUN) / 1000,
        "spark.python_init_s": (sql(PY_START) + sql(PY_INIT)) / 1000,
        "spark.python_sent_mb": sql(PY_SENT) / MB,
        "spark.python_received_mb": sql(PY_RECEIVED) / MB,
        "spark.arrow_eval_nodes": float(len(arrow_nodes)),
        "spark.shuffle_write_mb": total("shuffle_write") / MB,
        "spark.shuffle_read_mb": total("shuffle_read") / MB,
        "spark.input_mb": total("input_bytes") / MB,
        "spark.output_mb": total("output_bytes") / MB,
        "spark.spill_mb": total("spill_bytes") / MB,
        "spark.gc_s": total("gc_ms") / 1000,
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(len(s.task_ms) for s in stages)),
        "spark.task_skew": skew,
        "spark.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "verify_rows": verify_rows,
    }
