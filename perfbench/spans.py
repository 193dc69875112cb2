"""Spans for the traced run, rebuilt from Spark's event log.

The benchmark records one span around each public call it makes. Spark
jobs and their tasks come from the uncompressed event log the session
writes in a traced run; each job becomes a child of the benchmark span
that was open when it was submitted. A job is attributed to the
function whose code submitted it: its ``callSite.short`` (or, for jobs
that AQE submits on behalf of a query, the call site of their SQL
execution) names a file and line, and the function enclosing that line
is found by parsing the module with ``ast``.

Self time: at each instant inside a span, the time belongs to the most
recently submitted job that is still running, or to the span itself
("driver") when no job runs. So the self times of one span add up to
its duration exactly.
"""

from __future__ import annotations

import ast
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

NO_CALL_SITE = "(no python call site)"
DRIVER = "(driver)"

_CALL_SITE = re.compile(r"^\S+ at (?P<file>.+\.py):(?P<line>\d+)$")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``dump`` writes them once, at the end."""

    def __init__(self) -> None:
        self.spans: List[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        record = Span(name, time.time(), attrs=dict(attrs))
        try:
            yield record
        finally:
            record.end = time.time()
            self.spans.append(record)


@dataclass
class Task:
    stage: int
    result: bool
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    peak_mem: int
    python_udf: bool  # the stage runs a mapInArrow / mapInPandas UDF


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    call_site: Optional[str]
    stage_ids: List[int]
    label: str = NO_CALL_SITE
    tasks: List[Task] = field(default_factory=list)


class FunctionIndex:
    """Maps ``file:line`` call sites to ``module.function`` labels.

    A call site's file is matched to the checkout by its longest path
    suffix that exists under ``root`` (the package may be imported from
    a zip, so the recorded path need not exist itself).
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self._funcs: Dict[str, list] = {}

    def _relpath(self, path: str) -> Optional[str]:
        parts = [p for p in path.split("/") if p]
        for i in range(len(parts)):
            rel = "/".join(parts[i:])
            if os.path.isfile(os.path.join(self.root, rel)):
                return rel
        return None

    def _functions(self, rel: str) -> list:
        if rel not in self._funcs:
            with open(os.path.join(self.root, rel), encoding="utf-8") as handle:
                tree = ast.parse(handle.read(), rel)
            found = [
                (node.lineno, node.end_lineno, node.name)
                for node in ast.walk(tree)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            self._funcs[rel] = found
        return self._funcs[rel]

    def label(self, call_site: Optional[str]) -> str:
        match = _CALL_SITE.match(call_site or "")
        if not match:
            return NO_CALL_SITE
        rel = self._relpath(match["file"])
        if rel is None:
            return NO_CALL_SITE
        line = int(match["line"])
        module = rel[: -len(".py")].replace("/", ".")
        if module.startswith("pyjelly_spark."):
            module = module[len("pyjelly_spark."):]
        # innermost function: the enclosing def that starts last
        enclosing = [f for f in self._functions(rel) if f[0] <= line <= f[1]]
        if not enclosing:
            return module
        return f"{module}.{max(enclosing)[2]}"


def read_event_log(path: str, functions: FunctionIndex) -> List[Job]:
    """Jobs, with their tasks, from one uncompressed event log file."""
    jobs: Dict[int, Job] = {}
    stage_job: Dict[int, int] = {}
    execution_site: Dict[str, str] = {}
    udf_stages: set = set()
    with open(path, encoding="utf-8") as handle:
        for line in handle:
            event = json.loads(line)
            kind = event["Event"]
            if kind.endswith("SQLExecutionStart"):
                execution_site[str(event["executionId"])] = event.get("description", "")
            elif kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                site = props.get("callSite.short")
                if not site:
                    site = execution_site.get(props.get("spark.sql.execution.id", ""))
                stages = event["Stage Infos"]
                stage_ids = [s["Stage ID"] for s in stages]
                job = Job(
                    event["Job ID"], event["Submission Time"] / 1000.0, 0.0,
                    site, stage_ids, functions.label(site),
                )
                udf_stages.update(
                    s["Stage ID"] for s in stages
                    if any('"MapIn' in rdd.get("Scope", "") for rdd in s.get("RDD Info", []))
                )
                jobs[job.job_id] = job
                for sid in stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if event["Job ID"] in jobs:
                    jobs[event["Job ID"]].end = event["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(event["Stage ID"])
                metrics = event.get("Task Metrics")
                if job_id is None or not metrics:
                    continue
                info = event["Task Info"]
                read = metrics["Shuffle Read Metrics"]
                jobs[job_id].tasks.append(Task(
                    stage=event["Stage ID"],
                    result=event["Task Type"] == "ResultTask",
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    run_s=metrics["Executor Run Time"] / 1000.0,
                    cpu_s=metrics["Executor CPU Time"] / 1e9,
                    gc_s=metrics["JVM GC Time"] / 1000.0,
                    shuffle_write=metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    shuffle_read=read["Remote Bytes Read"] + read["Local Bytes Read"],
                    spill=metrics["Memory Bytes Spilled"] + metrics["Disk Bytes Spilled"],
                    peak_mem=metrics["Peak Execution Memory"],
                    python_udf=event["Stage ID"] in udf_stages,
                ))
    return [j for j in sorted(jobs.values(), key=lambda j: j.job_id) if j.end]


def stage_spans(tasks: List[Task]) -> List[tuple]:
    """(stage id, first launch, last finish) per stage, in stage order."""
    bounds: Dict[int, list] = {}
    for task in tasks:
        lo_hi = bounds.setdefault(task.stage, [task.launch, task.finish])
        lo_hi[0] = min(lo_hi[0], task.launch)
        lo_hi[1] = max(lo_hi[1], task.finish)
    return [(stage, lo, hi) for stage, (lo, hi) in sorted(bounds.items())]


def jobs_in(span: Span, jobs: List[Job]) -> List[Job]:
    """Jobs submitted while ``span`` was open, clipped to it."""
    return [j for j in jobs if span.start <= j.start < span.end]


def self_times(span: Span, jobs: List[Job]) -> Dict[str, float]:
    """Seconds of ``span`` per job label, plus DRIVER for the time no job
    ran. Overlapping jobs (AQE submits query stages concurrently) give
    each instant to the most recently submitted running job."""
    cuts = {span.start, span.end}
    for job in jobs:
        cuts.add(min(max(job.start, span.start), span.end))
        cuts.add(min(max(job.end, span.start), span.end))
    edges = sorted(cuts)
    totals: Dict[str, float] = {}
    for lo, hi in zip(edges, edges[1:]):
        mid = (lo + hi) / 2
        running = [j for j in jobs if j.start <= mid < j.end]
        label = max(running, key=lambda j: j.start).label if running else DRIVER
        totals[label] = totals.get(label, 0.0) + (hi - lo)
    return totals


def dump(path: str, tracer: Tracer, jobs: List[Job]) -> None:
    """Write every span with its jobs and their self times, once."""
    out = []
    for span in tracer.spans:
        inner = jobs_in(span, jobs)
        out.append({
            "name": span.name,
            "start": span.start,
            "end": span.end,
            "attrs": span.attrs,
            "self_s": self_times(span, inner),
            "jobs": [
                {"id": j.job_id, "start": j.start, "end": j.end,
                 "label": j.label, "call_site": j.call_site,
                 "tasks": len(j.tasks)}
                for j in inner
            ],
        })
    with open(path, "w", encoding="utf-8") as handle:
        json.dump(out, handle, indent=1)
