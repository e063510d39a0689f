"""Per-layer tracing for the traced run (``--trace 1``).

Everything is recorded from the benchmark's own files; nothing is traced
inside the engine:

* spans around the benchmark's calls into each layer, and around the
  engine's public functions that ``update_documents`` resolves at call
  time (``deletes.delete_documents``, ``build.build_index``,
  ``merge.merge_indexes``), by wrapping those module attributes;
* a Spark job group per op, so the event log can attribute jobs to ops.
  Jobs the engine starts from its own threads carry no group and are
  attributed by time window instead;
* the Spark event log, enabled only in the traced run, for job, stage
  and task counts and task metrics.

With tracing disabled every method is a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    op: str | None  # op id shared by every span of one op; None = setup
    name: str
    start: float  # epoch seconds, the event log's clock
    end: float


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._op: str | None = None
        self._patches: list = []

    @contextlib.contextmanager
    def op(self, sc, op_id: str):
        """Root span of one op; its Spark jobs run under job group ``op_id``."""
        if not self.enabled:
            yield
            return
        sc.setJobGroup(op_id, op_id)
        self._op = op_id
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(op_id, "op", t0, time.time()))
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(self._op, name, t0, time.time()))

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``module.attr`` until ``unwrap_all``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def op_spans(self) -> dict[str, Span]:
        return {s.op: s for s in self.spans if s.name == "op"}

    def children(self, op_id: str, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id and s.name == name]


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str):
    """-> (jobs, stages): jobs[job_id] = {submit, end, group, stages};
    stages[stage_id] = summed task metrics of that stage's tasks."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 writes each application's log as a directory of event files
    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir)
             for f in sorted(files) if not f.startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
                        "deser_ms": 0.0, "gc_ms": 0.0, "input_b": 0,
                        "shuffle_w_b": 0, "result_b": 0,
                    })
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["deser_ms"] += m.get("Executor Deserialize Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["result_b"] += m.get("Result Size", 0)
                    st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return jobs, stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spark_layers(tracer: Tracer, log_dir: str, op_ids: list[str]) -> dict:
    """Per-op Spark and driver metrics over ``op_ids``.

    A job belongs to the op whose group it carries; a job without a known
    group belongs to the op whose root span holds its submission time.
    Each stage that ran is counted once, under the first job listing it
    (later jobs that list a finished shuffle stage skip it)."""
    jobs, stages = read_event_log(log_dir)
    spans = tracer.op_spans()
    wanted = [spans[o] for o in op_ids if o in spans]
    by_op: dict[str, list[int]] = {s.op: [] for s in wanted}
    for jid, j in jobs.items():
        owner = j["group"] if j["group"] in by_op else None
        if owner is None:
            owner = next((s.op for s in wanted
                          if s.start <= j["submit"] <= s.end), None)
        if owner is not None:
            by_op[owner].append(jid)
    stage_owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_owner.setdefault(sid, jid)

    keys = ("tasks", "run_ms", "cpu_ms", "deser_ms", "gc_ms",
            "input_b", "shuffle_w_b", "result_b")
    tot = dict.fromkeys(keys, 0.0)
    n_jobs = n_stages = 0
    job_ms = driver_ms = 0.0
    for s in wanted:
        own = by_op[s.op]
        n_jobs += len(own)
        ivals = []
        for jid in own:
            j = jobs[jid]
            end = j["end"] if j["end"] is not None else s.end
            ivals.append((j["submit"], end))
            job_ms += (end - j["submit"]) * 1000.0
            for sid in j["stages"]:
                if stage_owner.get(sid) == jid and sid in stages:
                    n_stages += 1
                    for k in keys:
                        tot[k] += stages[sid][k]
        driver_ms += (s.end - s.start - _covered(ivals, s.start, s.end)) * 1000.0
    n = max(len(wanted), 1)
    return {
        "spark.jobs_per_op": n_jobs / n,
        "spark.stages_per_op": n_stages / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.job_ms_per_op": job_ms / n,
        "spark.executor_run_ms_per_op": tot["run_ms"] / n,
        "spark.executor_cpu_ms_per_op": tot["cpu_ms"] / n,
        "spark.deserialize_ms_per_op": tot["deser_ms"] / n,
        "spark.gc_ms_per_op": tot["gc_ms"] / n,
        "spark.input_mb_per_op": tot["input_b"] / n / 2**20,
        "spark.shuffle_write_mb_per_op": tot["shuffle_w_b"] / n / 2**20,
        "spark.result_kb_per_op": tot["result_b"] / n / 2**10,
        "driver.ms_per_op": driver_ms / n,
    }


def span_coverage(tracer: Tracer, op_ids: list[str]) -> float:
    """Smallest share of an op's wall covered by its child spans: the
    check that the spans sharing one op id account for the op."""
    spans = tracer.op_spans()
    worst = 1.0
    for o in op_ids:
        root = spans.get(o)
        if root is None or root.end <= root.start:
            continue
        kids = [(s.start, s.end) for s in tracer.spans
                if s.op == o and s.name != "op"]
        worst = min(worst, _covered(kids, root.start, root.end)
                    / (root.end - root.start))
    return worst
