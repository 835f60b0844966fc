"""In-memory spans and the counters the traced run takes at each layer
boundary, all from outside the package under test:

- ``Tracer``: spans (name, start, end, parent, trace id) kept in memory
  and dumped once at the end of the run;
- ``BackendProxy``: a timing proxy handed to the processors through
  their public ``backend=`` parameter;
- ``Py4jCounter``: counts driver→JVM round trips by wrapping the
  gateway client's ``send_command``;
- ``parse_event_log``: jobs, stages and task metrics from a locally
  written Spark event log, keyed by the job group each operation sets;
- ``codegen_totals``: the JVM's ``CodegenMetrics`` compile histogram.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time

from perfbench import stats


class Tracer:
    """Spans of one run. ``span()`` nests through a stack, so a span
    opened inside another is its child; an operation span (``op=True``)
    starts a new trace id shared by everything below it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, *, op: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": next(self._traces) if op or parent is None else parent["trace"],
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> dict:
        """Record a span measured elsewhere (a Spark job or stage)."""
        sp = {
            "id": next(self._ids),
            "parent": parent["id"],
            "trace": parent["trace"],
            "name": name,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(sp)
        return sp

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        return stats.self_time(
            (span["start"], span["end"]),
            [(c["start"], c["end"]) for c in self.children(span)],
        )

    def child_coverage(self, span: dict) -> float:
        """Share of ``span``'s wall its direct children cover."""
        wall = span["end"] - span["start"]
        return (wall - self.self_time(span)) / wall if wall > 0 else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: (s["start"], s["id"])), f)


class BackendProxy:
    """Times every call into a state storage backend and records it as
    a ``state_backend.<method>`` span. Arguments, results and exceptions
    pass through unchanged; plain attributes (``layout_id``) are read
    from the wrapped backend."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"state_backend.{name}"):
                return attr(*args, **kwargs)

        return timed


class Py4jCounter:
    """Counts py4j commands sent by the driver. Every ``JavaObject``
    holds the one gateway client, so an instance-level wrapper of its
    ``send_command`` sees every round trip."""

    def __init__(self, spark):
        self.count = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(*args, **kwargs):
            self.count += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


def codegen_totals(spark) -> tuple[int, float]:
    """(compiles, seconds) so far from the JVM-wide ``CodegenMetrics``
    compilation-time histogram (milliseconds per compile)."""
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(hist.getCount())
    return n, n * float(hist.getSnapshot().getMean()) / 1000.0


def parse_event_log(lines) -> dict:
    """Fold a Spark event log (JSON lines) into per-job records:

    ``{job_id: {"group", "start", "end", "stages": {stage_id: {"name",
    "start", "end", "tasks": [task dicts]}}}}``; times in epoch
    seconds. Each task dict carries its wall, executor run time, GC
    time, shuffle bytes and spill bytes. Stages a job listed but never
    ran (skipped: their output was reused) have no tasks and no times.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": {},
            }
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                job["stages"][sid] = {
                    "name": info.get("Stage Name", ""),
                    "start": None,
                    "end": None,
                    "tasks": [],
                }
                stage_job[sid] = ev["Job ID"]
            jobs[ev["Job ID"]] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = _stage(jobs, stage_job, info["Stage ID"])
            if st is not None:
                if info.get("Submission Time") is not None:
                    st["start"] = info["Submission Time"] / 1000.0
                if info.get("Completion Time") is not None:
                    st["end"] = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = _stage(jobs, stage_job, ev["Stage ID"])
            if st is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["tasks"].append(
                {
                    "wall_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                }
            )
    return jobs


def _stage(jobs, stage_job, sid):
    jid = stage_job.get(sid)
    return None if jid is None else jobs[jid]["stages"].get(sid)


def task_skew(job_list: list[dict]) -> float:
    """max/median task wall of the longest-running stage among the
    given jobs (1.0 = perfectly even); 0.0 when no stage ran tasks."""
    ran = [
        st
        for j in job_list
        for st in j["stages"].values()
        if st["tasks"] and st["start"] is not None and st["end"] is not None
    ]
    if not ran:
        return 0.0
    longest = max(ran, key=lambda st: st["end"] - st["start"])
    walls = [t["wall_s"] for t in longest["tasks"]]
    mid = statistics.median(walls)
    return max(walls) / mid if mid > 0 else 1.0
