"""Per-layer tracing done from outside the program.

Three sources, all read by the benchmark's own code:

* ``Tracer`` wraps the public entry points of the ``plans``,
  ``operators``, ``datapipe`` and ``engine`` modules with timing spans
  (kept in memory) and, around each outermost datapipe call, a Spark
  job group of its own, so the jobs a datapipe function starts while
  the plan is built can be told from the executor's.
* ``JobCounter`` tags every Spark job with ``sc.setJobGroup`` per query
  and phase and counts them with ``statusTracker().getJobIdsForGroup``.
  It is on in every run; it costs one local property per phase.
* ``EventLog`` reads the stage and task metrics of a finished
  application from Spark's uncompressed event log (traced runs only).
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass, field

DATAPIPE_MODULES = ("dedup", "events", "graph", "multimodal", "pack",
                    "retrieval", "similarity", "text")
GROUP_PREFIX = "pb"


def group_id(query_id: str, phase: str) -> str:
    return f"{GROUP_PREFIX}|{query_id}|{phase}"


def parse_group(gid: str | None) -> tuple[str, str] | None:
    """``(query_id, phase)`` of a benchmark job group, else None."""
    if not gid or not gid.startswith(GROUP_PREFIX + "|"):
        return None
    _, qid, phase = gid.split("|", 2)
    return qid, phase


class JobCounter:
    """Runs a phase of one query under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def set(self, query_id: str, phase: str) -> None:
        self.sc.setJobGroup(group_id(query_id, phase), phase)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def count(self, query_id: str, phase: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(
            group_id(query_id, phase)))


@dataclass
class Span:
    name: str
    query_id: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    child_s: float = 0.0
    count: int = 0          # e.g. operators after rewrite

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """Monkey-patches the layer entry points for the life of the run."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    query_id: str = ""
    _local: threading.local = field(default_factory=threading.local)
    _undo: list = field(default_factory=list)

    # -- span bookkeeping ------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _enter(self, name: str) -> Span:
        st = self._stack()
        sp = Span(name, self.query_id, time.time(),
                  parent=st[-1] if st else None)
        st.append(sp)
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.dur
        self.spans.append(sp)

    def _patch(self, owner, attr: str, name: str, *, counts=None,
               job_group: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self
        layer = name.split(".")[0]

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            # only the outermost call into a layer is a layer boundary
            if any(s.name.split(".")[0] == layer for s in tracer._stack()):
                return orig(*a, **kw)
            sp = tracer._enter(name)
            sc = tracer.spark.sparkContext
            prev = None
            if job_group:
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(group_id(tracer.query_id, name), name)
            try:
                out = orig(*a, **kw)
                if counts is not None:
                    sp.count = counts(out)
                return out
            finally:
                if job_group:
                    sc.setLocalProperty("spark.jobGroup.id", prev)
                tracer._exit(sp)
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        import importlib

        from piglet_spark import engine
        from piglet_spark.operators import executor
        from piglet_spark.plans import parser, rewrite
        self._patch(engine.PigEngine, "run", "engine.run")
        self._patch(parser, "parse", "plans.parse")
        self._patch(rewrite, "rewrite", "plans.rewrite", counts=len)
        self._patch(executor.Executor, "execute", "operators.execute")
        for mod_name in DATAPIPE_MODULES:
            mod = importlib.import_module(f"piglet_spark.datapipe.{mod_name}")
            for attr, fn in vars(mod).copy().items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                self._patch(mod, attr, f"datapipe.{attr}", job_group=True)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageAgg:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    records_read: float = 0.0
    python_run_ms: float = 0.0
    python_boot_ms: float = 0.0


PYTHON_RUN = "time to run Python workers"
PYTHON_BOOT = "time to start Python workers"


class EventLog:
    """Jobs and submitted stages of one application, by job group."""

    def __init__(self, log_dir: str, app_id: str):
        paths = glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
        if not paths:
            paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        paths.sort(key=lambda p: int(p.rsplit("events_", 1)[-1]
                                     .split("_", 1)[0])
                   if "events_" in p else 0)
        self.jobs: dict[int, Job] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stages: dict[int, StageAgg] = {}
        for p in paths:
            with open(p) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1000.0, stages=e.get("Stage IDs", []))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            props = e.get("Properties") or {}
            self.stage_group[sid] = props.get("spark.jobGroup.id")
            self.stages.setdefault(sid, StageAgg())
        elif kind == "SparkListenerStageCompleted":
            st = self.stages.setdefault(e["Stage Info"]["Stage ID"],
                                        StageAgg())
            for acc in e["Stage Info"].get("Accumulables", []):
                name = acc.get("Name")
                if name == PYTHON_RUN:
                    st.python_run_ms += float(acc.get("Value", 0))
                elif name == PYTHON_BOOT:
                    st.python_boot_ms += float(acc.get("Value", 0))
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], StageAgg())
            st.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.records_read += (m.get("Input Metrics") or {}).get(
                "Records Read", 0)

    def jobs_in(self, pred) -> list[Job]:
        """Jobs whose group satisfies ``pred(query_id, phase)``."""
        out = []
        for job in self.jobs.values():
            g = parse_group(job.group)
            if g is not None and pred(*g):
                out.append(job)
        return out

    def stages_in(self, pred) -> list[StageAgg]:
        out = []
        for sid, gid in self.stage_group.items():
            g = parse_group(gid)
            if g is not None and pred(*g):
                out.append(self.stages[sid])
        return out

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.submit <= t1]

    def stages_of(self, jobs: list[Job]) -> list[StageAgg]:
        ids = {s for j in jobs for s in j.stages}
        return [self.stages[s] for s in ids if s in self.stage_group]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(stages: list[StageAgg]) -> dict[str, float]:
    run_s = sum(s.run_ms for s in stages) / 1e3
    cpu_s = sum(s.cpu_ns for s in stages) / 1e9
    return {
        "spark.exec_stages": len(stages),
        "spark.exec_tasks": sum(s.tasks for s in stages),
        "spark.run_s": run_s,
        "spark.cpu_s": cpu_s,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.cpu_util": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spark.spill_bytes": sum(s.spill for s in stages),
        "spark.failed_tasks": sum(s.failed_tasks for s in stages),
        "spark.python_s": sum(s.python_run_ms for s in stages) / 1e3,
        "spark.python_boot_s": sum(s.python_boot_ms for s in stages) / 1e3,
        "_records_read": sum(s.records_read for s in stages),
    }
