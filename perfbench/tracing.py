"""Per-layer numbers for a traced run.

Nothing here runs inside the engine. The traced run launches Spark with the
event log switched on from the launch environment (``PYSPARK_SUBMIT_ARGS``),
records the wall-clock window of every public call it makes, and after the
run this module reads the event log and attributes each job and SQL
execution to the window it started in. One client makes one call at a time,
so the windows never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shlex
from dataclasses import dataclass, field

MB = 1024 * 1024

# group -> the w.* metrics reported for it
GROUP_METRICS = (
    "jobs", "stages", "stages_skipped", "tasks", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb", "spill_mb", "output_mb",
)
GROUPS = ("registry", "extract", "trainset", "warc")
JOB_KINDS = ("schema", "broadcast", "checkpoint", "collect", "final")


def submit_args(event_dir: str, trace: bool) -> str:
    """The ``PYSPARK_SUBMIT_ARGS`` a run launches the JVM with."""
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{event_dir}",
        ]
    return " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


@dataclass
class Window:
    """One timed public call: ``group`` is the metric group, ``phase`` the
    part of the call (``build``, ``action``, ``write``, ``call``), ``op`` the
    operation (query name or repetition number)."""

    group: str
    phase: str
    op: str
    t0_ms: float
    t1_ms: float


@dataclass
class Execution:
    """A root SQL execution: the API call that started it (``api``, e.g.
    ``DataFrameWriter.parquet``), its Python call site when one of its jobs
    carries it, and its physical plans (nested executions included)."""

    exec_id: int
    t_ms: int
    api: str
    t_end_ms: int = 0
    site: str = ""
    plans: list[str] = field(default_factory=list)
    window: Window | None = None


@dataclass
class Job:
    job_id: int
    t_ms: int
    stage_ids: list[int]
    site: str  # call site of the job's result stage
    tags: str
    exec_id: int | None
    t_end_ms: int = 0
    window: Window | None = None
    stages_run: set[int] = field(default_factory=set)


_API = re.compile(r"\.(\w+\.\w+)\(")


class EventLog:
    """The parsed event log of one application."""

    def __init__(self, path: str, windows: list[Window]):
        self.windows = sorted(windows, key=lambda w: w.t0_ms)
        self.jobs: dict[int, Job] = {}
        self.execs: dict[int, Execution] = {}
        self.exec_root: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_scopes: dict[int, str] = {}
        self.tasks: list[tuple[int, dict]] = []  # (stage id, task metrics)
        # StreamingQueryProgress sums over every micro-batch of every
        # streaming query, whichever session ran it
        self.streaming = {"batches": 0, "input_rows": 0, "state_rows": 0,
                          "batch_s": 0.0, "add_batch_s": 0.0, "wal_commit_s": 0.0}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for job in self.jobs.values():
            job.window = self.window_at(job.t_ms)
            ex = self.execs.get(job.exec_id)
            if ex is not None and not ex.site and ".py:" in job.site:
                ex.site = job.site
        for ex in self.execs.values():
            ex.window = self.window_at(ex.t_ms)

    def window_at(self, t_ms: float) -> Window | None:
        for w in self.windows:
            if w.t0_ms <= t_ms <= w.t1_ms:
                return w
        return None

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            infos = e.get("Stage Infos", [])
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            exec_id = self.exec_root.get(int(exec_id), int(exec_id)) if exec_id else None
            site = props.get("callSite.short") or (infos[-1]["Stage Name"] if infos else "")
            job = Job(e["Job ID"], e["Submission Time"], list(e["Stage IDs"]), site,
                      props.get("spark.job.tags", ""), exec_id)
            self.jobs[job.job_id] = job
            for s in infos:
                self.stage_job[s["Stage ID"]] = job.job_id
                self.stage_scopes[s["Stage ID"]] = " ".join(
                    r.get("Scope", "") for r in s.get("RDD Info", []))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].t_end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            job = self.jobs.get(self.stage_job.get(e["Stage Info"]["Stage ID"], -1))
            if job is not None:
                job.stages_run.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))
        elif kind.endswith("SQLExecutionStart"):
            eid = int(e["executionId"])
            root = int(e.get("rootExecutionId", eid))
            root = self.exec_root.get(root, root)
            self.exec_root[eid] = root
            if root not in self.execs:
                m = _API.search(e.get("details", "").split("\n", 1)[0])
                self.execs[root] = Execution(root, int(e["time"]), m.group(1) if m else "")
            self.execs[root].plans.append(e.get("physicalPlanDescription", ""))
        elif kind.endswith("QueryProgressEvent"):
            p = e["progress"]
            d = p.get("durationMs") or {}
            s = self.streaming
            s["batches"] += 1
            s["input_rows"] += sum(int(src.get("numInputRows") or 0) for src in p.get("sources", []))
            s["state_rows"] += sum(int(o.get("numRowsTotal") or 0) for o in p.get("stateOperators", []))
            s["batch_s"] += d.get("triggerExecution", 0) / 1e3
            s["add_batch_s"] += d.get("addBatch", 0) / 1e3
            s["wal_commit_s"] += d.get("walCommit", 0) / 1e3
        elif kind.endswith("SQLExecutionEnd"):
            eid = int(e["executionId"])
            if eid in self.execs:
                self.execs[eid].t_end_ms = int(e["time"])

    # --- selection ----------------------------------------------------------

    def group_jobs(self, group: str, op: str | None = None) -> list[Job]:
        return [j for j in self.jobs.values()
                if j.window is not None and j.window.group == group
                and (op is None or j.window.op == op)]

    def group_execs(self, group: str, op: str | None = None) -> list[Execution]:
        return [x for x in self.execs.values()
                if x.window is not None and x.window.group == group
                and (op is None or x.window.op == op)]

    def job_kind(self, job: Job) -> str:
        """One of JOB_KINDS, or ``other``. Jobs outside the build phase of a
        call are the call's final action; inside it, the kind comes from the
        job's tags, its SQL execution's API call, or its call site."""
        if job.window is not None and job.window.phase != "build":
            return "final"
        if "broadcast exchange" in job.tags:
            return "broadcast"
        ex = self.execs.get(job.exec_id)
        if ex is None:
            if job.site.startswith(("parquet at", "json at", "csv at", "load at", "orc at")):
                return "schema"
            return "other"
        if "heckpoint" in ex.api:
            return "checkpoint"
        if ex.api.startswith("Dataset."):
            return "collect"
        return "other"

    # --- aggregation --------------------------------------------------------

    def task_totals(self, jobs: list[Job], stage_filter=None) -> dict[str, float]:
        stages = {s for j in jobs for s in j.stage_ids}
        if stage_filter is not None:
            stages = {s for s in stages if stage_filter(s)}
        out = {"tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0, "input_mb": 0.0}
        for sid, m in self.tasks:
            if sid not in stages:
                continue
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB)
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            out["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            out["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
        return out

    def group_metrics(self, jobs: list[Job]) -> dict[str, float]:
        listed = {s for j in jobs for s in j.stage_ids}
        ran = {s for j in jobs for s in j.stages_run}
        t = self.task_totals(jobs)
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "stages_skipped": len(listed - ran),
            **{k: v for k, v in t.items() if k != "input_mb"},
        }

    def is_python_stage(self, stage_id: int) -> bool:
        scopes = self.stage_scopes.get(stage_id, "")
        return "InPandas" in scopes or "Python" in scopes or "InArrow" in scopes


def find_event_log(event_dir: str) -> str:
    """The event log of the last application the run started (the set-up
    samples each start one; the workload runs in the last)."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    if not logs:
        raise RuntimeError(f"no finished event log under {event_dir}")
    return max(logs, key=os.path.getmtime)
