"""Per-layer metrics of a traced run, named ``<layer>.<metric>`` after the
engine's modules. Every traced run reports every metric; a layer the
workload does not exercise reports 0. For workloads that repeat their call,
each value is the median over the repetitions (one call's worth).

On registry-mix the ``extract.*`` metrics are those of its CLI call (the
PDF branch). The numbers only a directory extract has (fetch passes and the
walls of its other three sinks) go to the record line of an extract-dir
run, under ``extract_dir``.
"""

from __future__ import annotations

import os
import re
import statistics

from tracing import GROUP_METRICS, GROUPS, JOB_KINDS, EventLog, find_event_log
from workloads import CLI_OP

UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}

PER_LAYER = (
    ["session.get_spark_s", "session.first_action_s"]
    + ["registry.query_p50_s", "registry.build_s", "registry.action_s",
       "registry.build_dominant_n", "registry.stream_s"]
    + [f"registry.jobs_{k}" for k in JOB_KINDS]
    + ["streaming.batches", "streaming.input_rows", "streaming.state_rows",
       "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s"]
    + ["extract.python_task_s", "extract.pages_write_s"]
    + ["trainset.build_s", "trainset.write_s", "trainset.jobs_checkpoint",
       "trainset.input_read_ratio"]
    + ["warc.build_s", "warc.write_s", "warc.jobs_checkpoint", "warc.parse_passes",
       "warc.parse_task_s"]
    + [f"{g}.{m}" for g in GROUPS for m in GROUP_METRICS]
    + ["trace.setup_s", "trace.throughput_per_s", "trace.peak_pss_mb"]
)


def unit_of(name: str) -> str:
    if name == "trace.throughput_per_s":
        return "1/s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# The fetch kernel is the mapInPandas over the politeness-partitioned
# (url, domain, engine) frame; the WARC parse is the mapInPandas over
# (file_id, content). Both are recognised in the physical plan text.
FETCH_KERNEL = re.compile(r"Arguments: run\(url#\d+, domain#\d+")
PARSE_KERNEL = re.compile(r"Arguments: gen\(file_id#\d+L?, content#\d+")


def passes(execs, kernel) -> int:
    """SQL executions whose plan runs ``kernel``."""
    return sum(any(kernel.search(p) for p in x.plans) for x in execs)


def exec_seconds(execs, pred) -> float:
    return sum(x.t_end_ms - x.t_ms for x in execs if pred(x)) / 1e3


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _extract_metrics(ev, jobs, execs) -> dict[str, float]:
    return {
        **{f"extract.{k}": v for k, v in ev.group_metrics(jobs).items()},
        "extract.python_task_s": ev.task_totals(jobs, ev.is_python_stage)["executor_run_s"],
        "extract.pages_write_s": exec_seconds(execs, lambda x: x.api == "DataFrameWriter.parquet"),
    }


def per_layer(workload, ctx, ops, setup, events_dir, e2e) -> tuple[dict, dict]:
    """(metrics, extra fields for the record line: the per-repetition job
    counts of each pipeline group, and extract-dir's own numbers)."""
    ev = EventLog(find_event_log(events_dir), ctx.windows)
    m: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    m["session.get_spark_s"] = setup[0]["get_spark_s"]
    m["session.first_action_s"] = setup[0]["first_action_s"]
    m["trace.setup_s"] = e2e["setup_s"][0]
    m["trace.throughput_per_s"] = e2e["throughput_per_s"][0]
    m["trace.peak_pss_mb"] = e2e["peak_pss_mb"][0]

    if workload == "registry-mix":
        m.update(_extract_metrics(ev, ev.group_jobs("extract"), ev.group_execs("extract")))
        ops = [op for op in ops if op.name != CLI_OP]
        jobs = ev.group_jobs("registry")
        m.update({f"registry.{k}": v for k, v in ev.group_metrics(jobs).items()})
        kinds = [ev.job_kind(j) for j in jobs]
        for k in JOB_KINDS:
            m[f"registry.jobs_{k}"] = kinds.count(k)
        m["registry.query_p50_s"] = _median(op.wall_s for op in ops)
        m["registry.build_s"] = sum(op.parts.get("build_s", 0.0) for op in ops)
        m["registry.action_s"] = sum(op.parts.get("action_s", 0.0) for op in ops)
        m["registry.build_dominant_n"] = sum(
            op.parts.get("build_s", 0.0) > op.parts.get("action_s", 0.0) for op in ops)
        m["registry.stream_s"] = sum(op.wall_s for op in ops if op.name.startswith("stream-"))
        m.update({f"streaming.{k}": v for k, v in ev.streaming.items()})
        return {k: (float(v), unit_of(k)) for k, v in m.items()}, {}

    reps = sorted({w.op for w in ctx.windows}, key=int)
    groups = ("extract",) if workload == "extract-dir" else ("trainset", "warc")
    per_rep: dict[str, list[float]] = {}
    extract_dir: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_rep.setdefault(name, []).append(value)

    for rep in reps:
        if workload == "extract-dir":
            execs = ev.group_execs("extract", rep)
            for k, v in _extract_metrics(ev, ev.group_jobs("extract", rep), execs).items():
                add(k, v)
            for k, v in (
                ("fetch_passes", passes(execs, FETCH_KERNEL)),
                ("export_s", exec_seconds(execs, lambda x: "sinks.py" in x.site)),
                ("index_report_s", exec_seconds(execs, lambda x: "__main__.py" in x.site)),
                ("pipe_write_s", exec_seconds(execs, lambda x: x.api == "DataFrameWriter.json")),
            ):
                extract_dir.setdefault(k, []).append(v)
        else:
            for g in groups:
                for k, v in ev.group_metrics(ev.group_jobs(g, rep)).items():
                    add(f"{g}.{k}", v)
            docs_mb = os.path.getsize(os.path.join(ctx.work, "corpus", "docs.parquet")) / (1 << 20)
            tr_jobs = ev.group_jobs("trainset", rep)
            wc_jobs = ev.group_jobs("warc", rep)
            add("trainset.jobs_checkpoint", sum(ev.job_kind(j) == "checkpoint" for j in tr_jobs))
            add("trainset.input_read_ratio", ev.task_totals(tr_jobs)["input_mb"] / docs_mb)
            add("warc.jobs_checkpoint", sum(ev.job_kind(j) == "checkpoint" for j in wc_jobs))
            add("warc.parse_passes", passes(ev.group_execs("warc", rep), PARSE_KERNEL))
            add("warc.parse_task_s", ev.task_totals(wc_jobs, ev.is_python_stage)["executor_run_s"])
    if workload == "corpus-build":
        for key in ("trainset_build_s", "trainset_write_s", "warc_build_s", "warc_write_s"):
            g, part = key.split("_", 1)
            per_rep[f"{g}.{part}"] = [op.parts[key] for op in ops if op.ok]
    for name, values in per_rep.items():
        m[name] = _median(values)
    extra = {"per_rep_jobs": {f"{g}.jobs": per_rep[f"{g}.jobs"] for g in groups}}
    if extract_dir:
        extra["extract_dir"] = extract_dir
    return {k: (float(v), unit_of(k)) for k, v in m.items()}, extra
