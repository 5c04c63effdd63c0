"""Spans recorded around calls into the program, and the Spark event
log parsed and attributed to them.

A span is opened by the benchmark around each call into a layer (a
pipeline stage, a registry call, the forcing action). In a traced run
each span also becomes the Spark job group of the jobs it launches, so
after the run every job in the event log can be tied back to the span
that caused it:

- a job whose group is ``pb-<id>`` belongs to span ``<id>``;
- Structured Streaming runs its micro-batches under its own group, the
  stream's run id; such a job belongs to the span that was open when
  the stream started (``QueryStartedEvent``);
- anything else is unattributed.

Each job is also given a module: the package file of its Python call
site (``callSite.short``), else the call site of another job in the
same root SQL execution, else ``streaming`` for a stream's jobs, else
the layer of its span.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from stats import median, self_time

GROUP_PREFIX = "pb-"
PACKAGE = "market_data_pipeline_databricks_spark"


class Tracer:
    """Records spans in memory; with a SparkContext it also sets each
    span's id as the job group while the span is open."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], self.children(sid))


# -- event log ---------------------------------------------------------


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def parse_event_log(path: Path) -> dict:
    """Jobs, their stages' task totals, SQL execution roots and the
    streaming listener events of one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "task_ms": 0.0, "shuffle_write": 0,
                 "shuffle_read": 0, "spill": 0})
    exec_root: dict[int, int] = {}
    streams: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                exe = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "id": jid,
                    "submit_ms": ev.get("Submission Time", 0),
                    "group": props.get("spark.jobGroup.id"),
                    "callsite": props.get("callSite.short"),
                    "exec": int(exe) if exe is not None else None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                met = ev.get("Task Metrics") or {}
                tot = stage_tot[ev["Stage ID"]]
                tot["tasks"] += 1
                tot["task_ms"] += max(
                    0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
                sw = met.get("Shuffle Write Metrics") or {}
                sr = met.get("Shuffle Read Metrics") or {}
                tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                tot["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                tot["spill"] += (met.get("Memory Bytes Spilled", 0)
                                 + met.get("Disk Bytes Spilled", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_root[ev["executionId"]] = ev.get(
                    "rootExecutionId", ev["executionId"])
            elif kind.endswith("QueryStartedEvent"):
                streams.setdefault(ev["runId"], {"progress": []})[
                    "start_ms"] = _epoch_ms(ev["timestamp"])
            elif kind.endswith("QueryProgressEvent"):
                p = ev["progress"]
                streams.setdefault(p["runId"], {"progress": []})[
                    "progress"].append({
                        "duration_ms": p.get("durationMs") or {},
                        "input_rows": sum(s.get("numInputRows", 0)
                                          for s in p.get("sources", [])),
                    })
    for jid, job in jobs.items():
        t = {"tasks": 0, "task_ms": 0.0, "shuffle_write": 0,
             "shuffle_read": 0, "spill": 0}
        for st in job["stages"]:
            if stage_job.get(st) == jid and st in stage_tot:
                for k, v in stage_tot[st].items():
                    t[k] += v
        job.update(t)
    return {"jobs": jobs, "exec_root": exec_root, "streams": streams}


def module_of_callsite(callsite: str | None) -> str | None:
    """``collect at /x/<PACKAGE>/sources/writers.py:266`` →
    ``sources.writers``; None for a call site outside the package."""
    if not callsite or f"/{PACKAGE}/" not in callsite:
        return None
    rel = callsite.split(f"/{PACKAGE}/", 1)[1].rsplit(":", 1)[0]
    return rel[:-3].replace("/", ".") if rel.endswith(".py") else None


def attribute(log: dict, spans: list[dict]) -> None:
    """Set ``span`` (an id or None) and ``module`` on every job."""
    def innermost_open(ms: float):
        best = None
        for s in spans:
            if s["start"] * 1000.0 <= ms <= s["end"] * 1000.0:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    stream_span = {
        run: innermost_open(st["start_ms"])
        for run, st in log["streams"].items() if "start_ms" in st
    }
    root_site: dict[int, str] = {}
    for job in log["jobs"].values():
        mod = module_of_callsite(job["callsite"])
        if mod and job["exec"] is not None:
            root_site.setdefault(log["exec_root"].get(job["exec"], job["exec"]), mod)
    for job in log["jobs"].values():
        g = job["group"] or ""
        span, is_stream = None, False
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            sid = int(g[len(GROUP_PREFIX):])
            span = spans[sid] if sid < len(spans) else None
        elif g in stream_span:
            span, is_stream = stream_span[g], True
        job["span"] = span["id"] if span else None
        job["stream"] = g if is_stream else None
        mod = module_of_callsite(job["callsite"])
        if mod is None and job["exec"] is not None:
            mod = root_site.get(log["exec_root"].get(job["exec"], job["exec"]))
        if mod is None and is_stream:
            mod = "streaming"
        if mod is None and span is not None:
            mod = span.get("layer")
        job["module"] = mod


def under(spans: list[dict], sid: int | None) -> list[int]:
    """Ids of ``sid``'s ancestors, nearest first, ``sid`` included."""
    out = []
    while sid is not None:
        out.append(sid)
        sid = spans[sid]["parent"]
    return out


def is_timed(spans: list[dict], sid: int | None) -> bool:
    """Whether span ``sid`` lies inside a timed op."""
    return any(spans[s].get("timed") for s in under(spans, sid))


def layer_metrics(log: dict, spans: list[dict], n_ops: int, cores: int) -> dict:
    """Per-layer counts over the timed ops of an attributed log."""
    ops = max(1, n_ops)
    timed = [j for j in log["jobs"].values() if is_timed(spans, j["span"])]

    def named(job, name):
        return any(spans[s]["name"] == name for s in under(spans, job["span"]))

    def tot(jobs, key):
        return sum(j[key] for j in jobs)

    m: dict[str, float] = {}
    for stage in ("bronze", "silver", "gold", "quality"):
        js = [j for j in timed if named(j, f"pipeline.run_{stage}")]
        pre = f"pipeline.run_{stage}"
        m[f"{pre}.jobs"] = len(js) / ops
        m[f"{pre}.tasks"] = tot(js, "tasks") / ops
        m[f"{pre}.task_s"] = tot(js, "task_ms") / 1000.0 / ops
        m[f"{pre}.shuffle_bytes"] = tot(js, "shuffle_write") / ops
    for mod in ("sources.writers", "sources.snapshots"):
        js = [j for j in timed if j["module"] == mod]
        m[f"{mod}.jobs"] = len(js) / ops
        m[f"{mod}.task_s"] = tot(js, "task_ms") / 1000.0 / ops
    plan_jobs = [j for j in timed
                 if named(j, "plans.call") or named(j, "plans.force")]
    m["plans.jobs_per_op"] = len(plan_jobs) / ops
    m["plans.tasks_per_op"] = tot(plan_jobs, "tasks") / ops
    m["plans.shuffle_bytes_per_op"] = tot(plan_jobs, "shuffle_write") / ops
    m["plans.spill_bytes_per_op"] = tot(plan_jobs, "spill") / ops
    force_spans = [s for s in spans
                   if s["name"] == "plans.force" and is_timed(spans, s["id"])]
    force_wall = sum(s["dur"] for s in force_spans)
    force_task_s = tot([j for j in timed if named(j, "plans.force")], "task_ms") / 1000.0
    m["plans.task_busy_share"] = force_task_s / (force_wall * cores) if force_wall else 0.0
    stream_jobs = [j for j in timed if j["stream"]]
    runs = {j["stream"] for j in stream_jobs}
    progress = [p for r in runs for p in log["streams"][r]["progress"]]
    m["streaming.batches"] = len(progress) / ops
    m["streaming.input_rows"] = sum(p["input_rows"] for p in progress) / ops
    m["streaming.jobs"] = len(stream_jobs) / ops
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("walCommit", "wal_commit_ms")):
        m[f"streaming.{name}"] = median(
            [p["duration_ms"][key] for p in progress if key in p["duration_ms"]])
    m["eager.proof.jobs"] = len([j for j in timed if j["module"] == "plans._eager"]) / ops
    m["unattributed_jobs"] = len([j for j in log["jobs"].values() if j["span"] is None])
    return m
