"""Span recorder, layer wrappers and the Spark event-log reader.

The traced run records a span around every call into a layer of the
engine: name, start, end and parent. Spans are kept in memory and
turned into per-layer numbers after the run. Each span that can launch
Spark jobs sets the job group to its own id, so every job in the event
log can be attributed to the span that launched it:

1. by job group (`span-<id>`);
2. stream batch jobs by their query id, which maps to the span that
   started the query (stream jobs carry the stream's own job group);
3. otherwise by time: the innermost span open when the job was
   submitted.

A layer's self time is its span's duration minus the part of that
interval its child spans cover. Time inside the operation that no
layer span covers is reported as the unattributed remainder.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import re
import sys
import time
from collections import defaultdict

# span name -> layer. Names missing here (the operation root and the
# benchmark's own grouping spans) count as unattributed.
LAYER_OF = {
    "sources": "sources",
    "chunker.elect": "chunker",
    "chunker.plan": "chunker",
    "state": "state",
    "full.table": "full",
    "compare": "checksum",
    "checksum.bounds": "checksum",
    "diff": "diff",
    "incr.catchup": "incr",
    "incr.current_state": "incr",
    "ext.train": "ext",
    "ext.encode": "ext",
}

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory span stack. With a SparkContext, spans that launch jobs
    set the job group `span-<id>` for as long as they are innermost."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def open(self, name: str, jobs: bool = True, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "parent": self.stack[-1] if self.stack else None,
                "start": time.time(),
                "end": None,
                "jobs": jobs,
                **attrs,
            }
        )
        self.stack.append(sid)
        if jobs:
            self._set_group()
        return sid

    def close(self, sid: int) -> None:
        """Close `sid` and any span still open above it."""
        if sid not in self.stack:
            return
        now = time.time()
        while self.stack:
            top = self.stack.pop()
            self.spans[top]["end"] = now
            if top == sid:
                break
        self._set_group()

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        sid = self.open(name, jobs, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self.close(sid)

    def _set_group(self) -> None:
        if self.sc is None:
            return
        for sid in reversed(self.stack):
            if self.spans[sid]["jobs"]:
                gid = f"span-{sid}"
                self.sc.setJobGroup(gid, gid)
                return
        self.sc._jsc.clearJobGroup()

    # -- wrappers ----------------------------------------------------
    def patch(self, module: str, attr: str, wrapper_factory) -> None:
        """Replace function `module.attr` by wrapper_factory(orig) in its
        own module and in every engine module that imported it by name."""
        orig = getattr(importlib.import_module(module), attr)
        wrapped = wrapper_factory(orig)
        for name, mod in list(sys.modules.items()):
            if name.startswith("transferdb_spark") and getattr(mod, attr, None) is orig:
                self._undo.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def patch_method(self, cls, attr: str, wrapper_factory) -> None:
        orig = getattr(cls, attr)
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, wrapper_factory(orig))

    def spanned(self, name: str, jobs: bool = True):
        def factory(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(name, jobs):
                    return orig(*a, **kw)

            return wrapper

        return factory

    def unpatch(self) -> None:
        for target, attr, orig in reversed(self._undo):
            setattr(target, attr, orig)
        self._undo.clear()


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the span), in seconds."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# ------------------------------------------------------------ event log


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application under log_dir, in write order.
    Handles the rolling layout (eventlog_v2_<app>/events_<n>_<app>) and
    single-file logs."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        out += sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    out += sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )
    return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, stages and summed task metrics from a JSON event log."""

    TASK_KEYS = (
        "tasks",
        "executor_run_ms",
        "jvm_cpu_ms",
        "gc_ms",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "input_bytes",
        "input_records",
        "output_bytes",
    )

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(self.TASK_KEYS, 0.0))
        self.stage_accums: dict[int, dict[str, float]] = {}
        for line in lines:
            line = line.strip()
            if not line:
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of a log still being written
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "desc": props.get("spark.job.description"),
                    "callsite": props.get("callSite.short", ""),
                    "query_id": props.get("sql.streaming.queryId"),
                }
                for st in ev.get("Stage IDs", []):
                    # a stage listed again by a later job is a skipped
                    # reuse; its tasks ran under the first job
                    self.stage_job.setdefault(st, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                agg = self.stage_tasks[ev["Stage ID"]]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                agg["tasks"] += 1
                agg["executor_run_ms"] += _num(m.get("Executor Run Time"))
                agg["jvm_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
                agg["gc_ms"] += _num(m.get("JVM GC Time"))
                agg["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
                agg["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                agg["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
                agg["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
                agg["input_records"] += _num((m.get("Input Metrics") or {}).get("Records Read"))
                agg["output_bytes"] += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                self.stage_accums[info.get("Stage ID")] = {
                    a.get("Name"): _num(a.get("Value")) for a in info.get("Accumulables", [])
                }

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        def lines():
            for path in event_log_files(log_dir):
                with open(path, encoding="utf-8") as fh:
                    yield from fh

        return cls(lines())

    def stages_of(self, job_ids) -> list[int]:
        js = set(job_ids)
        return [st for st, j in self.stage_job.items() if j in js]

    def totals(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(self.TASK_KEYS, 0.0)
        stages = self.stages_of(job_ids)
        for st in stages:
            for k, v in self.stage_tasks.get(st, {}).items():
                out[k] += v
        out["jobs"] = float(len(set(job_ids)))
        out["stages"] = float(len(stages))
        return out

    def accum(self, job_ids, name: str) -> float:
        return sum(self.stage_accums.get(st, {}).get(name, 0.0) for st in self.stages_of(job_ids))

    def python_stages(self, job_ids) -> list[dict]:
        """Per stage running Python workers: the worker accumulators next
        to the executor run time of the same stage's tasks."""
        out = []
        for st in self.stages_of(job_ids):
            acc = self.stage_accums.get(st, {})
            if PY_RUN not in acc:
                continue
            out.append(
                {
                    "stage": st,
                    "tasks": self.stage_tasks.get(st, {}).get("tasks", 0.0),
                    "executor_run_ms": self.stage_tasks.get(st, {}).get("executor_run_ms", 0.0),
                    "start_ms": acc.get(PY_START, 0.0),
                    "init_ms": acc.get(PY_INIT, 0.0),
                    "run_ms": acc.get(PY_RUN, 0.0),
                }
            )
        return out


def attribute_jobs(log: EventLog, spans: list[dict]) -> dict[int, int | None]:
    """job id -> span id (None when no span explains the job)."""
    by_query = {s["query_id"]: s["id"] for s in spans if s.get("query_id")}
    out: dict[int, int | None] = {}
    for jid, job in log.jobs.items():
        sid = None
        for tag in (job["group"], job["desc"]):
            if tag and tag.startswith("span-") and tag[5:].isdigit() and int(tag[5:]) < len(spans):
                sid = int(tag[5:])
                break
        if sid is None and job["query_id"] in by_query:
            sid = by_query[job["query_id"]]
        if sid is None and job["query_id"] is None:
            best = None
            for s in spans:
                if s["end"] is not None and s["start"] <= job["submit"] <= s["end"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        out[jid] = sid
    return out


def callsite_file(callsite: str) -> str:
    """'first at /x/transferdb_spark/ext/bpe.py:476' -> 'ext/bpe'."""
    m = re.search(r"transferdb_spark/([\w/]+)\.py:\d+", callsite or "")
    return m.group(1) if m else ""
