"""Per-layer metrics of one traced operation.

Layers are named after the engine's modules. Each metric is computed
from the spans the benchmark recorded around layer calls, the jobs the
Spark event log attributes to those spans, counters the wrappers kept,
and the operation's own outputs. A layer the workload does not run
reports 0, and `absent` says why.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow.parquet as pq

from spans import LAYER_OF, PY_INIT, PY_RECV, PY_RUN, PY_SENT, PY_START, attribute_jobs, callsite_file, self_times

# (name, unit) of every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s"),
    ("session.jvm_hwm_mb", "MB"),
    ("session.py_maxrss_mb", "MB"),
    ("sources.load_s", "s"),
    ("sources.jobs", "count"),
    ("chunker.elect_s", "s"),
    ("chunker.plan_s", "s"),
    ("chunker.jobs", "count"),
    ("state.mark_calls", "count"),
    ("state.s", "s"),
    ("state.bytes_written", "bytes"),
    ("full.write_s", "s"),
    ("full.jobs", "count"),
    ("full.tasks", "count"),
    ("full.executor_run_ms", "ms"),
    ("full.jvm_cpu_ms", "ms"),
    ("full.gc_ms", "ms"),
    ("full.shuffle_write_bytes", "bytes"),
    ("full.output_bytes", "bytes"),
    ("checksum.s", "s"),
    ("checksum.jobs", "count"),
    ("checksum.input_bytes", "bytes"),
    ("diff.s", "s"),
    ("diff.mismatched_chunks", "count"),
    ("diff.rescan_chunks", "count"),
    ("diff.rows_scanned", "count"),
    ("diff.repair_rows", "count"),
    ("diff.shuffle_bytes", "bytes"),
    ("diff.fixsql_bytes", "bytes"),
    ("diff.useful_ratio", "ratio"),
    ("incr.batches", "count"),
    ("incr.rows_in", "count"),
    ("incr.rows_gated", "count"),
    ("incr.addBatch_ms", "ms"),
    ("incr.latestOffset_ms", "ms"),
    ("incr.walCommit_ms", "ms"),
    ("incr.commitOffsets_ms", "ms"),
    ("incr.queryPlanning_ms", "ms"),
    ("incr.jobs_per_batch", "count"),
    ("incr.current_state_s", "s"),
    ("ext.jobs", "count"),
    ("ext.driver_roundtrips", "count"),
    ("ext.python_start_ms", "ms"),
    ("ext.python_init_ms", "ms"),
    ("ext.python_run_ms", "ms"),
    ("ext.python_bytes_in", "bytes"),
    ("ext.python_bytes_out", "bytes"),
    ("ext.bpe.executor_run_ms", "ms"),
    ("ext.packing.executor_run_ms", "ms"),
    ("ext.dedup.executor_run_ms", "ms"),
    ("ext.text.executor_run_ms", "ms"),
    ("ext.ranking.executor_run_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.jvm_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("trace.unattributed_ms", "ms"),
    ("trace.op_s", "s"),
]
UNITS = dict(METRICS)
# Times measured on every workload. A layer's own times read 0 on the
# workload that does not run the layer; they are printed as
# `layer-metric` lines but kept out of the result, whose times must vary
# from run to run.
TIMES_ON_EVERY_WORKLOAD = {
    "session.start_s",
    "sources.load_s",
    "spark.executor_run_ms",
    "spark.jvm_cpu_ms",
    "spark.gc_ms",
    "trace.unattributed_ms",
    "trace.op_s",
}
# Counts the inputs fix: a correct operation always reports the same
# value, so they are printed as `layer-metric` lines but have no better
# direction and are kept out of the result.
INPUT_FIXED = {"diff.mismatched_chunks", "diff.repair_rows", "incr.batches", "incr.rows_in", "incr.rows_gated"}
RESULT = [
    (n, u)
    for n, u in METRICS
    if n not in INPUT_FIXED and (u not in ("s", "ms") or n in TIMES_ON_EVERY_WORKLOAD)
]

# the layers a workload never runs, and why their metrics read 0
_NO_COMPARE = {"chunker": "no chunk plan", "state": "no chunk store", "full": "no bulk migrate",
               "checksum": "no compare", "diff": "no compare"}
ABSENT = {
    "migrate": {"incr": "no stream in this workload", "ext": "no corpus operator in this workload"},
    "cdc_tokenize": _NO_COMPARE,
}
# ext call-site files whose jobs are reported one by one
EXT_FILES = ("bpe", "packing", "dedup", "text", "ranking")


def install(tracer) -> None:
    """Wrap the engine's layer entry points in spans (traced run only)."""
    from transferdb_spark.state.store import StateStore

    tracer.patch("transferdb_spark.sources.registry", "load_table", tracer.spanned("sources"))
    tracer.patch("transferdb_spark.sources.registry", "load_tables", tracer.spanned("sources"))
    tracer.patch("transferdb_spark.plans.chunker", "elect_split_key", tracer.spanned("chunker.elect"))
    tracer.patch("transferdb_spark.plans.chunker", "plan_chunks_quantile", tracer.spanned("chunker.plan"))
    tracer.patch("transferdb_spark.modes.full", "full_migrate_table", tracer.spanned("full.table"))
    tracer.patch("transferdb_spark.operators.checksum", "shared_chunk_bounds", tracer.spanned("checksum.bounds"))
    # compare mode calls plan_chunks only when phase 2 starts: the diff
    # span opens there and stays open until the compare call returns
    import transferdb_spark.modes.compare_mode as cm

    plan = tracer.spanned("chunker.plan")
    tracer.patch("transferdb_spark.plans.chunker", "plan_chunks", plan)

    def phase2(orig):
        def wrapper(*a, **kw):
            tracer.open("diff")
            return orig(*a, **kw)

        return wrapper

    tracer.patch_method(cm, "plan_chunks", phase2)

    tracer.patch_method(StateStore, "mark", tracer.spanned("state", jobs=False))
    tracer.patch_method(StateStore, "init_table", tracer.spanned("state", jobs=False))

    def count_mark(orig):
        def wrapper(self, *a, **kw):
            tracer.counters["state.mark_calls"] += 1
            return orig(self, *a, **kw)

        return wrapper

    def count_flush(orig):
        def wrapper(self, *a, **kw):
            out = orig(self, *a, **kw)
            tracer.counters["state.bytes_written"] += os.path.getsize(self.path)
            return out

        return wrapper

    tracer.patch_method(StateStore, "mark", count_mark)
    tracer.patch_method(StateStore, "_flush", count_flush)


def compute(workload: str, tracer, log, res: dict, inp: dict, session: dict) -> tuple[dict, list[str]]:
    """(metric -> value, detail lines) for one traced operation."""
    spans = tracer.spans
    selfs = self_times(spans)
    job_span = attribute_jobs(log, spans)
    root = spans[0]
    layer_jobs: dict[str, list[int]] = defaultdict(list)
    span_jobs: dict[int, list[int]] = defaultdict(list)
    for jid, sid in job_span.items():
        if sid is not None:
            span_jobs[sid].append(jid)
            layer_jobs[LAYER_OF.get(spans[sid]["name"], "")].append(jid)
    op_jobs = [
        j for j, job in log.jobs.items() if job_span[j] is not None or root["start"] <= job["submit"] <= root["end"]
    ]

    def self_s(*names):
        return sum(selfs[s["id"]] for s in spans if s["name"] in names)

    m: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    m.update(session)
    m["sources.load_s"] = self_s("sources")
    m["sources.jobs"] = len(layer_jobs["sources"])
    m["chunker.elect_s"] = self_s("chunker.elect")
    m["chunker.plan_s"] = self_s("chunker.plan")
    m["chunker.jobs"] = len(layer_jobs["chunker"])
    m["state.mark_calls"] = tracer.counters["state.mark_calls"]
    m["state.s"] = self_s("state")
    m["state.bytes_written"] = tracer.counters["state.bytes_written"]

    full = log.totals(layer_jobs["full"])
    m["full.write_s"] = self_s("full.table")
    for k in ("jobs", "tasks", "executor_run_ms", "jvm_cpu_ms", "gc_ms", "shuffle_write_bytes", "output_bytes"):
        m[f"full.{k}"] = full[k]

    m["checksum.s"] = self_s("compare", "checksum.bounds")
    m["checksum.jobs"] = len(layer_jobs["checksum"])
    m["checksum.input_bytes"] = log.totals(layer_jobs["checksum"])["input_bytes"]

    diff = log.totals(layer_jobs["diff"])
    m["diff.s"] = self_s("diff")
    mig = res["parts"].get("migrate", {})
    reports = list(mig.get("verify", {}).values()) + list(mig.get("repair", {}).values())
    m["diff.mismatched_chunks"] = sum(len(r.mismatched_chunks) for r in reports)
    m["diff.rescan_chunks"] = sum(len(r.rescan_chunks) for r in reports)
    m["diff.rows_scanned"] = diff["input_records"]
    m["diff.repair_rows"] = sum(r.insert_rows + r.delete_rows for r in reports)
    m["diff.shuffle_bytes"] = diff["shuffle_write_bytes"]
    m["diff.fixsql_bytes"] = sum(os.path.getsize(r.fix_sql_path) for r in reports if r.fix_sql_path)
    # useful work of phase 2: repair rows found per row it scanned
    m["diff.useful_ratio"] = m["diff.repair_rows"] / diff["input_records"] if diff["input_records"] else 0.0

    cdc = res["parts"].get("cdc", {})
    progress = cdc.get("progress", [])
    if progress:
        rows_in = inp["cdc"]["rows_in"]
        m["incr.batches"] = len(progress)
        m["incr.rows_in"] = rows_in
        # rows the apply did not land: the SCN gate plus the in-batch
        # latest-per-key collapse
        m["incr.rows_gated"] = rows_in - pq.read_table(cdc["target"]).num_rows
        for k in ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning"):
            m[f"incr.{k}_ms"] = sum(float(p["durationMs"].get(k, 0)) for p in progress)
        catchup = [j for sid, js in span_jobs.items() if spans[sid]["name"] == "incr.catchup" for j in js]
        m["incr.jobs_per_batch"] = len(catchup) / len(progress)
        m["incr.current_state_s"] = cdc["current_state_s"]

    ext = layer_jobs["ext"]
    if ext:
        m["ext.jobs"] = len(ext)
        by_file: dict[str, list[int]] = defaultdict(list)
        for j in ext:
            f = callsite_file(log.jobs[j]["callsite"])
            if f.startswith("ext/"):
                by_file[f[4:]].append(j)
        m["ext.driver_roundtrips"] = sum(len(v) for v in by_file.values())
        m["ext.python_start_ms"] = log.accum(ext, PY_START)
        m["ext.python_init_ms"] = log.accum(ext, PY_INIT)
        m["ext.python_run_ms"] = log.accum(ext, PY_RUN)
        m["ext.python_bytes_in"] = log.accum(ext, PY_SENT)
        m["ext.python_bytes_out"] = log.accum(ext, PY_RECV)
        for f in EXT_FILES:
            m[f"ext.{f}.executor_run_ms"] = log.totals(by_file.get(f, []))["executor_run_ms"]

    allj = log.totals(op_jobs)
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "jvm_cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = allj[k]
    m["trace.unattributed_ms"] = 1000 * sum(selfs[s["id"]] for s in spans if s["name"] not in LAYER_OF)

    lines = _details(workload, spans, selfs, span_jobs, log, ext, m)
    return m, lines


def _details(workload, spans, selfs, span_jobs, log, ext, m) -> list[str]:
    root_s = spans[0]["end"] - spans[0]["start"]
    by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        by_layer[LAYER_OF.get(s["name"], "(unattributed)")] += selfs[s["id"]]
    lines = [f"layer-metric {name} unit={unit} value={m[name]}" for name, unit in METRICS]
    lines.append(f"layer-share op={root_s:.3f}s")
    for layer, sec in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        lines.append(f"layer-share {layer}={sec:.3f}s share={sec / root_s:.3f}")
    names: dict[str, list[int]] = defaultdict(list)
    for s in spans:
        names[s["name"]].append(s["id"])
    for name, ids in names.items():
        total = sum(spans[i]["end"] - spans[i]["start"] for i in ids)
        own = sum(selfs[i] for i in ids)
        jobs = sum(len(span_jobs.get(i, [])) for i in ids)
        lines.append(f"span {name} calls={len(ids)} total_s={total:.3f} self_s={own:.3f} jobs={jobs}")
    for layer, why in ABSENT.get(workload, {}).items():
        lines.append(f"absent {layer}.*: {why}")
    if ext:
        for f in EXT_FILES:
            if m[f"ext.{f}.executor_run_ms"] == 0:
                lines.append(f"absent ext.{f}.executor_run_ms: no job launched from ext/{f}.py")
        # the three worker timers are SQL "timing" metrics (ms, summed
        # over tasks). Checked against the tasks' Executor Run Time:
        # run stays within it and, on a freshly started worker, already
        # contains start and init; init on a reused worker can exceed
        # the whole stage's run time. They overlap, so they are never
        # added up.
        for st in log.python_stages(ext):
            lines.append(
                f"python-accumulators stage={st['stage']} tasks={st['tasks']:.0f} "
                f"start={st['start_ms']:.0f}ms init={st['init_ms']:.0f}ms run={st['run_ms']:.0f}ms "
                f"executor_run={st['executor_run_ms']:.0f}ms "
                f"run<=executor_run={st['run_ms'] <= st['executor_run_ms']} "
                f"init<=executor_run={st['init_ms'] <= st['executor_run_ms']}"
            )
    return lines

