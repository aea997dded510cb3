"""Mode-level benchmark of transferdb_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 30 --trace 0

One run launches the JVM and its first Spark session (the cold start),
sets up several times (a new session and input generation from --seed;
setup_s is the cold start plus their median), then times the workload's
operation once, as the first operation in the JVM: what one
command-line invocation of a mode pays after its session start. Every
further operation in the same JVM would run warm and measure something
else, so the operation is not repeated; --seconds, the time
BENCHMARK.json expects one run to measure, is only recorded in the
run's env line. Every output is checked against expected values
derived outside the timed windows; the run prints one line per metric
and a JSON result as the last line of stdout. With --trace 0 the
result holds the end-to-end metrics; with --trace 1 the run is traced
(Spark event log plus the benchmark's own spans around layer calls)
and the result holds the per-layer metrics. The traced run's operation
time minus the untraced run's is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

N_SETUPS = 3  # set-ups per run; setup_s holds their median
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr, stamped with seconds since the run began."""
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that leaves at least ten samples beyond
    it, as (percentile, value); None while that is not above the
    median (fewer than 20 samples)."""
    n = len(values)
    rank = n - 10  # 1-based rank in ascending order
    if 2 * rank < n:
        return None
    return 100.0 * rank / n, sorted(values)[rank - 1]


def describe(name: str, unit: str, values: list[float]) -> str:
    t = tail(values)
    t_txt = f"p{t[0]:.1f}={t[1]:.4f}" if t else f"n/a (n={len(values)} < 20)"
    med = statistics.median(values) if values else float("nan")
    return f"metric {name} unit={unit} n={len(values)} median={med:.4f} tail={t_txt}"


def pin_environment(root: str, work: str) -> dict:
    """Set what the engine and its Python workers read from the
    environment, before the JVM starts."""
    ncpu = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if root not in sys.path:
        sys.path.insert(0, root)
    return {"ncpu": ncpu, "nproc": os.cpu_count(), "load1": round(os.getloadavg()[0], 2)}


def start_session(work: str, event_log: str | None):
    from transferdb_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # no zstd module here: the default compressed log is unreadable
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log,
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait until it has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # noqa: BLE001 — best effort; the process is reaped below
        print(f"note: gateway shutdown raised {e!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by root_pid and every process below it: the Spark driver, the JVM and the
    Python workers. Unlike wall time it leaves out time the host gave
    to other machines."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                data = fh.read()
        except OSError:
            continue  # ended while listing
        fields = data[data.rindex(")") + 2 :].split()
        procs[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "transferdb_spark", "session.py")):
        print("error: run from the root of a transferdb_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log("start")
    env = pin_environment(root, work)
    env.update(workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace)
    try:
        return run(wl, args, work, env)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")


def prepare(wl, args, work: str, event_log: str | None):
    """Launch a JVM and bring it to the state the timed operation runs
    in: a cold start (JVM launch and first session), then N_SETUPS
    set-ups (a new session and generation of the inputs from --seed).
    With event_log, the last set-up's session writes the Spark event
    log. Returns (spark, inputs, timings)."""
    t0 = time.perf_counter()
    spark = start_session(work, None)
    cold = time.perf_counter() - t0
    log(f"cold start took {cold:.2f}s")
    setups, inp = [], None
    for i in range(N_SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, event_log if i == N_SETUPS - 1 else None)
        inp = wl.generate(os.path.join(work, f"in{i}"), args.seed)
        setups.append(time.perf_counter() - t0)
    log(f"set-ups took {' '.join(f'{v:.2f}s' for v in setups)}")
    wl.expect(inp)  # the benchmark's own oracles: not part of set-up
    return spark, inp, {"cold_start_s": cold, "setups": setups}


def timed_op(wl, spark, inp: dict, wd: str, tracer=None) -> tuple[dict | None, list]:
    """The timed operation and its output checks; (None, [failed row])
    when it raises."""
    cpu0 = tree_cpu_s(os.getpid())
    try:
        if tracer is not None:
            with tracer.span("op"):
                res = wl.op(spark, inp, wd, tracer)
        else:
            res = wl.op(spark, inp, wd)
    except Exception as e:  # noqa: BLE001 — a raising operation is a failed call
        traceback.print_exc()
        return None, [(f"{wl.name} operation", False, f"raised {e!r}")]
    res["op_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    log(f"op took {res['op_s']:.2f}s")
    return res, wl.check(res, inp)


def run(wl, args, work: str, env: dict) -> int:
    import layers
    from spans import EventLog, Tracer

    tracer = None
    event_log = os.path.join(work, "eventlog")
    spark, inp, timings = prepare(wl, args, work, event_log if args.trace == 1 else None)
    if args.trace == 1:
        tracer = Tracer(spark.sparkContext)
        layers.install(tracer)
    # a run whose parallelism exceeds the CPUs it may use is
    # oversubscribed and its timings are not comparable
    env["parallelism"] = spark.sparkContext.defaultParallelism
    env["oversubscribed"] = env["parallelism"] > env["ncpu"]
    print("env " + json.dumps(env), flush=True)

    res, checks = timed_op(wl, spark, inp, os.path.join(work, "op"), tracer)
    for call, ok, detail in checks:
        print(f"check {'ok' if ok else 'FAIL'} {call}: {detail}", flush=True)
    failed = sum(1 for _, ok, _ in checks if not ok)
    if res is None:
        print("error: the operation did not complete", file=sys.stderr)
        return 1

    # setup_s: what a run pays before its operation. The cold start
    # happens once per JVM; the rest is the median of the set-ups.
    setup_s = timings["cold_start_s"] + statistics.median(timings["setups"])
    print(describe("cold_start_s", "s", [timings["cold_start_s"]]))
    print(describe("setup_once_s", "s", timings["setups"]))
    print(describe("setup_s", "s", [setup_s]))
    print(describe("op_s", "s", [res["op_s"]]))
    print(describe("op_cpu_s", "s", [res["op_cpu_s"]]))
    for name, unit in wl.phases:
        print(describe(name, unit, res["phases"][name]))

    if tracer is None:
        metrics = {
            "op_s": {"value": res["op_s"], "unit": "s"},
            "op_cpu_s": {"value": res["op_cpu_s"], "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    else:
        tracer.unpatch()
        session = {
            "session.start_s": timings["cold_start_s"],
            "session.jvm_hwm_mb": jvm_hwm_mb(spark),
            "session.py_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "trace.op_s": res["op_s"],
        }
        spark.stop()  # flushes the event log
        values, lines = layers.compute(wl.name, tracer, EventLog.read(event_log), res, inp, session)
        for line in lines:
            print(line)
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.RESULT}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(checks), "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
