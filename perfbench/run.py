"""Benchmark runner: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload changegen_cli --seed 1 --seconds 8 --trace 0

Run it from the repository root.  Inputs are generated from ``--seed``
into ``.perfbench_work/`` under the root; every Spark setting the run
needs is set here, before the session starts.  A run

1. sets up: generates the inputs (``SETUP_REPEATS`` times, keeping the
   last copy), learns the expected outputs and starts the session;
2. runs a cold pass, the first pass in the fresh session;
3. runs warm passes until ``--seconds`` have gone by (at least one);
4. with ``--trace 1``, runs one more warm pass with spans installed;
5. checks every operation's output, stops Spark and waits for its
   processes to end.

The last line on stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).  The line before it
records the machine and versions.  Exit code 2 means the program under
test could not be imported; no result is printed then.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402
import workloads  # noqa: E402

SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

RUNTIME_METRICS = {
    "driver.busy_ms": "ms",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.spill_mb": "MB",
    "pyworker.start_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.run_ms": "ms",
    "pyworker.sent_mb": "MB",
    "pyworker.recv_mb": "MB",
    "codegen.cold_compiles": "count",
    "codegen.cold_ms": "ms",
}
END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for span in workloads.CHANGEGEN_SPAN_NAMES:
        units[f"{span}.wall_ms"] = "ms"
        units[f"{span}.driver_ms"] = "ms"
        units[f"{span}.jobs"] = "count"
        units[f"{span}.exec_cpu_ms"] = "ms"
    for q in workloads.QUERIES_PYTHON:
        for part in ("build_ms", "plan_ms", "exec_ms"):
            units[f"queries.{q}.{part}"] = "ms"
    units.update(RUNTIME_METRICS)
    units["trace.overhead_ms"] = "ms"
    units["fail_rate"] = "ratio"
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every child to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while any(alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(alive(p) for p in procs) and time.time() < deadline + 10:
        time.sleep(0.1)


# -------------------------------------------------------------- session


def session_env(work: str, eventlog: str | None) -> None:
    """Settings of the program's own session, made before it starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import changegen_spark whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog is not None:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", shlex.quote(f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def machine(spark) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }


# ------------------------------------------------------------------ run


def run(args) -> dict:
    boot_s = process_age_s()
    ticks0 = cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    session_env(work, eventlog)
    wl = workloads.make(args.workload, work, args.seed)

    # set-up: inputs several times (median), expected outputs, session
    gen_s = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.generate(os.path.join(work, f"inputs-{k}"))
        gen_s.append(time.perf_counter() - t)
        if k:
            shutil.rmtree(os.path.join(work, f"inputs-{k - 1}"))
    t = time.perf_counter()
    wl.expect()
    expect_s = time.perf_counter() - t
    t = time.perf_counter()
    from changegen_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    setup_s = boot_s + statistics.median(gen_s) + expect_s + session_s
    info = {"workload": args.workload, "seed": args.seed, "machine": machine(spark)}

    try:
        ops = []
        c0 = codegen_counters(spark)
        t = time.perf_counter()
        ops += wl.run_pass(spark, 0)
        cold_s = time.perf_counter() - t
        c1 = codegen_counters(spark)

        warm = []
        started = time.perf_counter()
        while not warm or time.perf_counter() - started < args.seconds:
            t = time.perf_counter()
            ops += wl.run_pass(spark, len(warm) + 1)
            warm.append(time.perf_counter() - t)
        wall_s = statistics.median(warm)

        traced = None
        if args.trace:
            recorder = tracing.SpanRecorder(spark.sparkContext)
            wl.install_spans(recorder)
            try:
                w0 = time.time()
                t = time.perf_counter()
                ops += wl.run_pass(spark, len(warm) + 1, recorder)
                traced = (w0, time.time(), time.perf_counter() - t, recorder.spans)
            finally:
                recorder.restore()

        failed = wl.check(spark, log)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
    finally:
        stop_spark(spark)

    # time the hypervisor gave other guests: the main source of noise on a
    # shared host, recorded so a noisy run can be told from a slow program
    ticks1 = cpu_ticks()
    info["steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    info["timings_s"] = {
        "boot": boot_s, "generate": gen_s, "expect": expect_s,
        "session": session_s, "cold": cold_s, "warm": warm,
    }
    if not args.trace:
        values = {"setup_s": setup_s, "cold_s": cold_s, "wall_s": wall_s, "peak_rss_mb": rss}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        log_path = os.path.join(eventlog, os.listdir(eventlog)[0])
        elog = tracing.EventLog.read(log_path)
        w0, w1, traced_s, spans = traced
        values = dict.fromkeys(per_layer_units(), 0.0)
        values.update(tracing.span_metrics(elog, spans, workloads.CHANGEGEN_SPAN_NAMES))
        values.update(tracing.query_metrics(elog, spans))
        values.update(tracing.window_metrics(elog, w0, w1))
        values["codegen.cold_compiles"] = float(c1[0] - c0[0])
        values["codegen.cold_ms"] = c1[1] - c0[1]
        values["trace.overhead_ms"] = (traced_s - wall_s) * 1000.0
        values["fail_rate"] = failed / len(ops)
        metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_units().items()}
        info["eventlog"] = os.path.relpath(log_path, ROOT)

    # keep the result and the event log; drop inputs, outputs and scratch
    for name in os.listdir(work):
        path = os.path.join(work, name)
        if name.endswith(".osc"):
            os.remove(path)
        elif name != "eventlog" and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1)
    print(json.dumps({"info": info}))
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import changegen_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
