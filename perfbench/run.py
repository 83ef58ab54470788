#!/usr/bin/env python3
"""Run one benchmark workload against the package and print its metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout and removed afterwards. The
session is ``local[N]`` with N the CPUs this process may run on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and per-op Spark stage metrics and prints the
per-layer metrics. stdout ends with two JSON lines: a ``detail`` record
(nproc, load average, set-up samples, tail percentile, failed-op share,
tracing overhead) and the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mapreduce_framework_spark"
N_SETUPS = 3  # set-up is repeated in every run and reported as a median

END_TO_END = ("setup_s", "driver_mem_mb", "ops_per_s")
SESSION_LAYER = (
    "session.get_spark_s",
    "deploy.ensure_package_s",
    "session.warmup_s",
    "session.cold_setup_s",
    "codebook.fit_s",
)
ENGINE_LAYER = (
    "spark.task_s",
    "spark.jvm_cpu_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.shuffle_read_bytes",
)
TRACE_LAYER = ("trace.overhead_share", "trace.missing_stages")


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_per_input_byte"):
        return "B/B"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s") or "_s_per_" in name:
        return "s"
    if name.endswith("_bytes") or ".index_bytes." in name or name.endswith("input_bytes"):
        return "bytes"
    if name.endswith(("_share", "_recall")):
        return "share"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order. Each run reports all of
    them; a layer its workload does not drive reads 0."""
    names = list(SESSION_LAYER)
    for cls in WORKLOADS.values():
        names.extend(cls.LAYER_METRICS)
    return names + list(ENGINE_LAYER) + list(TRACE_LAYER)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_memory(spark) -> dict[str, float]:
    """Driver memory in MB: the JVM's heap and non-heap in use after a
    full GC (what the run retains), the JVM's peak RSS (which also holds
    garbage the collector had not reclaimed yet, so it swings with GC
    timing), and the Python process's peak RSS."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return {
        "jvm_live": live / 1e6,
        "jvm_peak_rss": vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid()) * 1024 / 1e6,
        "python_peak_rss": vm_hwm_kb(os.getpid()) * 1024 / 1e6,
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot; steal is time the hypervisor ran
    something else while this machine wanted the CPU."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def start_session(work: str, trace: bool):
    """The package's session, with Spark's scratch space inside ``work``.
    A traced run keeps enough jobs and stages in the status store that an
    op's stages are still there when they are read."""
    from mapreduce_framework_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "10000",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (the JVM, its Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo.extend(kids)
    return out


def shutdown(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM and
    every process it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            try:  # reap direct children; others are reaped by their parent
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def run(args, work: str, cores: int) -> tuple[dict, dict]:
    from mapreduce_framework_spark.deploy import ensure_package_on_executors
    from stats import median, tail
    from tracing import StageReader, Tracer
    from workloads import Env, engine_metrics

    import_s = process_age_s()
    wl = WORKLOADS[args.workload](args.seed)
    load_start, ticks_start = loadavg(), cpu_ticks()
    t = time.perf_counter()
    wl.prepare(work)
    gen_s = time.perf_counter() - t

    tracer = Tracer(args.trace)
    setups = []
    spark = None
    try:
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            tracer.enabled = args.trace
            with tracer.span("session.get_spark"):
                spark = start_session(work, args.trace)
            with tracer.span("deploy.ensure_package"):
                ensure_package_on_executors(spark)
            env = Env(spark, tracer, StageReader(spark) if args.trace else None, work, cores)
            wl.setup(env)
            setups.append(time.perf_counter() - t + (import_s if i == 0 else 0.0))

        t = time.perf_counter()
        wl.prime(env)
        prime_s = time.perf_counter() - t
        ops = []
        t = time.perf_counter()
        while time.perf_counter() - t < args.seconds:
            ops.extend(wl.step(env, bool(args.trace)))
        loop_s = time.perf_counter() - t
        wl.finish(env, ops)
        layer = wl.layer_metrics(env, ops) if args.trace else {}
        mem = driver_memory(spark)
    finally:
        if spark is not None:
            shutdown(spark)

    ticks_end = cpu_ticks()
    walls = [o.wall for o in ops]
    failed = sum(not o.ok for o in ops)
    tail_s, tail_q = tail(walls)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "cpu_steal_share": (ticks_end[1] - ticks_start[1]) / max(1, ticks_end[0] - ticks_start[0]),
        "op_unit": wl.unit,
        "ops_attempted": len(ops),
        "failed_op_share": failed / len(ops) if ops else 1.0,
        "op_walls_s": walls,
        "op_p50_s": median(walls),
        "op_tail_s": tail_s,
        "tail_percentile": tail_q,
        "setup_samples_s": setups,
        "memory_mb": mem,
        "input_gen_s": gen_s,
        "prime_s": prime_s,
        "loop_s": loop_s,
    }
    if args.trace:
        values = dict.fromkeys(per_layer_names(), 0.0)
        for name in SESSION_LAYER[:3] + ("codebook.fit_s",):
            values[name] = median(tracer.durations(name[: -len("_s")]))
        values["session.cold_setup_s"] = setups[0]
        values.update(layer)
        values.update(engine_metrics(ops))
        # tracing work done outside the timed calls, per unit of op time
        values["trace.overhead_share"] = sum(o.trace_s for o in ops) / sum(walls)
        values["trace.missing_stages"] = float(
            sum(o.stages.missing for o in ops if o.stages is not None)
        )
        detail["spans"] = write_spans(tracer, args)
    else:
        values = {
            "setup_s": median(setups),
            "driver_mem_mb": mem["jvm_live"] + mem["python_peak_rss"],
            "ops_per_s": len(ops) / sum(walls),
        }
    result = {
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": unit_of(n)} for n, v in values.items()},
    }
    return detail, result


def write_spans(tracer, args) -> str:
    path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            [
                {"name": s.name, "start": s.start, "end": s.end, "self_s": self_s,
                 "parent": s.parent, "op": s.op}
                for s, self_s in zip(tracer.spans, tracer.self_times())
            ],
            fh,
        )
    return os.path.relpath(path, ROOT)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds like an error, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temp files stay in the checkout: the package's deploy zip and the
    # Python workers use TMPDIR; the JVMs (spark-submit's launcher and the
    # driver) get their temp dir here and write no /tmp/hsperfdata_*
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        detail, result = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
