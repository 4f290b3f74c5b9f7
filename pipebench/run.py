"""Benchmark entry point.

    python3 pipebench/run.py --workload sync_churn --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. It starts one Spark session at
``local[2]`` in this process (the driver is also the load generator),
generates the workload's inputs from ``--seed``, runs a fixed number of
operations (``--seconds`` divided by the workload's nominal operation
time, at least 3), checks the outputs, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones from a traced
run, whose spans and per-span Spark work are also written to
``.pipebench/traces/``.

All files the run writes (inputs, stores, Spark local dirs, temp
files) live under ``.pipebench/`` in the checkout, and the scratch part is
removed at exit. Exits 2 without a result when the engine package is
not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "wc_vector_indexing_spark", "__init__.py")
SLOTS = 2  # local[2]: the JVM, its GC and JIT and the Python workers share 4 cores


def _isolate(work: str) -> None:
    """Point every temp, warehouse and Spark scratch dir into ``work``
    and let Python workers import the engine and this package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        # the short-lived JVM spark-submit starts first to build the
        # command line would otherwise write /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY="2g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.pop("SPARK_GRAFT_CLUSTER", None)
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _start_spark(work: str, traced: bool):
    from wc_vector_indexing_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    spark = session.get_spark("pipebench", cpus=SLOTS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _retained_heap_mb(spark) -> float:
    """Driver heap in use after a full GC. Python's collector runs first,
    so that JVM objects only dead Python proxies held are released. Each
    GC lets Spark's cleaner thread release more (broadcasts, shuffles of
    collected plans), so GCs repeat until the reading stops falling."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(8):
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(readings) > 1 and readings[-2] - readings[-1] < 1.0:
            break
        time.sleep(0.5)
    print(f"heap readings MB: {[round(r) for r in readings]}", file=sys.stderr)
    return readings[-1]


def _persisted_rdds(spark) -> int:
    """RDDs still registered as persisted once the garbage is collected.
    A local checkpoint whose frame is gone stays registered until Spark's
    cleaner thread releases it after a JVM GC, so the count is read after
    GCs until two readings agree; what remains is held by live references
    (a cached frame stays in Spark's cache manager until unpersisted)."""
    sc = spark.sparkContext
    counts = [sc._jsc.getPersistentRDDs().size()]
    for _ in range(10):
        sc._jvm.java.lang.System.gc()
        time.sleep(0.5)
        counts.append(sc._jsc.getPersistentRDDs().size())
        if counts[-1] == counts[-2]:
            break
    return counts[-1]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has exited."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}"):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
            try:  # reap it if it is ours
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test runs tiny inputs)")
    args = ap.parse_args(argv)
    if not os.path.isfile(ENGINE):
        print(f"pipebench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".pipebench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        _isolate(work)
        from pipebench import metrics, trace, workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"pipebench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        tracer = trace.Tracer() if args.trace else trace.NullTracer()
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            if args.trace:
                tracer.install(spark.sparkContext)
            out = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds, args.scale)
            if args.trace:
                tracer.uninstall()
            heap = _retained_heap_mb(spark)
            if args.trace:
                persisted = _persisted_rdds(spark)
                jobs, groups = trace.read_spark_work(spark.sparkContext)
        finally:
            _stop_spark(spark)

        e2e, info = metrics.end_to_end(out, session_s, heap)
        info.update(workload=args.workload, seed=args.seed, setup=out.setup, op_s=out.op_s, errors=out.errors[:20])
        if args.trace:
            values, table = metrics.per_layer(tracer, jobs, groups, out, session_s, persisted)
            result_metrics = metrics.render(values)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            with open(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"end_to_end": e2e, "info": info, "spans": tracer.spans, "span_table": table}, f)
        else:
            result_metrics = metrics.render(e2e, metrics.END_TO_END)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(info), file=sys.stderr)
    result = {"correct": not out.errors, "attempted": out.attempted, "failed": out.failed, "metrics": result_metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
