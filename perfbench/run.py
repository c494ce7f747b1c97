#!/usr/bin/env python3
"""Benchmark of the engine: CQL point traffic and interactive analytics,
including the LLM pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload cql_oltp --seed 1 --seconds 4 --trace 0

One run is one process on ``local[nproc]``. It generates the tables once
into ``.perfbench_data/`` (see ``datagen.py``), sets up the engine, warms it
up with untimed operations, then runs the workload's closed loop for
``--seconds`` and checks every result (see ``workloads.py``). Spark's local
dirs and every temporary file go to ``.perfbench_work/`` and are removed at
exit; the engine's JVM and its Python workers are stopped and waited for.

``setup_s`` is the CPU time the engine's processes spend from the engine's
import until the first operation can run: package import, JVM start,
``get_spark``, ``load_all`` and the workload's own set-up (``warm_cache``
for analytics; a ``CqlSession``, its prepared statements and a first read
for CQL). Generating tables, loading the shadow model and the warm-up
operations are not counted. CPU time, not wall time, because on a shared
host the wall time of the same set-up follows the CPU other tenants take.

With ``--trace 0`` the last line of stdout is the end-to-end result. With
``--trace 1`` the run measures half of ``--seconds`` untraced, then half
traced, and prints the per-layer metrics of the traced half; the spans go to
``.perfbench_out/trace-<workload>-seed<seed>.json``. The line before the
result records the environment. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shlex
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "dcosb_cassandra_spark" / "__init__.py"
DRIVER_MEMORY = "2g"


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _py_rss_mb() -> float:
    """Resident memory of this process once freed memory is handed back: a
    full collection, then Arrow's and the C library's free lists released,
    so what is left is what the process still holds."""
    import ctypes
    import gc

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    return _status_kb(os.getpid(), "VmRSS") / 1024


def _jvm_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the engine
    retains (cached tables, memos, status store), free of the heap sizing
    the collector picks from pause times. Spark's ContextCleaner drops the
    blocks of unreachable broadcasts and shuffles only after a collection
    has found them, and a later collection frees them (a d2b broadcast of
    about 55 MB goes at the third), so collections repeat after short
    pauses until two in a row free less than 1 MB."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen: list[float] = []
    for _ in range(12):
        jvm.System.gc()
        seen.append(mem.getHeapMemoryUsage().getUsed() / (1 << 20))
        if len(seen) >= 4 and seen[-3] - seen[-1] < 1.0:
            break
        time.sleep(0.5)
    return seen[-1]


def _cpu_s(pid: int, children: bool) -> float:
    """User + system CPU seconds of ``pid``, plus those of its exited
    children when ``children``; 0 for a process that is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = sum(int(x) for x in fields[11:15 if children else 13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and every process
    under it (Python workers included). Stolen time is not in it."""
    tree = [jvm_pid] + _children(jvm_pid)
    return _cpu_s(os.getpid(), children=False) + sum(_cpu_s(p, children=True) for p in tree)


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid``, read from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stop_engine(spark) -> None:
    """Stop Spark, end the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_gone(workers, timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prepare_env(work: Path) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])
    sys.path.insert(0, str(ROOT))


def _finite(v: float) -> float:
    """JSON has no infinity; a metric of a run with no correct operation
    reads as 1e18."""
    return v if math.isfinite(v) else 1e18


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    from perfbench import datagen, workloads
    from perfbench.tracing import Tracer

    data_dir = datagen.ensure_data(str(ROOT / ".perfbench_data"))
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    cls = workloads.CLASSES[args.workload]
    setup: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        setup[name] = time.perf_counter() - t0
        return out

    spark = None
    try:
        t0 = time.perf_counter()
        cpu0 = _cpu_s(os.getpid(), children=False)
        from dcosb_cassandra_spark import registry, session

        spark = timed("session.get_spark",
                      lambda: session.get_spark("perfbench", cpus=str(nproc)))
        reg = timed("registry.load_all", registry.load_all)
        engine = cls.set_up(spark, data_dir, timed)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        setup_s = _engine_cpu_s(jvm_pid) - cpu0
        setup_wall_s = time.perf_counter() - t0
        workloads.check_registry(reg)
        wl = cls(args.workload, spark, data_dir, args.seed, tracer, engine)
        t0 = time.perf_counter()
        warm = wl.warmup()
        warmup_s = time.perf_counter() - t0

        if args.trace:
            # half the time untraced, half traced: the per-layer numbers
            # come from the traced half, the overhead from comparing both
            recs, wall = wl.window(args.seconds / 2)
            wl.traced = True
            traced, traced_wall = wl.window(args.seconds / 2)
            wl.traced = False
            overhead = ((traced_wall / max(len(traced), 1))
                        / (wall / max(len(recs), 1)) - 1) * 100
            measured = traced
            all_recs = warm + recs + traced
        else:
            cpu0 = _engine_cpu_s(jvm_pid)
            recs, wall = wl.window(args.seconds)
            cpu_s = _engine_cpu_s(jvm_pid) - cpu0
            # sampled before the checks, which are the benchmark's own work
            memory_parts = {"python_rss_mb": _py_rss_mb(), "jvm_heap_mb": _jvm_heap_mb(spark)}
            memory_mb = sum(memory_parts.values())
            measured = recs
            all_recs = warm + recs
        t0 = time.perf_counter()
        wl.check(all_recs)
        check_s = time.perf_counter() - t0

        peak_rss_mb = (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024
        client = workloads.client_view(recs, wall)
        if args.trace:
            metrics = workloads.per_layer(wl, measured, recs + traced, setup, overhead,
                                          peak_rss_mb)
            metrics.update(client)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(
                str(out_dir / f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "setup_seconds": setup},
            )
        else:
            metrics = workloads.end_to_end(measured, cpu_s, setup_s, memory_mb)

        failed = sum(not r.ok for r in all_recs)
        kinds: dict[str, int] = {}
        for r in measured:
            kinds[r.kind] = kinds.get(r.kind, 0) + 1
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "driver_memory": f"{DRIVER_MEMORY} (SPARK_DRIVER_MEM override of the get_spark default)",
            "data_dir": os.path.relpath(data_dir, ROOT),
            "data_rows": datagen.ROWS,
            "setup_wall_s": setup_wall_s,
            "setup_seconds": {k: round(v, 4) for k, v in setup.items()},
            "timed_ops": kinds,
            "warmup_s": warmup_s,
            "wall_s": wall,
            "check_s": check_s,
            "peak_rss_mb": peak_rss_mb,
            "client": {k: v for k, (v, _) in client.items()},
            "read_ms_by_kind": workloads.read_medians_ms(measured),
        }
        if not args.trace:
            env["memory_parts"] = memory_parts
        if args.workload == "cql_oltp":
            env["cql_mix"] = workloads.key_shares(all_recs)
        if wl.checked:
            env["oracle_checks"] = {n: bool(r["ok"]) for n, r in wl.checked.items()}
        result = {
            "correct": failed == 0,
            "attempted": len(all_recs),
            "failed": failed,
            "metrics": {k: {"value": _finite(float(v)), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return env, result
    finally:
        if spark is not None:
            stop_engine(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("cql_oltp", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not PACKAGE.is_file():
        print(f"perfbench: engine package not found at {PACKAGE.parent}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        _prepare_env(work)
        env, result = run(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": env}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
