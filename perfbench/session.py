"""The benchmark's Spark session and the host/JVM context of a run.

The session is sized from the machine, not copied from ``bench.py``,
whose fixed 32 shuffle partitions would make a 4-core host run 32 tasks
per shuffle of every query.  Every setting follows ``nproc`` and is
printed with each run.
"""

from __future__ import annotations

import os
import signal
import time

from codegraph_rust_spark import telemetry


def session_settings(work_dir: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "input_partitions": 2 * cpus,
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.python.worker.reuse": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # for every JVM the launch starts: temp files in the run's
        # directory, no hsperfdata file in /tmp
        "java_options": f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData",
    }


def start_spark(settings: dict, root: str):
    """Starts the session; workers import the engine from ``root``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = settings["spark.local.dir"]
    os.environ["JAVA_TOOL_OPTIONS"] = settings["java_options"]
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(settings["master"]).appName("perfbench")
    for k, v in settings.items():
        if k.startswith("spark."):
            b = b.config(k, v)
    spark = b.config("spark.executorEnv.PYTHONPATH", root).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the /proc parent tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stops the session, then waits until the JVM and every process it
    started (the Python workers) have exited, killing what outlives
    ``timeout``."""
    procs = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if proc is not None:
        proc.wait()


def jvm_gc_seconds(spark) -> float:
    """Cumulative driver GC time over every GarbageCollectorMXBean."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class HostContext:
    """Host and JVM state over a run: steal %, clock, ALU token, load
    and driver GC.  Context for a slow run, never a gate."""

    def __init__(self) -> None:
        self.t0 = telemetry.sample()
        self.gc0 = 0.0

    def start_gc(self, spark) -> None:
        self.gc0 = jvm_gc_seconds(spark)

    def finish(self, spark) -> dict:
        t1 = telemetry.sample()
        return {
            "host.steal_pct": telemetry.steal_pct(self.t0, t1) or 0.0,
            "host.cpu_mhz": telemetry.cpu_mhz() or 0.0,
            "host.alu_calibration_s": telemetry.alu_calibration(),
            "host.load1": t1["load1"] or 0.0,
            "jvm.gc_s": jvm_gc_seconds(spark) - self.gc0,
        }
