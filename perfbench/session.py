"""Spark session, work directory, and the process tree's CPU and memory.

Everything the benchmark writes (indexes, Spark local dirs, temp files,
spans) lives under ``<checkout>/.perfbench_work``; nothing is written
outside the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: one task slot per core the process may run on (`nproc`)
CORES = len(os.sched_getaffinity(0))


def fresh_workdir(name: str) -> str:
    """An empty per-run directory under the checkout's work area."""
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(work: str):
    """local[CORES] session whose Python workers can import the engine.

    The engine ships closures that import `sparksearch` inside the Python
    workers, so the checkout root must be on the workers' PYTHONPATH; the
    JVM (and through it every worker) inherits this process's environment.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{CORES}]")
             .appName("sparksearch-perfbench")
             .config("spark.sql.shuffle.partitions", str(CORES))
             .config("spark.default.parallelism", str(CORES))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             # Spark's default heap: small enough that the loop cycles
             # through all of it, so peak memory does not depend on when
             # the collector last ran
             .config("spark.driver.memory", "1g")
             # -XX:-UsePerfData: no /tmp/hsperfdata_* file outside the
             # checkout; compiler threads that never exit keep their CPU
             # time readable, so tree_cpu_s can leave it out
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                     "-XX:-UseDynamicNumberOfCompilerThreads")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads every job and stage of the run back
             # from the status store, so none may be evicted
             .config("spark.ui.retainedJobs", "1000000")
             .config("spark.ui.retainedStages", "1000000")
             .config("spark.sql.ui.retainedExecutions", "1000000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker) to exit; `SparkSession.stop` alone leaves the JVM running."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tree_pids(root_pid: int) -> list[int]:
    """`root_pid` and all its live descendants (driver, JVM, Python
    workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path) as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(map(int, stat[stat.rindex(")") + 2:].split()[fields]))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) the process tree has used, counting
    children it has already reaped, less the JVM's JIT compiler threads.
    Time the hypervisor steals is charged to no process, so this moves
    less with the host's load than wall time does; JIT compilation is a
    fresh JVM's warm-up, which a run this short cannot amortise, and its
    amount swings with timing."""
    ticks = 0
    for pid in tree_pids(root_pid):
        # utime stime cutime cstime: fields 14-17
        ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15))
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for task in tasks:
            try:
                with open(f"/proc/{pid}/task/{task}/comm") as f:
                    jit = f.read().startswith(("C1 CompilerThre",
                                               "C2 CompilerThre"))
            except OSError:
                continue
            if jit:
                ticks -= _ticks(f"/proc/{pid}/task/{task}/stat",
                                slice(11, 13))
    return ticks / _TICK


def reset_peak_rss(root_pid: int) -> None:
    """Restart every process's peak-RSS counter (VmHWM) in the tree."""
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum over the tree's processes of each one's peak RSS (VmHWM) since
    `reset_peak_rss`: read once, so nothing samples during the loop."""
    total_kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
