"""Session set-up, tracing labels, memory probes and the run stamp.

The launcher part (:func:`prepare_env`) must run before ``pyspark`` is
imported: it points every temporary, local and warehouse directory of the
driver, the JVM and the Python workers into the run's work directory, and it
puts the checkout on the workers' ``PYTHONPATH``.  The engine's own
``build_session`` sets ``spark.python.daemon.module`` to a module of this
package, so without that path every Python stage fails with
``ModuleNotFoundError`` whenever the driver's cwd is not the checkout
(ROADMAP robustness item 2; the program fix is a separate change).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import platform
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager


def prepare_env(root: str, work: str) -> dict:
    """Set the process environment for a Spark driver confined to ``work``;
    returns the ``extra_conf`` that completes the confinement."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # overrides spark.local.dir, so a caller's SPARK_LOCAL_DIRS cannot send
    # shuffle and block files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the launch starts (spark-submit's launcher and the driver):
    # no hsperfdata file, which the JVM writes under /tmp whatever the tmpdir
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def event_log_conf(work: str) -> dict:
    d = os.path.join(work, "events")
    os.makedirs(d, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": d,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def warm_up(spark) -> None:
    """Start every Python worker and compile the basic codegen paths once:
    one trivial mapInPandas over 2x the cores, one trivial aggregate."""
    par = spark.sparkContext.defaultParallelism

    def identity(batches):
        yield from batches

    (spark.range(0, par * 200, 1, par * 2).mapInPandas(identity, "id long")
     .write.format("noop").mode("overwrite").save())
    spark.range(0, 10000).selectExpr("sum(id % 7) AS s").collect()


SETUPS = 3  # full set-ups a run makes; setup_s is their median


def set_up(conf: dict, times: int = SETUPS):
    """Build and warm the session as a caller does: the JVM launch,
    ``build_session`` and the warm-up.  Done ``times`` times, each in a
    fresh JVM (the previous one is shut down first); the last session is
    kept.  Returns ``(spark, figures)``, each figure the median over the
    set-ups."""
    from fuzzy_matching_spark.pipeline.session import build_session

    runs = []
    for i in range(times):
        if i:
            shut_down()
        t0 = time.perf_counter()
        spark = build_session(master=f"local[{cpus()}]", app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        with job_group(spark, "session"):
            warm_up(spark)
        t2 = time.perf_counter()
        runs.append({"setup_s": t2 - t0, "session.build_s": t1 - t0,
                     "session.warmup_s": t2 - t1})
    return spark, {k: statistics.median(r[k] for r in runs) for k in runs[0]}


@contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class Tracer:
    """Labels of the traced run.  A label ``layer.call`` runs its Spark jobs
    under job group ``layer`` (the event log is reduced per layer) and adds
    its wall to ``walls[label]``."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = {}

    @contextmanager
    def label(self, name: str):
        with job_group(self.spark, name.split(".")[0]):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        if ppid == pid:
            kids.append(int(d))
    return kids


def _start_time(pid: int) -> str | None:
    """The process's start time in clock ticks (``/proc/<pid>/stat`` field
    22), which tells it apart from a later process given the same pid; None
    once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def _descendants(pid: int) -> dict[int, str]:
    """Every live process below ``pid``, with its start time."""
    found, todo = {}, [pid]
    while todo:
        for kid in _children(todo.pop()):
            st = _start_time(kid)
            if kid not in found and st is not None:
                found[kid] = st
                todo.append(kid)
    return found


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait up to ``timeout`` s for the processes to end; returns those
    still alive."""
    deadline = time.monotonic() + timeout
    while True:
        procs = {p: st for p, st in procs.items() if _start_time(p) == st}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def shut_down() -> None:
    """Stop the session and end the driver JVM and every process below it
    (the Python worker daemon and its workers), and wait until each has
    ended.  Safe to call on every path out of a run, with or without a
    session, and more than once.  Without it the JVM outlives this process
    by the seconds its shutdown hooks take once its stdin closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    for live in (SparkSession._instantiatedSession, SparkContext._active_spark_context):
        if live is not None:
            try:
                live.stop()
            except Exception:  # the JVM is ended below whatever state it is in
                pass
    SparkSession._instantiatedSession = SparkSession._activeSession = None
    SparkContext._active_spark_context = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    below = _descendants(proc.pid) if proc is not None else {}
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = _wait_gone(below, 10)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    left = _wait_gone(left, 10)
    if left:
        raise RuntimeError(f"processes {sorted(left)} did not end")


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so that the inputs the
    benchmark made before the measured operations do not count in it."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark) -> dict:
    """VmHWM in MB: ``py`` sums the Python driver and every process below
    the driver JVM (the Python worker daemon and its forked workers);
    ``jvm`` is the driver JVM's own."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    py = [os.getpid(), *_descendants(jvm)]
    return {"py": sum(_hwm_kb(p) for p in py) / 1024, "jvm": _hwm_kb(jvm) / 1024}


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "fuzzy_matching_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(root: str, spark) -> dict:
    """What a figure needs beside it to be compared like for like only."""
    import numpy
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    sysprop = spark._jvm.java.lang.System.getProperty
    return {
        "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "nproc": cpus(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "git_commit": _git_commit(root),
        "source_sha256_16": _source_digest(root),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": f"{sysprop('java.vendor')} {sysprop('java.version')}",
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }
