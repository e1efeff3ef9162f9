"""Host sizing, Spark session lifecycle and process accounting.

The benchmark runs one driver JVM per invocation. The JVM is launched once
(``launch_jvm``); every set-up then builds a fresh SparkContext on it with
``otlp_wire_spark.session.get_spark`` (``new_session``), so each set-up pays
the context, the Python worker start and the plan warm-up again. All
scratch (shuffle, spill, sinks, temp files, event logs) lives under one
work directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def cores() -> int:
    """Task threads: one per core the process may run on."""
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_gb(avail_mb: int) -> int:
    """Driver heap: a quarter of the available memory, 1-3 GB. The cap keeps
    the heap (and so resident memory) the same from run to run on a host
    with 12 GB or more available; the inputs need well under 1 GB."""
    return max(1, min(3, avail_mb // 4096))


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. tmpfs, overlay)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(
                mnt
            ) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def prepare_env(work: str, heap: int) -> None:
    """Point every temp, shuffle and spill location into ``work``; must run
    before pyspark launches anything."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    import tempfile

    tempfile.tempdir = tmp


def launch_jvm(work: str, heap: int) -> float:
    """Start the driver JVM (py4j gateway); returns seconds taken."""
    from pyspark import SparkConf, SparkContext

    t0 = time.perf_counter()
    conf = (
        SparkConf()
        .set("spark.driver.memory", f"{heap}g")
        .set(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap}g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        )
    )
    SparkContext._ensure_initialized(conf=conf)
    return time.perf_counter() - t0


def new_session(work: str, master: str, event_log: bool = False):
    """A fresh SparkSession (new SparkContext) on the running JVM."""
    from otlp_wire_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=2 * cores(),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    spark.stop()
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    seen, stack = [], [pid]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid``'s process tree: the
    driver JVM plus the Python workers it forked."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the JVM and every process under it, and wait until all ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
    try:
        proc.wait(timeout=timeout / 2)
    except subprocess.TimeoutExpired:
        proc.terminate()
        proc.wait(timeout=timeout / 2)
    deadline = time.monotonic() + timeout / 2
    for p in pids[1:]:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False
