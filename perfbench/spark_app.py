"""Spark application lifecycle for one benchmark run: set-up timing,
process accounting and shutdown."""

from __future__ import annotations

import os
import signal
import time

APP_NAME = "perfbench"


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kib(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc else None


def peak_rss_mib() -> dict[str, float]:
    """Peak resident set of the driver JVM and of its Python workers:
    the kernel's high-water mark of each live process, summed."""
    pid = jvm_pid()
    if pid is None:
        return {"jvm": 0.0, "workers": 0.0}
    return {"jvm": _status_kib(pid, "VmHWM") / 1024.0,
            "workers": sum(_status_kib(p, "VmHWM")
                           for p in descendants(pid)) / 1024.0}


def tree_cpu_s() -> float:
    """CPU seconds used so far by the driver JVM and every process below
    it, including children they have already reaped."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    ticks = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def kill_descendants(sig=signal.SIGKILL) -> list[int]:
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass
    return pids


def _gone(pid: int) -> bool:
    """True once ``pid`` has exited: reaped if it is our child, else
    absent or a zombie awaiting its new parent."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0]:
            return True
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and not all(_gone(p) for p in pids):
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap() -> None:
    """End every process this run started and wait until each is gone."""
    pids = kill_descendants(signal.SIGTERM)
    wait_gone(pids, 10)
    pids = kill_descendants(signal.SIGKILL)
    wait_gone(pids, 10)


def _session():
    from flight_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=APP_NAME)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(fixture_dir: str):
    """Launch the JVM and the session, load the registry and warm up
    with a count of the ``events`` fixture table: what every fresh
    application pays before its first query. Measured once per run;
    a second set-up in the same JVM skips the launch, and a second JVM
    costs more than the measured work."""
    from flight_data_pipeline_spark.plans import registry
    from flight_data_pipeline_spark.tables import load_table

    t0 = time.time()
    spark = _session()
    t1 = time.time()
    registry.load_all()
    t2 = time.time()
    load_table(spark, "events", fixture_dir).count()
    return spark, {"setup_s": time.time() - t0,
                   "session.start_s": t1 - t0,
                   "plans.registry_load_s": t2 - t1}


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mib": mem_kib // 1024,
            "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory", "")}
