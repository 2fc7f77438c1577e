"""Host sizing and process-tree accounting for the benchmark.

The Spark session is sized from the machine it runs on: ``local[nproc]`` and
a driver heap derived from MemTotal, passed through the engine's existing
``SPARK_DRIVER_MEM`` override. CPU seconds, peak RSS and hypervisor steal
are read from ``/proc`` so that the JVM and its Python workers are counted
without any hook inside the engine.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(mem_mb: int) -> int:
    """A quarter of physical memory, at least 1 GiB: local mode runs driver
    and executors in one JVM, and the Python workers and page cache need
    the rest."""
    return max(1024, mem_mb // 4)


def session_env(root: str, work: str, trace_dir: str | None) -> dict:
    """Environment for the JVM launch. PYTHONPATH carries the checkout root
    so ``mapInPandas`` workers can import the engine; scratch and Spark
    local dirs stay inside the checkout. The event log is launch-time conf,
    on for traced runs only."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace_dir:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    pp = os.environ.get("PYTHONPATH")
    return {
        "SPARK_DRIVER_MEM": f"{heap_mb(mem_total_mb())}m",
        "PYTHONPATH": root + (os.pathsep + pp if pp else ""),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _proc_cpu_s(pid: int) -> float:
    """utime+stime of a process plus that of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(v) for v in fields[11:15]) / TICK


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds of this process and every live descendant (the JVM, the
    PySpark daemon and its workers)."""
    pid = pid or os.getpid()
    return sum(_proc_cpu_s(p) for p in [pid] + descendants(pid))


def _mem_bytes(pid: int) -> int:
    """Resident memory of one process: RSS for the JVM, PSS for Python
    workers. The PySpark daemon forks its workers, so they share most of
    their pages; PSS counts each shared page once across them, where a sum
    of RSS would count it once per live worker."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    (the JVM plus the Python workers; the benchmark's own interpreter is
    excluded) and keeps the peak until ``reset``."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = 0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, sum(_mem_bytes(p) for p in descendants(me)))


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it started
    have exited; anything still alive after ``timeout_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    for pid in pids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def host_facts(spark) -> dict:
    """What every result records about the machine and the session."""
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "heap": conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Clock:
    """Wall, CPU and steal over one interval."""

    def __enter__(self) -> "Clock":
        self.t0 = time.time()
        self.cpu0 = tree_cpu_s()
        self.steal0, self.total0 = cpu_jiffies()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.time()
        self.wall_s = self.t1 - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        steal1, total1 = cpu_jiffies()
        dt = total1 - self.total0
        self.steal_pct = 100.0 * (steal1 - self.steal0) / dt if dt else 0.0
