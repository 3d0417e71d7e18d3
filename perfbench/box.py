"""The machine side of the benchmark: session sizing from the box, the
Spark session's start and stop, and CPU / resident memory of the
process tree read from /proc."""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
MAX_CORES = 4


def box_settings() -> dict:
    """Cores from the CPU affinity mask (what ``nproc`` prints), capped at
    4; driver heap from /proc/meminfo: a quarter of MemTotal, but no more
    than half of MemAvailable, rounded down to 256 MiB, between 1 and
    6 GiB.  The heap is pre-committed (``-Xms`` = ``-Xmx`` in
    ``session.get_spark``) on a box with no swap, so it must fit what is
    free; sizing from MemTotal keeps it the same from run to run."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    info = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        key, value = line.split(":", 1)
        info[key] = int(value.split()[0]) // 1024
    heap_mib = min(info["MemTotal"] // 4, info["MemAvailable"] // 2)
    heap_mib = max(1024, min(6144, heap_mib // 256 * 256))
    return {
        "cores": cores,
        "master": f"local[{cores}]",
        "shuffle_partitions": 2 * cores,
        "driver_mem": f"{heap_mib}m",
        "mem_total_mib": info["MemTotal"],
        "mem_available_mib": info["MemAvailable"],
        # AQE re-plans at every exchange and re-renders the whole plan
        # string each time; on this pipeline one cold run then takes
        # 100-136 s at local[4], more than one benchmark run may last.
        # The session's own SPARK_GRAFT_AQE knob turns it off.
        "aqe": False,
    }


def start_session(settings: dict, work: Path, extra_conf: dict | None = None):
    """``session.get_spark`` sized by ``settings``, with every file Spark
    and the JVM write kept under ``work``."""
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_mem"]
    os.environ["SPARK_GRAFT_AQE"] = "1" if settings["aqe"] else "0"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # the module caches its first answer
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    from pdf_parser_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    conf.update(extra_conf or {})
    return session.get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, close the gateway JVM's stdin (it exits on EOF) and wait
    until every process this benchmark started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        # later garbage collection of Java handles must not talk to a
        # gateway that is gone
        gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm (field 2) may hold spaces; everything after the last ')' splits
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every descendant: the PySpark driver, the JVM and the Python
    workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def _hwm_bytes(pid: int) -> int:
    """The process's peak resident set (VmHWM), kept by the kernel."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssPeak:
    """Peak resident memory of the JVM and its Python workers: every
    ``period`` seconds, the kernel's high-water mark (VmHWM) of each
    descendant; ``peak`` sums each process's highest mark.  A process that
    starts and ends between two samples is missed."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def _loop(self) -> None:
        while not self._stop.is_set():
            for pid in descendants(os.getpid()):
                self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
