"""The benchmark process's surroundings: its work directory inside the
checkout, the Spark session it drives, JVM memory sampling and host CPU
accounting.  Nothing here touches the engine's own code paths."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def make_work_dir(tag: str, need_bytes: int) -> str:
    """A fresh work dir under the checkout, also made this process's temp
    dir; fails loudly when the file system holding it has less than
    ``need_bytes`` free."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    free = shutil.disk_usage(WORK_ROOT).free
    if free < need_bytes:
        raise SystemExit(
            f"perfbench: {WORK_ROOT} has {free / 2**30:.2f} GiB free, "
            f"the workload needs {need_bytes / 2**30:.2f} GiB")
    path = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    return path


def remove_work_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def settle_dir(path: str, timeout: float = 5.0, period: float = 0.2) -> None:
    """Wait until the number of files under ``path`` stops changing, then
    commit the file system's journal (fsync of the directory), so freeing
    the deleted files' blocks is not left to stall the next timed step."""
    last = -1
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        n = sum(len(files) for _, _, files in os.walk(path))
        if n == last:
            break
        last = n
        time.sleep(period)
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def start_spark(work: str, cpus: int):
    """local[cpus] session with every scratch location (shuffle/spill,
    JVM and Python temp files, warehouse) inside ``work``.  The checkout
    root goes on PYTHONPATH so Spark's Python workers, which do not
    inherit this interpreter's sys.path, can import the engine package."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    from new_ent_crawler_spark.session import get_spark
    spark = get_spark(app="perfbench", cpus=cpus, extra_conf={
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": local,
        # a fixed heap size keeps the JVM's footprint from depending on
        # when the collector decides to grow the heap; no perf-data file
        # in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin pipe
    closes) and wait for it."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class RssSampler:
    """Peak VmRSS of one process, sampled from /proc every ``period`` s
    on a background thread between start() and stop()."""

    def __init__(self, pid: int | None, period: float = 0.02):
        self.pid = pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _rss_kb(self) -> int:
        try:
            with open(f"/proc/{self.pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        if self.pid is not None:
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def stop(self) -> float:
        """Peak RSS in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """iowait and steal as % of all jiffies between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"iowait_pct": 100.0 * d[4] / total,
            "steal_pct": 100.0 * d[7] / total,
            "busy_pct": 100.0 * (total - d[3] - d[4]) / total}

