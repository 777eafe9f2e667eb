"""Process-level plumbing for the benchmark: worker environment, the
Spark session lifecycle (start, stop, wait for the JVM and its Python
workers to exit) and a /proc sampler for resident memory.

Every path the benchmark touches lives under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
MASTER = f"local[{CORES}]"
_PAGE = os.sysconf("SC_PAGE_SIZE")
STOP_TIMEOUT_S = 60.0   # per wait for the JVM and its children to exit
RSS_PERIOD_S = 0.1      # /proc polling period of RssSampler


def prepare_env(run_dir: str) -> dict:
    """Environment the JVM and its Python workers inherit. Without
    PYTHONPATH the mapInPandas workers fail with ModuleNotFoundError."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


def start_session(app_name: str, master: str = MASTER, extra_conf: dict | None = None):
    """The job's own session factory, on a fixed core count."""
    from eynollah_spark.session import get_spark

    spark = get_spark(app_name=app_name, master=master, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait until the JVM and every
    process it started (Python daemon and workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except Exception:
            proc.kill()
            proc.wait(timeout=STOP_TIMEOUT_S)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + STOP_TIMEOUT_S
        time.sleep(0.05)


class RssSampler:
    """Peaks of the JVM's RSS, of the summed RSS of every process under it
    (the Python daemon and workers) and of their total, polled from /proc
    while ``active`` is set. psutil is not available."""

    def __init__(self):
        self.peak = 0
        self.peak_jvm = 0
        self.peak_workers = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._pid: int | None = None
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, pid: int) -> "RssSampler":
        self._pid = pid
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(RSS_PERIOD_S):
            if self.active.is_set() and self._pid is not None:
                jvm = _rss_bytes(self._pid)
                kids = descendants(self._pid)
                workers = sum(_rss_bytes(p) for p in kids)
                self.peak = max(self.peak, jvm + workers)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak_workers = max(self.peak_workers, workers)

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)
