"""Spark session lifetime, memory and host-speed probes."""

from __future__ import annotations

import os
import signal
import subprocess
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``), for ``steal_frac``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


def control_s() -> float:
    """Median of three runs of a fixed numpy probe that touches no Spark
    code: context for host drift between runs, never a normaliser."""
    data = np.random.default_rng(0).random(1_000_000)
    m = np.random.default_rng(1).random((200, 200))
    times = []
    for _ in range(3):
        t = time.perf_counter()
        np.sort(data)
        np.linalg.matrix_power(m, 8)
        times.append(time.perf_counter() - t)
    return sorted(times)[1]


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class SparkHost:
    """Starts the engine's session with the benchmark's confs, and shuts the
    whole process tree down (JVM and Python workers) at the end."""

    def __init__(self, work: str, app: str):
        self.work = work
        self.app = app
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from geomesa_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "false",
        }
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = event_log_dir
        self.spark = get_spark(cpus=nproc(), app=self.app, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        """Stop the SparkContext; the JVM stays up for the next session."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop the session, then the JVM and every process below this one,
        and wait until each has exited."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        except Exception:  # e.g. a call cut off by SIGTERM; the JVM is stopped below
            self.spark = None
        gw = SparkContext._gateway
        procs = _descendants(os.getpid())
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=timeout)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        for pid in procs:
            while _running(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)
