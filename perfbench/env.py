"""Benchmark process environment: pinned Spark resources, a private work
directory inside the checkout, peak-memory readout, and an orderly stop of
every process the run started."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Resources:
    """Pinned engine resources (recorded in BENCHMARK.json's command)."""

    cores: int
    driver_memory: str
    shuffle_partitions: int

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"


def parse_cores(spec: str) -> int:
    """'nproc' means every CPU this process may run on."""
    if spec == "nproc":
        return len(os.sched_getaffinity(0))
    n = int(spec)
    if n < 1:
        raise ValueError("--cores must be >= 1 or 'nproc'")
    return n


class Env:
    """Owns the run's work directory and Spark session.

    Use as a context manager: entering starts Spark (timed into
    ``session_s``), leaving stops Spark, waits for the JVM and its Python
    workers to exit, and deletes the work directory."""

    def __init__(self, root: str, tag: str, res: Resources):
        self.root = root
        self.res = res
        self.work = os.path.join(root, "perfbench", "_work", f"{tag}-p{os.getpid()}")
        self.spark = None
        self.session_s = 0.0
        self._proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def __enter__(self) -> "Env":
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        # Python workers import the package by name
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        from pyspark import SparkContext

        from chronographer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=self.res.master,
            shuffle_partitions=self.res.shuffle_partitions,
            extra_conf={
                "spark.driver.memory": self.res.driver_memory,
                "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the traced run reads per-job stage metrics from the status
                # store; keep every job of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self._proc = SparkContext._gateway.proc
        return self

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """Sum of peak resident set sizes (VmHWM) of the driver JVM and every
        process below it (the Python workers)."""
        pids = [self.jvm_pid()]
        pids += _descendants(pids[0])
        return sum(_vm_hwm_kb(p) for p in pids) / 1024.0

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                children = _descendants(self.jvm_pid())
                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if self._proc is not None:
                    # the JVM exits when its stdin pipe closes
                    self._proc.stdin.close()
                    try:
                        self._proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        self._proc.kill()
                        self._proc.wait()
                _wait_gone(children, timeout=30)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:  # another run still works there
                pass


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    """True while the process runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for p in pids:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
