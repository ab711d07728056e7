"""Shared run state: pinned environment, session, work directories, the
tracer, timed set-up and the summary statistics every workload uses."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time

from spans import Tracer

# local[N] with N = the cores this process may use; a heap that fits a
# 15 GB host next to the Python driver (the package default is 16g)
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run of one workload, inside ``work`` (removed at the
    end, so no table or segment carries over to the next run)."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(
            root, ".bench_work", f"{workload}-{seed}-{os.getpid()}"
        )
        self.tracer = Tracer(trace)
        self.spark = None
        self.jvm_pid = None
        self._n = 0
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(CPUS),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "TMPDIR": os.path.join(self.work, "tmp"),
            }
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def fresh(self, name: str) -> str:
        """A new, empty directory under the run's work directory."""
        self._n += 1
        path = os.path.join(self.work, f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path

    def _start_session(self) -> None:
        from pwc_challenge_dataengineer_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Xmn256m -Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        if self.trace:
            # write executor summaries on every task end, so the deltas a
            # span reads are complete once the listener bus is drained
            conf["spark.ui.liveUpdate.period"] = "0"
        self.spark = get_spark(f"perfbench-{self.seed}", extra_conf=conf)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        if self.trace:
            self.tracer.spark = self.spark

    def setup(self, make_inputs, warm) -> tuple[object, dict]:
        """Start the session (launching the JVM), make the inputs and warm
        up, timing each part. Returns the inputs and the times; ``setup_s``
        is their sum."""
        t0 = time.perf_counter()
        self._start_session()
        t1 = time.perf_counter()
        inputs = make_inputs()
        t2 = time.perf_counter()
        warm(inputs)
        t3 = time.perf_counter()
        return inputs, {
            "session.get_spark_s": t1 - t0,
            "setup.input_gen_s": t2 - t1,
            "setup.warm_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python driver plus its JVM."""
        kb = _vm_hwm_kb(os.getpid())
        if self.jvm_pid is not None:
            kb += _vm_hwm_kb(self.jvm_pid)
        return kb / 1024

    def close(self) -> None:
        from pyspark import SparkContext

        from pwc_challenge_dataengineer_spark.session import stop_spark

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            stop_spark()
        gateway = SparkContext._gateway
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it to be gone
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
