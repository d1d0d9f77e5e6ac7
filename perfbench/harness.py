"""Run environment: a private work directory inside the checkout, the
Spark session set-up that ``setup_s`` times, and process-level probes.

Everything a run writes (inputs cache, Spark local dirs, temp files,
Spark's log, the event log, pass outputs) lives under ``.perfbench/``
at the checkout root.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunEnv:
    """Directories and process environment of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.work, "cache")
        self.dir = os.path.join(self.work, f"run-{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        self.trace = trace
        self.log_path = os.path.join(self.dir, "spark.log")
        self.eventlog_dir = os.path.join(self.dir, "eventlog")
        self._saved: list[tuple[int, int]] = []

    def __enter__(self) -> "RunEnv":
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in (self.cache, self.dir, self.eventlog_dir, self.path("tmp"), self.path("local")):
            os.makedirs(d, exist_ok=True)
        # Executors, Python workers and the zip ship_package builds all
        # write below the run directory, never to the system temp dir.
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_<user>
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        tempfile.tempdir = None  # re-read TMPDIR
        # Spark's log and anything the JVM or the Python workers print go
        # to a file; the benchmark's own output keeps the original
        # stdout and stderr.
        sys.stdout.flush()
        sys.stderr.flush()
        log_fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        for fd in (1, 2):
            self._saved.append((fd, os.dup(fd)))
            os.dup2(log_fd, fd)
        os.close(log_fd)
        sys.stdout = os.fdopen(os.dup(self._saved[0][1]), "w", buffering=1)
        sys.stderr = os.fdopen(os.dup(self._saved[1][1]), "w", buffering=1)
        return self

    def __exit__(self, *exc) -> None:
        sys.stdout.flush()
        sys.stderr.flush()
        while self._saved:
            fd, saved = self._saved.pop()
            os.dup2(saved, fd)
            os.close(saved)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.eventlog_dir,
            })
        return conf

    def log_offset(self) -> int:
        return os.path.getsize(self.log_path)

    def log_lines_since(self, start: int, end: int | None = None) -> list[str]:
        with open(self.log_path, "rb") as f:
            f.seek(start)
            data = f.read(None if end is None else max(0, end - start))
        return data.decode("utf-8", errors="replace").splitlines()

    def remove(self, keep: tuple[str, ...] = ()) -> None:
        """Delete the run directory except the named files."""
        for name in os.listdir(self.dir):
            if name in keep:
                continue
            p = self.path(name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)


def new_session(env: RunEnv):
    """The run's one set-up: ``get_spark``, which launches the driver
    JVM as every CLI invocation does, + ``ship_package``; and its time."""
    from beholder_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=env.spark_conf())
    session.ship_package(spark)
    return spark, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under ``path``, hidden checksum files excluded."""
    files = size = 0
    for dp, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        for f in fs:
            if f.startswith("."):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile, as numpy's default."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
