"""Spark session, process-memory sampling and host context.

Everything the benchmark writes (Spark scratch space, event logs, the
input cache, sinks) lives under one work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers into ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def make_session(work: str, cpus: int, event_log: str | None = None):
    """A ``local[cpus]`` session with the engine's recommended config
    (``pipeline.configure_session``) and the same sizing choices as
    ``bench.make_session``, but with all scratch space under ``work``."""
    from pyspark.sql import SparkSession

    from libpdf_spark.pipeline import configure_session

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("libpdf_spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed heap and young generation: without them the G1 heap
        # grows by timing-dependent ergonomics, and on a 4-core host the
        # JVM's peak RSS varied by 16-26% between identical runs (2-3%
        # with them)
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -Xmn512m -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        builder = builder.config("spark.eventLog.dir", event_log).config(
            "spark.eventLog.compress", "false"
        )
    spark = configure_session(
        builder, shuffle_partitions=max(cpus, 8), arrow_batch=256
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every process under it (the PySpark daemon and workers) ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # workers are re-parented when the JVM exits: list them first
    left = descendants(os.getpid())
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the PySpark daemon and its workers exit once the JVM is gone; any
    # left after a grace period are killed
    for sig, grace in ((None, 2.0), (signal.SIGKILL, 10.0)):
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and any(_alive(p) for p in left):
            time.sleep(0.02)
        if not any(_alive(p) for p in left):
            return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class RssSampler:
    """Peak summed resident memory of this process's descendants named
    ``java`` or ``python*`` (the JVM, the PySpark daemon and its Python
    workers), sampled every ``interval`` seconds while the ``with``
    block runs. ``peak_by_comm`` keeps each name's own peak.

    Other descendants are helpers the JVM spawns (``chmod``) and are
    left out: between fork and exec such a child shares the JVM's
    memory and would count it twice."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            by_comm: dict[str, float] = {}
            for pid in descendants(me):
                comm = _comm(pid)
                if comm == "java" or comm.startswith("python"):
                    by_comm[comm] = by_comm.get(comm, 0.0) + _rss_mb(pid)
            self.peak_mb = max(self.peak_mb, sum(by_comm.values()))
            for comm, mb in by_comm.items():
                self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0.0), mb)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def context(spark, sf, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "sf": sf,
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "platform": platform.platform(),
        "comparable_only_at_same_nproc": True,
        "note": (
            "results from a host with a different nproc are not comparable; "
            "BENCH_r01..r08 ran at local[32]"
        ),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
