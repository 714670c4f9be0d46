"""Host environment: pinned engine settings, version record, memory sampling,
process cleanup and the two fixed diagnostic probes.

Only environment variables the engine already reads are pinned:
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_LOCAL_DIRS``,
plus ``PYTHONPATH`` so that Spark's Python workers can import the
package from the checkout.
"""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(root: str, work: str, max_cpus: int | None = None) -> dict[str, str]:
    """Set the engine's sizing variables for this machine; returns them.

    ``max_cpus`` caps the task slots below the usable CPUs, leaving the
    rest to the driver's own threads and processes."""
    cpus = min(len(os.sched_getaffinity(0)), max_cpus or os.cpu_count())
    heap_gb = max(1, min(2, ram_bytes() // (6 << 30)))
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[key], exist_ok=True)
    os.environ.update(pinned)
    return pinned


def spark_conf(work: str) -> dict[str, str]:
    """Session settings that keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def versions(spark) -> dict[str, str]:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def process_start_time() -> float:
    """Wall-clock start of this process (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited while listing
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _pss(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, in bytes."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited while sampling
        pass
    return 0


class PeakRss:
    """Samples the resident memory (PSS) of this process and its descendants."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_session(spark) -> None:
    """End the JVM and every worker it started, and wait for them.

    Streams are stopped before this; the JVM is killed rather than asked
    to shut down, since nothing it holds outlives the run."""
    me = os.getpid()
    procs = descendants(me)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=60)
    else:
        spark.stop()
    reap(procs)


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to end; kill those still alive after ``timeout``."""
    deadline = time.time() + timeout
    live = list(pids)
    while live and time.time() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def jvm_probe(spark, rows: int = 5_000_000) -> float:
    """Fixed JVM-arithmetic job (the shape of bench.py's probe); seconds."""
    t0 = time.time()
    spark.range(rows).selectExpr("sum(id * 2 + 1) AS s").collect()
    return time.time() - t0


class IForestProbe:
    """Direct single-threaded IsolationForest fit and score on one 500-row
    window per plant, drawn once from ``streaming.generator.energy_batch``."""

    def __init__(self, spark) -> None:
        from real_time_data_anomaly_detection_spark.schemas import PLANT_FEATURES
        from real_time_data_anomaly_detection_spark.streaming.generator import energy_batch

        pdf = energy_batch(spark, n_rows=2400, seed=42).toPandas()
        self.windows = []
        for plant, feats in sorted(PLANT_FEATURES.items()):
            rows = pdf[pdf["plant_type"] == plant].tail(500)
            self.windows.append(rows[feats].astype(float).to_numpy())

    def run(self) -> tuple[float, float]:
        """Mean (fit_s, score_s) per plant window."""
        from real_time_data_anomaly_detection_spark.functions.iforest import IsolationForest

        fit = score = 0.0
        for x in self.windows:
            t0 = time.perf_counter()
            model = IsolationForest(contamination=0.05, random_state=42).fit(x)
            t1 = time.perf_counter()
            model.score_samples(x)
            score += time.perf_counter() - t1
            fit += t1 - t0
        return fit / len(self.windows), score / len(self.windows)
