"""Process environment of one benchmark run: the work directory inside the
checkout, the Spark session the program is driven through, the /proc
sampler that gives CPU and RSS per process class, and the run-context
record (cores, master, steal, load, cold start)."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

CORES = 4
# set-up rounds per run. Each launches a fresh JVM (about 8 s on four
# cores), so the median is of cold set-ups; a third round would not fit
# the run time that BENCHMARK.json budgets for every workload run.
SETUP_ROUNDS = 2
# status-store retention large enough for every job of a run; the
# traced run reads the whole run's jobs, stages and SQL executions back
_RETAIN = ("spark.ui.retainedJobs", "spark.ui.retainedStages",
           "spark.sql.ui.retainedExecutions")


def prepare_dirs(root: str, tag: str) -> str:
    """Create ``<root>/.perfbench_work/<tag>-<pid>`` and point every scratch
    location of Python, the JVM and Spark into it, so the run writes
    nothing outside the checkout. Sets the knobs ``session.get_spark``
    reads (cores, driver memory, warehouse). Must run before pyspark is
    imported."""
    work = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # 4g instead of get_spark's 8g default: the host's memory is shared
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}=100000" for k in _RETAIN]
        + ["--conf spark.ui.showConsoleProgress=false", "pyspark-shell"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    return work


def _zip_into(work: str) -> None:
    """``session._ship_package`` writes the package zip to ``/tmp``; point
    that one path at the work dir so the run writes only inside the
    checkout. The rest of the function runs unchanged."""
    from dataworks_audit_data_ingest_spark import session

    path = session.Path
    session.Path = lambda p, *a: path(work) if str(p) == "/tmp" else path(p, *a)


def stop(spark) -> None:
    """Stop the session (if any) and the JVM, and wait until the JVM has
    exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def setup(work: str, rounds: int = SETUP_ROUNDS):
    """Build the session with the program's ``session.get_spark`` (JVM
    launch, confs, ``tune``, package ship) ``rounds`` times, stopping the
    session and its JVM between rounds so every round is cold. Returns
    ``(spark, median set-up seconds, every round's seconds)``."""
    from dataworks_audit_data_ingest_spark import session

    _zip_into(work)
    times = []
    spark = None
    for i in range(rounds):
        for n in os.listdir(work):  # a new process finds no zip to reuse
            if n.endswith(".zip"):
                os.remove(os.path.join(work, n))
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        times.append(time.perf_counter() - t0)
        if i < rounds - 1:
            stop(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, statistics.median(times), times


# ---------------------------------------------------------------------------
# /proc sampling
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, comm, cpu seconds, rss bytes) or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    rp = raw.rindex(")")
    comm = raw[raw.index("(") + 1 : rp]
    f = raw[rp + 2 :].split()
    return int(f[1]), comm, (int(f[11]) + int(f[12])) / _TICK, int(f[21]) * _PAGE


# /proc sampling period: short enough to see a Python worker that lives
# for a fraction of a second, long enough to cost well under 1% of a core
SAMPLE_PERIOD_S = 0.2


class ProcMon:
    """Samples the process tree under this process every
    ``SAMPLE_PERIOD_S``.
    Classes: ``driver`` (this process), ``jvm`` (java), ``pyworker``
    (python under the JVM) and ``stub`` (the S3 stand-in)."""

    def __init__(self):
        self.me = os.getpid()
        self.stub_pid: int | None = None
        self.cpu: dict[int, tuple[str, float]] = {}  # pid -> (class, last cpu)
        self.peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.sample()

    def sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in procs.items():
            children.setdefault(ppid, []).append(pid)
        rss = 0
        stack = [(self.me, "driver")]
        with self._lock:
            while stack:
                pid, cls = stack.pop()
                st = procs.get(pid)
                if st is None:
                    continue
                if pid == self.stub_pid:
                    cls = "stub"
                elif cls != "stub" and st[1] == "java":
                    cls = "jvm"
                elif cls == "jvm" and st[1].startswith("python"):
                    cls = "pyworker"
                self.cpu[pid] = (cls, st[2])
                if cls != "stub":
                    rss += st[3]
                stack.extend((c, cls) for c in children.get(pid, ()))
            self.peak_rss = max(self.peak_rss, rss)

    def totals(self) -> dict[str, float]:
        """Cumulative CPU seconds per class (fresh sample)."""
        self.sample()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "stub": 0.0}
        with self._lock:
            for cls, cpu in self.cpu.values():
                out[cls] += cpu
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class Context:
    """Cores, master, steal and load around a run, following the
    contamination protocol of ``bench.py``."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.steal0, self.total0 = _cpu_times()
        self.t0 = time.time()

    def record(self, spark, setup_times: list[float]) -> dict:
        steal1, total1 = _cpu_times()
        dt = total1 - self.total0
        return {
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "nproc": os.cpu_count(),
            "cpu_steal_pct": round(100.0 * (steal1 - self.steal0) / dt, 3) if dt else 0.0,
            "load_avg_start": round(self.load_start, 2),
            "load_avg_end": round(os.getloadavg()[0], 2),
            # every round launches a JVM; a first round half as slow again
            # as the others read the JVM and Spark jars from a cold page cache
            "cold_start": bool(setup_times[0] > 1.5 * statistics.median(setup_times[1:]))
            if len(setup_times) > 1 else True,
            "setup_rounds_s": [round(t, 3) for t in setup_times],
            "python": sys.version.split()[0],
        }
