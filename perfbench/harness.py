"""Shared plumbing for the perfbench workloads: the run's working
directory and environment, the Spark session and its warm-up, timing
statistics, peak-RSS sampling, the CPU calibration loop and Spark job
accounting.

Nothing here starts a thread, process or file at import time; run.py
builds one :class:`Run` per invocation and every workload receives it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

CALIB_N = 1_500_000
# a timed window whose vCPUs lost more than this share of their time to the
# hypervisor is measured once more; quiet windows here lose under 2%,
# contended ones 7-30%. Two windows at most: contention often lasts
# minutes, and a third window would cost its time in every such run
STEAL_LIMIT_PCT = 5.0
WINDOW_TRIES = 2


def calib_ms() -> float:
    """Wall time of one fixed pure-Python loop on one core (ms). Only host
    compute contention can move it, so it is the run's noise proxy."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def steal_s() -> float:
    """CPU time the hypervisor has taken from this VM's vCPUs since boot,
    summed over them (s): the part of host contention the guest can see."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def quiet_window(measure):
    """Run ``measure()``, one timed window returning its samples, again
    while the hypervisor took more than STEAL_LIMIT_PCT of the vCPUs' time
    during it, up to WINDOW_TRIES windows in all. Returns the samples of the
    window that lost the least, and every window's steal share (%)."""
    windows = []
    for _ in range(WINDOW_TRIES):
        t0, s0 = time.perf_counter(), steal_s()
        samples = measure()
        pct = 100.0 * (steal_s() - s0) / ((time.perf_counter() - t0) * (os.cpu_count() or 1))
        windows.append((pct, samples))
        if pct <= STEAL_LIMIT_PCT:
            break
    return min(windows, key=lambda w: w[0])[1], [w[0] for w in windows]


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def du_mb(*paths: str) -> float:
    """Bytes on disk under the given files/directories, in MB."""
    total = 0
    for root in paths:
        if os.path.isfile(root):
            total += os.path.getsize(root)
            continue
        for dirpath, _, files in os.walk(root):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, name))
                except FileNotFoundError:  # a spill released mid-walk
                    pass
    return total / 1e6


class Recorder:
    """Thread-safe sample lists and counters for one run."""

    def __init__(self):
        self._lock = threading.Lock()
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.samples.setdefault(key, []).append(value)

    def attempt(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what[:300])


class Run:
    """One benchmark invocation: its arguments, working directory,
    environment, Spark session and results."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root  # the checkout root (holds clustopher_spark/)
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.bench_dir = os.path.dirname(os.path.abspath(__file__))
        self.state_dir = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.state_dir, f"work-{os.getpid()}")
        self.rec = Recorder()
        self.metrics: dict[str, tuple[float, str]] = {}  # name -> (value, unit)
        self.layer: dict[str, tuple[float, str]] = {}
        self.report: dict = {}  # printed only: workload-specific names and counts
        self.checks: list[tuple[str, bool, str]] = []
        self.spark = None
        self._jvm_proc = None
        self.jvm_pid = None

    # --- environment -------------------------------------------------------

    def prepare_env(self) -> None:
        """Point every temp/spill/scratch location of Python, the JVM, Spark
        and the native-kernel cache into the run's working directory."""
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "spark-local"), os.path.join(self.work, "native")):
            os.makedirs(d, exist_ok=True)
        env = os.environ
        env["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        env["CLUSTOPHER_NATIVE_DIR"] = os.path.join(self.work, "native")
        env["SPARK_CONF_DIR"] = os.path.join(self.bench_dir, "conf")
        # two task slots: the inputs are small, and the JIT compiler and GC
        # threads, the Python driver, HTTP server and load generator need
        # the other cores; local[all cores] ran slower and less steadily
        env.setdefault("SPARK_GRAFT_CPUS", str(min(2, os.cpu_count() or 2)))
        env.setdefault("CLUSTOPHER_DRIVER_MEM", "1536m")
        # both JVMs spark-submit starts (its launcher, then the driver)
        for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
            env[var] = f"{env.get(var, '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
        # a fixed-size driver heap: G1 grows a smaller initial heap by GC
        # timing, which made the driver's peak RSS swing by a fifth
        env["SPARK_SUBMIT_OPTS"] += f" -Xms{env['CLUSTOPHER_DRIVER_MEM']}"
        pp = env.get("PYTHONPATH", "")
        if self.root not in pp.split(os.pathsep):
            env["PYTHONPATH"] = self.root + (os.pathsep + pp if pp else "")
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def env_record(self) -> dict:
        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_memory": os.environ.get("CLUSTOPHER_DRIVER_MEM"),
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "calib_ms": [round(calib_ms(), 2) for _ in range(3)],
        }

    # --- Spark -------------------------------------------------------------

    def start_spark(self) -> float:
        """get_spark() plus one trivial job: the session's own start cost."""
        t0 = time.perf_counter()
        from clustopher_spark import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        from pyspark import SparkContext

        self._jvm_proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(8).count()
        return time.perf_counter() - t0

    def warm_up(self, python_workers: bool = True) -> float:
        """Compile the native kernels and, when the workload runs Python
        kernels, start the Python worker pool, so the first measured
        operation pays neither."""
        t0 = time.perf_counter()
        from clustopher_spark.operators import native, native_dbscan

        native.load()
        native_dbscan.load()
        if python_workers:
            def first_row(pdf):  # nested: pickled by value, workers need no import
                return pdf.head(1)

            df = self.spark.range(0, 4096, 1, int(os.environ["SPARK_GRAFT_CPUS"]))
            df.selectExpr("id % 64 AS k", "id").groupBy("k").applyInPandas(
                first_row, "k long, id long"
            ).count()
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        try:
            self.spark.stop()
        finally:
            proc, self.spark = self._jvm_proc, None
            if proc is not None:
                try:
                    if proc.stdin:
                        proc.stdin.close()  # the gateway JVM exits on EOF
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS of the driver's two sides: this Python process and its JVM."""
        return {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(self.jvm_pid)}

    # --- results -----------------------------------------------------------

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer_metric(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def cleanup(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)

    def write_trace_file(self, payload: dict) -> str:
        out = os.path.join(self.state_dir, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(payload, f, indent=1, default=str)
        return path


class JobAccounting:
    """Spark jobs/stages/tasks attributed to operations through one job
    group per operation, read back from ``statusTracker()`` after the run
    (the tracker is only consulted off the timed path)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._lock = threading.Lock()
        self._n = 0
        self.groups: dict[str, str] = {}  # group id -> operation kind

    def begin(self, kind: str) -> str:
        with self._lock:
            self._n += 1
            gid = f"pb-{kind}-{self._n}"
            self.groups[gid] = kind
        self.sc.setJobGroup(gid, kind)
        return gid

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, list[tuple[int, int]]]:
        """{kind: [(jobs, tasks run) per operation]}, in operation order."""
        tracker = self.sc.statusTracker()
        out: dict[str, list[tuple[int, int]]] = {}
        for gid, kind in self.groups.items():
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info is not None else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numCompletedTasks if st is not None else 0
            out.setdefault(kind, []).append((len(jobs), tasks))
        return out
