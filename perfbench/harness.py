"""Process plumbing shared by every workload: session hygiene, the timed
loop, the sampler of process-tree RSS and host speed, provenance and the
result record."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
MIN_OPS = 3            # a median needs a few passes even on a slow machine
SAMPLE_INTERVAL_S = 0.05
# CPU time of one host-speed probe unit (two FFT round trips over a
# 32 x 2048 block) on the reference 4-vCPU VM, median during serve passes
PROBE_NOMINAL_S = 1.75e-3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of physical memory, capped at 2 GiB (ample for the
    workloads' inputs): the session default (24g) exceeds small machines."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{min(2048, total_kb // 8192)}m"


class Run:
    """One benchmark process: its private work directory under the checkout
    and the session settings, applied before Spark starts."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.dir = os.path.join(STATE_DIR, f"run-{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        self.eventlog_dir = self.path("eventlog")
        for d in (self.tmp, self.path("local"), self.eventlog_dir):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_DRIVER_MEM"] = driver_memory()
        # Python workers import the package from the checkout, wherever the
        # process was started
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.cores = nproc()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def session_conf(self, event_log: bool) -> dict:
        # set both ways: the session builder keeps options across sessions
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            # plain JSON lines: the 4.x default (zstd, rolling) needs
            # codecs the standard library lacks
            conf.update({
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def build_session(self, event_log: bool = False):
        from msi_preprocessing_pipeline_spark.session import build_session
        return build_session(f"perfbench-{self.workload}",
                             parallelism=self.cores,
                             extra_conf=self.session_conf(event_log))

    def event_log(self) -> str:
        names = [n for n in os.listdir(self.eventlog_dir)
                 if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log, found {names}")
        return os.path.join(self.eventlog_dir, names[0])

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


class OpResult:
    """Start times and durations of the timed operations, and how many of
    them raised."""

    def __init__(self):
        self.starts: list[float] = []
        self.seconds: list[float] = []
        self.ok: list[bool] = []

    @property
    def attempted(self) -> int:
        return len(self.ok)

    @property
    def raised(self) -> int:
        return self.ok.count(False)

    def median(self, seconds: list[float] | None = None) -> float:
        """Median duration of the operations that did not raise, from
        ``seconds`` (one per operation) if given."""
        seconds = self.seconds if seconds is None else seconds
        good = [s for s, ok in zip(seconds, self.ok) if ok]
        return statistics.median(good or seconds)


def run_op(op, i: int, res: OpResult) -> None:
    t0 = time.perf_counter()
    try:
        op(i)
        ok = True
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc()
        ok = False
    res.starts.append(t0)
    res.seconds.append(time.perf_counter() - t0)
    res.ok.append(ok)


def timed_loop(op, seconds: float) -> OpResult:
    """Call ``op(i)`` back to back until ``seconds`` have passed and at least
    MIN_OPS calls were made (closed loop, one client)."""
    res = OpResult()
    deadline = time.perf_counter() + seconds
    i = 0
    while i < MIN_OPS or time.perf_counter() < deadline:
        run_op(op, i, res)
        i += 1
    return res


def stop_spark() -> None:
    """Stop the active Spark context, then the JVM it runs in, and wait for
    it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


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
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident memory of ``root_pid`` and all its descendants, and the
    part of it held by JVM processes."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, jvm, todo = 0, 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


def _probe_unit(x: np.ndarray) -> np.ndarray:
    for _ in range(2):
        x = np.fft.irfft(np.fft.rfft(x, axis=1), axis=1)
    return x


class Sampler:
    """A thread that samples while the block runs. It records the process
    tree's RSS (``peak`` of the whole tree, ``peak_jvm`` of its JVM part)
    and the host's speed.

    The host is a few cores of a shared machine, and its speed drifts by a
    third within a minute as other tenants come and go. The speed probe is
    a fixed FFT unit timed in thread CPU time, so it sees how fast the cores
    execute, not how long the thread waited for one. It runs for about 2 ms
    every 50 ms on a driver thread that is otherwise idle."""

    def __init__(self):
        self.peak = self.peak_jvm = 0
        self.probe: list[tuple[float, float]] = []  # (wall start, CPU s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        x = np.random.default_rng(0).random((32, 2048))
        while True:
            total, jvm = tree_rss_bytes(pid)
            self.peak = max(self.peak, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            t0, cpu0 = time.perf_counter(), time.thread_time()
            x = _probe_unit(x)
            self.probe.append((t0, time.thread_time() - cpu0))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def host_speed(self) -> float:
        """Median host speed over the block; 1.0 is the nominal host."""
        return PROBE_NOMINAL_S / statistics.median(c for _t, c in self.probe)

    def at_nominal_speed(self, res: OpResult) -> list[float]:
        """Each operation's wall time on the nominal host: its wall time
        times the median host speed the probe saw while it ran."""
        out = []
        for t0, s in zip(res.starts, res.seconds):
            during = [c for t, c in self.probe if t0 <= t < t0 + s]
            speed = (PROBE_NOMINAL_S / statistics.median(during) if during
                     else self.host_speed())
            out.append(s * speed)
        return out

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def provenance(run: Run, sizes: dict, input_digest: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark
    return {
        "workload": run.workload, "seed": run.seed, "trace": run.trace,
        "sizes": sizes, "nproc": run.cores,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "versions": {"python": platform.python_version(),
                     "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__,
                     "duckdb": duckdb.__version__},
        "input_sha256": input_digest,
    }


def emit(run: Run, correct: bool, attempted: int, failed: int,
         metrics: dict[str, float], units: dict[str, str],
         record: dict) -> None:
    """Write the result record under ``.perfbench/results`` and print it;
    the last stdout line is the contract's result object."""
    result = {
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    record = dict(record, result=result)
    out = os.path.join(STATE_DIR, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    sys.stdout.flush()
    print(json.dumps(result))
