"""Run plumbing shared by the workloads: the per-run context, the Spark
session and its shutdown, the process-tree RSS sampler, the host
record and the output-check tally.

Everything a run writes lives under ``<checkout>/.perfbench_work`` and
is removed when the run ends; Spark, the JVM and Python's ``tempfile``
are all pointed there before the JVM starts.
"""

from __future__ import annotations

import itertools
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- process tree ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver,
    JVM, Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.parts = {"driver": 0, "jvm": 0, "workers": 0}  # each part's own peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        now = {"driver": _rss_bytes(me), "jvm": 0, "workers": 0}
        for p in descendants(me):
            try:
                with open(f"/proc/{p}/comm") as f:
                    part = "jvm" if f.read().strip() == "java" else "workers"
            except OSError:
                continue
            now[part] += _rss_bytes(p)
        self.peak = max(self.peak, sum(now.values()))
        for k, v in now.items():
            self.parts[k] = max(self.parts[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak / 2**20


# -- host record ------------------------------------------------------------


def host_record() -> dict:
    """Context only (no benchmark decision reads it): core count, CPU
    calibration and the fault-in probes of the frozen bench.py."""
    import bench

    return {
        "nproc": nproc(),
        "load_1m": round(os.getloadavg()[0], 2),
        "kips": bench._cpu_calib_kips(seconds=0.2, samples=1),
        "fault_in_mbps": bench._fault_in_mbps(mb=32),
        "thp_fault_in_mbps": bench._fault_in_thp_mbps(
            mb_per_proc=16, nproc=nproc(), rounds=1
        ),
    }


# -- checks -----------------------------------------------------------------


class Checks:
    """Operations and output checks attempted and failed in one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()  # set-up may run operations in threads

    def _count(self, failure: str | None) -> None:
        with self._lock:
            self.attempted += 1
            if failure is not None:
                self.failed += 1
                self.notes.append(failure[:500])

    def check(self, ok: bool, what: str) -> bool:
        self._count(None if ok else what)
        return ok

    def operation(self, fn, what: str):
        """Run one operation; an exception counts as one failure."""
        try:
            out = fn()
        except Exception as exc:  # the run goes on and reports it
            self._count(f"{what}: {type(exc).__name__}: {exc}")
            return None
        self._count(None)
        return out

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# -- per-run context --------------------------------------------------------


class Bench:
    """One run: arguments, scratch space, session, tracer and tallies."""

    def __init__(self, seed: int, seconds: float, tracer, tiny: bool = False):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.tiny = tiny
        self.checks = Checks()
        self.cycles: list[float] = []
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        self.spark = None
        self._dirs = itertools.count(1)

    def scratch(self, name: str) -> str:
        """A fresh directory under the run's work dir."""
        path = os.path.join(self.work, f"{next(self._dirs):04d}-{name}")
        os.makedirs(path)
        return path

    def prepare_env(self) -> None:
        os.makedirs(os.path.join(self.work, "tmp"))
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        import tempfile

        tempfile.tempdir = None

    def start_spark(self):
        from tinybrain_spark.session import get_spark

        cores = nproc()
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=max(32, cores),
            extra_conf={
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
                # keep every job, stage and execution of a run in the
                # status store for the traced profile
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        self.tracer.bind(None)
        if self.spark is not None:
            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        reap(kids)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to end; terminate, then kill, stragglers."""

    def alive() -> list[int]:
        out = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(p)
            except OSError:
                pass
        return out

    deadline = time.time() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
        while alive() and time.time() < deadline:
            time.sleep(0.1)
        if not alive():
            return
        deadline = time.time() + 5
