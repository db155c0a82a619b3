"""Run-time plumbing shared by the workloads: environment pinning, the
Spark session, the process-tree RSS sampler, job groups and the
setup / warm-up / measured-pass loop."""

from __future__ import annotations

import ctypes
import gc
import os
import platform
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

from stats import Checks, Tracer

PACKAGE = "flink_repartition_watermark_example_spark"
RSS_INTERVAL_S = 0.1
PROC_EXIT_S = 30.0  # grace for the JVM and its workers to exit


def pin_environment(root: str, work: str, cores: int) -> None:
    """Pin what the engine reads from the environment, before the JVM
    starts: ``cores`` task slots, the repo on every Python worker's
    import path, and every temporary file inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # No hsperfdata file under /tmp; JVM temp files under ``work``.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _java_version() -> str:
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        lines = (r.stderr + r.stdout).splitlines()
        return next(x for x in lines if "version" in x)
    except (OSError, subprocess.SubprocessError, StopIteration):
        return "unknown"


def fingerprint(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "task_slots": int(os.environ["SPARK_GRAFT_CPUS"]),
        "cpu_model": _cpu_model(),
        "loadavg_start": _loadavg(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "seed": seed,
    }


# --- peak RSS of the process tree, read from /proc -------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> list[str]:
    """The fields of ``/proc/<pid>/stat`` after the command name: state,
    ppid, ...; empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and len(st := _stat(d)) > 1:
            children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# kcmp(2) by syscall number; KCMP_VM asks whether two processes share
# one address space.
_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def _shares_parent_mm(pid: int) -> bool:
    """Whether ``pid`` still runs in its parent's address space, as a
    child the JVM spawns does between vfork and exec: its statm then
    repeats the whole JVM's RSS."""
    st = _stat(pid)
    return _KCMP is not None and len(st) > 1 and _libc.syscall(_KCMP, pid, int(st[1]), _KCMP_VM, 0, 0) == 0


def _tree_rss(root_pid: int) -> int:
    total = 0
    for pid in _tree(root_pid):
        if pid != root_pid and _shares_parent_mm(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return bool(st) and st[0] != "Z"


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every process in ``pids`` has ended (or is a zombie
    left to its new parent); returns those still alive at ``timeout``."""
    t_end = time.monotonic() + timeout
    while (left := [p for p in pids if _alive(p)]) and time.monotonic() < t_end:
        time.sleep(0.05)
    return left


def stop_descendants() -> None:
    """Stop every process this one started and wait until each has ended.

    The JVM behind PySpark's gateway exits on end-of-file on its stdin;
    the Python workers it forked exit with it.  Whatever is still alive
    after ``PROC_EXIT_S`` is killed, and waited for again."""
    tree = _tree(os.getpid())[1:]
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = SparkContext and SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=PROC_EXIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = _wait_gone(tree, PROC_EXIT_S)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(left, PROC_EXIT_S)


class RssSampler:
    """Background sampler of the RSS summed over this process and all
    its descendants (driver Python, the JVM, Python workers)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = _tree_rss(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Harness:
    """One benchmark process: session, inputs, passes, checks, spans."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out")
        self.checks = Checks()
        self.tracer = Tracer(False)
        self.spark = None
        self.rss = RssSampler()
        self.event_log_dir: str | None = None

    # -- session --------------------------------------------------------
    def start_session(self, event_log: bool = False) -> float:
        """Start the engine's session; returns the seconds it took."""
        from flink_repartition_watermark_example_spark import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if event_log:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextmanager
    def job_group(self, group: str):
        """Tag the Spark jobs fired inside the block (traced runs only),
        restoring the caller's group afterwards."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def cleanup(self) -> None:
        self.stop_session()
        self.rss.stop()
        stop_descendants()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- the measured loop ----------------------------------------------
    def setup(self, wl, warmups: int) -> dict:
        """Everything up to the first timed pass: start the session (JVM
        included), run a warm-up job, generate and stage the seeded
        inputs, and run ``warmups`` unmeasured passes of the workload
        (JIT, codegen, Python workers).  ``setup_s`` is all of it; the
        measured passes are numbered from ``warmups`` on."""
        t0 = time.perf_counter()
        session = self.start_session(event_log=self.trace)
        self.spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        t1 = time.perf_counter()
        wl.stage(self, os.path.join(self.work, "inputs"))
        t2 = time.perf_counter()
        for i in range(warmups):
            wl.run_pass(self, i)
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.start_s": session, "sources.stage_s": t2 - t1, "warmup_passes_s": t3 - t2}

    def passes(self, wl, seconds: float, first: int) -> list:
        """Measured passes, each with its process-tree peak RSS: at least
        ``wl.min_passes``, and a new pass starts while less than
        ``seconds`` have elapsed, so the last one may run past it."""
        out = []
        t_end = time.perf_counter() + seconds
        i = first
        while len(out) < wl.min_passes or time.perf_counter() < t_end:
            # Each pass starts from collected heaps, so garbage that
            # earlier passes left is not collected inside this one's time.
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            self.rss.reset()
            r = wl.run_pass(self, i)
            r.peak_rss = self.rss.peak
            out.append(r)
            i += 1
        return out
