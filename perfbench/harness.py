"""Shared machinery for the benchmark: Spark session lifecycle, host stamp,
contention wait, peak-RSS sampling, job groups and the result record.

Everything here observes the program from outside: it starts sessions
through ``xoverrr_spark.session.get_spark`` and reads ``/proc``; it never
patches the package.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

NPROC = os.cpu_count() or 1
# Spark's task threads: one core is left to the driver, the JVM's own
# threads and the Python workers' overlap, so a run measures the program
# rather than the scheduler
CORES = max(1, NPROC - 1)


def median(values):
    """Median; 0.0 when every sample failed (the failure is counted)."""
    return statistics.median(values) if values else 0.0


def quiet_calls(steals: list[float], slack: float = 0.01) -> list[int]:
    """Indices of the calls during which other tenants stole the least CPU
    time from the host: every call within ``slack`` of the quietest one,
    and at least the quieter half. Selection is by the host's steal
    counter, never by the call's own time."""
    order = sorted(range(len(steals)), key=lambda i: steals[i])
    if not order:
        return []
    near = sum(1 for i in order if steals[i] <= steals[order[0]] + slack)
    return sorted(order[: max(near, (len(order) + 1) // 2)])


# ------------------------------------------------------------- host stamp --

def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        parts = [int(x) for x in fh.readline().split()[1:]]
    idle = parts[3] + parts[4]  # idle + iowait
    return sum(parts), idle


def _steal_ticks() -> tuple[int, int]:
    """(all ticks, stolen ticks) of the host's CPUs so far: time the
    hypervisor gave this machine's CPUs to other tenants."""
    with open("/proc/stat") as fh:
        parts = [int(x) for x in fh.readline().split()[1:]]
    return sum(parts), parts[7]


def busy_cores(window_s: float = 0.5) -> float:
    """Cores busy (system-wide) over a short window while this process
    sleeps: the contention signal loadavg is too slow to give."""
    t0, i0 = _cpu_times()
    time.sleep(window_s)
    t1, i1 = _cpu_times()
    total = max(t1 - t0, 1)
    return NPROC * (1.0 - (i1 - i0) / total)


def wait_for_quiet(limit_cores: float = 1.0, max_wait_s: float = 5.0) -> dict:
    """Wait (bounded) until other processes use less than ``limit_cores``
    cores, so a run does not start on top of someone else's burst."""
    t0 = time.monotonic()
    busy = busy_cores()
    while busy > limit_cores and time.monotonic() - t0 < max_wait_s:
        busy = busy_cores()
    return {"waited_s": round(time.monotonic() - t0, 2), "busy_cores": round(busy, 2)}


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


# ----------------------------------------------------------------- memory --

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pid: int) -> list[int]:
    kids = _children_map()
    todo, seen = [root_pid], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``root_pid`` and its descendants: the
    JVM plus the Python worker daemon and workers it forked."""
    return sum(_hwm_kb(pid) for pid in _tree(root_pid)) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its
    descendants, including their children that have already exited."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


# ---------------------------------------------------------------- session --

class Bench:
    """One benchmark run: owns the work directory, the Spark session(s) it
    starts, the operation counters and the metric record."""

    def __init__(self, root: str, workload: str, seed: int, scale: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.scale = scale
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.java = None
        self.event_dir = None
        self.attempted = 0
        self.failed = 0
        self.gates: dict[str, bool] = {}
        self.errors: list[str] = []
        self.peak_rss = 0.0
        self.notes: dict = {}
        self._dirs = 0
        # Spark's scratch space, Python's temp files and the JVM's tmpdir
        # all stay inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # a fixed 1 GiB heap (min = max, below) keeps the JVM's resident
        # size from depending on when G1 decides to grow the heap
        os.environ["XOVERRR_DRIVER_MEM"] = "1g"
        # scripts/ holds the corpus generator the dedup workload uses
        sys.path.append(os.path.join(root, "scripts"))
        path = [root, os.path.join(root, "scripts")]
        if os.environ.get("PYTHONPATH"):
            path.append(os.environ["PYTHONPATH"])
        os.environ["PYTHONPATH"] = os.pathsep.join(path)

    def new_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{name}-{self._dirs}")

    # -- session lifecycle --

    def start_session(self, traced: bool = False):
        """(Re)start the SparkSession at ``local[CORES]``. The JVM is
        launched once per run; later starts reuse it. ``traced`` turns on
        Spark's event log into a directory of this run."""
        from xoverrr_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms1g",
        }
        if traced:
            self.event_dir = self.new_dir("eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.workload}", cores=CORES, extra_conf=conf)
        if self.java is None:
            self.java = self.spark._jvm.System.getProperty("java.version")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def sample_rss(self) -> None:
        pid = self.jvm_pid()
        if pid is not None:
            self.peak_rss = max(self.peak_rss, tree_peak_rss_mb(pid))

    def stop_session(self) -> None:
        if self.spark is not None:
            self.sample_rss()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))  # only if no other run uses it
            except OSError:
                pass

    @contextmanager
    def job_group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- operations and gates --

    def op(self, fn, *args, **kwargs):
        """One attempted operation; a raised exception counts as failed
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # the loop must go on and report it
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:300])
            return None

    def timed(self, fn, *args, **kwargs):
        """``op`` with wall time: (seconds, result); seconds is None when
        the call raised."""
        failed = self.failed
        t0 = time.perf_counter()
        out = self.op(fn, *args, **kwargs)
        dt = time.perf_counter() - t0
        return (None if self.failed > failed else dt), out

    def timed_cpu(self, fn) -> tuple[float | None, float, float]:
        """``timed`` plus the CPU seconds the call cost this process, the
        JVM and its Python workers, and the share of the host's CPU time
        stolen by other tenants meanwhile."""
        c0, (t0, s0) = tree_cpu_s(os.getpid()), _steal_ticks()
        dt, _ = self.timed(fn)
        c1, (t1, s1) = tree_cpu_s(os.getpid()), _steal_ticks()
        return dt, c1 - c0, (s1 - s0) / max(t1 - t0, 1)

    def gate(self, name: str, ok: bool) -> None:
        """A correctness gate: one operation, failed when it misses."""
        self.attempted += 1
        ok = bool(ok)
        self.gates[name] = self.gates.get(name, True) and ok
        if not ok:
            self.failed += 1


def host_stamp(java: str | None, quiet: dict, load_start: list[float]) -> dict:
    import pyspark

    return {
        "nproc": NPROC,
        "spark_cores": CORES,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "contention_wait": quiet,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def emit(result: dict, named: list[tuple[str, float, str]], record: dict, out_dir: str) -> None:
    """Print the human-readable lines, write the full record, and print the
    one-line JSON result last."""
    print("perfbench host " + json.dumps(record["host"], sort_keys=True))
    for name, value, unit in named:
        print(f"perfbench metric {name} = {value:.6g} {unit}")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{record['workload']}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    print(json.dumps(result))
