"""Session lifetime, memory sampling and the shared run record.

Sizing: ``local[N]`` with N = the CPUs this process may run on, and a
driver heap well below physical memory. Every file a run writes
(lake, generated tables, Spark scratch, warehouse) lives under the
run's work directory inside the checkout, which the caller removes.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field


#: seconds between two memory samples
RSS_INTERVAL_S = 1.0


#: nominal seconds of one measured cycle
CYCLE_BUDGET_S = 10.0


def measured_units(seconds: int) -> int:
    """How many cycles a run of ``seconds`` measures: a pure function
    of the requested seconds, never of how fast the program runs, so
    a faster program is measured on the same amount of work and on
    tables of the same size."""
    return max(1, round(seconds / CYCLE_BUDGET_S))


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, capped at 4 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, phys // 4 >> 30))}g"


def configure_env(root: str, bench_dir: str, work: str) -> int:
    """Environment for the session and its Python workers; must run
    before pyspark starts the JVM. Returns the CPU count used."""
    cpus = cpu_count()
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # workers import the package and the provider by module path
    # whatever the launch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, bench_dir] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return cpus


def start_session(work: str):
    from cardano_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # native-library extraction and JVM perf counters would
            # otherwise land in the system temp directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live
    descendants, including the children each of them has reaped.
    Unlike wall time, it does not count time the host steals from
    this machine."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process, the JVM and the Python
    workers, sampled on a background thread."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = [os.getpid(), *descendants()]
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it forked, and
    wait for each process to end."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on stdin EOF
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            if _is_zombie(pid):
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] == b"Z"


@dataclass
class RunRecord:
    """What a workload hands back to the command line."""

    setup_s: float = 0.0
    cycle_s: list[float] = field(default_factory=list)
    cycle_cpu_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check; a failed one counts as a failed
        operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED check: {what}")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
