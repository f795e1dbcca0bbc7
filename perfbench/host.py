"""Host sizing and the per-run sandbox.

The benchmark sizes the Spark session from the host it runs on (task
slots and shuffle partitions = usable CPUs, driver heap from MemTotal)
instead of relying on the package defaults, and keeps every directory
Spark, Python and the benchmark write to inside one temporary directory
under the checkout. The recorded host facts are diagnostics only: no
metric is ever rescaled by them.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import time

HEAP_SHARE = 0.2  # of MemTotal, for the driver JVM (local mode: it is the executor too)
HEAP_MAX_MB = 6 * 1024
HEAP_MIN_MB = 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(mem_total_mb() * HEAP_SHARE)))


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-thread integer loop: a contention
    signal recorded beside the timings (never used to rescale them)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000


class Sandbox:
    """A fresh temporary directory per run, under ``<checkout>/.perfbench_run``.
    Spark's local, warehouse and Java temp dirs, Python's TMPDIR and every
    input and output of the workload live in it; ``close`` removes it."""

    def __init__(self, checkout: str):
        base = os.path.join(checkout, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.path("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass  # another run's sandbox is still there


def start_spark(box: Sandbox, app: str):
    """One local Spark session sized from the host. The package's own
    ``get_spark`` builds it; the benchmark only passes the sizing and
    points every directory into the sandbox."""
    n = nproc()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    # every JVM (the launcher too) would otherwise keep its perf counters
    # in /tmp/hsperfdata_<user>, outside the sandbox
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = box.path("spark-local")
    # The initial heap is the full heap and the young generation has a fixed
    # third of it, so the peak RSS does not depend on when the collector
    # chose to grow either; what moves it is live data (caches, state).
    java_opts = (
        "-Duser.language=en -Duser.country=US "  # the package's locale pin
        f"-Xms{heap_mb()}m -Xmn{heap_mb() // 3}m "
        f"-Djava.io.tmpdir={box.tmp} -Dderby.system.home={box.path('derby')}"
    )
    from sql_cdc_spark.session import get_spark

    return get_spark(
        app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": box.path("spark-local"),
            "spark.sql.warehouse.dir": box.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    )


def descendants(root: int | None = None) -> set[int]:
    """Every live process below ``root`` (default: this process), from
    the parent links in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [os.getpid() if root is None else root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            found.add(kid)
            todo.append(kid)
    return found


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended: its parent only has
    not reaped it yet)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    deadline = time.monotonic() + timeout_s
    while True:
        pids = {p for p in pids if _alive(p)}
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and end every process it started, waiting for
    each. ``SparkSession.stop`` leaves the gateway JVM running until this
    process exits (it ends on EOF of its stdin), and the JVM's Python
    workers with it; so the JVM is told to exit here, and whatever still
    runs below this process after ``timeout_s`` is killed."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        started |= descendants()
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            proc = gateway.proc
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the JVM's Python workers outlive it briefly (they are re-parented)
        left = _wait_gone(started, timeout_s)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, timeout_s)
        if left:
            raise RuntimeError(f"processes {sorted(left)} outlived the Spark session")


def io_stall_ms() -> float:
    """Cumulative time some task stalled on I/O (/proc/pressure/io), a
    diagnostic for the shared disk; 0 where PSI is unavailable."""
    try:
        with open("/proc/pressure/io") as f:
            return int(f.readline().split("total=")[1]) / 1000
    except (OSError, IndexError, ValueError):
        return 0.0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (in local mode it also runs the tasks)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")
