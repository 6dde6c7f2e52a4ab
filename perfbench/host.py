"""Host facts and the Spark session the benchmark runs in.

Everything the benchmark writes (inputs, tables, Spark scratch, event logs,
span files) lives under one work directory inside the checkout, so a run
reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> dict[str, int]:
    """Aggregate /proc/stat counters (all CPUs) by field name."""
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return dict(zip(names, (int(x) for x in parts[1:1 + len(names)])))


class HostWatch:
    """Load average and CPU steal across a run, and peak RSS of the process
    tree rooted at this process (the driver, its JVM and Python workers),
    sampled from /proc by a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.load_before = loadavg()
        self._cpu0 = cpu_jiffies()

    def __enter__(self) -> "HostWatch":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.load_after = loadavg()
        cpu1 = cpu_jiffies()
        delta = {k: cpu1[k] - self._cpu0[k] for k in cpu1}
        total = sum(delta.values()) or 1
        self.steal_share = delta["steal"] / total
        self.steal_jiffies = delta["steal"]

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = sum(f[21] for f in process_tree()) * PAGE / 2**20
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self._stop.wait(self.interval_s)

    def report(self) -> dict:
        return {"nproc": nproc(), "loadavg_before": self.load_before,
                "loadavg_after": self.load_after,
                "steal_jiffies": self.steal_jiffies,
                "steal_share": round(self.steal_share, 5)}


def _tree_stats() -> dict[int, tuple[str, list[int]]]:
    """pid -> (state, /proc/<pid>/stat fields after the command name as
    ints, so field k of proc(5) is index k - 3) of this process and its
    descendants: the driver, its JVM and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: fields restart after the last ')'
        rest = stat[stat.rfind(")") + 2:].split()
        fields = [int(x) if x.lstrip("-").isdigit() else 0 for x in rest]
        stats[int(name)] = (rest[0], fields)
        children.setdefault(fields[1], []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def process_tree() -> list[list[int]]:
    """/proc/<pid>/stat fields of this process and its descendants (see
    ``_tree_stats``)."""
    return [fields for _, fields in _tree_stats().values()]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used, including
    children it has already reaped. Time the hypervisor steals from the
    host's vCPUs is not in it, so it reads steadier than wall time on a
    shared host."""
    return sum(sum(f[11:15]) for f in process_tree()) / TICK


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that a
    Python worker whose JVM has exited is reparented here, stays in
    ``process_tree()``, and is stopped by ``stop_descendants()``."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants() -> list[int]:
    """Pids of the running (not zombie) descendants of this process."""
    me = os.getpid()
    return [pid for pid, (state, _) in _tree_stats().items()
            if pid != me and state != "Z"]


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The JVM exits on its own once its stdin closes; what is still running
    after ``grace_s`` gets SIGTERM, then SIGKILL. Every child, including
    orphans adopted through ``adopt_orphans()``, is reaped."""
    import signal

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=grace_s)
        SparkContext._gateway = SparkContext._jvm = None
    except Exception:  # the signals below stop what is left
        pass
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        deadline = time.monotonic() + wait_s
        pids = _descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.monotonic() < deadline:
            _reap()
            pids = _descendants()
            time.sleep(0.05)
        if not pids:
            break
    _reap()


def prepare_env(root: str, work: str) -> None:
    """Environment every process of the run inherits: Python workers import
    the library and the benchmark from the checkout root, and temp files go
    under the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def make_session(work: str, cores: int, event_log_dir: str | None = None):
    """local[cores] session with driver memory sized to the host: a quarter
    of RAM, capped at 4 GB (the tables here are a few hundred MB)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    driver_mb = max(1024, min(4096, mem_total_mb() // 4))
    b = (SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
         .config("spark.driver.memory", f"{driver_mb}m")
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.qfilter.intermediateDir", os.path.join(work, "scratch"))
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.compress", "false"))
    t0 = time.perf_counter()
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0
