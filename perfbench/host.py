"""Host-side measurement: Spark session lifecycle, process-tree memory,
contention markers and the summary statistics the report uses."""

from __future__ import annotations

import os
import subprocess
import time

# Percentile levels the report may use, highest first, in tenths of a
# percent so nearest-rank arithmetic stays exact.
_LEVELS = (999, 990, 950, 900, 750, 500)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """Highest standard percentile that has at least ten samples beyond
    it, as ``(level, value)`` by nearest rank; ``None`` below 20 samples."""
    n = len(samples)
    for tenths in _LEVELS:
        rank = (tenths * n + 999) // 1000  # ceil(level% of n)
        if rank >= 1 and n - rank >= 10:
            return tenths / 10, sorted(samples)[rank - 1]
    return None


# -- process tree ---------------------------------------------------------

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
        # comm may contain spaces; fields after the closing paren are fixed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_sec(root: int | None = None) -> float:
    """utime+stime of the live tree plus what each has reaped."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(v) for v in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(root: int | None = None) -> None:
    """Reset each live process's peak RSS (VmHWM) to its current RSS, so
    a later ``tree_peak_rss_bytes`` covers only what ran in between."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_bytes(root: int | None = None) -> int:
    """Sum of each live process's own peak RSS (VmHWM) over this process
    and its descendants: the driver, the JVM and the Python workers;
    since the last ``reset_peak_rss`` or since each process started."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# -- contention markers (same /proc/stat reading as the repo's bench.py) --

def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _spin(_=None) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_capacity() -> float:
    """How many CPUs' worth of work the host gives this box right now:
    one copy of a fixed loop alone, then one copy per CPU in parallel
    (about 4.0 on an idle 4-core box). It shows slow phases that steal
    and co-tenant CPU do not."""
    import multiprocessing

    n = len(os.sched_getaffinity(0))
    alone = sorted(_spin() for _ in range(3))[1]
    pool = multiprocessing.get_context("fork").Pool(n)
    try:
        together = sorted(pool.map(_spin, range(n)))[n // 2]
    finally:
        pool.close()
        pool.join()
    return n * alone / together


class Contention:
    """Host busy CPU not spent by this process tree, and hypervisor
    steal, both as a share of box capacity over the marked interval, and
    ``cpu_capacity`` at its start and end."""

    def __enter__(self) -> Contention:
        self.cpu_capacity = [cpu_capacity()]
        self._t0 = time.monotonic()
        self._cpu0 = _cpu_line()
        self._own0 = tree_cpu_sec()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.monotonic() - self._t0
        cpu1 = _cpu_line()
        own = tree_cpu_sec() - self._own0
        tick = os.sysconf("SC_CLK_TCK")
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        busy = (sum(d) - d[3] - d[4]) / tick  # minus idle and iowait
        cap = wall * (os.cpu_count() or 1)
        self.wall_s = wall
        self.cotenant_cpu_pct = max(0.0, 100.0 * (busy - own) / cap)
        self.steal_cpu_pct = 100.0 * (d[7] / tick) / cap
        with open("/proc/loadavg") as fh:
            self.loadavg_1m = float(fh.read().split()[0])
        self.cpu_capacity.append(cpu_capacity())

    def as_dict(self) -> dict:
        return {
            "wall_s": round(self.wall_s, 3),
            "cotenant_cpu_pct": round(self.cotenant_cpu_pct, 2),
            "steal_cpu_pct": round(self.steal_cpu_pct, 2),
            "loadavg_1m": self.loadavg_1m,
            "cpu_capacity": [round(v, 2) for v in self.cpu_capacity],
        }


# -- Spark session ----------------------------------------------------------

DRIVER_MEMORY = "1536m"


def session_settings(root: str, work: str, event_dir: str | None) -> dict:
    """Everything the benchmark pins, through ``build_session`` arguments
    and the environment it reads (recorded in README.md)."""
    nproc = len(os.sched_getaffinity(0))
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap size, so its resident part depends on the regions the
        # program's allocations touch, not on when G1 decides to grow it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return {
        "master": f"local[{nproc}]",
        "extra_conf": extra,
        "env": {
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYTHONPATH": root,
            "TMPDIR": os.path.join(work, "tmp"),
        },
    }


def start_session(root: str, work: str, event_dir: str | None = None):
    """Returns ``(spark, start_seconds)``."""
    import tempfile

    settings = session_settings(root, work, event_dir)
    for key, value in settings["env"].items():
        os.environ[key] = value
    os.makedirs(settings["env"]["TMPDIR"], exist_ok=True)
    tempfile.tempdir = settings["env"]["TMPDIR"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    from threat_intelligence_knowledge_graph_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        "perfbench", master=settings["master"], extra_conf=settings["extra_conf"]
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit: it quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
