"""Spark session lifecycle, process-tree RSS sampling and the host probe.

Everything here writes inside the benchmark's work directory: Spark's
local dirs, the JVM temp dir, the warehouse and Python's ``tempfile``
all point below it, so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

#: Driver heap cap. ``bench.py`` asks for 16g, which does not fit next to
#: the Python workers on a 16 GB host; 2g holds every workload here. The
#: heap grows with the program's demand, as under ``jobs/extract_run.py``.
DRIVER_MEMORY = "2g"
#: Arrow batch size of the Python boundary, as ``jobs/extract_run.py`` sets it.
MAX_RECORDS_PER_BATCH = 512


def spark_conf(k: int, work: Path) -> dict[str, str]:
    """The session config: ``jobs/extract_run.py``'s settings on local[k]."""
    return {
        "spark.master": f"local[{k}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(k),
        "spark.default.parallelism": str(k),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.speculation": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(MAX_RECORDS_PER_BATCH),
        "spark.sql.session.timeZone": "UTC",
    }


#: Session set-ups in the running JVM after the fresh JVM's; ``setup_s``
#: is the median of all of them.
SETUP_REPEATS = 2


def repeat_sessions(spark, conf: dict[str, str], k: int) -> tuple[object, list[float]]:
    """Stop the session and set it up again, SETUP_REPEATS times, in the
    running JVM. Returns (the last session, the repeats' seconds).

    The repeats time what the program and Spark do at set-up (context
    start, package shipping, Python worker start and imports) without
    the JVM launch, whose time is the JVM's own and swings with the
    host's load."""
    repeats = []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        spark, s = start_session(conf, k)
        repeats.append(s)
    return spark, repeats


def start_session(conf: dict[str, str], k: int):
    """Build the session, ship the package and wait until k Python
    workers answer. Returns (spark, seconds)."""
    from pyspark.sql import SparkSession

    from readembedability_spark.operators.extract import _ensure_workers_can_import

    def warm_partition(rows):
        # nested, so it is pickled by value: the worker imports what
        # the extract stage imports, from the shipped package
        import readembedability_spark.extractor  # noqa: F401

        yield sum(1 for _ in rows)

    t0 = time.perf_counter()
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _ensure_workers_can_import(spark)
    spark.sparkContext.parallelize(range(k), k).mapPartitions(warm_partition).sum()
    return spark, time.perf_counter() - t0


def shutdown_jvm(wait_s: float = 60.0) -> None:
    """Stop the py4j gateway and wait for the JVM (and its Python
    daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits on EOF of its stdin
        proc.stdin.close()
        proc.wait(timeout=wait_s)
    deadline = time.monotonic() + wait_s
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if Path(f"/proc/{p}").exists()]
        if tree:
            time.sleep(0.05)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        out[int(entry)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """root and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(RSS of root, summed RSS of the processes below it)."""
    own = rest = 0
    try:
        jvm_exe = os.readlink(f"/proc/{root}/exe")
    except OSError:
        return 0, 0
    for pid in descendants(root):
        try:
            if pid != root and os.readlink(f"/proc/{pid}/exe") == jvm_exe:
                # a child the JVM is spawning, before its exec: it still
                # shares the JVM's memory, which is already counted
                continue
            with open(f"/proc/{pid}/statm", "rb") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
        if pid == root:
            own = rss
        else:
            rest += rss
    return own, rest


class RssSampler:
    """Peak summed RSS of the driver JVM and the Python workers below it,
    sampled from /proc while the ``with`` block runs; the JVM's and the
    workers' own peaks are kept too."""

    def __init__(self, root: int, period_s: float = 0.05):
        self.root = root
        self.period_s = period_s
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm, workers = tree_rss_bytes(self.root)
        self.peak = max(self.peak, jvm + workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by root and every process below it, children
    they have reaped included. The kernel leaves time stolen by the
    hypervisor out of these counters, so on a shared host they move
    far less than wall time does."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, the 12th-15th after ')'
        ticks += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])
    return ticks / _TICK


def program_cpu_s() -> float:
    """CPU seconds of the program so far: the driver JVM with its Python
    workers, and this thread, where ``run_extract`` and the query
    builders run (the benchmark's own threads are left out)."""
    return tree_cpu_s(jvm_pid()) + time.thread_time()


_PROBE = (
    "import time\n"
    "t0 = time.perf_counter(); n = 0\n"
    "while time.perf_counter() - t0 < {s}:\n"
    "    for _ in range(10000): pass\n"
    "    n += 10000\n"
    "print(n / (time.perf_counter() - t0))\n"
)


def host_probe(k: int, seconds: float = 0.3) -> float:
    """Aggregate loop speed of k concurrent processes, in M iterations/s.
    Recorded next to the figures to show a contended host; never used
    to normalise them."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _PROBE.format(s=seconds)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(k)
    ]
    rates = [float(p.communicate()[0]) for p in procs]
    return round(sum(rates) / 1e6, 2)


def confine_temp(work: Path) -> None:
    """Point every temp file of this process and of the JVMs it starts
    (Spark's launcher and driver) into the work directory: Python's (the
    shipped package zip among them), Spark's local dirs, the JVM temp dir,
    and no JVM perf-data file in /tmp."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
