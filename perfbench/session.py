"""Spark session lifecycle, process-tree bookkeeping, the sampler (peak
memory and the speed probe) and the process-tree CPU clock.

Everything the session writes (Spark local dirs, JVM temp files, warehouse)
stays under the benchmark's output directory inside the checkout. Stopping
the session also stops the JVM and waits until every process started under
this one has ended.
"""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
SAMPLE_EVERY_S = 0.5
STOP_TIMEOUT_S = 30.0
#: The driver JVM's heap is fixed in size (-Xms = -Xmx) and so is its young
#: generation. Left to the collector's ergonomics, both grow at moments that
#: depend on GC pause times, so the peak memory of the same run varied by
#: 10-20% from one run to the next.
HEAP = "1536m"
YOUNG_GEN = "384m"
PROBE_TOKENS = 80_000


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each page it
    shares with other processes (such as a forked Python worker with its
    daemon) divided among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``: its own CPU time and that
    of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def probe_task(tokens: list[str]) -> int:
    """The speed probe's fixed work: count and index a token list with
    dicts and lists, as the package's Python code does."""
    postings: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        postings.setdefault(t, []).append(i)
    top = sorted(Counter(tokens).items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return len(postings) + len(top)


class RssSampler:
    """Every ``SAMPLE_EVERY_S`` seconds, one sample of two things.

    - Peak memory: the resident memory of this process and all its
      descendants (the Python driver process, the JVM and the Python
      workers). The sum is over proportional set sizes, so a page that
      forked workers share is counted once, not once per worker.
    - Speed: the CPU time of one run of :func:`probe_task`, a fixed piece
      of work. On a shared host the CPU time of the same work varies by up
      to 2.5x over minutes (other tenants share caches and cores without
      that showing as steal), and the probe follows it.
    """

    def __init__(self):
        self.peak = 0
        #: CPU seconds the sampling thread itself has used
        self.cpu_s = 0.0
        #: (perf_counter at its end, CPU seconds) of each probe
        self.probes: list[tuple[float, float]] = []
        rng = random.Random(0)
        vocab = [f"t{i}" for i in range(5000)]
        weights = [1.0 / (i + 1) for i in range(len(vocab))]
        self._tokens = rng.choices(vocab, weights, k=PROBE_TOKENS)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            c0 = time.thread_time()
            probe_task(self._tokens)
            c1 = time.thread_time()
            self.probes.append((time.perf_counter(), c1 - c0))
            self.cpu_s = c1
            self._stop.wait(SAMPLE_EVERY_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


class TreeCpu:
    """CPU seconds used so far by this process and all its descendants (the
    Python driver process, the JVM and the Python workers), without the RSS
    sampler's own thread.

    Unlike wall time, CPU time does not grow while other tenants hold the
    host's cores: the kernel charges time stolen from a virtual CPU as
    steal, not to the task. It does follow how fast the host runs each
    instruction, which the sampler's speed probe measures. Resolution is
    one clock tick per process."""

    def __init__(self, sampler: RssSampler):
        self.sampler = sampler

    def __call__(self) -> float:
        me = os.getpid()
        ticks = sum(_cpu_ticks(p) for p in [me, *descendants(me)])
        return ticks / CLK_TCK - self.sampler.cpu_s


def start_spark(root: Path, out: Path, cpus: int):
    """A ``local[cpus]`` session whose executors import the checkout's
    package, with its temporary files under ``out``."""
    local = out / "spark-local"
    tmp = out / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(out / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn{YOUNG_GEN}",
        )
        .config("spark.executorEnv.PYTHONPATH", str(root))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every descendant
    process; whatever outlives ``STOP_TIMEOUT_S`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(STOP_TIMEOUT_S)
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
