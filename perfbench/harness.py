"""Process set-up shared by every workload: where the benchmark may write,
the fixed Spark shape, session start and stop, and peak-RSS sampling."""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import threading
import time
from pathlib import Path

_T0 = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"

# Fixed Spark shape: one local executor with every core of the box
# (local[4] replayed faster than local-cluster[2,2] on a 4-core VM),
# two shuffle partitions per core, and a driver heap that leaves room for
# other tenants of a 15 GB machine.
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "2g"


def engine_present() -> bool:
    return (ROOT / "activedata_etl_spark" / "__init__.py").is_file()


def source_digest(*paths: str) -> str:
    """Short hash of the Python sources at ``paths`` (files or directories,
    relative to the checkout), so results cached in the checkout are not
    reused across code changes.  The checkout need not be a git
    repository."""
    h = hashlib.sha256()
    for d in paths:
        top = ROOT / d
        for p in [top] if top.is_file() else sorted(top.rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:12]


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the engine from it."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)


def start_session(traced: bool):
    """Start the Spark session in the benchmark's shape; the Spark UI and
    its REST API are on only in traced runs."""
    from activedata_etl_spark.session import get_spark

    tmp = str(CACHE / "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "10000",
        })
    return get_spark("perfbench", parallelism=CORES,
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in kill
            proc.kill()
            proc.wait(timeout=30)


def _tree_rss_kb(root_pid: int) -> int:
    """Sum of VmRSS over ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = kb
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Peak RSS of this process tree (driver JVM and Python workers
    included), sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            if self._stop.wait(self.period):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def quantile(values: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1) by the 'inclusive' method."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
