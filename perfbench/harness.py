"""Run environment for the benchmark: scratch directories inside the
checkout, the Spark session sized to this machine, a resident-memory
sampler, window markers and small statistics helpers.

Everything the benchmark writes lives under `<checkout>/.perfbench/`.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: driver JVM heap. local mode runs every task inside the driver JVM, and
#: the 2k-doc corpus plus its index need well under 1 GB of heap. A small
#: cap also keeps the heap's growth, and so the peak RSS, from depending
#: on when collections happen to run.
DRIVER_MEM = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Per-run scratch tree: index dirs, Spark local dir, JVM/Python temp
    files, event logs. Removed again when the run ends; `out/` and
    `last/` (run records) persist in the checkout."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.tag = f"{workload}-seed{seed}-trace{int(trace)}"
        self.run = os.path.join(WORK, "run", f"{self.tag}-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        self.spark_local = os.path.join(self.run, "spark-local")
        self.eventlog = os.path.join(self.run, "eventlog")
        self.out = os.path.join(WORK, "out")
        self.last = os.path.join(WORK, "last")
        for d in (self.tmp, self.spark_local, self.eventlog, self.out, self.last):
            os.makedirs(d, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.run, name)

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def configure_env(dirs: RunDirs) -> None:
    """Point every temp/scratch location at the run's own tree and fit
    the session to this machine (the session module's defaults assume a
    32-core, 64 GB host and a shared tmpfs spill dir)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs.spark_local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["TMPDIR"] = dirs.tmp
    # every JVM the run starts (spark-submit's launcher and the driver):
    # temp files into the run's tree, no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def start_spark(dirs: RunDirs, app: str, extra_conf: dict | None = None):
    from solr_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    return get_spark(app, cores=nproc(), extra_conf=conf)


def contention_markers() -> dict:
    """Load average, a fixed single-thread md5 calibration loop and the
    CPU time the hypervisor stole so far, taken before and after a run so
    a contended window is visible. Recorded, never gated on."""
    load1 = os.getloadavg()[0]
    blob = b"x" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blob)
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {
        "load_1m": round(load1, 2),
        "cal_ms": round((time.perf_counter() - t0) * 1e3, 2),
        "cpu_ticks": sum(ticks),
        "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
    }


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two markers."""
    total = after["cpu_ticks"] - before["cpu_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total else 0.0


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait until every process
    this run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while len(_descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and everything it started (the
    driver JVM and the Python workers under it), sampled every `interval`
    seconds on a daemon thread. Each process counts its proportional
    share (Pss), so pages that forked Python workers share count once and
    the figure does not grow with the number of idle workers."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))
    return s[int(rank) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if not name.startswith(".") and not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total
