"""Shared plumbing: paths, the generator process, Spark set-up, memory
high-water marks and percentiles."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from statistics import geometric_mean as geomean, median  # noqa: F401

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"  # build artifacts and per-run scratch, gitignored
SCHEMA_VERSION = "perfbench-1"
# driver heap unless $SPARK_DRIVER_MEMORY says otherwise.  A heap the
# workloads fill keeps the JVM's resident set steady; with the engine's
# 16g default (or 4g) it wanders with GC timing: 1.05-2.37 GB measured
# for identical serve_live runs at 4g, 1.06-1.13 GB at 1g.
DRIVER_MEMORY = "1g"


def program_present() -> bool:
    return (ROOT / "rust_evm_indexer_spark" / "__init__.py").is_file()


def cpus() -> int:
    """Cores given to Spark: ``$SPARK_GRAFT_CPUS``, else the affinity mask."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.strip() else len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# -- the generator process ----------------------------------------------------


class Node:
    """The load generator (``node.py``) as a child process."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("node.py")), str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        self.url = json.loads(self.proc.stdout.readline())["url"]

    def send(self, op: str, **kw) -> None:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()

    def recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def call(self, op: str, **kw) -> dict:
        self.send(op, **kw)
        return self.recv()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("quit")
                self.proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


# -- Spark --------------------------------------------------------------------


def start_spark(extra_conf: dict | None = None):
    """The engine's own session factory at ``local[cpus()]``."""
    from rust_evm_indexer_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(WORK / "warehouse"), **(extra_conf or {})}
    return get_spark("perfbench", cpus=cpus(), extra_conf=conf)


def keep_inside_checkout() -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``.perfbench/`` (set before the JVM starts)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # -XX:-UsePerfData: the JVM's perf-data file goes to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    tempfile.tempdir = None  # re-read TMPDIR


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_setups(setup, teardown, repeats: int = 5):
    """Run ``setup`` ``repeats`` times, tearing down all but the last.

    Returns (state of the last set-up, median set-up seconds, all times).
    The first repeat also pays the JVM launch; the median is a set-up
    in a process that already has one."""
    times = []
    state = None
    for i in range(repeats):
        t0 = time.perf_counter()
        state = setup()
        times.append(time.perf_counter() - t0)
        if i < repeats - 1:
            teardown(state)
    return state, median(times), times


# -- memory -------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return ""


def cpu_seconds() -> float:
    """User + system CPU seconds so far of this Python driver and its JVM."""
    total = 0
    for pid in [os.getpid()] + [p for p in _descendants(os.getpid()) if _comm(p) == "java"]:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> dict:
    """High-water RSS of this Python driver and of its JVM, from
    ``/proc/*/status`` VmHWM (the load generator and Spark's Python
    workers are not the driver and are left out)."""
    jvm = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    py = _status_kb(os.getpid(), "VmHWM") / 1024
    java = sum(_status_kb(p, "VmHWM") for p in jvm) / 1024
    return {"python": py, "jvm": java, "total": py + java}
