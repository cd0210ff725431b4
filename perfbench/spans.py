"""In-memory spans around the engine's public calls, recorded from the
benchmark's own files (the engine itself is not instrumented).

A span has a name, a layer, start/end (``time.perf_counter``), a parent
and a request id.  Spans nest per thread; an RPC call made from a worker
thread of the receipt fan-out is parented to the span that started the
fan-out.  Spans opened with ``jobs=True`` take the JVM's GC-time delta
and, once the run's Spark event log is closed, get the Spark jobs
submitted while they were open, with those jobs' shuffle and spill bytes
(``attribute_jobs``).  Jobs are matched by submission time, not by job
group: ``TableStore.commit`` writes its tables from a thread pool whose
threads do not inherit the caller's job group.

Self time of a layer = for each of its spans, the duration minus the
union of its children's intervals.  ``NullTracer`` records nothing and
is what the untraced (end-to-end) runs use.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

LAYERS = ("session", "rpc", "ingest", "store", "serving", "api",
          "catalog", "operators", "gen")
BYTES = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.memoryBytesSpilled": "spill_memory",
    "internal.metrics.diskBytesSpilled": "spill_disk",
}


class Span:
    __slots__ = ("sid", "name", "layer", "t0", "t1", "parent", "rid",
                 "count_jobs", "jobs", "bytes", "gc_s", "error")

    def __init__(self, sid, name, layer, parent, rid, count_jobs):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.rid = parent, rid
        self.count_jobs = count_jobs
        self.t0 = time.perf_counter()
        self.t1 = None
        self.jobs = None
        self.bytes = None
        self.gc_s = None
        self.error = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, layer, **kw):
        yield None

    def wrap(self, obj, attr, name, layer, **kw):
        pass

    def spark_conf(self, run_dir: Path) -> dict:
        return {}


class Tracer:
    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.fanout_parent: int | None = None
        # perf_counter -> epoch seconds, to meet the event log's job times
        self.epoch = time.time() - time.perf_counter()
        self.eventlog: Path | None = None

    def spark_conf(self, run_dir: Path) -> dict:
        """Session settings for an uncompressed event log in ``run_dir``."""
        self.eventlog = run_dir / "eventlog"
        self.eventlog.mkdir(parents=True, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(self.eventlog)}

    # -- span stack -----------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _gc_seconds(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    @contextmanager
    def span(self, name: str, layer: str, *, jobs: bool = False,
             rid: str | None = None, fanout: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is not None:
            parent_id = parent.sid
        else:  # an RPC call on a worker thread of the receipt fan-out
            parent_id = self.fanout_parent if layer == "rpc" else None
        s = Span(next(self._ids), name, layer, parent_id,
                 rid if rid is not None else (parent.rid if parent else None), jobs)
        gc = jobs and self.spark is not None
        if gc:
            gc0 = self._gc_seconds()
        stack.append(s)
        if fanout:
            self.fanout_parent = s.sid
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            if fanout:
                self.fanout_parent = None
            if gc:
                s.gc_s = self._gc_seconds() - gc0
            with self._lock:
                self.spans.append(s)

    def wrap(self, obj, attr: str, name: str, layer: str, **kw) -> None:
        """Replace ``obj.attr`` by a version that records a span per call."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name, layer, **kw):
                return fn(*a, **k)

        setattr(obj, attr, traced)

    def attribute_jobs(self) -> None:
        """Give every ``jobs=True`` span the Spark jobs submitted while it
        was open.  Call after the last session stopped (the event log is
        complete then)."""
        jobs = spark_jobs(self.eventlog) if self.eventlog else []
        for s in self.spans:
            if not s.count_jobs:
                continue
            lo, hi = s.t0 + self.epoch, s.t1 + self.epoch
            mine = [j for j in jobs if lo <= j["t"] <= hi]
            s.jobs = len(mine)
            s.bytes = {k: sum(j[k] for j in mine) for k in set(BYTES.values())}

    # -- summaries ------------------------------------------------------

    def window(self, t0: float, t1: float) -> list[Span]:
        """Spans that started inside [t0, t1)."""
        return [s for s in self.spans if t0 <= s.t0 < t1]

    def named(self, name: str, t0: float = float("-inf"),
              t1: float = float("inf")) -> list[Span]:
        return [s for s in self.window(t0, t1) if s.name == name]

    def self_times(self, t0: float = float("-inf"),
                   t1: float = float("inf")) -> dict[str, float]:
        """Self seconds per layer over the spans that started in [t0, t1)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.window(t0, t1):
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.sid, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
        return out

    def root_coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by root spans (union of intervals)."""
        roots = sorted(
            (s for s in self.spans if s.parent is None and s.t1 > t0 and s.t0 < t1),
            key=lambda s: s.t0,
        )
        covered, end = 0.0, t0
        for s in roots:
            lo, hi = max(s.t0, end), min(s.t1, t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        return covered / (t1 - t0)

    def summary(self, t0: float, t1: float) -> dict:
        """Self time per layer, GC, span count and coverage of [t0, t1).
        The session layer is set-up only: its figure is the median
        ``session.start`` span of the run's set-ups."""
        out = {f"{layer}.self_s": v for layer, v in self.self_times(t0, t1).items()}
        starts = [s.dur for s in self.named("session.start")]
        out["session.self_s"] = statistics.median(starts) if starts else 0.0
        win = self.window(t0, t1)
        out["jvm.gc_s"] = sum(s.gc_s or 0.0 for s in win)
        out["trace.coverage"] = self.root_coverage(t0, t1)
        out["trace.spans"] = len(win)
        return out

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer,
                    "start": s.t0, "end": s.t1, "parent": s.parent,
                    "rid": s.rid, "jobs": s.jobs, "bytes": s.bytes,
                    "gc_s": s.gc_s, "error": s.error,
                }) + "\n")


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def spark_jobs(eventlog_dir: Path) -> list[dict]:
    """Every job in uncompressed Spark event logs: its submission time
    (epoch seconds) and the shuffle and spill bytes of its stages."""
    out: list[dict] = []
    for app in sorted(Path(eventlog_dir).iterdir()):
        # one file per application, or (rolling logs) a directory of
        # events_* files; stage ids restart per application
        files = sorted(app.glob("events_*")) if app.is_dir() else [app]
        stage_job: dict[int, dict] = {}
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {"t": ev["Submission Time"] / 1000.0,
                       **{k: 0 for k in set(BYTES.values())}}
                out.append(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = stage_job.get(info["Stage ID"])
                if job is None:
                    continue
                for a in info.get("Accumulables", []):
                    k = BYTES.get(a.get("Name"))
                    if k is not None:
                        job[k] += int(a.get("Value", 0))
    return out
