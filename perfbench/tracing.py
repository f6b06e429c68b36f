"""Tracing for the benchmark: spans, per-call Spark counters, storage and
process probes.

Spans are recorded from the benchmark's own files, around the calls into
each layer: ``Tracer.call`` wraps one public call, ``patch_layers`` wraps
the layer functions where their callers look them up.  Spans stay in
memory and are written once, when the run ends.  With tracing off, calls
are only timed and no Spark state is read.
"""

from __future__ import annotations

import importlib
import os
import resource
import time
from contextlib import contextmanager

# counters read from the Spark status store per call; the first three
# repeat exactly for one input and program (see run.deterministic_counters)
COUNTERS = ("jobs", "tasks", "input_rows", "cpu_ms", "shuffle_bytes")

# (span name, module, attribute path): layer functions wrapped in traced
# runs, patched on the object their callers resolve them from
_TI = "binaryvectordb_spark.operators.textindex"
_GATE = "binaryvectordb_spark.operators.ingest_gate"
LAYERS = (
    ("cascade.cascade_search", "binaryvectordb_spark.db", "cascade_search"),
    ("cascade.cascade_search_batch", "binaryvectordb_spark.operators.cascade",
     "cascade_search_batch"),
    ("local_serve.search", "binaryvectordb_spark.operators.local_serve",
     "LocalCascadeSearcher.search"),
    ("local_serve.from_dataframes",
     "binaryvectordb_spark.operators.local_serve",
     "LocalCascadeSearcher.from_dataframes"),
    ("textindex.build", _TI, "TextIndex.build"),
    ("textindex.search", _TI, "TextIndex.search"),
    ("textindex.upsert_batch", _TI, "TextIndex.upsert_batch"),
    ("textindex.remove", _TI, "TextIndex.remove"),
    ("textindex.compact", _TI, "TextIndex.compact"),
    ("ingest_gate.near_dup_gate", _GATE, "near_dup_gate"),
    ("ingest_gate.GateIndex.build", _GATE, "GateIndex.build"),
    ("ingest_gate.GateIndex.gate", _GATE, "GateIndex.gate"),
)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [(s["end"] - s["start"])
            - union_length(children.get(i, ()), s["start"], s["end"])
            for i, s in enumerate(spans)]


class Tracer:
    """Times public calls; in traced mode also records spans and reads each
    Spark-backed call's counters from the status store as soon as the call
    returns (before the store's retention limit evicts its jobs)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self.calls: list[dict] = []   # one record per Tracer.call
        self.phase = None              # recorded on each call, set by the runner
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def call(self, name: str, fn, *args, spark: bool = True):
        """Run ``fn(*args)`` as one timed call named ``name``.
        Returns (result, seconds); exceptions propagate after recording."""
        rec = {"name": name, "op": len(self.calls), "phase": self.phase,
               "spark": spark}
        self.calls.append(rec)
        group = f"perfbench-{rec['op']}"
        if self.enabled and spark:
            self.sc.setJobGroup(group, name)
        self._op = rec["op"]
        first = len(self.spans)  # the call's span; its descendants follow
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            with self.span(name):
                out = fn(*args)
        finally:
            dt = time.perf_counter() - t0
            w1 = time.time()
            self._op = None
            rec["wall_ms"] = dt * 1e3
            if self.enabled:
                h0 = time.perf_counter()
                if spark:
                    rec.update(self._harvest(group, w0, w1))
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                sub = [dict(s, parent=None if s["parent"] is None
                            else s["parent"] - first)
                       for s in self.spans[first:]]
                rec["self_ms"] = self_times(sub)[0] * 1e3
                # time spent reading counters and spans after the call
                rec["overhead_ms"] = (time.perf_counter() - h0) * 1e3
        return out, dt

    def _harvest(self, group: str, w0: float, w1: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  comp.get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # a skipped stage has no attempt record
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["input_rows"] += sd.inputRecords()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["driver_ms"] = ((w1 - w0) - union_length(intervals, w0, w1)) * 1e3
        return out


@contextmanager
def patch_layers(tracer: Tracer):
    """Wrap each layer function in a span for the duration of the block."""
    saved = []
    try:
        for name, mod, path in LAYERS:
            owner = importlib.import_module(mod)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr]
            setattr(owner, attr, _wrap(raw, name, tracer))
            saved.append((owner, attr, raw))
        yield
    finally:
        for owner, attr, raw in reversed(saved):
            setattr(owner, attr, raw)


def _wrap(raw, name: str, tracer: Tracer):
    kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
    fn = raw.__func__ if kind else raw

    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    wrapper.__wrapped__ = fn
    return kind(wrapper) if kind else wrapper


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every live descendant,
    including children they have reaped; time stolen from the machine by
    other tenants is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # u/s time + reaped
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (OSError, ValueError):
            continue  # exited between listing and reading
    return total / tick


def driver_rss_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pid_rss_peak_mb(pid: int | None) -> float:
    """VmHWM of ``pid`` (the JVM), 0.0 when unreadable."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
