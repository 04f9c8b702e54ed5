"""Tracing from outside the program: spans around calls into each
module's public functions, a py4j round-trip counter, and Spark job /
stage metrics read back from the status store per job group.

Nothing here edits the program: :class:`Tracer.install` rebinds module
attributes (``plans.pipeline.construct_kg`` and so on) to timing wrappers
and :meth:`Tracer.uninstall` puts the originals back. The program looks
those names up at call time, so its own calls go through the wrappers.

Spans live in memory; :meth:`Tracer.records` renders them once at the
end, with self time = duration minus the part covered by child spans.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run: str
    end: float | None = None
    py4j: int = 0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end if s.end is not None else s.start)
        for s in spans
    }


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command`` on the instance (every JavaObject sends through it)."""

    def __init__(self):
        self.n = 0
        self._client = None

    def install(self, sc) -> None:
        client = sc._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            self.n += 1
            return orig(*a, **kw)

        client.send_command = send_command
        self._client = client

    def uninstall(self) -> None:
        if self._client is not None:
            del self._client.send_command
            self._client = None


class Tracer:
    """Span recorder. With ``enabled=False`` every hook is a no-op so the
    untraced run executes the same benchmark code."""

    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self.py4j = Py4jCounter()
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span; while it is open, Spark jobs issued from this
        thread carry a job group naming it, restored on exit."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(next(self._ids), name, 0.0, parent, self.run, attrs=dict(attrs))
            self._stack.append(s)
            self.spans.append(s)
        sc = self._sc
        if sc is not None:
            prev = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
            s.attrs["outer_group"] = prev[0]
            s.group = f"kgb|{self.run}|{s.id}|{name}"
            for k, v in zip(_GROUP_PROPS, (s.group, name)):
                sc.setLocalProperty(k, v)
        p0 = self.py4j.n
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = self.py4j.n - p0
            if sc is not None:
                for k, v in zip(_GROUP_PROPS, prev):
                    sc.setLocalProperty(k, v)
            with self._lock:
                self._stack.remove(s)

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Rebind ``owner.attr`` to a wrapper recording span ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = orig(*a, **kw)
                if on_result is not None and s is not None:
                    on_result(s, out)
                return out

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        """Wrap the program's public entry points and start counting."""
        if not self.enabled:
            return
        from genegraph_spark.operators import sparql
        from genegraph_spark.plans import pipeline
        from genegraph_spark.sinks import named_graph
        from genegraph_spark.streaming import stream

        self._sc = spark.sparkContext
        self.py4j.install(self._sc)
        self.wrap(pipeline, "construct_kg", "pipeline.construct_kg")
        self.wrap(named_graph.NamedGraphStore, "merge", "store.merge", _record_commit)
        self.wrap(named_graph.NamedGraphStore, "graphs", "store.graphs")
        self.wrap(stream, "stream_pages_to_store", "stream.call", _record_batches)
        self.wrap(sparql, "parse_sparql", "sparql.parse")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.py4j.uninstall()
        self._sc = None

    # -- rendering -------------------------------------------------------------
    def records(self) -> list[dict]:
        st = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run": s.run,
                "start_s": s.start - t0,
                "dur_s": s.dur,
                "self_s": st[s.id],
                "py4j": s.py4j,
                "group": s.group,
                **s.attrs,
            }
            for s in self.spans
        ]


def _record_commit(span: Span, meta: dict) -> None:
    span.attrs["commit"] = meta.get("commit")
    span.attrs["timings"] = meta.get("timings", {})


def _record_batches(span: Span, out: dict) -> None:
    span.attrs["batches"] = out.get("batches")


# -- Spark status store -------------------------------------------------------

STAGE_FIELDS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.output_bytes": ("outputBytes", 1),
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def jobs_table(spark) -> list[tuple[int, str | None, list[int]]]:
    """(job id, job group, stage ids) of every job the status store
    retains (it is kept with the UI disabled too)."""
    out = []
    for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None)):
        g = j.jobGroup()
        out.append((j.jobId(), g.get() if g.isDefined() else None, _seq(j.stageIds())))
    return out


def jobs_by_group(jobs) -> dict[str | None, list[int]]:
    out: dict[str | None, list[int]] = {}
    for jid, g, _ in jobs:
        out.setdefault(g, []).append(jid)
    return out


class StageReader:
    """Stage totals from the status store, each stage read once."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._cache: dict[int, dict | None] = {}

    def stage(self, sid: int) -> dict | None:
        if sid not in self._cache:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JError:  # evicted from the store
                st = None
            if st is None or str(st.status()) == "SKIPPED":
                self._cache[sid] = None
            else:
                row = {"tasks": st.numCompleteTasks()}
                for k, (f, scale) in STAGE_FIELDS.items():
                    fs = f if isinstance(f, tuple) else (f,)
                    row[k] = sum(getattr(st, x)() for x in fs) * scale
                self._cache[sid] = row
        return self._cache[sid]

    def totals(self, jobs, groups: set[str]) -> dict[str, float]:
        """Job, stage and task totals over the jobs of ``groups``."""
        stage_ids: set[int] = set()
        n_jobs = 0
        for _, g, sids in jobs:
            if g in groups:
                n_jobs += 1
                stage_ids.update(sids)
        out = {"exec.jobs": float(n_jobs), "exec.stages": 0.0, "exec.tasks": 0.0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        for sid in sorted(stage_ids):
            row = self.stage(sid)
            if row is None:
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += row["tasks"]
            for k in STAGE_FIELDS:
                out[k] += row[k]
        return out


def python_node_metrics(spark, first: int, end: int) -> dict[str, float]:
    """Sum the MapInPandas nodes' SQL metrics over the SQL executions with
    ids in ``[first, end)``."""
    ss = spark._jsparkSession.sharedState().statusStore()
    want = {
        "data sent to Python workers": "exec.python_bytes_sent",
        "data returned from Python workers": "exec.python_bytes_returned",
        "number of output rows": "exec.python_rows",
    }
    out = {v: 0.0 for v in want.values()}
    for e in _seq(ss.executionsList()):
        eid = e.executionId()
        if not first <= eid < end:
            continue
        nodes = [n for n in _seq(ss.planGraph(eid).allNodes()) if "MapInPandas" in n.name()]
        if not nodes:
            continue
        vals = ss.executionMetrics(eid)
        for n in nodes:
            for m in _seq(n.metrics()):
                key = want.get(m.name())
                v = vals.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += parse_metric(v.get())
    return out


def next_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).executionId() + 1 if ex.size() else 0


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: a plain count (``1,234``), a size
    (``1.5 MiB``), or the multi-task form whose second line starts with the
    total (``total (min, med, max ...)\\n1.5 MiB (...)``)."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    head = line.split(" (")[0].strip()
    parts = head.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1:
        num *= _UNITS.get(parts[1], 1)
    return num
