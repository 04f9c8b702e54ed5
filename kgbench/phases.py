"""The phases of a benchmark run. Each run makes one kind of write and
then reads what it left:

- ``batch_ingest``: one ``plans.pipeline.run_to_store`` of the generated
  corpus into a fresh store, the first job of a fresh session (a batch
  job submitted on its own).
- ``update_stream``: on a base store built in set-up, feeds land one at a
  time in a file-stream source; each is drained by
  ``streaming.stream.stream_pages_to_store`` on one checkpoint (one commit
  per feed). The next feed lands once the previous commit is visible: the
  store's single-writer contract, closed loop, one client.
- ``store_query``: the seeded sequence of SPARQL classes and
  ``NamedGraphStore.graphs`` point lookups over the store the write left.
  Closed loop, one client.

Every op's output is kept for :mod:`kgbench.gate`, which runs after the
timed windows.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from . import env, gen

FEED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("version", pa.int32()),
        ("doc_id", pa.int64()),
        # not read by the program (its source schema omits it); the gate
        # takes the tombstone flag from here instead of parsing html
        ("tombstone", pa.bool_()),
    ]
)
FEED_EPOCH = datetime(2024, 2, 1, tzinfo=timezone.utc)


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool = True
    error: str | None = None
    params: dict = field(default_factory=dict)
    cols: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Run:
    spark: object
    tracer: object
    inputs: gen.Inputs
    work: str
    docs_parquet: str = ""
    store_path: str = ""
    feeds_written: list = field(default_factory=list)
    ops: list = field(default_factory=list)
    hierarchy_merged: bool = False


def write_inputs(run: Run) -> None:
    run.docs_parquet = os.path.join(run.work, "docs.parquet")
    pq.write_table(pa.table(run.inputs.docs), run.docs_parquet)
    run.store_path = os.path.join(run.work, "store")


def _timed(run: Run, kind: str, fn, params: dict | None = None) -> Op:
    c0 = env.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        with run.tracer.span(f"op.{kind}"):
            out = fn()
        op = Op(kind, time.perf_counter() - t0, params=params or {})
        if out is not None:
            op.cols, op.rows = out
    except Exception as e:  # an op that raises counts as failed, the run goes on
        op = Op(kind, time.perf_counter() - t0, ok=False, error=f"{type(e).__name__}: {e}"[:500], params=params or {})
    op.extra["cpu_s"] = env.tree_cpu_s() - c0
    run.ops.append(op)
    return op


# -- 1. batch ingest -------------------------------------------------------------

def batch_ingest(run: Run) -> Op:
    from genegraph_spark import fixtures
    from genegraph_spark.plans import pipeline

    spark = run.spark

    def ingest():
        pages = fixtures.pages_from_docs(spark.read.parquet(run.docs_parquet))
        pipeline.run_to_store(spark, "", run.store_path, pages=pages)

    op = _timed(run, "ingest", ingest)
    op.extra["pages"] = pages_in_corpus(run.inputs)
    return op


def pages_in_corpus(inp: gen.Inputs) -> int:
    """Rows ``fixtures.pages_from_docs`` derives: v1 for every doc, v2 for
    doc_id % 10 == 0, a v3 tombstone for doc_id % 50 == 0."""
    ids = inp.docs["doc_id"]
    return len(ids) + sum(1 for d in ids if d % 10 == 0) + sum(1 for d in ids if d % 50 == 0)


def build_base_store(run: Run, gate) -> float:
    """Set-up for update_stream: the corpus's triples, computed by the
    DuckDB oracle, plus the seeded ``skos:broader`` tree as its own named
    graph, merged as commit 0. Returns the wall time it took."""
    from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore

    t0 = time.perf_counter()
    path = os.path.join(run.work, "base.parquet")
    oracle = gate.Oracle(run.docs_parquet)
    try:
        oracle.register_hierarchy(run.inputs.hierarchy)
        oracle.con.execute(f"COPY ({gate.kg_triples_sql()} UNION ALL SELECT * FROM hier) TO '{path}' (FORMAT parquet)")
    finally:
        oracle.close()
    NamedGraphStore(run.spark, run.store_path).merge(run.spark.read.schema(TRIPLE_SCHEMA).parquet(path))
    run.hierarchy_merged = True
    return time.perf_counter() - t0


# -- 2. update stream --------------------------------------------------------------

def land_feed(run: Run, k: int, src: str) -> str:
    """Write feed ``k`` beside the source dir, then rename it in: the
    stream never sees a partial file."""
    rows = run.inputs.feeds[k]
    ts = FEED_EPOCH + timedelta(days=k)
    cols = {c: [r[c] for r in rows] for c in ("url", "html", "text", "lang", "version", "doc_id", "tombstone")}
    cols["warc_ts"] = [ts] * len(rows)
    stage = os.path.join(run.work, f"feed-{k:05d}.parquet")
    pq.write_table(pa.table(cols, schema=FEED_SCHEMA), stage)
    dst = os.path.join(src, f"feed-{k:05d}.parquet")
    os.rename(stage, dst)
    return dst


def update_stream(run: Run, seconds: float) -> list[Op]:
    from genegraph_spark.sinks.named_graph import NamedGraphStore
    from genegraph_spark.streaming import stream

    src = os.path.join(run.work, "feed_src")
    ck = os.path.join(run.work, "feed_ck")
    os.makedirs(src, exist_ok=True)
    store = NamedGraphStore(run.spark, run.store_path)
    ops: list[Op] = []
    t_end = time.perf_counter() + seconds
    for k in range(len(run.inputs.feeds)):
        if ops and time.perf_counter() >= t_end:
            break
        before = store.last_commit()
        path = land_feed(run, k, src)
        run.feeds_written.append(path)

        def commit():
            out = stream.stream_pages_to_store(run.spark, "", src, run.store_path, ck)
            if out["batches"] != 1 or store.last_commit() != before + 1:
                raise RuntimeError(f"feed {k}: expected one visible commit after {before}, got {out}")

        op = _timed(run, "commit", commit, {"feed": k})
        op.extra["pages"] = len(run.inputs.feeds[k])
        op.extra["commit"] = before + 1
        ops.append(op)
    return ops


# -- 3. store query -------------------------------------------------------------------

def _query_fn(run: Run, store, kind: str, p: dict):
    from genegraph_spark.operators.sparql import PreparedQuery

    tr = run.tracer
    if kind == "lookup":
        def fn():
            df = store.graphs(p["graphs"])
            return df.columns, [tuple(r) for r in df.collect()]
    else:
        text = gen.sparql_text(kind, p)

        def fn():
            triples = store.triples()
            with tr.span("sparql.compile"):
                df = PreparedQuery(text).run(triples)
            with tr.span("sparql.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("sparql.exec"):
                rows = [tuple(r) for r in df.collect()]
            return df.columns, rows

    return fn


def query_op(run: Run, store, kind: str, p: dict) -> Op:
    return _timed(run, kind, _query_fn(run, store, kind, p), p)


def store_query(run: Run, seconds: float, need: dict[str, int], kinds=None) -> list[Op]:
    """Run the seeded sequence, or only its ops of ``kinds`` when given,
    until ``seconds`` have passed and ``need`` (kind, or ``select`` for any
    SPARQL class -> count) is met."""
    from genegraph_spark.sinks.named_graph import NamedGraphStore

    store = NamedGraphStore(run.spark, run.store_path)
    seq = [(k, p) for k, p in run.inputs.queries if kinds is None or k in kinds]
    # warm-up, neither timed nor traced: a bgp and three lookups from the
    # end of the sequence. A served store is warm; right after the write the
    # JVM is still compiling the read path, and how much of that work lands
    # in the first few reads varies from run to run
    enabled, run.tracer.enabled = run.tracer.enabled, False
    try:
        warm = [next(q for q in reversed(seq) if q[0] == "bgp")]
        warm += [q for q in reversed(seq) if q[0] == "lookup"][:3]
        for kind, p in warm:
            _query_fn(run, store, kind, p)()
    finally:
        run.tracer.enabled = enabled
    ops: list[Op] = []
    need = dict(need)
    t_end = time.perf_counter() + seconds
    i = 0
    while any(v > 0 for v in need.values()) or time.perf_counter() < t_end:
        kind, p = seq[i % len(seq)]
        ops.append(query_op(run, store, kind, p))
        for k in {kind, "lookup" if kind == "lookup" else "select"}:
            if k in need:
                need[k] -= 1
        i += 1
    return ops


REPLAY_OPS = 2


def replay_overhead(run: Run, ops: list[Op], n: int = REPLAY_OPS) -> float:
    """Traced ÷ untraced wall time over the same query ops, alternating
    which goes first per op. Replayed ops are not kept."""
    from genegraph_spark.sinks.named_graph import NamedGraphStore

    store = NamedGraphStore(run.spark, run.store_path)
    kept = list(run.ops)
    traced = untraced = 0.0
    for j, op in enumerate(ops[:n]):
        for on in ((True, False) if j % 2 else (False, True)):
            run.tracer.enabled = on
            with run.tracer.span("replay"):
                r = query_op(run, store, op.kind, op.params)
            if on:
                traced += r.latency_s
            else:
                untraced += r.latency_s
    run.tracer.enabled = True
    run.ops[:] = kept
    return traced / untraced if untraced else float("nan")
