"""Per-layer metrics of a traced run: span aggregates, Spark status-store
totals per phase and query class, store file facts, and in-process kernel
rates. Each metric carries its sample count ``n``."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from . import trace
from .gen import QUERY_CLASSES

EXEC_SCOPES = ("ingest", "commit", "lookup") + QUERY_CLASSES
EXEC_KEYS = ("exec.jobs", "exec.stages", "exec.tasks") + tuple(trace.STAGE_FIELDS)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or "bytes" in name:
        return "B"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("ratio") or "per_row" in name:
        return "ratio"
    return "count"


def unit_of(name: str) -> str:
    return _unit(name.split(".", 1)[1] if name.startswith("exec.") else name)


def names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    out = [
        "session.start_s",
        "pipeline.build_s",
        "pipeline.build_py4j_calls",
        "pipeline.build_jobs",
        "mentions.kernel_pages_per_s",
        "text.extract_pages_per_s",
        "exec.python_bytes_sent",
        "exec.python_bytes_returned",
        "exec.python_rows",
        "store.merge_s",
        "store.merge_jobs",
        "store.merge_py4j_calls",
        "store.write_s",
        "store.lineage_s",
        "store.buckets_touched",
        "store.rows_written_per_row_in",
        "store.dirs_referenced",
        "store.lookup_s",
        "store.lookup_jobs",
        "stream.call_s",
        "stream.self_s",
        "stream.batches_per_call",
    ]
    for k in QUERY_CLASSES:
        out += [
            f"sparql.parse_s.{k}",
            f"sparql.compile_s.{k}",
            f"sparql.compile_py4j_calls.{k}",
            f"sparql.compile_jobs.{k}",
            f"sparql.plan_s.{k}",
            f"sparql.exec_s.{k}",
        ]
    for scope in EXEC_SCOPES:
        out += [f"{key}.{scope}" for key in EXEC_KEYS]
    out += ["mem.peak_rss_mb", "mem.jvm_peak_rss_mb", "trace.overhead_ratio"]
    return out


def _med(xs: list[float]) -> tuple[float, int]:
    return (statistics.median(xs) if xs else 0.0), len(xs)


def span_metrics(records: list[dict], jobs_of: dict[str, list[int]]) -> dict:
    by_id = {r["id"]: r for r in records}

    def root(r):
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        return r

    def jobs(r) -> int:
        return len(jobs_of.get(r["group"], [])) if r["group"] else 0

    def kids(r, name):
        return [c for c in records if c["parent"] == r["id"] and c["name"] == name]

    live = [r for r in records if root(r)["name"] != "replay"]
    named = lambda n: [r for r in live if r["name"] == n]  # noqa: E731
    out: dict[str, tuple[float, int]] = {}
    out["session.start_s"] = _med([r["dur_s"] for r in named("session.start")])
    # the workload's write: the batch ingest or the streamed commits
    writes = ("op.ingest", "op.commit")
    cons = [r for r in named("pipeline.construct_kg") if root(r)["name"] in writes]
    out["pipeline.build_s"] = _med([r["dur_s"] for r in cons])
    out["pipeline.build_py4j_calls"] = _med([r["py4j"] for r in cons])
    out["pipeline.build_jobs"] = _med([jobs(r) for r in cons])

    merges = [r for r in named("store.merge") if root(r)["name"] in writes]
    out["store.merge_s"] = _med([r["dur_s"] for r in merges])
    out["store.merge_jobs"] = _med([jobs(r) for r in merges])
    out["store.merge_py4j_calls"] = _med([r["py4j"] for r in merges])
    out["store.write_s"] = _med([r["timings"]["write_s"] for r in merges if r.get("timings")])
    out["store.lineage_s"] = _med([r["timings"]["lineage_s"] for r in merges if r.get("timings")])
    looks = named("store.graphs")
    out["store.lookup_s"] = _med([r["dur_s"] for r in looks])
    lookup_ops = named("op.lookup")
    out["store.lookup_jobs"] = _med([_subtree_jobs(r, live, jobs_of) for r in lookup_ops])

    calls = named("stream.call")
    out["stream.call_s"] = _med([r["dur_s"] for r in calls])
    # its child spans are the construct_kg and merge calls of its batches
    out["stream.self_s"] = _med([r["self_s"] for r in calls])
    out["stream.batches_per_call"] = _med([r.get("batches") or 0 for r in calls])

    for k in QUERY_CLASSES:
        ops = named(f"op.{k}")
        comp = [c for o in ops for c in kids(o, "sparql.compile")]
        parse = [p for c in comp for p in kids(c, "sparql.parse")]
        out[f"sparql.parse_s.{k}"] = _med([r["dur_s"] for r in parse])
        out[f"sparql.compile_s.{k}"] = _med([r["self_s"] for r in comp])
        out[f"sparql.compile_py4j_calls.{k}"] = _med([r["py4j"] for r in comp])
        out[f"sparql.compile_jobs.{k}"] = _med([_subtree_jobs(r, live, jobs_of) for r in comp])
        out[f"sparql.plan_s.{k}"] = _med([c["dur_s"] for o in ops for c in kids(o, "sparql.plan")])
        out[f"sparql.exec_s.{k}"] = _med([c["dur_s"] for o in ops for c in kids(o, "sparql.exec")])
    return out


def subtree(records: list[dict], rid: int) -> list[dict]:
    """The span ``rid`` and every span under it."""
    kids: dict[int, list[dict]] = {}
    for r in records:
        kids.setdefault(r["parent"], []).append(r)
    out = [r for r in records if r["id"] == rid]
    for r in out:
        out += kids.get(r["id"], [])
    return out


def _subtree_jobs(r, records, jobs_of) -> int:
    groups = {x["group"] for x in subtree(records, r["id"])}
    return sum(len(jobs_of.get(g, [])) for g in groups if g)


def scope_groups(records: list[dict]) -> dict[str, tuple[set[str], int]]:
    """Scope -> (job groups of its op subtrees, including the streaming
    query's own group seen from inside them; number of ops)."""
    out: dict[str, tuple[set[str], int]] = {}
    for r in records:
        if r["parent"] is not None or not r["name"].startswith("op."):
            continue
        scope = r["name"][3:]
        groups, n = out.get(scope, (set(), 0))
        for x in subtree(records, r["id"]):
            groups.update(g for g in (x["group"], x.get("outer_group")) if g)
        out[scope] = (groups, n + 1)
    return out


def exec_metrics(spark, records: list[dict], jobs) -> dict:
    out = {}
    reader = trace.StageReader(spark)
    for scope, (groups, n_ops) in scope_groups(records).items():
        if scope not in EXEC_SCOPES:
            continue
        for k, v in reader.totals(jobs, groups).items():
            out[f"{k}.{scope}"] = (v / n_ops, n_ops)
    return out


def store_metrics(store_path: str, commits: list[int]) -> dict:
    """Facts read from the store's own files: manifests, per-commit
    written-row metrics and lineage."""
    import duckdb

    mdir = os.path.join(store_path, "manifests")
    manifests = {
        int(m[1:-5]): json.load(open(os.path.join(mdir, m)))
        for m in os.listdir(mdir)
        if m.startswith("c") and m.endswith(".json")
    }
    last = manifests[max(manifests)]
    touched, amp = [], []
    con = duckdb.connect()
    try:
        for c in commits:
            d = f"data/c{c:08d}"
            touched.append(sum(1 for v in manifests[c]["buckets"].values() if v == d))
            mfiles = glob.glob(os.path.join(store_path, "metrics", f"commit={c}", "*.parquet"))
            lfiles = glob.glob(os.path.join(store_path, "lineage", f"commit={c}", "*.parquet"))
            if not (mfiles and lfiles):
                continue
            written = con.execute(f"SELECT coalesce(sum(n_rows), 0) FROM read_parquet({mfiles})").fetchone()[0]
            rows_in = con.execute(
                f"SELECT coalesce(sum(n_triples), 0) FROM read_parquet({lfiles}) WHERE action = 'publish'"
            ).fetchone()[0]
            if rows_in:
                amp.append(written / rows_in)
    finally:
        con.close()
    return {
        "store.buckets_touched": _med(touched),
        "store.rows_written_per_row_in": _med(amp),
        "store.dirs_referenced": (float(len(set(last["buckets"].values()))), 1),
    }


def kernel_metrics(spark, docs_parquet: str, reps: int = 3) -> dict:
    """The fused page mapper and the text extractor run in this process
    over pandas batches of the generated pages: the Python work of the
    ingest without Spark around it."""
    from genegraph_spark import fixtures
    from genegraph_spark.functions.text import extract_text_py
    from genegraph_spark.operators import mentions

    pdf = fixtures.pages_from_docs(spark.read.parquet(docs_parquet)).toPandas()
    canon_of = fixtures.canonical_map_py()
    alias_rows = [
        {"iri": iri, "label": lbl, "label_kind": kind}
        for iri, _, pref, alts, hiddens, _ in fixtures.ENTITIES
        for lbl, kind in [(pref, "preferred")] + [(a, "alt") for a in alts] + [(h, "hidden") for h in hiddens]
    ]
    by_label, e_to_c, _ = mentions.gazetteer_payload(alias_rows, canon_of)
    mapper = mentions.make_page_mapper(by_label, e_to_c, use_golden_text=False)
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = [pdf.iloc[i : i + batch] for i in range(0, len(pdf), batch)]
    k_rates, x_rates = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in mapper(iter(batches)):
            pass
        k_rates.append(len(pdf) / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        pdf["html"].map(extract_text_py)
        x_rates.append(len(pdf) / (time.perf_counter() - t0))
    return {
        "mentions.kernel_pages_per_s": _med(k_rates),
        "text.extract_pages_per_s": _med(x_rates),
    }


def python_metrics(spark, first_exec: int, end_exec: int) -> dict:
    vals = trace.python_node_metrics(spark, first_exec, end_exec)
    return {k: (v, 1) for k, v in vals.items()}

