"""KG benchmark: seeded inputs, one write path of the named-graph store
(batch ingest or streamed updates) and the store queries after it, a
correctness gate, one JSON result line.

    python3 kgbench/run.py --workload batch_ingest --seed 1 --seconds 4 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
code with spans, py4j counting and status-store reads switched on and
prints the per-layer metrics. Everything the run writes stays under
``.kgbench/`` in the checkout; the full record (environment, input
properties, every op, spans) goes to ``.kgbench/results/``. The exit
status is 0 only when every op succeeded and matched its oracle.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 170

# Each workload is one write path of the store followed by reads of what it
# left; a run has to fit a fresh session, so each measures one write.
WORKLOADS = {
    # the write: one cold plans.pipeline.run_to_store of the whole corpus
    # into a fresh store (the Arrow mapper, triple explode and full store
    # write); the reads then hit a store of one commit dir
    "batch_ingest",
    # set-up merges the corpus's triples and the hierarchy graph as the base
    # store; the write: feeds of 0.5% of urls drained by
    # stream_pages_to_store, one commit each (fixed per-commit costs and the
    # touched-bucket rewrite); the reads then span two commit dirs
    "update_stream",
}
# The write and the reads are measured in CPU seconds (user + system, every
# thread of the runner, the Spark JVM and its Python workers), not wall time:
# on a shared host, other tenants' load moves the wall time of the same ops
# from run to run by more than it moves their CPU time. The wall times are
# printed and recorded beside them.
END_TO_END = {
    "setup_s": "s",
    "write_cpu_s": "s",
    "read_cpu_s": "s",
    "store_bytes_per_triple": "B/triple",
}
# the head of the query round robin: one bgp select and three lookups; an
# untraced run measures READ_CYCLES of them
READ_HEAD = 4
READ_CYCLES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (None, None) with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    return sorted(xs)[n - 11], (n - 10) / n


def main(argv=None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # this process's own str hashes must not vary between runs either
        os.execve(sys.executable, [sys.executable] + sys.argv, {**os.environ, "PYTHONHASHSEED": "0"})
    sys.path.insert(0, ROOT)
    try:
        import genegraph_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2

    from kgbench import env, gate, gen, layers, phases, trace

    work = os.path.join(ROOT, ".kgbench", f"work-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".kgbench", "results")
    os.makedirs(out_dir, exist_ok=True)

    def abort():
        print(f"kgbench: watchdog: run exceeded {WATCHDOG_S}s", file=sys.stderr)
        env.kill_tree()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S - (time.perf_counter() - T0), abort)
    watchdog.daemon = True
    watchdog.start()
    # SIGTERM unwinds like an exception, so the session and its processes
    # are stopped and the work dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ncpu = len(os.sched_getaffinity(0))
    pinned = env.pin(ROOT, work, ncpu)
    inputs = gen.generate(args.seed)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = trace.Tracer(run_id, enabled=bool(args.trace))
    load_before = env.loadavg()
    per_layer: dict = {}
    spark = None
    try:
        with env.RssSampler() as rss:
            run = phases.Run(spark=None, tracer=tracer, inputs=inputs, work=work)
            phases.write_inputs(run)
            from genegraph_spark.session import get_spark

            with tracer.span("session.start"):
                spark = get_spark(
                    "kgbench",
                    extra_conf={
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pinned['TMPDIR']}",
                        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    },
                )
            run.spark = spark
            host = env.host(spark)
            tracer.install(spark)
            setup_s = time.perf_counter() - T0
            if args.workload == "update_stream":
                setup_s += phases.build_base_store(run, gate)
            x0 = trace.next_execution_id(spark) if args.trace else 0
            if args.workload == "batch_ingest":
                writes = [phases.batch_ingest(run)]
            else:
                writes = phases.update_stream(run, args.seconds / 2)
            x1 = trace.next_execution_id(spark) if args.trace else 0
            # the untraced run measures the bgp and lookup ops of the round
            # robin, READ_CYCLES heads of it; the traced one runs the round
            # robin until every class ran
            if args.trace:
                need = {"select": 1, "lookup": READ_HEAD - 1, **{k: 1 for k in gen.QUERY_CLASSES}}
                queries = phases.store_query(run, args.seconds / 2, need)
            else:
                need = {"select": READ_CYCLES, "lookup": READ_CYCLES * (READ_HEAD - 1)}
                queries = phases.store_query(run, args.seconds / 2, need, kinds=("bgp", "lookup"))

            if args.trace:
                overhead = phases.replay_overhead(run, queries)
                records = tracer.records()
                jobs = trace.jobs_table(spark)
                per_layer.update(layers.span_metrics(records, trace.jobs_by_group(jobs)))
                per_layer.update(layers.exec_metrics(spark, records, jobs))
                per_layer.update(layers.python_metrics(spark, x0, x1))
                per_layer.update(layers.kernel_metrics(spark, run.docs_parquet))
                per_layer["trace.overhead_ratio"] = (overhead, 2 * min(len(queries), phases.REPLAY_OPS))
            tracer.uninstall()
            per_layer.update(
                layers.store_metrics(run.store_path, [op.extra["commit"] for op in writes if op.kind == "commit" and op.ok])
            )

            t_gate = time.perf_counter()
            failures = verify(run, gate)
            snap_bytes, snap_rows = snapshot_size(run, gate)
            per_layer["mem.jvm_peak_rss_mb"] = (env.jvm_hwm_kb() / 1024, 1)
            t_stop = time.perf_counter()
            env.stop_spark(spark)
            spark = None
            t_end = time.perf_counter()
    finally:
        try:
            if spark is not None:
                env.stop_spark(spark)
        finally:
            watchdog.cancel()
            shutil.rmtree(work, ignore_errors=True)
    load_after = env.loadavg()
    per_layer["mem.peak_rss_mb"] = (rss.peak_kb / 1024, 1)

    selects = [op for op in queries if op.kind in gen.QUERY_CLASSES]
    lookups = [op for op in queries if op.kind == "lookup"]
    lat = lambda ops: [op.latency_s for op in ops if op.ok]  # noqa: E731
    # the heads measured: a bgp and three lookups each
    head = [op for op in queries if op.kind in ("bgp", "lookup")]
    cycles = len(head) / READ_HEAD
    metrics = {
        "setup_s": setup_s,
        "write_cpu_s": _median([op.extra["cpu_s"] for op in writes if op.ok]),
        "read_cpu_s": sum(op.extra["cpu_s"] for op in head) / cycles if all(op.ok for op in head) else math.nan,
        "store_bytes_per_triple": snap_bytes / snap_rows if snap_rows else math.nan,
    }
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if not op.ok)
    info = {
        "wall_s": time.perf_counter() - T0,
        "gate_s": t_stop - t_gate,
        "stop_s": t_end - t_stop,
        "write_tail_s": tail(lat(writes)),
        "select_tail_s": tail(lat(selects)),
        "lookup_tail_s": tail(lat(lookups)),
        "samples": {"write": len(writes), "select": len(selects), "lookup": len(lookups)},
        "failed_ops_ratio": {
            phase: sum(1 for op in ops if not op.ok) / len(ops)
            for phase, ops in ((args.workload, writes), ("store_query", queries))
        },
    }
    # the wall times behind write_cpu_s and read_cpu_s
    info["write_s"] = _median(lat(writes))
    info["read_s"] = sum(op.latency_s for op in head) / cycles
    info["select_p50_s"] = _median(lat(selects))
    info["lookup_p50_s"] = _median(lat(lookups))
    if args.workload == "batch_ingest":
        info["ingest_pages_per_s"] = writes[0].extra["pages"] / writes[0].latency_s
    else:
        info["commit_p50_s"] = info["write_s"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": gen.describe(inputs),
        "env": {
            **pinned,
            "local_dir_fs": env.fs_type(pinned["SPARK_GRAFT_LOCAL_DIR"]),
            "work_fs": env.fs_type(work),
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            **host,
        },
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
        "info": info,
        "per_layer": {k: {"value": v, "n": n, "unit": layers.unit_of(k)} for k, (v, n) in per_layer.items()},
        "ops": [
            {"kind": op.kind, "latency_s": op.latency_s, "ok": op.ok, "error": op.error, **op.extra}
            for op in run.ops
        ],
        "failures": failures,
        "spans": tracer.records() if args.trace else [],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"kgbench {args.workload} seed={args.seed} inputs={record['inputs']['input_sha256'][:16]} "
          f"load={load_before}->{load_after} wall={info['wall_s']:.1f}s record=.kgbench/results/{name}")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {END_TO_END[k]}")
    for k in ("write_s", "read_s", "ingest_pages_per_s", "commit_p50_s", "select_p50_s", "lookup_p50_s"):
        if k in info:
            print(f"  {k} = {info[k]:.6g} {'pages/s' if k.startswith('ingest') else 's'}")
    for k in ("write_tail_s", "select_tail_s", "lookup_tail_s"):
        v, p = info[k]
        print(f"  {k} = " + (f"{v:.6g} s at p{100 * p:.1f}" if v is not None else "n/a (fewer than 11 samples)"))
    for phase, r in info["failed_ops_ratio"].items():
        print(f"  failed_ops_ratio[{phase}] = {r:.6g}")
    for msg in failures:
        print(f"  FAILED {msg}")
    if args.trace:
        for k in layers.names():
            v, n = per_layer.get(k, (0.0, 0))
            print(f"  {k} = {v:.6g} {layers.unit_of(k)} (n={n})")
        out_metrics = {
            k: {"value": per_layer.get(k, (0.0, 0))[0], "unit": layers.unit_of(k)} for k in layers.names()
        }
    else:
        out_metrics = record["metrics"]
    correct = failed == 0
    for m in out_metrics.values():
        if isinstance(m["value"], float) and math.isnan(m["value"]):
            m["value"] = None  # no successful sample: the run is already failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out_metrics}))
    return 0 if correct else 1


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def verify(run, gate) -> list[str]:
    """Check the final store and every query op against their oracles;
    mark mismatches failed."""
    failures: list[str] = []

    def fail(op, msg):
        op.ok = False
        op.error = op.error or msg
        failures.append(f"{op.kind}: {msg}")

    oracle = gate.Oracle(run.docs_parquet)
    try:
        oracle.register_feeds(run.feeds_written)
        oracle.register_hierarchy(run.inputs.hierarchy)
        oracle.register_snapshot("snap", run.store_path)
        final = oracle.table_diff("snap", gate.store_sql(run))
        if final:
            write = [op for op in run.ops if op.kind in ("ingest", "commit")][-1]
            fail(write, f"store != one-shot oracle over the final page states: {final}")
        for op in run.ops:
            if op.kind in ("ingest", "commit") or not op.ok:
                continue
            msg = gate.diff(op.cols, op.rows, *oracle.rows(gate.query_sql(op.kind, op.params)))
            if msg:
                fail(op, msg)
    finally:
        oracle.close()
    return failures


def snapshot_size(run, gate) -> tuple[int, int]:
    """(bytes of the final snapshot's files, triples in it)."""
    import duckdb

    files = gate.snapshot_files(run.store_path)
    n = duckdb.connect().execute(f"SELECT count(*) FROM read_parquet({files})").fetchone()[0] if files else 0
    return sum(os.path.getsize(f) for f in files), n


if __name__ == "__main__":
    sys.exit(main())
