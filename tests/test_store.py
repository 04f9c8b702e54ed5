"""Named-graph store semantics: replace-by-graph merge, unpublish,
idempotent resume — the create/update/delete sequence test (FIXTURES §5;
reference analog: one-variation-create-update-delete fixtures and
replaceNamedModel semantics, database/load.clj:72-87)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore


def t(graph, s, p, o, is_iri=True, dt=None):
    return (graph, s, p, o, is_iri, dt)


def make(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_create_update_delete_sequence(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store"), n_buckets=8)

    # create: two graphs
    c1 = make(spark, [t("g1", "s1", "p", "o1"), t("g1", "s1", "p", "o2"), t("g2", "s2", "p", "o1")])
    store.merge(c1)
    assert store.triples().count() == 3

    # update: g1 replaced wholesale (shrinks to one triple); g2 untouched
    c2 = make(spark, [t("g1", "s1", "p", "o3")])
    store.merge(c2)
    got = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got == {("g1", "o3"), ("g2", "o1")}

    # idempotent replay (resume semantics: same merge converges)
    store.merge(c2)
    got2 = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got2 == got

    # delete: unpublish g1
    store.delete_graphs(make(spark, [t("g1", "x", "x", "x")]).select("graph"))
    got3 = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert got3 == {("g2", "o1")}

    # lineage shows the full history; resume set excludes unpublished g1
    lin = store.lineage()
    assert lin.where("graph = 'g1'").count() == 4  # publish, publish, publish, unpublish
    committed = {r["graph"] for r in store.committed_graphs().collect()}
    assert committed == {"g2"}


def test_merge_only_rewrites_touched_buckets(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store2"), n_buckets=64)
    many = make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(200)])
    store.merge(many)
    # single-graph update touches exactly one bucket
    one = make(spark, [t("g7", "s", "p", "NEW")])
    store.merge(one)
    got = {r["object"] for r in store.triples().where(F.col("graph") == "g7").collect()}
    assert got == {"NEW"}
    assert store.triples().count() == 200


def test_pipeline_to_store_and_resume(spark, sf_dir, tmp_path):
    """Full batch run lands in the store; a resumed (replayed) run
    converges to the same state; time travel sees the prior snapshot."""
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg")
    res, store, commit = run_to_store(spark, sf_dir, path, use_golden_text=True)
    n1 = store.triples().count()
    assert n1 > 0
    live_graphs = {r["graph"] for r in store.committed_graphs().collect()}
    deleted = {r["graph"] for r in res.deleted_graphs.collect()}
    assert deleted and not (live_graphs & deleted)

    # replay (simulates resume after kill mid-run): state converges
    res2, store2, commit2 = run_to_store(spark, sf_dir, path, use_golden_text=True)
    assert store2.triples().count() == n1
    a = {tuple(r) for r in store2.triples().collect()}
    b = {tuple(r) for r in store2.triples(commit=commit["commit"]).collect()}
    assert a == b


def test_compact_and_expire_snapshots(spark, tmp_path):
    import os

    store = NamedGraphStore(spark, str(tmp_path / "store3"), n_buckets=8)
    store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(40)]))
    store.merge(make(spark, [t("g3", "s", "p", "NEW3")]))            # c1
    store.delete_graphs(make(spark, [t("g5", "x", "x", "x")]).select("graph"))  # c2
    before = {(r["graph"], r["object"]) for r in store.triples().collect()}
    pre_commit = store.last_commit()

    meta = store.compact()                                           # c3
    assert meta["compaction_of"] == pre_commit
    # content unchanged, all buckets now point at the compaction dir
    after = {(r["graph"], r["object"]) for r in store.triples().collect()}
    assert after == before
    assert set(meta["buckets"].values()) == {f"data/c{meta['commit']:08d}"}
    # no content change ⇒ empty diff vs the pre-compaction snapshot
    assert store.diff(pre_commit, meta["commit"]).count() == 0
    # time travel to pre-compaction commits still works…
    assert store.triples(commit=0).count() == 40

    removed = store.expire_snapshots(keep_last=1)
    assert removed  # old commit dirs reclaimed
    data_dirs = set(os.listdir(os.path.join(str(tmp_path / "store3"), "data")))
    assert data_dirs == {f"c{meta['commit']:08d}"}
    # …until expiry; latest snapshot unaffected, resume set survives
    assert {(r["graph"], r["object"]) for r in store.triples().collect()} == before
    committed = {r["graph"] for r in store.committed_graphs().collect()}
    assert "g5" not in committed and "g3" in committed

    # writes continue normally after maintenance
    store.merge(make(spark, [t("g100", "s", "p", "o100")]))
    assert store.triples().where(F.col("graph") == "g100").count() == 1


def test_incremental_ingest_processes_only_updated_urls(spark, sf_dir, tmp_path):
    """incremental=True keys the skip-set on (url, max processed version):
    unchanged urls are never re-extracted, a url with a NEW version is —
    the gap the restart-only resume mode documents away."""
    from genegraph_spark import fixtures
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "inc")
    base = fixtures.pages_df(spark, sf_dir)
    _, store, c0 = run_to_store(spark, sf_dir, path, pages=base, use_golden_text=True)
    n0 = store.triples().count()

    # identical feed: zero stale pages; only the (unversioned) dictionary
    # graph republishes, with identical content
    res2, store, c1 = run_to_store(
        spark, sf_dir, path, pages=base, incremental=True, use_golden_text=True
    )
    assert res2.pages.count() == 0
    assert store.triples().count() == n0
    assert store.diff(c0["commit"], c1["commit"]).count() == 0

    # feed with ONE url advanced to a new version (different text);
    # pick a url whose head is a LIVE v1 (max version 3 would copy the
    # fixture's tombstone html and the graph would stay deleted)
    row = (
        base.groupBy("url")
        .agg(F.max("version").alias("v"))
        .where(F.col("v") == 1)
        .orderBy("url")
        .limit(1)
    ).collect()[0]
    upd = (
        base.where((F.col("url") == row.url) & (F.col("version") == row.v))
        .withColumn("version", F.col("version") + F.lit(1))
        .withColumn("text", F.lit("spark big slow"))
    )
    res3, store, c2 = run_to_store(
        spark, sf_dir, path, pages=base.unionByName(upd),
        incremental=True, use_golden_text=True,
    )
    # only the updated url entered the pipeline…
    assert {r.url for r in res3.pages.select("url").distinct().collect()} == {row.url}
    # …and only its graph changed in the store
    changed = {r.graph for r in store.diff(c1["commit"], c2["commit"]).collect()}
    assert changed == {row.url}
    # its watermark advanced, so replaying the same feed is again a no-op
    res4, store, _ = run_to_store(
        spark, sf_dir, path, pages=base.unionByName(upd),
        incremental=True, use_golden_text=True,
    )
    assert res4.pages.count() == 0


def test_per_partition_metrics_recorded(spark, tmp_path):
    """North rule: every partition writes row-count metrics alongside
    lineage; latencies land in the manifest's timings block."""
    store = NamedGraphStore(spark, str(tmp_path / "m"), n_buckets=8)
    meta = store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(50)]))
    m0 = store.metrics().where(F.col("commit") == 0)
    got = {(r.bucket, r.n_rows) for r in m0.collect()}
    # sums reconcile with the data itself
    assert sum(n for _, n in got) == 50
    assert m0.agg(F.sum("n_graphs")).collect()[0][0] == 50
    assert meta["timings"]["write_s"] > 0
    # an incremental commit records metrics only for its touched buckets
    store.merge(make(spark, [t("g7", "s", "p", "NEW")]))
    m1 = store.metrics().where(F.col("commit") == 1)
    assert 0 < m1.count() <= 2  # ≤ buckets touched by one graph


def test_graph_point_lookup_prunes_buckets(spark, tmp_path):
    """graphs() reads only the buckets the requested graphs hash to and
    returns exactly their content (getNamedModel read-side analog)."""
    store = NamedGraphStore(spark, str(tmp_path / "pl"), n_buckets=16)
    store.merge(make(spark, [t(f"g{i}", "s", "p", f"o{i}") for i in range(200)]))

    got = {(r.graph, r.object) for r in store.graphs(["g7", "g42"]).collect()}
    assert got == {("g7", "o7"), ("g42", "o42")}
    # empty request / missing graph
    assert store.graphs(["nope"]).count() == 0
    # pruning: the lookup's scan touches fewer distinct files than a full read
    lookup_files = {
        r[0] for r in store.graphs(["g7"])
        .select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0] for r in store.triples()
        .select(F.input_file_name()).distinct().collect()
    }
    assert 0 < len(lookup_files) < len(all_files)


def test_snapshot_isolation_for_concurrent_reader(spark, tmp_path):
    """Copy-on-write: a reader holding a snapshot keeps seeing it while a
    writer lands the next commit (old segments are never modified until
    expire_snapshots)."""
    store = NamedGraphStore(spark, str(tmp_path / "iso"), n_buckets=8)
    store.merge(make(spark, [t("g1", "s", "p", "v1"), t("g2", "s", "p", "x")]))
    reader = store.triples(commit=0)  # snapshot pinned BEFORE the update
    store.merge(make(spark, [t("g1", "s", "p", "v2")]))
    # the pinned snapshot still reads the old value after the new commit
    assert {r.object for r in reader.where(F.col("graph") == "g1").collect()} == {"v1"}
    assert {
        r.object for r in store.triples().where(F.col("graph") == "g1").collect()
    } == {"v2"}


def test_expire_keep_more_than_commits_is_noop(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "nk"), n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o")]))
    assert store.expire_snapshots(keep_last=5) == []
    assert store.triples().count() == 1
    with pytest.raises(ValueError, match="retain at least"):
        store.expire_snapshots(keep_last=0)


def test_writer_fails_fast_when_head_moved(spark, tmp_path):
    # merge, compact and expire_snapshots share one guard: a head that
    # moved between reading it and taking the lock aborts the write, and
    # the lock is released for the next writer
    store = NamedGraphStore(spark, str(tmp_path / "hm"), n_buckets=4)
    store.merge(make(spark, [t("g1", "s", "p", "o")]))
    for op in ("merge", "compact", "expire_snapshots"):
        with pytest.raises(RuntimeError, match=f"store advanced.*retry {op}"):
            with store._head_lock(None, op):
                pass
    store.merge(make(spark, [t("g2", "s", "p", "o")]))
    assert store.last_commit() == 1


def test_resume_and_incremental_are_exclusive(spark, sf_dir, tmp_path):
    from genegraph_spark.plans.pipeline import run_to_store

    with pytest.raises(ValueError, match="exclusive"):
        run_to_store(spark, sf_dir, str(tmp_path / "x"), resume=True, incremental=True)


def test_graphs_on_empty_store(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "es"), n_buckets=4)
    assert store.graphs(["g1"]).count() == 0
