"""Named-graph-partitioned triple store: per-bucket copy-on-write
snapshots with a manifest — replace-by-graph merge, unpublish, lineage,
resume, time travel.

Reference analog: the Jena TDB2 named-graph dataset —
``replaceNamedModel`` upserts a whole graph atomically and
``removeNamedModel`` deletes it (``src/genegraph/database/load.clj:72-87``,
``sink/event.clj:23-46``); the event recorder (``sink/event_recorder.clj:25-62``)
and offset file (``sink/stream.clj:221-236``) make a killed run resumable.

Design (a deliberate miniature of Iceberg's copy-on-write MERGE, which is
what this maps to on a real cluster — ``MERGE INTO triples USING new ON
t.graph = n.graph`` over a table partitioned by ``bucket(graph, N)``):

- rows are hashed to ``bucket = pmod(xxhash64(graph), n_buckets)``;
- a *commit* rewrites only the buckets touched by incoming/deleted
  graphs: previous rows of those buckets are anti-joined against the
  incoming graph set, unioned with the new rows, and written to a fresh
  directory ``data/c<commit>``;
- a JSON *manifest* per commit maps every bucket to the directory that
  currently holds it (untouched buckets keep pointing at older commit
  dirs) — never overwriting files in place gives snapshot isolation,
  safe concurrent readers, time travel, and makes an interrupted commit
  invisible (the manifest is written last);
- whole-graph replace (not row upsert) keeps merges idempotent: the
  incoming graph's rows fully determine the graph, so replaying a batch
  after a crash converges — the reference's idempotence story, kept.

Scale notes: a merge shuffles only the touched buckets' rows once (the
anti-join on ``graph`` is co-partitioned with the bucket layout); the
incoming side determines the touched set, so a small incremental batch
rewrites a small fraction of a 100 TB table. Skewed graphs are bounded
by page size; bucket counts are chosen so a bucket ≈ one task.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)


class NamedGraphStore:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 64):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._lineage = os.path.join(path, "lineage")
        self._manifests = os.path.join(path, "manifests")
        os.makedirs(self._manifests, exist_ok=True)
        # the bucket function is part of the PHYSICAL layout: reopening
        # with a different n_buckets would hash graphs into buckets the
        # merge never rewrites (stale rows of replaced graphs survive) —
        # the persisted value always wins
        last = self.last_commit()
        if last is not None:
            persisted = self._read_manifest(last).get("n_buckets")
            if persisted is not None:
                self.n_buckets = persisted

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, commit: int) -> str:
        return os.path.join(self._manifests, f"c{commit:08d}.json")

    def last_commit(self) -> int | None:
        ms = sorted(
            m for m in os.listdir(self._manifests)
            if m.startswith("c") and m.endswith(".json")
        )
        return int(ms[-1][1:-5]) if ms else None

    def _read_manifest(self, commit: int) -> dict:
        with open(self._manifest_path(commit)) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self.last_commit() is not None

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", F.pmod(F.xxhash64("graph"), F.lit(self.n_buckets)))

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], TRIPLE_SCHEMA + ", bucket bigint")

    def _read_segments(self, manifest: dict, buckets: set[int] | None = None) -> DataFrame:
        """Union the manifest's segments, optionally restricted to buckets."""
        by_dir: dict[str, list[int]] = {}
        for b_str, d in manifest["buckets"].items():
            b = int(b_str)
            if buckets is None or b in buckets:
                by_dir.setdefault(d, []).append(b)
        parts = []
        for d, bs in by_dir.items():
            full = os.path.join(self.path, d)
            if os.path.exists(full):
                # explicit schema: a delete-only commit writes ZERO data
                # files under its bucket=K layout, which breaks inference
                parts.append(
                    self.spark.read.schema(TRIPLE_SCHEMA + ", bucket bigint")
                    .parquet(full)
                    .where(F.col("bucket").isin(bs))
                )
        return reduce(lambda a, b: a.unionByName(b), parts) if parts else self._empty()

    # -- read paths ----------------------------------------------------------
    def read(self, commit: int | None = None) -> DataFrame:
        if commit is None:
            commit = self.last_commit()
        if commit is None:
            return self._empty()
        return self._read_segments(self._read_manifest(commit))

    def triples(self, commit: int | None = None) -> DataFrame:
        """The union model: all named graphs (query.clj:15-16 analog).
        ``commit`` selects a historical snapshot (time travel)."""
        return self.read(commit).drop("bucket")

    def graphs(self, graph_iris: list[str], commit: int | None = None) -> DataFrame:
        """Point lookup of specific named graphs (``getNamedModel``,
        load.clj:72-87 read side) — reads ONLY the buckets those graphs
        hash to (same pmod(xxhash64) the writer used), so a k-graph
        lookup scans ~k/n_buckets of the store instead of all of it.
        The graph filter on top is pushed into the parquet scan."""
        if commit is None:
            commit = self.last_commit()
        if commit is None:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        hashed = self._bucket(
            self.spark.createDataFrame([(g,) for g in graph_iris], "graph string")
        )
        wanted = {r["bucket"] for r in hashed.select("bucket").distinct().collect()}
        seg = self._read_segments(self._read_manifest(commit), wanted)
        return (
            seg.where(F.col("graph").isin(graph_iris))
            .drop("bucket")
        )

    # -- write path ------------------------------------------------------------
    def merge(
        self,
        triples: DataFrame,
        delete_graphs: DataFrame | None = None,
        graph_versions: DataFrame | None = None,
    ) -> dict:
        """Replace every incoming graph's content; optionally delete
        graphs. A graph in BOTH inputs is deleted (delete wins — one
        deterministic outcome instead of publish/unpublish racing in the
        same commit's lineage).

        SINGLE-WRITER contract: exactly one writer may merge at a time
        (matching the reference's single-writer TDB transaction,
        database/util.clj:29-42). The data write uses mode=overwrite so a
        crash-replay converges on the same commit id — which also means
        two CONCURRENT writers computing the same id would interleave
        into the same data dir with last-manifest-wins over mixed data. A
        lock file (O_EXCL manifest create) fails fast on the second
        writer."""
        last = self.last_commit()
        commit = 0 if last is None else last + 1
        with self._head_lock(last, "merge"):
            return self._merge_locked(triples, delete_graphs, last, commit, graph_versions)

    @contextmanager
    def _head_lock(self, last: int | None, op: str):
        """Hold the lock of commit ``last + 1`` and fail fast unless the
        head is still ``last`` — the TOCTOU guard every writer needs:
        another writer may have committed between reading ``last`` and
        acquiring the lock (a merge would then reuse its commit id, a
        compaction would overwrite it from an older snapshot, an expiry
        would reclaim data a manifest it never saw references). A
        crash-REPLAY is unaffected: the orphan commit has no manifest, so
        ``last_commit()`` is unchanged and the replay proceeds."""
        with self._commit_lock(0 if last is None else last + 1):
            if self.last_commit() != last:
                raise RuntimeError(
                    f"store advanced past commit {last!r} while acquiring the "
                    f"{op} lock; retry {op}() against the new head"
                )
            yield

    @contextmanager
    def _commit_lock(self, commit: int):
        """O_EXCL create with our pid: a LIVE concurrent writer holding the
        same commit id fails fast; a lock left by a CRASHED writer (pid
        dead — crash-replay is the documented resume path) is reclaimed,
        and the overwrite below clobbers its orphan data dir so the
        manifest write makes exactly one outcome visible. On a cluster
        store the same role is played by an O_EXCL/conditional-put
        manifest create on shared storage."""
        import fcntl

        lock = os.path.join(self.path, f"commit-{commit:08d}.lock")
        os.makedirs(self.path, exist_ok=True)
        # Reclaiming a dead writer's lock must itself be exclusive: two live
        # writers that both observe a dead pid must not BOTH rewrite the lock
        # and proceed (that reopens the interleaved-data corruption the lock
        # exists to prevent), and a naive remove-then-recreate lets writer B
        # unlink the lock writer A just created. So every mutation of the
        # lock PATH (O_EXCL create, liveness check, stale unlink) runs under
        # a kernel flock() on a per-store mutex file — held only for the
        # acquisition instant, auto-released if the reclaimer itself dies.
        # The pid-stamped lock file remains the real lock for the duration
        # of the merge (it survives across processes and is what crash
        # replay inspects); the flock only serializes acquire/reclaim.
        mutex_fd = os.open(
            os.path.join(self.path, "writer-mutex.lock"),
            os.O_CREAT | os.O_WRONLY,
        )
        try:
            fcntl.flock(mutex_fd, fcntl.LOCK_EX)
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
            except FileExistsError:
                try:
                    holder = int(open(lock).read().strip() or "0")
                except (OSError, ValueError):
                    holder = 0
                alive = False
                if holder > 0:
                    try:
                        os.kill(holder, 0)
                        alive = True
                    except ProcessLookupError:
                        alive = False
                    except PermissionError:
                        # EPERM: the pid EXISTS but belongs to another
                        # user — a live writer we may not signal. Treating
                        # it as dead would delete a live writer's lock and
                        # reopen concurrent-writer corruption (ADVICE r4).
                        alive = True
                    except OSError:
                        alive = False
                if alive:
                    raise RuntimeError(
                        f"concurrent writer (pid {holder}) detected for commit "
                        f"{commit} (lock {lock}); the store is single-writer"
                    ) from None
                # stale lock from a dead writer: safe to replace, we hold
                # the acquisition mutex so no other reclaimer can interleave
                os.remove(lock)
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
        finally:
            try:
                fcntl.flock(mutex_fd, fcntl.LOCK_UN)
            finally:
                os.close(mutex_fd)
        try:
            yield
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def _merge_locked(
        self,
        triples: DataFrame,
        delete_graphs: DataFrame | None,
        last: int | None,
        commit: int,
        graph_versions: DataFrame | None = None,
    ) -> dict:
        if delete_graphs is not None:
            triples = triples.join(delete_graphs.select("graph"), "graph", "left_anti")
        # the incoming plan may be expensive (pandas-UDF extraction) and
        # is consumed 3× below (touched-bucket collect, data write,
        # lineage counts) — persist it once; at cluster scale this is a
        # checkpoint to the lake
        new = self._bucket(triples).persist()
        affected = new.select("graph").distinct()
        if delete_graphs is not None:
            affected = affected.union(delete_graphs.select("graph")).distinct()
        affected = self._bucket(affected).cache()
        touched = {r["bucket"] for r in affected.select("bucket").distinct().collect()}

        data_dir = f"data/c{commit:08d}"
        if last is not None:
            prev = self._read_manifest(last)
            keep = self._read_segments(prev, touched).join(
                affected.select("graph"), "graph", "left_anti"
            )
            out = keep.unionByName(new.where(F.col("bucket").isin(list(touched))))
            buckets_map = dict(prev["buckets"])
        else:
            out = new
            touched = set(range(self.n_buckets))
            buckets_map = {}
        # mode=overwrite: the commit id is derived from manifests only, so
        # a run killed after this write but before the manifest write
        # leaves an orphan data/cNNNNNNNN dir; the replayed merge computes
        # the same commit id and must clobber the orphan (the manifest
        # written last is what makes a commit visible — an interrupted
        # commit is invisible and replay converges, load.clj:72-87
        # idempotence kept)
        t0 = time.monotonic()
        # bucket=K subdirectories: point lookups (graphs()) and the next
        # merge's keep-side read prune at the FILE level, not just via a
        # row filter — the partitioned-table layout the Iceberg mapping
        # prescribes (bucket(graph, N) partition transform)
        out.repartition("bucket").sortWithinPartitions("bucket", "graph").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(self.path, data_dir))
        write_s = time.monotonic() - t0
        for b in touched:
            buckets_map[str(b)] = data_dir

        if os.environ.get("GG_CRASH_AFTER_DATA_WRITE"):
            # test hook: simulate a hard kill between the data write and
            # the manifest write (tests/test_store.py kill/resume)
            os._exit(17)

        t0 = time.monotonic()
        self._write_lineage(commit, new, delete_graphs, graph_versions)
        lineage_s = time.monotonic() - t0
        self._write_metrics(commit, data_dir)
        meta = {
            "commit": commit,
            "buckets": buckets_map,
            "n_buckets": self.n_buckets,
            "wall_ts": time.time(),
            "timings": {"write_s": round(write_s, 3), "lineage_s": round(lineage_s, 3)},
        }
        with open(self._manifest_path(commit), "w") as f:
            json.dump(meta, f)
        affected.unpersist()
        new.unpersist()
        return meta

    def delete_graphs(self, graphs: DataFrame) -> dict:
        """Unpublish: remove graphs entirely (sink/event.clj:41-46)."""
        empty = self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return self.merge(empty, delete_graphs=graphs)

    # -- maintenance ---------------------------------------------------------
    def compact(self) -> dict:
        """Rewrite every live bucket into one fresh data dir — Iceberg's
        ``rewrite_data_files`` analog. After many incremental merges the
        manifest points buckets at many commit dirs, and old dirs carry
        dead rows for graphs replaced later; a compaction commit rewrites
        the CURRENT rows once (one bucket-partitioned shuffle, same layout
        the merge path uses) and publishes a manifest where all buckets
        point at the new dir. Content is unchanged, so no lineage rows are
        written and ``diff(last, compacted)`` is empty; older snapshots
        stay readable until :meth:`expire_snapshots`.

        The reference never compacts (Jena TDB2 manages its own B-trees,
        ``database/instance.clj``); on a lakehouse this is the operation
        that keeps read amplification flat as commit count grows."""
        last = self.last_commit()
        if last is None:
            raise ValueError("nothing to compact: store has no commits")
        commit = last + 1
        with self._head_lock(last, "compact"):
            live = self._read_segments(self._read_manifest(last))
            data_dir = f"data/c{commit:08d}"
            live.repartition("bucket").sortWithinPartitions(
                "bucket", "graph"
            ).write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(self.path, data_dir)
            )
            self._write_metrics(commit, data_dir)
            meta = {
                "commit": commit,
                "buckets": {str(b): data_dir for b in range(self.n_buckets)},
                "n_buckets": self.n_buckets,
                "wall_ts": time.time(),
                "compaction_of": last,
            }
            with open(self._manifest_path(commit), "w") as f:
                json.dump(meta, f)
            return meta

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` manifests and delete data
        dirs no retained manifest references — Iceberg's
        ``expire_snapshots`` analog. Time travel to expired commits stops
        working (that is the point: bounded storage); lineage history is
        kept, only snapshot data is reclaimed. Returns removed data dirs."""
        if keep_last < 1:
            raise ValueError("must retain at least the latest snapshot")
        commits = sorted(
            int(m[1:-5]) for m in os.listdir(self._manifests)
            if m.startswith("c") and m.endswith(".json")
        )
        drop, keep = commits[:-keep_last], commits[-keep_last:]
        if not drop:
            return []
        with self._head_lock(commits[-1], "expire_snapshots"):
            live_dirs = {
                d for c in keep for d in self._read_manifest(c)["buckets"].values()
            }
            removed = []
            data_root = os.path.join(self.path, "data")
            for d in sorted(os.listdir(data_root) if os.path.exists(data_root) else []):
                rel = os.path.join("data", d)
                if rel not in live_dirs:
                    shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
                    removed.append(rel)
            for c in drop:
                os.remove(self._manifest_path(c))
            return removed

    # -- per-partition metrics ----------------------------------------------
    def _write_metrics(self, commit: int, data_dir: str) -> None:
        """Per-partition (bucket) row counts + file sizes for the rows this
        commit wrote — the north rule's 'every partition writes lineage
        records and row-count/latency metrics'. Ground truth comes from
        reading BACK the freshly written files (cheap: they are still in
        page cache), so the metric can never disagree with the data; commit
        latencies live in the manifest's ``timings``."""
        written = self.spark.read.schema(TRIPLE_SCHEMA + ", bucket bigint").parquet(
            os.path.join(self.path, data_dir)
        )
        m = written.groupBy("bucket").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("graph").alias("n_graphs"),
        )
        m.write.mode("overwrite").parquet(
            os.path.join(self.path, "metrics", f"commit={commit}")
        )

    def metrics(self) -> DataFrame:
        """(commit, bucket, n_rows, n_graphs) across all commits."""
        base = os.path.join(self.path, "metrics")
        return self.spark.read.option("basePath", base).parquet(
            os.path.join(base, "commit=*")
        )

    # -- lineage / resume ---------------------------------------------------
    def _write_lineage(
        self,
        commit: int,
        triples: DataFrame,
        delete_graphs: DataFrame | None,
        graph_versions: DataFrame | None = None,
    ):
        lin = (
            triples.groupBy("graph")
            .agg(F.count("*").alias("n_triples"))
            .withColumn("action", F.lit("publish"))
        )
        if delete_graphs is not None:
            lin = lin.unionByName(
                delete_graphs.select("graph")
                .distinct()
                .withColumn("n_triples", F.lit(0).cast("long"))
                .withColumn("action", F.lit("unpublish"))
            )
        # optional per-graph source version (incremental-ingest watermark);
        # graphs without one (e.g. the dictionary graph) record null
        if graph_versions is not None:
            lin = lin.join(
                graph_versions.select("graph", F.col("version").cast("long")),
                "graph",
                "left_outer",
            )
        else:
            lin = lin.withColumn("version", F.lit(None).cast("long"))
        lin.write.mode("overwrite").parquet(os.path.join(self._lineage, f"commit={commit}"))

    def lineage(self) -> DataFrame:
        # mergeSchema: commits written before the version column existed
        # surface it as null instead of failing the union
        return self.spark.read.option("basePath", self._lineage).option(
            "mergeSchema", "true"
        ).parquet(os.path.join(self._lineage, "commit=*"))

    def committed_graphs(self) -> DataFrame:
        """Graphs whose latest lineage action is publish — the resume set:
        a restarted run anti-joins its input against this before
        reprocessing (offset-file analog, stream.clj:221-236).

        Only manifested commits count: lineage is written before the
        manifest, so a run killed between them leaves orphan lineage rows
        for a commit that never became visible — those must not be
        claimed as committed."""
        last = self.last_commit()
        if last is None:
            return self.spark.createDataFrame([], "graph string")
        lin = self.lineage().where(F.col("commit") <= last)
        w = Window.partitionBy("graph").orderBy(F.desc("commit"))
        return (
            lin.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("action") == "publish"))
            .select("graph")
        )

    def diff(self, commit_a: int, commit_b: int) -> DataFrame:
        """Build-to-build regression diff: (graph, n_added, n_removed)
        for every graph whose triple content differs between two commits
        — the event-recorder comparison harness
        (``sink/event_recorder.clj:25-62``;
        ``variation_transformer_test.clj:196-206`` ``diff-records``)
        applied store-side via ``model.model_diff`` (exceptAll in both
        directions, counted per graph).

        Scale note: each direction is one exceptAll shuffle over the two
        snapshots; on a lake-scale store, prune first by comparing
        per-bucket manifest file lists (unchanged buckets are byte-equal
        segments and can be skipped) before diffing row-level."""
        from ..operators.model import model_diff

        a = self.triples(commit=commit_a)
        b = self.triples(commit=commit_b)
        added = model_diff(b, a).groupBy("graph").agg(F.count("*").alias("n_added"))
        removed = model_diff(a, b).groupBy("graph").agg(F.count("*").alias("n_removed"))
        zero = F.lit(0).cast("long")
        return added.join(removed, "graph", "full_outer").select(
            "graph",
            F.coalesce("n_added", zero).alias("n_added"),
            F.coalesce("n_removed", zero).alias("n_removed"),
        )

    def processed_graphs(self) -> DataFrame:
        """Graphs with ANY manifested lineage row (publish OR unpublish) —
        the resume skip-set: a tombstoned graph was processed even though
        it is not live, and reprocessing it would only re-delete it."""
        last = self.last_commit()
        if last is None:
            return self.spark.createDataFrame([], "graph string")
        return (
            self.lineage().where(F.col("commit") <= last).select("graph").distinct()
        )

    def processed_versions(self) -> DataFrame:
        """(graph, version) — the highest source version each graph was
        processed at (publish or unpublish), the incremental-ingest
        watermark. ``version`` is null for graphs only ever merged
        without ``graph_versions`` (callers must treat null as unknown
        and reprocess; the whole-graph MERGE makes that safe)."""
        last = self.last_commit()
        if last is None:
            return self.spark.createDataFrame([], "graph string, version bigint")
        return (
            self.lineage()
            .where(F.col("commit") <= last)
            .groupBy("graph")
            .agg(F.max("version").alias("version"))
        )
