"""Structured Streaming ingest: the reference's Kafka consumer loop
re-expressed as readStream → transform → foreachBatch sink.

Reference analog: per-topic consumer threads with manual offset
management and catch-up detection (``src/genegraph/sink/stream.clj:106-360``).
Spark mapping: source offsets/checkpointing replace the hand-rolled
offset file (``stream.clj:221-236``); each micro-batch lands via
``foreachBatch`` as one idempotent write keyed by batch id (the
reference wraps each poll batch in one write tx,
``sink/event.clj:172-178``); ``Trigger.AvailableNow`` reproduces the
"consume to end offsets then stop" catch-up loop (``stream.clj:190-219``).

Scale shape: the streaming query itself is stateless or
bounded-state (watermarked windows); per-batch results are appended to
an output *table* under ``batch=N`` directories — overwritten on replay
of the same batch id, so checkpoint + idempotent batch dirs give
exactly-once results. Nothing materializes on the driver (round 1 used
``outputMode("complete")`` + a memory sink — a driver-side collect of
the full aggregate every batch; gone).

The source is a file stream over a parquet directory; on a cluster the
same query reads ``format("kafka")`` instead (only the source changes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions.text import extract_text, is_tombstone

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "version int, doc_id long, tombstone boolean"
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def write_pages_source(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the pages table as a parquet directory usable as a
    file-stream source (one file per partition = multiple micro-batch
    splits)."""
    fixtures.pages_df(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_events_source(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the events table alone as a stream-source directory
    (the sf dir holds many tables; a file stream needs a homogeneous one)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return out_dir


def write_events_source_with_dupes(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Events source with deterministic duplicate deliveries: every
    event_id divisible by 10 appears a second time, appended as separate
    files so the replay lands in a LATER micro-batch — the at-least-once
    redelivery shape (a Kafka consumer replaying past its last committed
    offset, stream.clj:150-170) the dedup stream must collapse."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(out_dir)
    ev.where(F.col("event_id") % 10 == 0).coalesce(1).write.mode("append").parquet(out_dir)
    return out_dir


def _batch_dir_writer(out_dir: str):
    """foreachBatch fn: write the micro-batch result to ``batch=N``,
    overwriting on checkpoint replay — idempotent exactly-once commits
    (the Iceberg-MERGE-per-batch analog at sandbox scale)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    return write_batch


def _read_batches(spark: SparkSession, out_dir: str, empty_schema: str) -> DataFrame:
    """Union of the committed batch dirs; a zero-batch run (empty source)
    yields an empty typed frame rather than a path error."""
    has_batches = os.path.isdir(out_dir) and any(
        d.startswith("batch=") for d in os.listdir(out_dir)
    )
    if not has_batches:
        return spark.createDataFrame([], empty_schema)
    return spark.read.option("basePath", out_dir).parquet(os.path.join(out_dir, "batch=*"))


def stream_mention_counts(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Streaming mention detection: file stream → extract → gazetteer
    broadcast join → per-batch partial per-entity counts appended via
    foreachBatch → final counts aggregate over batches.

    The in-stream plan is STATELESS (no streaming aggregation state);
    partial counts commute, so the final (iri, n_mentions) is independent
    of how the source splits into micro-batches. Runs with availableNow
    and returns the final aggregate as a batch DataFrame."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = spark.readStream.schema(PAGE_SCHEMA).parquet(source_dir)
    extracted = (
        src.withColumn("etext", extract_text(F.col("html")))
        .where(F.col("etext").isNotNull() & ~is_tombstone(F.col("html")))
    )
    toks = extracted.select(
        "url", F.explode(F.split(F.col("etext"), " ")).alias("token")
    ).where(F.col("token") != "")
    alias = fixtures.alias_df(spark).where(F.col("label_kind") == "preferred")
    hits = toks.join(
        F.broadcast(alias.withColumnRenamed("label", "token")), "token", "inner"
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("iri").agg(F.count("*").alias("n_part"))
        partial.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    q = (
        hits.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        _read_batches(spark, out_dir, "iri string, n_part long, batch int")
        .groupBy("iri")
        .agg(F.sum("n_part").alias("n_mentions"))
    )


def stream_windowed_events(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Event-time windowed aggregation with a watermark (late-data
    handling the reference lacks — its ordering is offset-based):
    5-minute tumbling windows of event counts per type.

    outputMode("update") emits each window's refreshed aggregate; the
    foreachBatch sink lands them under ``batch=N`` and the final read
    takes the LATEST emission per (window, type) — the standard
    idempotent upsert-by-key pattern (at cluster scale: MERGE into a
    results table keyed by window)."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(source_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_batch_dir_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "event_type").orderBy(F.desc("batch"))
    return (
        _read_batches(
            spark, out_dir,
            "window_start timestamp, event_type string, n long, total double, batch int",
        )
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("window_start", "event_type", "n", "total")
    )


def stream_dedup_events(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str | None = None,
    watermark_delay: str = "35 days",
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicatesWithinWatermark``
    keyed on event_id — duplicate deliveries from an at-least-once
    source (offset replay after a crash) collapse to ONE emission, and
    the dedup state is EVICTED once the watermark passes an event's
    time, instead of growing forever (the unbounded ``dropDuplicates``
    state trap at 100 TB). ``watermark_delay`` must cover the source's
    redelivery horizon (Kafka retention / replay window); here it spans
    the whole fixture so the assertion is deterministic regardless of
    how files split into micro-batches."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    dd = src.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dd.writeStream.outputMode("append")
        .foreachBatch(_batch_dir_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _read_batches(spark, out_dir, EVENT_SCHEMA + ", batch int").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# -- custom stateful operator (applyInPandasWithState) -----------------------

def stream_user_running_totals(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user running event count /
    value total carried across micro-batches in GroupState — the
    ``applyInPandasWithState`` pattern for operators Structured
    Streaming's built-in aggregations can't express (arbitrary
    per-key state machines; the reference's nearest analog is its
    per-entity RocksDB snapshot accumulation).

    Emits the refreshed (user_id, n_events, total) row per touched user
    per batch to ``batch=N`` dirs; the final read is latest-per-user.
    State is partitioned by user — one shuffle per batch, state store
    local to each partition, exactly the layout RocksDB-backed state
    uses on a cluster."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_dir = out_dir or checkpoint_dir + "_out"
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total": [total]})

    updated = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        updated.writeStream.outputMode("update")
        .foreachBatch(_batch_dir_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("batch"))
    return (
        _read_batches(spark, out_dir, "user_id long, n_events long, total double, batch int")
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select("user_id", "n_events", F.round("total", 4).alias("total"))
    )


# -- catch-up / offsets-up-to-date check -------------------------------------

def processed_source_files(checkpoint_dir: str) -> set[str]:
    """File paths the stream's checkpoint has committed (the offset-file
    analog, stream.clj:27-43: Spark's FileStreamSource log replaces the
    hand-rolled ``partition_offsets.edn``)."""
    import json

    src_dir = os.path.join(checkpoint_dir, "sources", "0")
    paths: set[str] = set()
    if not os.path.isdir(src_dir):
        return paths
    for name in os.listdir(src_dir):
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(os.path.join(src_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    paths.add(json.loads(line)["path"])
    return paths


def source_up_to_date(source_dir: str, checkpoint_dir: str) -> dict:
    """Catch-up detection (stream.clj:190-208 ``merge-with <=`` of current
    vs end offsets): have all currently-available source files been
    committed by the stream? Returns {up_to_date, n_available, n_processed}."""
    available = {
        "file://" + os.path.join(source_dir, f)
        for f in os.listdir(source_dir)
        if f.endswith(".parquet")
    }
    processed = processed_source_files(checkpoint_dir)
    return {
        "up_to_date": available <= processed,
        "n_available": len(available),
        "n_processed": len(processed),
    }


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "version int, doc_id long"
)


def stream_pages_to_store(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
) -> dict:
    """The reference's PRIMARY event loop, streamed end to end: page
    events from a file-stream source → per-micro-batch KG construction
    (the full fused extraction + gazetteer linking + triple
    materialization plan of :func:`~genegraph_spark.plans.pipeline.construct_kg`)
    → :class:`NamedGraphStore` MERGE — one store commit per micro-batch
    (``stream.clj:150-236``: consume → add-model → replaceNamedModel,
    with the streaming checkpoint playing the offset file's role).

    Delivery semantics (matches the reference's offset-commit window):
    the streaming checkpoint advances AFTER the batch function returns,
    so a crash between merge and checkpoint replays the batch —
    re-merging the same graphs with the same content. Because the store
    MERGE is whole-graph replace, the replay CONVERGES on identical
    store content (content-idempotent); only the commit counter and
    lineage record the retry, exactly like a reprocessed Kafka offset.

    Returns {"batches": n, "last_commit": id}. availableNow trigger:
    drains everything present, then stops — rerunning with the same
    checkpoint processes only NEW source files (catch-up semantics)."""
    from ..plans.pipeline import construct_kg
    from ..sinks.named_graph import NamedGraphStore

    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = construct_kg(spark, sf_dir, pages=batch_df)
        store = NamedGraphStore(spark, store_path)
        versions = res.accepted_versions.select(
            F.col("url").alias("graph"), "version"
        )
        store.merge(
            res.triples,
            delete_graphs=res.deleted_graphs,
            graph_versions=versions,
        )
        n_batches["n"] += 1

    q = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(source_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    store = NamedGraphStore(spark, store_path)
    return {"batches": n_batches["n"], "last_commit": store.last_commit()}


# single-sourced with the store sink (review-caught: a third copy of
# the 6-column schema string risks silent divergence)
from ..sinks.named_graph import TRIPLE_SCHEMA as TRIPLES_SCHEMA  # noqa: E402


def stream_gdm_to_store(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    query_dir: str,
    dictionary: DataFrame,
    names: dict | None = None,
    entrez_map: DataFrame | None = None,
    constructs: list[str] | None = None,
) -> dict:
    """The reference's gene-validity PRIMARY loop, streamed: curation
    event MODELS (triple rows, graph = curation IRI) from a file-stream
    source → per-micro-batch :func:`~genegraph_spark.operators.gdm_chain.
    transform_gdm_corpus` (EVERY curation in the batch flows through the
    22-construct chain in ONE set of graph-scoped jobs — the corpus-mode
    payoff applied to streaming: the reference transforms one event at a
    time, stream.clj:150-236 + transform-gdm) → NamedGraphStore MERGE,
    one commit per micro-batch.

    Same delivery contract as :func:`stream_pages_to_store`: checkpoint
    advances after the batch function, whole-graph-replace MERGE makes
    replays content-idempotent.

    ``constructs`` narrows the chain to a subset of CONSTRUCT_ORDER for
    wiring diagnostics/tests — production callers leave it None (the
    full chain; its correctness is pinned by the batch-mode tests)."""
    from ..operators.gdm_chain import transform_gdm_corpus
    from ..sinks.named_graph import NamedGraphStore

    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = transform_gdm_corpus(
            batch_df,
            query_dir,
            dictionary,
            names=names,
            entrez_map=entrez_map,
            constructs=constructs,
        )
        NamedGraphStore(spark, store_path).merge(out)
        n_batches["n"] += 1

    q = (
        spark.readStream.schema(TRIPLES_SCHEMA)
        .parquet(source_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    store = NamedGraphStore(spark, store_path)
    return {"batches": n_batches["n"], "last_commit": store.last_commit()}
