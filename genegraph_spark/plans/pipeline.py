"""End-to-end KG-construction pipeline.

The reference processes each event through a Pedestal interceptor chain
(``src/genegraph/sink/event.clj:100-137``): record lineage → add metadata
→ parse/transform to RDF → derive graph IRI → validate → extract subjects
→ infer action → write named graph → snapshot. Re-expressed as a linear
DataFrame plan (SURVEY §3.1):

    pages ──extract──▶ +text ──quarantine split──▶ valid
      valid ──compact versions──▶ live pages (latest non-tombstone per url)
      live ──tokenize ▷ broadcast-join dictionary──▶ candidate mentions
      candidates ──contextual scoring──▶ linked mentions
      dictionary ──same-as CC──▶ canonical map (broadcast)
      linked ⋈ canonical ──explode──▶ triples
      triples ──MERGE by graph──▶ named-graph store (+ lineage)

Every stage is JVM-side except the single pandas-UDF extraction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions.text import extract_text, is_tombstone
from ..operators import canonicalize, mentions, triples as T, validate, versioned


@dataclass
class PipelineResult:
    pages: DataFrame
    quarantine: DataFrame
    live_pages: DataFrame
    linked: DataFrame
    canonical_map: DataFrame
    triples: DataFrame
    deleted_graphs: DataFrame
    #: (url, version): max version per url among rows that PASSED shape
    #: validation — the incremental-ingest watermark. Derived from accepted
    #: rows, not raw input: a feed carrying v1 (valid) + v2 (quarantined)
    #: must record watermark 1 so a corrected redelivery of v2 reprocesses.
    accepted_versions: DataFrame | None = None
    extras: dict = field(default_factory=dict)


def construct_kg(
    spark: SparkSession,
    sf_dir: str,
    pages: DataFrame | None = None,
    dictionary: DataFrame | None = None,
    use_golden_text: bool = False,
) -> PipelineResult:
    """Build the KG from the pages table (synthesized from sf_dir unless
    given). ``use_golden_text`` skips the pandas-UDF extraction (the
    fixture carries golden text) — used by oracle-facing queries so the
    DuckDB SQL side stays expressible; the extraction itself is verified
    byte-identical by its own query + tests.
    """
    if pages is None:
        pages = fixtures.pages_df(spark, sf_dir)

    # 0. canonicalize the dictionary (same-as CC: small-graph fast path or
    #    distributed min-label loop), then compile the broadcast gazetteer.
    #    With the constant fixture dictionary the whole gazetteer compiles
    #    driver-side with zero Spark jobs (it IS the broadcast dictionary);
    #    a caller-supplied dictionary goes through the CC operator.
    if dictionary is None:
        dictionary = fixtures.dictionary_df(spark)
        canon_of = fixtures.canonical_map_py()
        alias_rows = [
            {"iri": iri, "label": lbl, "label_kind": kind}
            for iri, _, pref, alts, hiddens, _ in fixtures.ENTITIES
            for lbl, kind in (
                [(pref, "preferred")]
                + [(a, "alt") for a in alts]
                + [(h, "hidden") for h in hiddens]
            )
        ]
        canon = spark.createDataFrame(
            sorted(canon_of.items()), "iri string, canonical_iri string"
        )
    else:
        # derive the gazetteer and same-as graph from the SUPPLIED
        # dictionary (not the fixture vocabulary)
        alias = mentions.alias_from_dictionary(dictionary)
        # guard BEFORE canonicalization or any collect: rows + bytes
        mentions.assert_gazetteer_scale(alias)
        sameas = mentions.sameas_from_dictionary(dictionary)
        canon = canonicalize.canonical_entity_map(dictionary, sameas)
        alias_rows = alias.collect()
        canon_of = {r["iri"]: r["canonical_iri"] for r in canon.collect()}
    by_label, e_to_c, canon_iris = mentions.gazetteer_payload(alias_rows, canon_of)

    # 1. the fused hot path (north-star shape): ONE Arrow-batched pass per
    #    page does extraction (byte-identical, functions.text), tombstone
    #    detection, gazetteer match + contextual link scoring against the
    #    broadcast dictionary — inside Python worker processes, which
    #    scale linearly (independent heaps), while the JVM only ever sees
    #    slim rows (url, ids, flags, int arrays). The page text never
    #    enters a shuffle.
    mapper = mentions.make_page_mapper(by_label, e_to_c, use_golden_text)
    # ONE partition probe decides the low-split (fixture/single-file)
    # regime for the whole pipeline — lake inputs arrive in >= parallelism
    # splits and skip both branches below. (Probing is a physical-planning
    # pass; do it on the scan-side frame once, never on post-shuffle
    # frames — see operators.partitioning.)
    dp = spark.sparkContext.defaultParallelism
    # inputFiles() short-circuit first: one gateway call against the
    # (cached) file index, vs the .rdd probe's full physical-planning
    # pass — a lake-scale input with >= dp files skips planning
    # entirely and never pays either branch below
    try:
        many_files = len(pages.inputFiles()) >= dp
    except Exception:
        many_files = False
    low_split = not many_files and pages.rdd.getNumPartitions() < dp
    if low_split and not use_golden_text:
        # real html extraction is the expensive per-row stage; a single-
        # row-group fixture scan would run it in ONE Python worker. The
        # golden-text path skips this: its per-row work is light and the
        # extra tasks cost more than they save (measured 2.8s -> 3.5s on
        # kg_triples).
        pages = pages.repartition(dp, "url")
    mapped = pages.mapInPandas(mapper, mentions.MAP_SCHEMA)
    if low_split:
        # Pre-shuffle the slim mapper output by url to EXACTLY dp
        # partitions: the version-compaction window below is keyed on
        # url, so it reuses this exchange (no extra shuffle), and an
        # explicit user repartition is not AQE-byte-coalesced — without
        # it the window output collapses to ONE post-shuffle partition
        # at fixture scale and its ~60x triple/mention explode consumers
        # run single-threaded (measured 1.25s of kg_triples' 2.1s).
        mapped = mapped.repartition(dp, "url")

    # 2. root-type dispatch + declarative shape validation + version
    #    compaction over slim rows (formats.edn/shapes.edn registry,
    #    annotate.clj:19,30-36,72-132 — but quarantine, not chain-abort;
    #    ga4gh.clj:170-190 → newest version wins, tombstone head deletes).
    #    The registry compiles to one CASE projection — no join, no UDF.
    typed = mapped.withColumn(
        "root_type",
        F.when(F.col("is_del"), F.lit("TombstonePage")).otherwise(F.lit("WebPage")),
    )
    validated = validate.page_shape_registry().dispatch(typed)
    quarantine = validated.where(F.size("violations") > 0)
    accepted = validated.where(F.size("violations") == 0)
    accepted_versions = accepted.groupBy("url").agg(
        F.max("version").alias("version")
    )
    heads = versioned.latest_version(
        validated.where(F.size("violations") == 0).drop("violations", "root_type"),
        key="url",
        version="version",
    )
    live_slim = heads.where(~F.col("is_del"))
    deleted_graphs = heads.where(F.col("is_del")).select(F.col("url").alias("graph"))

    # 3. per-(page, canonical entity) mention records (lazy — only built
    #    if a consumer reads .linked): explode the int arrays, resolve the
    #    canonical IRI. Small vocabularies resolve via a literal array
    #    (zero joins/broadcasts); larger ones via a broadcast join.
    small_vocab = len(canon_iris) <= 10_000
    if small_vocab:
        lk = F.array(*[F.lit(c) for c in canon_iris])
        resolve = lambda df: df.withColumn(  # noqa: E731
            "canonical_iri", F.element_at(lk, F.col("m_cidx") + 1)
        ).drop("m_cidx")
    else:
        cent = spark.createDataFrame(
            list(enumerate(canon_iris)), "m_cidx int, canonical_iri string"
        )
        resolve = lambda df: df.join(F.broadcast(cent), "m_cidx").drop("m_cidx")  # noqa: E731
    linked_canon = resolve(
        live_slim.select(
            "url", F.explode(F.arrays_zip("m_cidx", "m_cnt", "m_pos")).alias("m")
        ).select(
            "url",
            F.col("m.m_cidx").alias("m_cidx"),
            F.col("m.m_cnt").cast("long").alias("n_mentions"),
            F.col("m.m_pos").alias("first_pos"),
        )
    )

    # 4. triple materialization: page + mention triples in ONE explode off
    #    live_slim (single consumer of the Python stage — a branch per
    #    family re-executes extraction, measured 2× in the round-1 plan),
    #    then the (tiny) dictionary graph unioned on top.
    if small_vocab:
        corpus_triples = T.page_and_mention_triples(live_slim, canon_iris)
    else:
        corpus_triples = T.union_all(
            [T.page_triples(live_slim), T.mention_triples(linked_canon)]
        )
    all_triples = T.union_all(
        [corpus_triples, T.dictionary_triples(dictionary, canon)]
    )

    # live pages with text, for golden tests / downstream consumers that
    # need the extracted text: a lazy second derivation, only evaluated if
    # a consumer reads it (the triples hot path never does)
    if use_golden_text:
        extracted = pages.withColumn("etext", F.col("text"))
    else:
        extracted = pages.withColumn("etext", extract_text(F.col("html")))
    extracted = extracted.withColumn("is_del", is_tombstone(F.col("html")))
    valid = extracted.where(F.col("etext").isNotNull() | F.col("is_del"))
    live_pages = (
        versioned.latest_version(valid, key="url", version="version")
        .where(~F.col("is_del"))
        .select("url", "warc_ts", F.col("etext").alias("text"), "lang", "version", "doc_id")
    )

    return PipelineResult(
        pages=pages,
        quarantine=quarantine,
        live_pages=live_pages,
        linked=linked_canon,
        canonical_map=canon,
        triples=all_triples,
        deleted_graphs=deleted_graphs,
        accepted_versions=accepted_versions,
    )


def run_to_store(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    dry_run: bool = False,
    resume: bool = False,
    incremental: bool = False,
    **kw,
):
    """Full batch run: construct + MERGE into the named-graph store.

    ``dry_run`` truncates the chain before any side effect
    (abort-on-dry-run-interceptor, sink/event.clj:71-76): the plan is
    built and the would-be commit summarized (graphs / triples /
    deletes), but nothing is written — the store is untouched.

    ``resume``: RESTART-OF-THE-SAME-INPUT ONLY — it skips any url with
    ANY processed lineage row (the offset-file resume semantic at graph
    granularity, stream.clj:221-236), so a restarted run only pays
    extraction for the unprocessed remainder. It is NOT incremental
    ingest: an input containing NEW versions of a previously-processed
    url would be silently skipped — that is what ``incremental`` is for.

    ``incremental``: TRUE INCREMENTAL INGEST — the skip-set is keyed on
    (url, max processed version), not url alone: a url is reprocessed
    when the incoming max ``version`` exceeds the lineage watermark
    (:meth:`NamedGraphStore.processed_versions`) or the watermark is
    null/absent (unknown → reprocess; whole-graph MERGE keeps that
    idempotent). Each merge records the watermark via
    ``graph_versions``, so successive incremental feeds pay extraction
    only for new or updated urls — the Kafka-consumer catch-up loop
    (stream.clj:150-170) re-expressed as batch anti-join + MERGE."""
    from ..sinks.named_graph import NamedGraphStore

    if resume and incremental:
        raise ValueError("resume and incremental are exclusive modes")
    store = NamedGraphStore(spark, store_path)
    pages = kw.pop("pages", None)
    if pages is None:
        pages = fixtures.pages_df(spark, sf_dir)
    if resume and store.exists():
        # processed set (publish OR unpublish — a tombstoned graph was
        # handled too) is corpus-scale: shuffled anti-join on url, NOT a
        # broadcast; AQE picks the strategy
        done = store.processed_graphs().withColumnRenamed("graph", "url")
        pages = pages.join(done, "url", "left_anti")
    elif incremental and store.exists():
        # stale = unseen urls + urls whose incoming max version advanced
        # past the processed watermark; one shuffled join on url
        incoming = pages.groupBy("url").agg(F.max("version").alias("_in_v"))
        wm = store.processed_versions().select(
            F.col("graph").alias("url"), F.col("version").alias("_done_v")
        )
        stale = (
            incoming.join(wm, "url", "left_outer")
            .where(F.col("_done_v").isNull() | (F.col("_in_v") > F.col("_done_v")))
            .select("url")
        )
        pages = pages.join(stale, "url", "left_semi")
    kw["pages"] = pages
    res = construct_kg(spark, sf_dir, **kw)
    if dry_run:
        summary = {
            "dry_run": True,
            "would_commit": (
                lc + 1 if (lc := store.last_commit()) is not None else 0
            ),
            "n_triples": res.triples.count(),
            "n_graphs": res.triples.select("graph").distinct().count(),
            "n_deleted_graphs": res.deleted_graphs.count(),
        }
        return res, store, summary
    # Watermark from ACCEPTED rows, not raw input: recording the raw max
    # would let a feed with v1-valid + v2-quarantined stamp watermark 2
    # while the store holds v1 content, silently skipping a later corrected
    # redelivery of v2 in incremental mode. Costs a second pass over the
    # extraction stage only in this store-merge path (the bench hot path
    # calls construct_kg directly and never evaluates this frame).
    versions = res.accepted_versions.select(
        F.col("url").alias("graph"), "version"
    )
    commit = store.merge(
        res.triples, delete_graphs=res.deleted_graphs, graph_versions=versions
    )
    return res, store, commit
