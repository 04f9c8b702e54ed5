"""Gazetteer mention detection + contextual entity-link scoring.

Reference analog: genegraph resolves symbolic names against its curated
identifier dictionary on every transform — per-event lookups like the
``?gene :owl/same-as ?hgnc_gene`` join
(``src/genegraph/transform/gene_validity_refactor.clj:347-348``) and the
per-row symbol queries (``src/genegraph/transform/hi_index.clj:13``).
Re-expressed Spark-first: the dictionary is tiny relative to the corpus,
so mention detection is a **broadcast hash join** between the exploded
token stream and the exploded alias table — zero shuffle of the big side
at detection time, no Python in the hot path.

Disambiguation (two entities sharing a surface form) is scored
JVM-side: label-kind weight (preferred > alt > hidden, the skos ranking
of transform/gene.clj:51-67) plus document-context support (how many
*distinct other* surface forms of the same entity occur in the document),
then a deterministic argmax per (doc, position).

Scale notes (100 TB): the token explode multiplies rows ~200×; it never
shuffles — detection is explode → broadcast-join → local aggregation, and
the only shuffles are the per-(doc,entity) aggregations, keyed by doc so
Zipf-skewed hot *entities* (BRCA1-class) do not create hot *keys*; the
final mention table is keyed by doc as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KIND_WEIGHT = {"preferred": 3, "alt": 2, "hidden": 1}


def tokenize(pages: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, pos, token) stream — whitespace tokenization, JVM-side."""
    return (
        pages.select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"))
        .where(F.col("token") != "")
    )


def detect_mentions(tokens: DataFrame, alias: DataFrame) -> DataFrame:
    """Candidate mentions: broadcast-join tokens against the alias table.

    Returns (id, pos, token, iri, entity_type, label_kind) — one row per
    candidate entity per token occurrence (ambiguous tokens fan out).
    """
    return tokens.join(
        F.broadcast(alias.withColumnRenamed("label", "token")), "token", "inner"
    )


def link_entities(
    candidates: DataFrame, alias: DataFrame | None = None, id_col: str = "url"
) -> DataFrame:
    """Resolve ambiguous candidates to one entity per (doc, position).

    Contract: the alias table feeding detect_mentions must be unique on
    (label, iri) — alias_from_dictionary enforces it — because
    unambiguous-label candidates pass through without a per-(doc, pos)
    pick and duplicate alias rows would double-count mentions.

    score = 10 * kind_weight + context_support, where context_support =
    number of distinct surface forms of the entity seen in the document.
    Ties break on iri (deterministic). Returns
    (id, pos, token, iri, entity_type, label_kind).

    Scale path: ambiguity is a property of the (tiny) gazetteer, so when
    ``alias`` is given, only occurrences of *ambiguous* surface forms pay
    the per-(doc,pos) window shuffle and the per-(doc,entity) support
    aggregation — unambiguous tokens (the overwhelming majority of a
    Zipf-skewed corpus, including the BRCA1-class hot head) pass through
    map-only. Results are identical to the full-window path.
    """
    out_cols = [id_col, "pos", "token", "iri", "entity_type", "label_kind"]
    if alias is not None:
        # candidates is consumed THREE times below (ambiguous slice,
        # unambiguous slice, support input); without a cut the whole
        # upstream — page synthesis, version window, token explode,
        # gazetteer join — executes three times (plan-audited: the
        # tokenize→window→explode subtree appeared 3x). One lazy
        # localCheckpoint makes the three consumers share a single
        # evaluation; at lake scale this is the persisted slim
        # candidate-mention intermediate.
        candidates = candidates.localCheckpoint(eager=False)
        amb_labels = (
            alias.groupBy("label")
            .agg(F.countDistinct("iri").alias("_n"))
            .where("_n > 1")
            .select(F.col("label").alias("token"))
        )
        amb_entities = (
            alias.join(amb_labels, alias["label"] == amb_labels["token"])
            .select("iri")
            .distinct()
        )
        cand_amb = candidates.join(F.broadcast(amb_labels), "token", "left_semi")
        cand_unamb = candidates.join(F.broadcast(amb_labels), "token", "left_anti")
        support_input = candidates.join(F.broadcast(amb_entities), "iri", "left_semi")
        picked = _score_and_pick(cand_amb, support_input, id_col)
        return cand_unamb.select(*out_cols).unionByName(picked.select(*out_cols))
    return _score_and_pick(candidates, candidates, id_col).select(*out_cols)


def _score_and_pick(cands: DataFrame, support_input: DataFrame, id_col: str) -> DataFrame:
    kind_w = (
        F.when(F.col("label_kind") == "preferred", 3)
        .when(F.col("label_kind") == "alt", 2)
        .otherwise(1)
    )
    support = support_input.groupBy(id_col, "iri").agg(
        F.countDistinct("token").alias("context_support")
    )
    scored = cands.join(support, [id_col, "iri"]).withColumn(
        "score", kind_w * 10 + F.col("context_support")
    )
    w = Window.partitionBy(id_col, "pos").orderBy(F.desc("score"), F.asc("iri"))
    return scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


MAP_SCHEMA = (
    "url string, doc_id long, version int, lang string, is_del boolean, ok boolean, "
    "m_cidx array<int>, m_cnt array<int>, m_pos array<int>"
)


def alias_from_dictionary(dictionary: DataFrame) -> DataFrame:
    """Explode a normalized dictionary (iri, entity_type, preferred_label,
    alt_labels, hidden_labels, same_as) into the gazetteer alias table
    (iri, entity_type, label, label_kind) — the skos preferred/alt/hidden
    ranking of transform/gene.clj:51-67."""
    # NULL label arrays (external dictionaries often use NULL, not []):
    # concat() of arrays is NULL if ANY argument is NULL, and
    # explode(NULL) drops the whole row — coalesce each to empty first
    alts = F.coalesce(F.col("alt_labels"), F.array().cast("array<string>"))
    hiddens = F.coalesce(F.col("hidden_labels"), F.array().cast("array<string>"))
    lk = F.explode(
        F.concat(
            F.array(F.struct(F.col("preferred_label").alias("label"), F.lit("preferred").alias("label_kind"))),
            F.transform(alts, lambda a: F.struct(a.alias("label"), F.lit("alt").alias("label_kind"))),
            F.transform(hiddens, lambda h: F.struct(h.alias("label"), F.lit("hidden").alias("label_kind"))),
        )
    )
    exploded = dictionary.select("iri", "entity_type", lk.alias("lk")).select(
        "iri", "entity_type", "lk.label", "lk.label_kind"
    )
    # (label, iri) must be UNIQUE in a gazetteer: a label listed both as
    # preferred and alt for the same entity would double-count every
    # occurrence in the unambiguous fast path (which passes candidate
    # rows through without a per-(doc,pos) pick). Keep the strongest kind.
    kind_rank = (
        F.when(F.col("label_kind") == "preferred", 0)
        .when(F.col("label_kind") == "alt", 1)
        .otherwise(2)
    )
    w = Window.partitionBy("iri", "label").orderBy(kind_rank)
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )


def sameas_from_dictionary(dictionary: DataFrame) -> DataFrame:
    """Explode the dictionary's same_as xref arrays into (iri, xref) edges."""
    return dictionary.select("iri", F.explode("same_as").alias("xref"))


# The gazetteer is curated-dictionary-scale by contract (names.edn is
# O(10^3) entries in the reference); the pipeline collects it to the
# driver to compile the broadcast matcher. Guard that contract — in rows
# AND bytes (2M string rows would be multi-GB on the driver; the byte cap
# is what actually protects the heap) — instead of silently collecting
# whatever arrives.
MAX_GAZETTEER_ROWS = 100_000
MAX_GAZETTEER_BYTES = 64 * 1024 * 1024


def assert_gazetteer_scale(alias: DataFrame) -> int:
    """Enforce the curated-dictionary contract BEFORE any driver collect:
    one aggregation job measures the alias table (rows + payload bytes)
    and raises if it exceeds broadcast scale, directing callers to the
    join-based detect_mentions/link_entities path (identical results,
    tested). Returns the row count."""
    # octet_length, not length: the cap protects the JVM heap in BYTES, and
    # F.length counts characters — multi-byte UTF-8 labels (CJK etc.) would
    # under-count up to 4x against the byte budget (ADVICE r3)
    row = alias.agg(
        F.count("*").alias("n"),
        F.sum(
            F.octet_length("label")
            + F.octet_length("iri")
            + F.octet_length("label_kind")
        ).alias("b"),
    ).collect()[0]
    n, nbytes = row[0], row[1] or 0
    if n > MAX_GAZETTEER_ROWS or nbytes > MAX_GAZETTEER_BYTES:
        raise ValueError(
            f"gazetteer has {n} aliases / ~{nbytes >> 20} MiB "
            f"(caps: {MAX_GAZETTEER_ROWS} rows, {MAX_GAZETTEER_BYTES >> 20} MiB); "
            "the driver-side broadcast-matcher compile assumes a curated "
            "dictionary — shard the dictionary or use the join-based "
            "detect_mentions/link_entities path instead"
        )
    return n


def gazetteer_payload(alias_rows, canon_of: dict[str, str]):
    """Driver-side gazetteer compilation for the fused pandas stage.

    Returns (by_label, canon_idx_of_entity, cidx_to_iri):
      by_label: label -> [(eidx, kind_weight)]
      entity indexes in sorted-IRI order (deterministic tie-break),
      canonical indexes likewise."""
    iris = sorted({r["iri"] for r in alias_rows})
    eidx = {iri: i for i, iri in enumerate(iris)}
    canon_iris = sorted({canon_of[i] for i in iris})
    cidx = {iri: i for i, iri in enumerate(canon_iris)}
    kindw = {"preferred": 3, "alt": 2, "hidden": 1}
    by_label: dict[str, dict[int, int]] = {}
    for r in alias_rows:
        # (label, entity) unique, strongest kind wins (same contract as
        # alias_from_dictionary — duplicates would double-count mentions)
        ents = by_label.setdefault(r["label"], {})
        e = eidx[r["iri"]]
        ents[e] = max(ents.get(e, 0), kindw[r["label_kind"]])
    by_label = {l: sorted(ents.items()) for l, ents in by_label.items()}
    e_to_c = {eidx[i]: cidx[canon_of[i]] for i in iris}
    return by_label, e_to_c, canon_iris


def make_page_mapper(by_label, e_to_c, use_golden_text: bool):
    """Arrow-batched mapInPandas function: html → extracted text →
    tokenize → gazetteer match → contextual disambiguation → per-page
    canonical mention counts. This is the north-star hot path: one pass
    per page inside Python worker processes (independent heaps — scales
    linearly with cores), emitting only slim int arrays to the JVM; the
    page text never enters a shuffle.

    Disambiguation = argmax(10*kind_weight + context_support) per surface
    form with min-entity-index tie-break; context_support = number of the
    entity's distinct surface forms present in the document (identical to
    the operator-composition path)."""
    import pandas as pd

    from ..functions.text import extract_text_py

    label_entities = {l: {e for e, _ in cands} for l, cands in by_label.items()}
    entity_labels: dict[int, set[str]] = {}
    for l, cands in by_label.items():
        for e, _ in cands:
            entity_labels.setdefault(e, set()).add(l)
    tomb_marker = b'<meta name="status" content="unpublished"'

    def link_text(text: str):
        toks = text.split(" ")
        present = {t for t in toks if t in by_label}
        if not present:
            return [], [], []
        support = {
            e: sum(1 for l in entity_labels[e] if l in present)
            for l in present
            for e in label_entities[l]
        }
        win: dict[str, int] = {}
        for l in present:
            cands = by_label[l]
            win[l] = min(cands, key=lambda ek: (-(ek[1] * 10 + support[ek[0]]), ek[0]))[0]
        out: dict[int, tuple[int, int]] = {}
        for pos, t in enumerate(toks):
            e = win.get(t)
            if e is None:
                continue
            c = e_to_c[e]
            n, mp = out.get(c, (0, pos))
            out[c] = (n + 1, min(mp, pos))
        ks = sorted(out)
        return ks, [out[k][0] for k in ks], [out[k][1] for k in ks]

    def mapper(batches):
        for pdf in batches:
            if use_golden_text:
                texts = pdf["text"]
            else:
                texts = pdf["html"].map(extract_text_py)
            is_del = pdf["html"].map(lambda h: h is not None and tomb_marker in h)
            ok = texts.notna() | is_del
            mentions = [
                link_text(t) if (t is not None and not d) else ([], [], [])
                for t, d in zip(texts, is_del)
            ]
            yield pd.DataFrame({
                "url": pdf["url"],
                "doc_id": pdf["doc_id"],
                "version": pdf["version"],
                "lang": pdf["lang"],
                "is_del": is_del,
                "ok": ok,
                "m_cidx": [m[0] for m in mentions],
                "m_cnt": [m[1] for m in mentions],
                "m_pos": [m[2] for m in mentions],
            })

    return mapper


def linked_mention_counts(
    docs: DataFrame,
    alias: DataFrame,
    canonical_map: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fused detection+linking+aggregation on dictionary-encoded keys:
    returns (id, canonical_iri, n_mentions, first_pos).

    Scale design: the token explode multiplies the corpus ~200×, so every
    byte carried per token row is ~200× of scan bandwidth. This path
    shuffles only (doc_id:long, pos:int, eidx:int) — entity IRIs, label
    kinds and ambiguity flags live in the broadcast gazetteer as small
    ints, and the wide strings re-attach after the per-(doc, entity)
    aggregation (~1 row per mentioned entity per doc). Measured ~4× CPU
    reduction at 32 threads vs carrying the strings (memory-bandwidth
    bound otherwise).

    Entity indexes are assigned in sorted-IRI order so the deterministic
    tie-break (asc iri) is asc(eidx). Semantics identical to
    detect_mentions → link_entities → mention_counts."""
    spark = docs.sparkSession
    alias_rows = alias.join(canonical_map, "iri").collect()  # gazetteer is tiny by design
    iris = sorted({r["iri"] for r in alias_rows})
    eidx = {iri: i for i, iri in enumerate(iris)}
    canon_of = {r["iri"]: r["canonical_iri"] for r in alias_rows}
    kindw = {"preferred": 3, "alt": 2, "hidden": 1}
    # (label, iri) unique, strongest kind wins — duplicate alias rows
    # would double-count every unambiguous occurrence
    best_kind: dict[tuple[str, str], int] = {}
    for r in alias_rows:
        k = (r["label"], r["iri"])
        best_kind[k] = max(best_kind.get(k, 0), kindw[r["label_kind"]])
    by_label: dict[str, list[str]] = {}
    for (label, iri_) in best_kind:
        by_label.setdefault(label, []).append(iri_)
    amb_labels = {l for l, irs in by_label.items() if len(set(irs)) > 1}
    amb_entities = {eidx[i] for l in amb_labels for i in by_label[l]}
    gaz = [
        (
            label,
            eidx[iri_],
            kw,
            label in amb_labels,
            eidx[iri_] in amb_entities,
        )
        for (label, iri_), kw in sorted(best_kind.items())
    ]
    gaz_df = spark.createDataFrame(
        gaz, "token string, eidx int, kindw int, lbl_amb boolean, ent_amb boolean"
    )
    ent_df = spark.createDataFrame(
        [(i, iri, canon_of[iri]) for iri, i in eidx.items()],
        "eidx int, iri string, canonical_iri string",
    )

    toks = tokenize(docs, id_col=id_col, text_col=text_col)
    cand = toks.join(F.broadcast(gaz_df), "token")
    unamb = cand.where(~F.col("lbl_amb")).select(id_col, "pos", "eidx")
    # support: distinct surface forms per (doc, entity) among entities
    # that own an ambiguous label — tiny slice of the stream
    support = (
        cand.where(F.col("ent_amb"))
        .groupBy(id_col, "eidx")
        .agg(F.countDistinct("token").alias("support"))
    )
    amb = (
        cand.where(F.col("lbl_amb"))
        .join(support, [id_col, "eidx"])
        .withColumn("score", F.col("kindw") * 10 + F.col("support"))
    )
    w = Window.partitionBy(id_col, "pos").orderBy(F.desc("score"), F.asc("eidx"))
    picked = (
        amb.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select(id_col, "pos", "eidx")
    )
    linked = unamb.unionByName(picked)
    counts = linked.groupBy(id_col, "eidx").agg(
        F.count("*").alias("n"), F.min("pos").alias("fp")
    )
    return (
        counts.join(F.broadcast(ent_df), "eidx")
        .groupBy(id_col, "canonical_iri")
        .agg(F.sum("n").alias("n_mentions"), F.min("fp").alias("first_pos"))
    )


def mention_counts(linked: DataFrame, id_col: str = "url", entity_col: str = "iri") -> DataFrame:
    """(id, entity, n_mentions, first_pos) per linked entity.

    Call *after* canonicalization (entity_col='canonical_iri') so entities
    merged into one component aggregate into one mention record.
    """
    return linked.groupBy(id_col, entity_col).agg(
        F.count("*").alias("n_mentions"), F.min("pos").alias("first_pos")
    )
