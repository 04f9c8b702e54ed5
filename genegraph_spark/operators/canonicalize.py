"""Entity canonicalization: connected components over same-as edges, with
MinHash-LSH blocking for surface-form matching at scale.

Reference analog: genegraph's fixpoint traversal (transitive
``rdfs:subClassOf*`` property paths,
``src/genegraph/source/graphql/common/curation.clj:303-314``) and its
external VRS normalizer + cache
(``src/genegraph/transform/clinvar/cancervariants.clj:59-151``), replaced
per the north rule by a deterministic local canonicalizer: same-as xref
edges (``owl:sameAs``) union surface-form near-match edges → iterative
join to fixpoint → canonical IRI = min entity IRI per component.

Scale notes: the distributed path is the alternating "large-star /
small-star" contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14): each round is two groupBy+join passes
over the edge set and the edge count never grows past |E| + |V|; the
two-phase alternation converges in O(log² n) rounds worst-case and
empirically ≈ log₂(diameter) on chain-shaped graphs (xref chains are the
adversarial input — see ``test_round3.test_cc_chain_rounds_logarithmic``:
a 300k-edge chain converges in ≤ 20 rounds where min-label propagation
needs diameter ≈ 300k rounds). We localCheckpoint every round to cut
lineage (the same reason the reference caches its union model per tx,
``database/util.clj:13-22``). Hot components (BRCA1-class entities with
millions of same-as mentions) stay small here because components are over
the *dictionary + xref* vocabulary, not the corpus; corpus skew is
handled downstream at the mention join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import fixpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    local_threshold: int = 200_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components. Returns (node, component) where ``component``
    is the lexicographic min node id in the component — fully
    deterministic, independent of partitioning and iteration order.

    Adaptive execution: a driver-side fixpoint loop costs ~1s of job
    scheduling per round regardless of data size, so graphs under
    ``local_threshold`` edges (the curated-dictionary case — always
    dictionary-scale, not corpus-scale) are collected and union-found on
    the driver in one pass; bigger graphs take the distributed
    alternating-star contraction (module docstring). Same result either
    way. ``stats`` (optional dict) is filled with {"path", "rounds"} so
    tests can assert the logarithmic round bound."""
    if stats is None:
        stats = {}
    probe = edges.select(src, dst).limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        stats.update(path="local", rounds=0)
        rows = probe
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = find(r[0]), find(r[1])
            if a != b:
                parent[max(a, b)] = min(a, b)
        # second pass: min node id per root (roots are already the min
        # because union always parents the larger under the smaller)
        out = sorted((n, find(n)) for n in parent)
        return edges.sparkSession.createDataFrame(out, "node string, component string")

    # ---- distributed path: alternating large-star / small-star ----------
    # Invariant: `e` holds each undirected edge once, oriented child→parent
    # as (u, v) with u > v; at the fixpoint every component is a single
    # star centered at its min node, so `e` IS the (node, component) map
    # for non-root nodes (Kiveris et al. SOCC'14, Theorem 1).
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
    )
    e = sym.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()

    def star(g: DataFrame) -> DataFrame:
        # large-star: every node u links its strictly-larger neighbors to
        # min(Γ(u) ∪ {u}); halves long chains by skipping over u.
        nbrs = g.select("u", "v").union(g.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = nbrs.groupBy("u").agg(F.min("v").alias("m")).select(
            "u", F.least("m", "u").alias("m")
        )
        large = (
            nbrs.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every node u links its smaller neighbors (and itself)
        # to the min of that set; flattens local stars.
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        return (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def same_edge_set(prev: DataFrame, cur: DataFrame, prev_n: int, n: int) -> bool:
        # the star step is not monotone: equal size alone is no fixpoint,
        # and mid-run stars may still split a component, so an unconverged
        # run has no safe partial answer (iterate raises)
        return n == prev_n and cur.exceptAll(prev).limit(1).count() == 0

    stats["path"] = "distributed"
    e = fixpoint.iterate(
        e, star, same_edge_set, max_iter=max_iter, name="connected_components", stats=stats
    )
    return all_nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("parent")), "node", "left_outer"
    ).select("node", F.coalesce("parent", "node").alias("component"))


def surface_form_edges(
    labels: DataFrame,
    iri_col: str = "iri",
    label_col: str = "label",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-match edges between entities whose surface forms are
    near-duplicates — the MinHash-LSH blocking half of canonicalization
    (SURVEY §7 stage 4; replaces the reference's external VRS normalizer
    lookups, cancervariants.clj:59-151, with a deterministic local
    matcher).

    Character-shingled labels → MinHash signatures → banded LSH buckets →
    true-Jaccard verify ≥ threshold → (src, dst) entity edges. Feed the
    union of these and the explicit same-as edges to
    :func:`connected_components`. Scale: identical shape to
    operators/dedup.py's document path — candidates come from bucket
    joins, never all-pairs."""
    from . import dedup as D

    # one MinHash document per (iri, label) PAIR — pooling all of an
    # entity's labels into one shingle set dilutes Jaccard (a shared
    # surface form drowns under an unrelated synonym's shingles); the
    # pair id carries the iri so edges project back after matching
    # control-byte separator (cannot appear in IRIs), written as an
    # escaped literal so the byte stays visible in diffs: an invisible
    # raw \x01 here once rendered as sep = "" in review, and an empty
    # delimiter would make substring_index return '' and silently drop
    # every edge via the src != dst filter
    sep = "\x01"
    assert sep != ""
    spaced = labels.select(
        F.concat_ws(
            sep, F.col(iri_col), F.md5(F.lower(F.col(label_col)))
        ).alias("doc_id"),
        F.concat_ws(" ", F.split(F.lower(F.col(label_col)), "")).alias("text"),
    ).where(F.length("text") > 0).distinct()
    pairs = D.minhash_near_duplicates(
        spaced, id_col="doc_id", text_col="text", k=k,
        n_hashes=n_hashes, n_bands=n_bands, threshold=threshold,
    )
    return (
        pairs.select(
            F.substring_index("id_a", sep, 1).alias("src"),
            F.substring_index("id_b", sep, 1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def canonical_entity_map(
    dictionary: DataFrame,
    sameas: DataFrame,
    local_threshold: int = 200_000,
    surface_edges: DataFrame | None = None,
) -> DataFrame:
    """(iri, canonical_iri): canonical = min *entity* IRI per component.

    Singleton entities (no shared xref) map to themselves.
    ``surface_edges``: optional (src, dst) near-match edges from
    :func:`surface_form_edges`, unioned with the explicit same-as graph.
    """
    edges = sameas.select(F.col("iri").alias("src"), F.col("xref").alias("dst"))
    if surface_edges is not None:
        edges = edges.unionByName(surface_edges.select("src", "dst"))
    comps = connected_components(edges, local_threshold=local_threshold)
    entities = dictionary.select("iri").distinct()
    ent_comp = entities.join(comps, entities["iri"] == comps["node"], "left_outer").select(
        "iri", F.coalesce("component", "iri").alias("component")
    )
    canon = ent_comp.groupBy("component").agg(F.min("iri").alias("canonical_iri"))
    return ent_comp.join(canon, "component").select("iri", "canonical_iri")
