"""Seeded input generator for the KG benchmark.

Pure Python + NumPy: no Spark, no clock, no environment. The same
``(seed, sizes)`` gives byte-identical inputs, and :func:`input_hash`
fingerprints them so every result names the inputs it measured.

Inputs:

- docs ``(doc_id, text, lang)`` over the fixture vocabulary: entity
  words (every single-token label of ``fixtures.ENTITIES``) drawn
  Zipf-skewed from a seeded rank order (hot keys), filler and stop
  words uniform. Doc lengths are log-normal, taken at stratified
  quantiles and shuffled, so every seed gets the same length multiset
  (same total work, long tail of huge docs included) and only content
  and placement vary with the seed.
- feeds: each republishes ``feed_frac`` of the urls with new text and
  tombstones a few, at a version above everything before it.
- a hierarchy tree (``skos:broader`` edges) deep enough that a ``+``
  path needs several closure rounds.
- the store_query sequence: SPARQL classes and point lookups with their
  seeded constants.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import asdict, dataclass, field
from statistics import NormalDist

import numpy as np

from genegraph_spark import fixtures
from genegraph_spark.functions import iri as I

FILLER = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "north south east west river stone field cloud light shadow paper "
    "copper silver amber violet maple cedar willow harbor valley summit "
    "signal packet buffer kernel socket thread lambda cursor ledger"
).split()
LANGS = ("en", "de", "fr", "es")
HIER_NS = "https://example.org/kg/hier/"
HIER_GRAPH = "https://example.org/kg/graph/hierarchy"
QUERY_CLASSES = ("bgp", "path", "agg", "optional")


def entity_words() -> list[str]:
    """Single-token gazetteer labels (multi-word labels never match a
    whitespace token, so they cannot appear as one)."""
    words = set()
    for _, _, pref, alts, hiddens, _ in fixtures.ENTITIES:
        words.update(w for w in [pref, *alts, *hiddens] if " " not in w)
    return sorted(words)


def filler_words() -> list[str]:
    taken = set(entity_words())
    return sorted({w for w in FILLER + fixtures.STOPWORDS if w not in taken})


@dataclass(frozen=True)
class Sizes:
    n_docs: int = 1200
    median_tokens: int = 60
    length_sigma: float = 1.1
    max_tokens: int = 6000
    entity_share: float = 0.2
    zipf_s: float = 1.1
    n_feeds: int = 12
    feed_frac: float = 0.005
    tombstones_per_feed: int = 2
    hier_nodes: int = 400
    hier_depth: int = 8
    n_queries: int = 400
    lookup_graphs: int = 4


@dataclass
class Inputs:
    seed: int
    sizes: Sizes
    docs: dict  # doc_id, text, lang (parallel lists)
    feeds: list = field(default_factory=list)  # list of page-row dicts per feed
    hierarchy: list = field(default_factory=list)  # (child, parent)
    queries: list = field(default_factory=list)  # (class, params)
    hot: list = field(default_factory=list)  # entity words by rank


def url_of(doc_id: int) -> str:
    """Same url derivation as ``fixtures.pages_from_docs``."""
    return f"https://ex{doc_id % 97}.example.org/p/{doc_id}"


def _lengths(rng: np.random.Generator, s: Sizes, n: int) -> np.ndarray:
    nd = NormalDist()
    z = np.array([nd.inv_cdf((i + 0.5) / n) for i in range(n)])
    lens = np.exp(math.log(s.median_tokens) + s.length_sigma * z)
    lens = np.clip(np.rint(lens), 3, s.max_tokens).astype(np.int64)
    return rng.permutation(lens)


def _texts(rng: np.random.Generator, s: Sizes, lens: np.ndarray, ranked: list[str]) -> list[str]:
    fill = filler_words()
    p = 1.0 / np.arange(1, len(ranked) + 1) ** s.zipf_s
    p /= p.sum()
    total = int(lens.sum())
    is_ent = rng.random(total) < s.entity_share
    ent = rng.choice(len(ranked), size=total, p=p)
    fil = rng.integers(0, len(fill), size=total)
    vocab = np.array(list(ranked) + fill, dtype=object)
    tok = np.where(is_ent, ent, len(ranked) + fil)
    words = vocab[tok]
    out, at = [], 0
    for n in lens.tolist():
        out.append(" ".join(words[at : at + n]))
        at += n
    return out


def feed_html(doc_id: int, text: str, tombstone: bool) -> bytes:
    meta = '<meta name="status" content="unpublished"/>' if tombstone else ""
    return (
        f"<html><head><title>p{doc_id}</title>{meta}</head>"
        f"<body><p>{text}</p></body></html>"
    ).encode()


def generate(seed: int, sizes: Sizes = Sizes()) -> Inputs:
    s = sizes
    rng = np.random.default_rng(seed)
    ranked = [str(w) for w in rng.permutation(entity_words())]
    n = s.n_docs
    texts = _texts(rng, s, _lengths(rng, s, n), ranked)
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n).tolist()]
    docs = {"doc_id": list(range(n)), "text": texts, "lang": langs}
    inp = Inputs(seed=seed, sizes=s, docs=docs, hot=ranked)

    # feeds: the page shape registry accepts versions 1..3, so an update
    # raises a url's version by one and only urls below v3 are eligible;
    # a url appears at most once per feed and versions only grow, so the
    # final state of a url is its last feed row
    version = {d: 3 if d % 50 == 0 else 2 if d % 10 == 0 else 1 for d in range(n)}
    n_pub = max(1, round(s.feed_frac * n))
    for k in range(s.n_feeds):
        eligible = [d for d in range(n) if version[d] < 3]
        ids = rng.choice(eligible, size=n_pub + s.tombstones_per_feed, replace=False).tolist()
        new = _texts(rng, s, _lengths(rng, s, n_pub), ranked)
        rows = [(d, t, False) for d, t in zip(ids[:n_pub], new)]
        rows += [(d, "", True) for d in ids[n_pub:]]
        feed_langs = rng.integers(0, len(LANGS), size=len(rows)).tolist()
        feed = []
        for (d, t, tb), li in zip(rows, feed_langs):
            version[d] += 1
            feed.append(
                {
                    "url": url_of(d),
                    "text": t,
                    "lang": LANGS[li],
                    "version": version[d],
                    "doc_id": d,
                    "tombstone": tb,
                    "html": feed_html(d, t, tb),
                }
            )
        inp.feeds.append(feed)

    # hierarchy: a seeded tree rooted at n0 where node i's parent is one of
    # the 8 nodes before it that sits above the depth limit
    depth = [0] * s.hier_nodes
    for i in range(1, s.hier_nodes):
        lo = max(0, i - 8)
        cands = [j for j in range(lo, i) if depth[j] < s.hier_depth - 1] or [0]
        j = cands[int(rng.integers(0, len(cands)))]
        depth[i] = depth[j] + 1
        inp.hierarchy.append((f"{HIER_NS}n{i}", f"{HIER_NS}n{j}"))

    inp.queries = _query_sequence(rng, s, ranked, depth)
    return inp


def _query_sequence(rng, s: Sizes, ranked: list[str], depth: list[int]) -> list:
    ent_of_word = {}
    for iri, _, pref, alts, hiddens, _ in fixtures.ENTITIES:
        for w in [pref, *alts, *hiddens]:
            ent_of_word.setdefault(w, iri)
    canon = fixtures.canonical_map_py()
    hot = [canon[ent_of_word[w]] for w in ranked[:4]]
    cold = [canon[ent_of_word[w]] for w in ranked[len(ranked) // 2 :]]
    deep = [i for i, d in enumerate(depth) if d >= s.hier_depth - 2]
    # a fixed round robin so any prefix has the same mix whatever the seed;
    # its head (a bgp and three lookups) is what an untraced run measures
    cycle = [QUERY_CLASSES[0], "lookup", "lookup", "lookup", *QUERY_CLASSES[1:]]
    seq = []
    for i in range(s.n_queries):
        kind = cycle[i % len(cycle)]
        if kind == "lookup":
            ids = rng.choice(s.n_docs, size=s.lookup_graphs, replace=False).tolist()
            seq.append(("lookup", {"graphs": sorted(url_of(d) for d in ids)}))
        elif kind in ("bgp", "optional"):
            h = hot[int(rng.integers(0, len(hot)))]
            c = cold[int(rng.integers(0, len(cold)))]
            seq.append((kind, {"hot": h, "cold": c}))
        elif kind == "path":
            seq.append(("path", {"start": f"{HIER_NS}n{deep[int(rng.integers(0, len(deep)))]}"}))
        else:
            seq.append(("agg", {"lang": LANGS[int(rng.integers(0, len(LANGS)))]}))
    return seq


def sparql_text(kind: str, p: dict) -> str:
    """The SPARQL text of one query-class instance."""
    pre = "PREFIX kgp: <https://example.org/kg/predicate/> PREFIX skos: <http://www.w3.org/2004/02/skos/core#> "
    if kind == "bgp":
        return pre + f"SELECT ?p WHERE {{ ?p kgp:mentions <{p['hot']}> . ?p kgp:mentions <{p['cold']}> }}"
    if kind == "path":
        return pre + f"SELECT ?a WHERE {{ <{p['start']}> skos:broader+ ?a }}"
    if kind == "agg":
        return pre + (
            "SELECT ?e (COUNT(?p) AS ?n) WHERE { ?p kgp:language "
            f'"{p["lang"]}"^^<{I.XSD_STRING}> . ?p kgp:mentions ?e }} GROUP BY ?e'
        )
    if kind == "optional":
        return pre + (
            f"SELECT ?p ?pos WHERE {{ ?p kgp:mentions <{p['cold']}> . OPTIONAL {{ "
            f"?p kgp:hasMention ?b . ?b kgp:canonicalEntity <{p['hot']}> . ?b kgp:position ?pos }} }}"
        )
    raise ValueError(kind)


def describe(inp: Inputs) -> dict:
    """Stated properties of the generated inputs, recorded in results."""
    lens = np.array([len(t.split(" ")) for t in inp.docs["text"]])
    feed_rows = [len(f) for f in inp.feeds]
    kinds: dict[str, int] = {}
    for k, _ in inp.queries:
        kinds[k] = kinds.get(k, 0) + 1
    return {
        "seed": inp.seed,
        "sizes": asdict(inp.sizes),
        "input_sha256": input_hash(inp),
        "docs": int(len(lens)),
        "tokens": int(lens.sum()),
        "doc_tokens_quantiles": {
            q: int(np.quantile(lens, float(q))) for q in ("0.5", "0.9", "0.99", "1.0")
        },
        "zipf_s": inp.sizes.zipf_s,
        "hot_words": inp.hot[:4],
        "feed_rows": feed_rows[0] if feed_rows else 0,
        "feed_mix": {
            "republish": round(inp.sizes.feed_frac * inp.sizes.n_docs),
            "tombstone": inp.sizes.tombstones_per_feed,
        },
        "hierarchy_edges": len(inp.hierarchy),
        "query_mix": kinds,
    }


def input_hash(inp: Inputs) -> str:
    h = hashlib.sha256()
    h.update(json.dumps([inp.seed, asdict(inp.sizes)], sort_keys=True).encode())
    for col in ("doc_id", "text", "lang"):
        h.update(json.dumps(inp.docs[col]).encode())
    for feed in inp.feeds:
        for r in feed:
            h.update(json.dumps({k: v for k, v in r.items() if k != "html"}, sort_keys=True).encode())
            h.update(r["html"])
    h.update(json.dumps(inp.hierarchy).encode())
    h.update(json.dumps(inp.queries, sort_keys=True).encode())
    return h.hexdigest()
