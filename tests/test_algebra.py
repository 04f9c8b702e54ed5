"""Operator/unit tests on the query algebra over a tiny literal triple
model — mirrors the reference's query engine tests
(test/genegraph/database/query_test.clj:13-128)."""

from __future__ import annotations

import pytest

from genegraph_spark.operators import algebra as A
from genegraph_spark.operators import fixpoint
from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA

TRIPLES = [
    # (graph, subject, predicate, object, is_iri, datatype)
    ("g", "gene1", "type", "Gene", True, None),
    ("g", "gene2", "type", "Gene", True, None),
    ("g", "gene1", "label", "BRCA1 gene", False, "xsd:string"),
    ("g", "gene2", "label", "TP53", False, "xsd:string"),
    ("g", "assn1", "subject_of", "gene1", True, None),
    ("g", "assn1", "has_disease", "dis1", True, None),
    ("g", "assn2", "subject_of", "gene2", True, None),
    ("g", "dis1", "label", "breast cancer", False, "xsd:string"),
    ("g", "c1", "subClassOf", "c2", True, None),
    ("g", "c2", "subClassOf", "c3", True, None),
    ("g", "c3", "subClassOf", "c4", True, None),
]


@pytest.fixture(scope="module")
def triples(spark):
    df = spark.createDataFrame(TRIPLES, TRIPLE_SCHEMA)
    df.cache().count()
    return df


def test_bgp_join(triples):
    # assertions with their gene and disease: shared ?a joins patterns
    got = A.bgp(
        triples,
        [("?a", "subject_of", "?g"), ("?a", "has_disease", "?d")],
    )
    rows = {(r["a"], r["g"], r["d"]) for r in got.collect()}
    assert rows == {("assn1", "gene1", "dis1")}


def test_optional_and_filter(triples):
    base = A.bgp(triples, [("?a", "subject_of", "?g")])
    opt = A.optional(base, A.bgp(triples, [("?a", "has_disease", "?d")]))
    rows = {(r["a"], r["d"]) for r in opt.collect()}
    assert rows == {("assn1", "dis1"), ("assn2", None)}


def test_union_minus_diff_distinct(triples):
    genes = A.bgp(triples, [("?x", "type", "Gene")])
    with_assn = A.project(A.bgp(triples, [("?a", "subject_of", "?x")]), ["?x"])
    u = A.union(genes, genes)
    assert u.count() == 4 and A.distinct(u).count() == 2
    assert A.minus(genes, with_assn).count() == 0  # both genes asserted
    labeled = A.project(A.bgp(triples, [("?x", "label", "?l")]), ["?x"])
    assert {r["x"] for r in A.minus(genes, labeled.where("x like 'gene%'")).collect()} == set()
    assert A.diff(u, genes).count() == 2  # bag difference


def test_exists_ask_count_bind(triples):
    genes = A.bgp(triples, [("?x", "type", "Gene")])
    diseased = A.project(
        A.bgp(triples, [("?a", "subject_of", "?x"), ("?a", "has_disease", "?d")]), ["?x"]
    )
    assert {r["x"] for r in A.exists(genes, diseased).collect()} == {"gene1"}
    assert A.ask(diseased) is True
    assert A.ask(A.bind_params(genes, x="nope")) is False
    assert A.count(genes) == 2


def test_slice_order(triples):
    labels = A.bgp(triples, [("?x", "label", "?l")])
    top = A.slice(labels, limit=2, order=[("?l", "asc")]).collect()
    assert [r["l"] for r in top] == ["BRCA1 gene", "TP53"]
    page2 = A.slice(labels, limit=2, offset=2, order=[("?l", "asc")]).collect()
    assert [r["l"] for r in page2] == ["breast cancer"]


def test_construct(triples):
    bindings = A.bgp(triples, [("?a", "subject_of", "?g"), ("?a", "has_disease", "?d")])
    out = A.construct(
        bindings,
        [("?g", "associated_with", "?d", True)],
        graph="?a",
    )
    rows = {(r["graph"], r["subject"], r["predicate"], r["object"]) for r in out.collect()}
    assert rows == {("assn1", "gene1", "associated_with", "dis1")}


def test_ld_path(spark, triples):
    start = spark.createDataFrame([("gene1",)], "node string")
    # in-edge then out-edge: gene1 <-subject_of- assn1 -has_disease-> dis1
    got = A.ld_path(triples, start, [("<", "subject_of"), (">", "has_disease")])
    assert {r["node"] for r in got.collect()} == {"dis1"}
    both = A.ld_path(triples, start, [("-", "subject_of")])
    assert {r["node"] for r in both.collect()} == {"assn1"}
    with pytest.raises(ValueError, match="range step"):
        A.ld_path(triples, start, [("range", "subClassOf", 2, 1)])


def test_transitive_closure(triples):
    tc = A.transitive_closure(triples, "subClassOf")
    pairs = {(r["src"], r["dst"]) for r in tc.collect()}
    assert pairs == {
        ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
        ("c1", "c3"), ("c2", "c4"), ("c1", "c4"),
    }


def _reach(edges):
    """Pure-Python one-or-more-hop reachability pairs."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = set()
    for src, stack in adj.items():
        stack, seen = list(stack), set()
        while stack:
            v = stack.pop()
            if v not in seen:
                seen.add(v)
                stack.extend(adj.get(v, ()))
        out |= {(src, v) for v in seen}
    return out


@pytest.fixture
def distributed_runs(monkeypatch):
    """Names of the fixpoints that ran the distributed round loop."""
    runs = []
    real = fixpoint.iterate

    def spy(*a, **k):
        runs.append(k["name"])
        return real(*a, **k)

    monkeypatch.setattr(fixpoint, "iterate", spy)
    return runs


def _closure_pairs(spark, edges, **kw):
    t = spark.createDataFrame([("g", a, "next", b, True, None) for a, b in edges], TRIPLE_SCHEMA)
    return {(r.src, r.dst) for r in A.transitive_closure(t, "next", **kw).collect()}


def test_closure_over_budget_goes_distributed(spark, monkeypatch, distributed_runs):
    # 39 edges fit the probe, but their 780-pair closure does not fit the
    # budget: saturation bails out mid-way to the distributed loop
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(39)]
    assert _closure_pairs(spark, chain) == _reach(chain)
    assert distributed_runs == []
    monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 100)
    assert _closure_pairs(spark, chain) == _reach(chain)
    assert distributed_runs == ["closure"]


@pytest.mark.parametrize("budget", [fixpoint.PAIR_BUDGET, 0])
def test_closure_clique_same_on_both_paths(spark, monkeypatch, budget):
    nodes = [f"k{i}" for i in range(6)]
    clique = [(a, b) for a in nodes for b in nodes if a != b]
    monkeypatch.setattr(fixpoint, "PAIR_BUDGET", budget)
    got = _closure_pairs(spark, clique)
    assert got == _reach(clique) == {(a, b) for a in nodes for b in nodes}


def test_closure_unconverged_raises(spark, monkeypatch):
    # the distributed loop never returns a partial closure
    monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 0)
    chain = [(f"n{i}", f"n{i + 1}") for i in range(5)]
    with pytest.raises(RuntimeError, match="closure did not converge in 1 rounds"):
        _closure_pairs(spark, chain, max_iter=1)


def test_text_search(triples):
    got = A.text_search(triples, "BRCA1")
    assert {r["node"] for r in got.collect()} == {"gene1"}
    assert A.text_search(triples, "cancer", predicate="label").count() == 1
    assert A.text_search(triples, "gene1").count() == 0  # IRIs excluded


def test_values_inline_bindings(spark):
    """VALUES semantics: disjunction of binding tuples, UNDEF columns
    unconstrained, bag union across rows."""
    from genegraph_spark.operators import algebra as A

    b = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("c", "z")], "p string, q string"
    )
    out = A.values(b, [{"?p": "a"}, {"?p": "b", "?q": "x"}])
    got = sorted((r.p, r.q) for r in out.collect())
    assert got == [("a", "x"), ("a", "y"), ("b", "x")]
    # overlapping rows duplicate solutions (SPARQL bag semantics)
    dup = A.values(b, [{"?p": "a"}, {"?p": "a", "?q": "x"}])
    assert dup.count() == 3  # (a,x)+(a,y) from row1, (a,x) again from row2
