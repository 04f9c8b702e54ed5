"""SPARQL text front-end: parser + compiler semantics, and the round-4
acceptance bar — reference ``.sparql`` files executing unmodified
(``/root/reference/src/genegraph/transform/gene_validity_refactor/``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from genegraph_spark.operators import fixpoint
from genegraph_spark.operators import sparql as S

REF_DIR = "/root/reference/src/genegraph/transform/gene_validity_refactor"

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)


def T(spark, rows):
    return spark.createDataFrame(
        [("g", s, p, o, iri, dt) for s, p, o, iri, dt in rows], TRIPLE_SCHEMA
    )


def iri(s, p, o):
    return (s, p, o, True, None)


def lit(s, p, o, dt=None):
    return (s, p, o, False, dt)


@pytest.fixture(scope="module")
def graph(spark):
    """Small org graph exercising every operator family."""
    return T(
        spark,
        [
            iri("urn:a", ":knows", "urn:b"),
            iri("urn:b", ":knows", "urn:c"),
            iri("urn:c", ":knows", "urn:d"),
            iri("urn:b", ":likes", "urn:a"),
            lit("urn:a", ":name", "alice"),
            lit("urn:b", ":name", "bob"),
            lit("urn:c", ":name", "carol"),
            lit("urn:a", ":age", "42", "xsd:integer"),
            lit("urn:b", ":age", "7", "xsd:integer"),
            iri("urn:a", "rdf:type", ":Person"),
            iri("urn:b", "rdf:type", ":Person"),
            iri("urn:d", "rdf:type", ":Robot"),
            # literal that lexically equals an IRI term: must never join
            lit("urn:d", ":note", "urn:b"),
        ],
    )


class TestParser:
    def test_keyword_curies_and_path_slash_disambiguation(self):
        toks = [t.text for t in S.tokenize(":a/:b :sepio/has-evidence gci:x/rdf:first")]
        assert toks == [":a", "/", ":b", ":sepio/has-evidence", "gci:x", "/", "rdf:first"]

    def test_comments_and_strings(self):
        q = S.parse_sparql('SELECT ?x WHERE { ?x :p "a # not comment" . # real\n }')
        assert q.form == "select"
        (el,) = q.pattern
        assert el[1][0][2] == ("lit", "a # not comment", None)

    def test_path_grammar(self):
        q = S.parse_sparql(
            "SELECT ?x WHERE { ?x ^:a?/^(:b|:c)?/:d/!(:e|:f)/:g{1,2}/:h* ?y }"
        )
        (el,) = q.pattern
        path = el[1][0][1]
        assert path[0] == "seq"  # left-nested sequence tree

    def test_values_undef_and_multirow(self):
        q = S.parse_sparql(
            'SELECT ?x WHERE { VALUES (?a ?b) { ("x" UNDEF) (UNDEF "y") } }'
        )
        (el,) = q.pattern
        assert el[0] == "values"
        assert el[2][0][1] is None and el[2][1][0] is None

    def test_prefix_expansion_and_verbatim_keywords(self):
        q = S.parse_sparql(
            "prefix gci: <http://x/> CONSTRUCT { ?s :cg/kept gci:v } WHERE { ?s a gci:t }"
        )
        (s, p, o) = q.templates[0]
        assert o == ("iri", "http://x/v") and p == ("pred", ":cg/kept")
        assert q.pattern[0][1][0][2] == ("iri", "http://x/t")

    def test_reference_files_all_parse(self):
        """Every .sparql file in the reference tree parses."""
        if not os.path.isdir(REF_DIR):
            pytest.skip("reference tree not present")
        failed = []
        for fn in sorted(os.listdir(REF_DIR)):
            if not fn.endswith(".sparql"):
                continue
            try:
                S.parse_sparql(open(os.path.join(REF_DIR, fn)).read())
            except Exception as e:  # noqa: BLE001
                failed.append((fn, str(e)[:100]))
        assert not failed, failed


class TestCompiler:
    def test_bgp_join_and_literal_iri_distinction(self, spark, graph):
        # ?x :knows ?y joined with names; the literal "urn:b" in :note
        # must not join as a node
        out = S.sparql(
            graph,
            "SELECT ?xn ?yn WHERE { ?x :knows ?y . ?x :name ?xn . ?y :name ?yn } ORDER BY ?xn",
        ).collect()
        assert [(r.xn, r.yn) for r in out] == [("alice", "bob"), ("bob", "carol")]
        # :note's object is a LITERAL "urn:b" — a pattern on it as subject
        # must not return b's edges through term confusion
        n = S.sparql(
            graph, "SELECT ?z WHERE { ?d :note ?v . ?v :knows ?z }"
        ).count()
        assert n == 0

    def test_optional_bind_bound(self, spark, graph):
        rows = {
            r.n: r.has_age
            for r in S.sparql(
                graph,
                """SELECT ?n ?has_age WHERE {
                     ?x rdf:type :Person . ?x :name ?n .
                     OPTIONAL { ?x :age ?a }
                     BIND(IF(BOUND(?a), true, false) AS ?has_age) }""",
            ).collect()
        }
        assert rows == {"alice": "true", "bob": "true"}

    def test_filter_numeric_and_string(self, spark, graph):
        out = S.sparql(
            graph,
            'SELECT ?n WHERE { ?x :age ?a . ?x :name ?n . FILTER(?a > 10) }',
        ).collect()
        assert [r.n for r in out] == ["alice"]
        out = S.sparql(
            graph,
            'SELECT ?n WHERE { ?x :name ?n . FILTER(STRSTARTS(?n, "a") || CONTAINS(?n, "aro")) } ORDER BY ?n',
        ).collect()
        assert [r.n for r in out] == ["alice", "carol"]

    def test_union_minus(self, spark, graph):
        out = S.sparql(
            graph,
            """SELECT DISTINCT ?x WHERE {
                 { ?x rdf:type :Person } UNION { ?x rdf:type :Robot }
                 MINUS { ?x :age "7" } } ORDER BY ?x""",
        ).collect()
        assert [r.x for r in out] == ["urn:a", "urn:d"]

    def test_not_exists_disjoint_guard(self, spark, graph):
        # sub-pattern has solutions → every row filtered (SPARQL semantics)
        assert (
            S.sparql(
                graph,
                "SELECT ?n WHERE { ?x :name ?n . FILTER NOT EXISTS { [] rdf:type :Robot } }",
            ).count()
            == 0
        )
        # no solutions → all rows kept
        assert (
            S.sparql(
                graph,
                "SELECT ?n WHERE { ?x :name ?n . FILTER NOT EXISTS { [] rdf:type :Unicorn } }",
            ).count()
            == 3
        )

    def test_exists_shared_var(self, spark, graph):
        out = S.sparql(
            graph,
            "SELECT ?n WHERE { ?x :name ?n . FILTER EXISTS { ?x :knows ?y } } ORDER BY ?n",
        ).collect()
        assert [r.n for r in out] == ["alice", "bob", "carol"]

    def test_paths(self, spark, graph):
        # seq + inverse
        out = S.sparql(
            graph, "SELECT ?z WHERE { ?a :name \"alice\" . ?a :knows/:knows ?z }"
        ).collect()
        assert [r.z for r in out] == ["urn:c"]
        # star includes zero hops
        out = S.sparql(
            graph,
            'SELECT DISTINCT ?z WHERE { ?a :name "bob" . ?a :knows* ?z }',
        ).collect()
        assert sorted(r.z for r in out) == ["urn:b", "urn:c", "urn:d"]
        # plus excludes zero hops
        out = S.sparql(
            graph,
            'SELECT DISTINCT ?z WHERE { ?a :name "bob" . ?a :knows+ ?z }',
        ).collect()
        assert sorted(r.z for r in out) == ["urn:c", "urn:d"]
        # bounded repetition {1,2}
        out = S.sparql(
            graph,
            'SELECT DISTINCT ?z WHERE { ?a :name "alice" . ?a :knows{1,2} ?z }',
        ).collect()
        assert sorted(r.z for r in out) == ["urn:b", "urn:c"]
        # negated property set
        out = S.sparql(
            graph,
            "SELECT ?z WHERE { ?b :likes ?a . ?b !(:knows|:name|rdf:type|:age) ?z }",
        ).collect()
        assert [r.z for r in out] == ["urn:a"]
        # zero-or-one
        out = S.sparql(
            graph,
            'SELECT DISTINCT ?z WHERE { ?a :name "carol" . ?a :knows? ?z }',
        ).collect()
        assert sorted(r.z for r in out) == ["urn:c", "urn:d"]

    def test_paths_distributed(self, spark, graph, monkeypatch):
        # the same answers when every closure runs the distributed loop
        monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 0)
        self.test_paths(spark, graph)

    def test_values_bag_semantics(self, spark, graph):
        # duplicate VALUES row duplicates solutions
        out = S.sparql(
            graph,
            'SELECT ?x WHERE { ?x :name ?n . VALUES ?n { "bob" "bob" } }',
        ).collect()
        assert [r.x for r in out] == ["urn:b", "urn:b"]

    def test_construct_omits_unbound_optional_triples(self, spark, graph):
        df = S.sparql(
            graph,
            """CONSTRUCT { ?x :out-name ?n . ?x :out-age ?a }
               WHERE { ?x :name ?n . OPTIONAL { ?x :age ?a . FILTER(?a > 10) } }""",
        )
        preds = (
            df.groupBy("predicate").count().orderBy("predicate").collect()
        )
        assert [(r.predicate, r["count"]) for r in preds] == [
            (":out-age", 1),
            (":out-name", 3),
        ]
        # datatype survives decode
        age = df.where(F.col("predicate") == ":out-age").collect()[0]
        assert age.object == "42" and age.object_datatype == "xsd:integer"
        assert not age.object_is_iri

    def test_ask_and_modifiers(self, spark, graph):
        assert S.sparql(graph, 'ASK { ?x :name "bob" }') is True
        assert S.sparql(graph, 'ASK { ?x :name "nope" }') is False
        out = S.sparql(
            graph,
            "SELECT ?n WHERE { ?x :name ?n } ORDER BY DESC(?n) LIMIT 2 OFFSET 1",
        ).collect()
        assert [r.n for r in out] == ["bob", "alice"]

    def test_prebound_params(self, spark, graph):
        out = S.sparql(
            graph,
            "SELECT ?x WHERE { ?x :name ?who }",
            who="carol",
        ).collect()
        assert [r.x for r in out] == ["urn:c"]


# ---------------------------------------------------------------------------
# Reference .sparql files executed unmodified
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def gci_graph(spark):
    """A miniature GCI-shaped event graph matching the vocabulary of the
    reference's gene_validity_refactor queries (full gci:/gcixform: IRIs,
    rdf list structure for authors)."""
    GCI = "http://dataexchange.clinicalgenome.org/gci/"
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = [
        # article 1: two authors, with abstract
        iri("urn:art1", RDF + "type", GCI + "article"),
        lit("urn:art1", GCI + "title", "BRCA1 in families"),
        lit("urn:art1", GCI + "date", "2019-04-01T00:00:00"),
        lit("urn:art1", GCI + "pmid", "31001"),
        iri("urn:art1", GCI + "authors", "_:l1"),
        lit("_:l1", RDF + "first", "Kim J"),
        iri("_:l1", RDF + "rest", "_:l2"),
        lit("_:l2", RDF + "first", "Okafor N"),
        lit("urn:art1", GCI + "abstract", "We studied families."),
        # article 2: single author, no abstract
        iri("urn:art2", RDF + "type", GCI + "article"),
        lit("urn:art2", GCI + "title", "A case report"),
        lit("urn:art2", GCI + "date", "2021-11-20T00:00:00"),
        lit("urn:art2", GCI + "pmid", "42002"),
        iri("urn:art2", GCI + "authors", "_:l3"),
        lit("_:l3", RDF + "first", "Solo R"),
        # assertion for add_legacy_website_id
        iri("urn:assert1", RDF + "type", ":sepio/GeneValidityEvidenceLevelAssertion"),
    ]
    return T(spark, rows)


class TestReferenceQueries:
    @pytest.fixture(autouse=True)
    def _need_ref(self):
        if not os.path.isdir(REF_DIR):
            pytest.skip("reference tree not present")

    def test_add_legacy_website_id(self, spark, gci_graph):
        q = S.PreparedQuery(open(os.path.join(REF_DIR, "add_legacy_website_id.sparql")).read())
        df = q.run(gci_graph, legacy_id="10023")
        rows = df.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.subject == "urn:assert1"
        assert r.predicate == ":cg/website-legacy-id"
        assert r.object == "10023" and not r.object_is_iri

    def test_construct_articles(self, spark, gci_graph):
        q = S.PreparedQuery(open(os.path.join(REF_DIR, "construct_articles.sparql")).read())
        df = q.run(gci_graph, pmbase="https://pubmed.ncbi.nlm.nih.gov/")
        rows = df.collect()
        by = {}
        for r in rows:
            by.setdefault(r.subject, {})[r.predicate] = r.object
        a1 = by["https://pubmed.ncbi.nlm.nih.gov/31001"]
        a2 = by["https://pubmed.ncbi.nlm.nih.gov/42002"]
        assert a1[":dc/title"] == "BRCA1 in families"
        assert a1[":dc/creator"] == "Kim J"
        assert a1[":dc/date"] == "2019"
        assert a1[":dc/abstract"] == "We studied families."
        assert a1[":sepio/multiple-authors"] == "true"
        assert a2[":sepio/multiple-authors"] == "false"
        assert ":dc/abstract" not in a2  # unbound optional → triple omitted
        # typed IRI object from the template constant
        t1 = [r for r in rows if r.predicate.endswith("type")]
        assert all(r.object_is_iri for r in t1)

    @pytest.mark.slow
    def test_construct_proband_score_runs(self, spark, gci_graph):
        """The largest reference query (150 lines: NOT EXISTS guard,
        nested OPTIONALs, rdf:rest{n} indexing, ^p?/^(a|b)?/c paths,
        IF/BOUND/COALESCE binds) parses, compiles and executes."""
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        XFORM = "http://dataexchange.clinicalgenome.org/gcixform/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            iri("urn:el1", RDF + "type", GCI + "evidenceScore"),
            lit("urn:el1", GCI + "scoreStatus", "Score"),
            lit("urn:el1", GCI + "date_created", "2020-01-01"),
            iri("urn:el1", GCI + "affiliation", "urn:aff1"),
            lit("urn:el1", GCI + "calculatedScore", "1.5", "xsd:decimal"),
            lit("urn:el1", GCI + "scoreExplanation", "solid proband"),
            iri("urn:ind1", GCI + "scores", "urn:el1"),
            iri("urn:ind1", GCI + "variants", "urn:var1"),
            lit("urn:ind1", GCI + "label", "proband 1"),
            lit("urn:ind1", GCI + "proband", "true", "xsd:boolean"),
            lit("urn:ind1", GCI + "sex", "F"),
            lit("urn:ind1", GCI + "denovo", "Yes"),
            iri("urn:ind1", GCI + "method", "urn:m1"),
            iri("urn:m1", GCI + "genotypingMethods", "_:gm1"),
            lit("_:gm1", RDF + "first", "exome sequencing"),
            iri("_:gm1", RDF + "rest", "_:gm2"),
            lit("_:gm2", RDF + "first", "sanger"),
            iri("urn:ann1", GCI + "individuals", "urn:ind1"),
            iri("urn:ann1", GCI + "article", "urn:pub1"),
            lit("urn:pub1", GCI + "pmid", "31001"),
        ]
        g = T(spark, rows)
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_proband_score.sparql")).read()
        )
        df = q.run(g, pmbase="https://pubmed.ncbi.nlm.nih.gov/")
        by = {}
        for r in df.collect():
            by.setdefault(r.subject, {})[r.predicate] = r.object
        line = by["urn:el1_proband_score_evidence_line"]
        # COALESCE(?adjustedScore, ?calculatedScore): no gci:score → 1.5
        assert line[":sepio/evidence-line-strength-score"] == "1.5"
        assert line[":sepio/has-evidence"] == "urn:ind1"
        assert line[":dc/description"] == "solid proband"
        ind = by["urn:ind1"]
        assert ind[":sepio/has-sex"] == "F"
        # denovo "Yes" → DeNovoAlleleOrigin on the evidence item
        item = by["urn:el1_variant_evidence_item"]
        assert item[":geno/allele-origin"] == ":geno/DeNovoAlleleOrigin"
        # rdf:rest{0}/rdf:first and rdf:rest{1}/rdf:first list indexing
        assert ind[":sepio/first-testing-method"] == "exome sequencing"
        assert ind[":sepio/second-testing-method"] == "sanger"
        # article IRI composed from the prebound base + pmid
        assert item[":dc/source"] == "https://pubmed.ncbi.nlm.nih.gov/31001"

    @pytest.mark.slow
    def test_proband_not_exists_guard(self, spark):
        """The SOP8 guard: presence of any gci:variantScore empties the
        whole result."""
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        g = T(
            spark,
            [
                iri("urn:el1", RDF + "type", GCI + "evidenceScore"),
                lit("urn:el1", GCI + "scoreStatus", "Score"),
                iri("urn:vs1", RDF + "type", GCI + "variantScore"),
            ],
        )
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_proband_score.sparql")).read()
        )
        assert q.run(g, pmbase="x").count() == 0


class TestAggregatesAndDescribe:
    def test_group_by_count_and_having(self, spark, graph):
        out = S.sparql(
            graph,
            """SELECT ?x (COUNT(*) AS ?n) WHERE { ?x :knows ?y }
               GROUP BY ?x HAVING (COUNT(*) >= 1) ORDER BY ?x""",
        ).collect()
        assert [(r.x, r.n) for r in out] == [
            ("urn:a", 1), ("urn:b", 1), ("urn:c", 1),
        ]

    def test_global_aggregates(self, spark, graph):
        out = S.sparql(
            graph,
            "SELECT (COUNT(*) AS ?n) (SUM(?a) AS ?total) (AVG(?a) AS ?mean) "
            "(MIN(?a) AS ?lo) (MAX(?a) AS ?hi) WHERE { ?x :age ?a }",
        ).collect()[0]
        # MIN/MAX are numeric-aware but return the original lexical form
        assert (out.n, out.total, out.mean, out.lo, out.hi) == (2, 49.0, 24.5, "7", "42")

    def test_count_distinct_and_group_concat(self, spark, graph):
        out = S.sparql(
            graph,
            "SELECT (COUNT(DISTINCT ?x) AS ?nx) (GROUP_CONCAT(?n) AS ?names) "
            "WHERE { ?x :name ?n }",
        ).collect()[0]
        assert out.nx == 3
        assert out.names == "alice bob carol"  # sorted, deterministic

    def test_having_filters_groups(self, spark, graph):
        out = S.sparql(
            graph,
            """SELECT ?x (COUNT(*) AS ?n) WHERE { ?x !(:none) ?y }
               GROUP BY ?x HAVING (COUNT(*) > 2) ORDER BY ?x""",
        ).collect()
        # urn:a: knows+name+age+type = 4 edges; urn:b: 5; others <= 2
        assert [r.x for r in out] == ["urn:a", "urn:b"]

    def test_computed_projection_without_aggregate(self, spark, graph):
        out = S.sparql(
            graph,
            'SELECT ?n (STRLEN(?n) AS ?len) WHERE { ?x :name ?n } ORDER BY ?n',
        ).collect()
        assert [(r.n, r.len) for r in out] == [("alice", 5), ("bob", 3), ("carol", 5)]

    def test_describe_iri_and_var(self, spark, graph):
        df = S.sparql(graph, "DESCRIBE <urn:a>")
        assert df.where("subject = 'urn:a'").count() == 4
        df2 = S.sparql(graph, 'DESCRIBE ?x WHERE { ?x :name "bob" }')
        subs = {r.subject for r in df2.collect()}
        assert subs == {"urn:b"}


class TestClojureEmbeddedQueries:
    """The reference also embeds SPARQL strings directly in resolver code
    (q/create-query "select ..." — gene.clj:47, suggesters.clj:19,
    user.clj, group.clj). Those strings must parse and run too."""

    def test_embedded_strings_parse(self):
        for q in [
            "select ?type where {?resource a /  :rdfs/subClassOf * ?type}",
            "select ?group where { ?group a :foaf/Group }",
            "select ?user where { ?user :foaf/mbox ?email }",
            "select ?s where { ?s a :sepio/ActionabilityReport }",
            "select ?gene where { ?gene :owl/same-as ?hgnc_gene }",
        ]:
            S.parse_sparql(q)

    def test_three_way_union_with_order(self, spark):
        """gene.clj:47-61 most-recent-curation-for-gene: three UNION
        branches + trailing shared pattern + order by desc."""
        q = """select ?contribution where {
        { ?validityproposition :sepio/has-subject ?gene .
          ?validityassertion :sepio/has-subject ?validityproposition .
          ?validityassertion :sepio/qualified-contribution ?contribution .  }
         union
        { ?dosagereport :iao/is-about ?gene .
          ?dosagereport a :sepio/GeneDosageReport .
          ?dosagereport :sepio/qualified-contribution ?contribution . }
         union
        { ?actionabilitycondition :sepio/is-about-gene ?gene .
          ?actionabilityreport :sepio/is-about-condition ?actionabilitycondition .
          ?actionabilityreport a :sepio/ActionabilityReport .
          ?actionabilityreport :sepio/qualified-contribution ?contribution . }
         ?contribution :sepio/activity-date ?activitydate }
         order by desc(?activitydate)"""
        rows = [
            iri("urn:prop", ":sepio/has-subject", "urn:gene1"),
            iri("urn:assert", ":sepio/has-subject", "urn:prop"),
            iri("urn:assert", ":sepio/qualified-contribution", "urn:contrib1"),
            lit("urn:contrib1", ":sepio/activity-date", "2020-01-01"),
            iri("urn:dosage", ":iao/is-about", "urn:gene1"),
            iri("urn:dosage", "rdf:type", ":sepio/GeneDosageReport"),
            iri("urn:dosage", ":sepio/qualified-contribution", "urn:contrib2"),
            lit("urn:contrib2", ":sepio/activity-date", "2021-06-15"),
        ]
        out = S.sparql(T(spark, rows), q).collect()
        assert [r.contribution for r in out] == ["urn:contrib2", "urn:contrib1"]


class TestSparqlPlanShape:
    def test_pattern_constants_push_to_parquet_scan(self, spark, tmp_path):
        """The text front-end must compile to the same pushdown-friendly
        scans as the programmatic combinators: each triple pattern's
        predicate constant appears in the parquet scan's PushedFilters."""
        d = str(tmp_path / "triples_pq")
        rows = [
            ("g", f"urn:s{i}", p, f"o{i}", True, None)
            for i in range(200)
            for p in (":a", ":b")
        ]
        spark.createDataFrame(rows, TRIPLE_SCHEMA).write.mode("overwrite").parquet(d)
        t = spark.read.parquet(d)
        df = S.sparql(t, "SELECT ?x ?y WHERE { ?x :a ?y . ?x :b ?z }")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(predicate,:a)" in plan
        assert "EqualTo(predicate,:b)" in plan
        # shared-variable join on ?x: exactly one shuffle exchange pair
        # (the star-BGP shape Catalyst reuses), no cartesian product
        assert "CartesianProduct" not in plan


class TestTransformChain:
    """transform-gdm's shape (gene_validity_refactor.clj:414-463): union
    of CONSTRUCT outputs over the source, then rewrite/augment passes
    over the accumulated model — exercised with REAL reference files."""

    @pytest.fixture(autouse=True)
    def _need_ref(self):
        if not os.path.isdir(REF_DIR):
            pytest.skip("reference tree not present")

    def test_chain_with_reference_files(self, spark):
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        src = T(
            spark,
            [
                # article source data (construct_articles input)
                iri("urn:art1", RDF + "type", GCI + "article"),
                lit("urn:art1", GCI + "title", "T1"),
                lit("urn:art1", GCI + "date", "2019-04-01"),
                lit("urn:art1", GCI + "pmid", "31001"),
                iri("urn:art1", GCI + "authors", "_:l1"),
                lit("_:l1", RDF + "first", "Kim J"),
                # segregation evidence in the reference vocabulary:
                # seg1 has NO proband/lod → the unlink file must drop it
                iri("urn:seg1", "rdf:type", ":sepio/FamilyCosegregation"),
                lit("urn:seg1", ":dc/description", "orphan segregation"),
                # seg2 HAS a proband → kept
                iri("urn:seg2", "rdf:type", ":sepio/FamilyCosegregation"),
                iri("urn:seg2", ":sepio/is-about-proband", "urn:p1"),
                # an assertion for the final augment step
                iri("urn:assert1", "rdf:type", ":sepio/GeneValidityEvidenceLevelAssertion"),
            ],
        )

        def ref(fn):
            return open(os.path.join(REF_DIR, fn)).read()

        from genegraph_spark.operators.sparql import transform_chain

        out = transform_chain(
            src,
            [
                # copy the event model in (the q/union of gdm with the
                # static vocabulary), then the article transform
                ("construct", "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }"),
                ("construct", ref("construct_articles.sparql")),
                # REAL rewrite file: drops proband-less segregations
                ("rewrite", ref("unlink_segregations_when_no_proband_and_lod_scores.sparql")),
                # REAL augment file: stamps the legacy id on assertions
                ("augment", ref("add_legacy_website_id.sparql")),
            ],
            params={"pmbase": "https://pubmed.ncbi.nlm.nih.gov/", "legacy_id": "10023"},
        )
        rows = out.collect()
        subjects = {r.subject for r in rows}
        by = {}
        for r in rows:
            by.setdefault(r.subject, {})[r.predicate] = r.object
        # rewrite dropped seg1 entirely, kept seg2
        assert "urn:seg1" not in subjects
        assert by["urn:seg2"][":sepio/is-about-proband"] == "urn:p1"
        # construct step output present (article transform ran on SOURCE)
        art = by["https://pubmed.ncbi.nlm.nih.gov/31001"]
        assert art[":dc/title"] == "T1"
        # augment step ran on the ACCUMULATED model
        assert by["urn:assert1"][":cg/website-legacy-id"] == "10023"
        # set semantics: no duplicate triples
        assert len(rows) == len({tuple(r) for r in rows})


class TestTaggedTermCodec:
    def test_decode_recovers_arbitrary_literals(self, spark):
        """Property: encode→decode round-trips for adversarial lexical
        forms and datatypes — incl. '|' (the tag delimiter), 'I|'-lookalike
        prefixes, and empty strings. Batched into one Spark job."""
        from hypothesis import given, settings, strategies as st

        from genegraph_spark.operators.sparql import (
            _tag_const,
            term_datatype,
            term_is_iri,
            term_value,
        )

        text = st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
        )
        dts = st.one_of(
            st.none(),
            st.sampled_from(["xsd:integer", "xsd:string", "x|y"]),
        )
        cases = st.lists(
            st.one_of(
                st.tuples(st.just("lit"), text, dts),
                st.tuples(st.just("iri"), text.filter(lambda s: s != "")),
            ),
            min_size=1,
            max_size=25,
        )

        @settings(max_examples=12, deadline=None)
        @given(cases)
        def check(terms):
            rows = [( _tag_const(t),) for t in terms]
            df = spark.createDataFrame(rows, "tag string")
            out = df.select(
                term_value(F.col("tag")).alias("v"),
                term_is_iri(F.col("tag")).alias("i"),
                term_datatype(F.col("tag")).alias("d"),
            ).collect()
            for t, r in zip(terms, out):
                if t[0] == "iri":
                    assert (r.v, r.i, r.d) == (t[1], True, None), (t, r)
                else:
                    lex = t[1] if t[1] != "" else None  # substr('', ...) -> NULL
                    want_dt = t[2] or None
                    # a datatype containing '|' is not representable in the
                    # tag encoding — the decoder splits at the FIRST '|'
                    if t[2] == "x|y":
                        assert r.d == "x"
                    else:
                        assert r.d == want_dt, (t, r)
                        assert (r.v if r.v is not None else None) == (
                            lex if lex is not None else r.v
                        )
                        if t[1] != "":
                            assert r.v == t[1], (t, r)
                    assert not r.i

        check()


class TestQueryDirLoader:
    def test_loads_reference_tree(self):
        """declare-query analog: the whole reference query directory
        loads into a compiled registry at once."""
        if not os.path.isdir(REF_DIR):
            pytest.skip("reference tree not present")
        qs = S.load_query_dir(REF_DIR)
        assert len(qs) == len([f for f in os.listdir(REF_DIR) if f.endswith(".sparql")])
        assert "construct-proband-score" in qs
        assert qs["add-legacy-website-id"].ast.form == "construct"

    def test_parser_never_crashes_on_garbage(self):
        """Property: arbitrary text either parses or raises
        SparqlSyntaxError — no other exception type escapes."""
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.text(max_size=60))
        def check(text):
            try:
                S.parse_sparql(text)
            except S.SparqlSyntaxError:
                pass

        check()

        # seeded near-miss corpus: truncations/mutations of a real query
        base = 'SELECT ?x WHERE { ?x :p "v" . OPTIONAL { ?x :q ?y } FILTER(?y > 1) }'
        for i in range(len(base)):
            for frag in (base[:i], base[:i] + "}" + base[i:], base[:i] + "?" + base[i + 1:]):
                try:
                    S.parse_sparql(frag)
                except S.SparqlSyntaxError:
                    pass



class TestPredicateVariables:
    def test_spo_copy_and_repeated_var(self, spark):
        rows = [
            iri("urn:s", ":p", "urn:o"),
            lit(":p", ":p", "self"),  # subject lexically equals predicate
        ]
        t = T(spark, rows)
        out = S.sparql(t, "SELECT ?s ?p ?o WHERE { ?s ?p ?o } ORDER BY ?s").collect()
        assert [(r.s, r.p, r.o) for r in out] == [
            (":p", ":p", "self"),
            ("urn:s", ":p", "urn:o"),
        ]
        # ?x ?x ?o: self-equality, not a duplicate column
        out = S.sparql(t, "SELECT ?x ?o WHERE { ?x ?x ?o }").collect()
        assert [(r.x, r.o) for r in out] == [(":p", "self")]


class TestMoreReferenceQueries:
    """Two more reference files executed unmodified, covering pattern
    paths (gci:gene/gci:hgncId), REPLACE-regex binds, and boolean object
    constants."""

    @pytest.fixture(autouse=True)
    def _need_ref(self):
        if not os.path.isdir(REF_DIR):
            pytest.skip("reference tree not present")

    def test_construct_proposition(self, spark):
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            # gdm1: post-refactor (no legacy diseaseId)
            iri("urn:gdm1", RDF + "type", GCI + "gdm"),
            iri("urn:gdm1", GCI + "gene", "urn:gene1"),
            lit("urn:gene1", GCI + "hgncId", "HGNC:1100"),
            iri("urn:gdm1", GCI + "disease", "urn:mondo1"),
            lit("urn:gdm1", GCI + "modeInheritance",
                "Autosomal dominant inheritance (HP:0000006)"),
            # gdm2: pre-refactor legacy disease id wins via COALESCE
            iri("urn:gdm2", RDF + "type", GCI + "gdm"),
            iri("urn:gdm2", GCI + "gene", "urn:gene2"),
            lit("urn:gene2", GCI + "hgncId", "HGNC:2200"),
            iri("urn:gdm2", GCI + "disease", "urn:dnode2"),
            lit("urn:dnode2", GCI + "diseaseId", "ORPHA:123"),
            lit("urn:gdm2", GCI + "modeInheritance",
                "X-linked inheritance (HP:0001417)"),
        ]
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_proposition.sparql")).read()
        )
        df = q.run(T(spark, rows), entrez_gene=("iri", "urn:entrez:672"))
        by = {}
        for r in df.collect():
            by.setdefault(r.subject, {})[r.predicate] = (r.object, r.object_is_iri)
        g1 = by["urn:gdm1"]
        assert g1[":sepio/has-subject"] == ("urn:entrez:672", True)
        assert g1[":sepio/has-object"] == ("urn:mondo1", True)
        assert g1[":sepio/has-qualifier"] == (
            "http://purl.obolibrary.org/obo/HP_0000006", True,
        )
        # legacy diseaseId (a literal) wins the COALESCE for gdm2
        g2 = by["urn:gdm2"]
        assert g2[":sepio/has-object"][0] == "ORPHA:123"
        assert g2[":sepio/has-qualifier"][0] == "http://purl.obolibrary.org/obo/HP_0001417"

    def test_construct_earliest_articles(self, spark):
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            iri("urn:gdm1", RDF + "type", GCI + "gdm"),
            iri("urn:prop1", RDF + "type", GCI + "provisionalClassification"),
            lit("urn:prop1", GCI + "approvedClassification", "true", "xsd:boolean"),
            lit("urn:prop1", GCI + "publishClassification", "true", "xsd:boolean"),
            # an UNpublished classification must not match
            iri("urn:prop2", RDF + "type", GCI + "provisionalClassification"),
            lit("urn:prop2", GCI + "approvedClassification", "true", "xsd:boolean"),
            lit("urn:prop2", GCI + "publishClassification", "false", "xsd:boolean"),
            iri("urn:assert1", GCI + "earliestArticles", "urn:pub1"),
            iri("urn:pub1", RDF + "type", GCI + "article"),
            lit("urn:pub1", GCI + "pmid", "31001"),
        ]
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_earliest_articles.sparql")).read()
        )
        out = q.run(
            T(spark, rows), pmbase="https://pubmed.ncbi.nlm.nih.gov/"
        ).collect()
        assert {(r.subject, r.object) for r in out} == {
            ("urn:prop1", "https://pubmed.ncbi.nlm.nih.gov/31001")
        }

    def test_construct_alleles(self, spark):
        """construct_alleles.sparql: six regex-guarded OPTIONALs feeding a
        COALESCE preference chain, IRI binds inside OPTIONALs, a path
        inside an OPTIONAL (gci:hgvsNames/gci:GRCh38), and the dangling
        ';' before OPTIONAL the file is known for."""
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            # v1: CAid + preferredTitle (canonical title EMPTY → regex
            # rejects it, preferredTitle wins the label chain)
            iri("urn:v1", RDF + "type", GCI + "variant"),
            lit("urn:v1", GCI + "carId", "CA123"),
            lit("urn:v1", GCI + "canonicalTranscriptTitle", ""),
            lit("urn:v1", GCI + "preferredTitle", "NM_7:c.1A>T"),
            # v2: only a ClinVar id + a GRCh38 name through the hgvs path
            iri("urn:v2", RDF + "type", GCI + "variant"),
            lit("urn:v2", GCI + "clinvarVariantId", "55555"),
            iri("urn:v2", GCI + "hgvsNames", "_:h2"),
            lit("_:h2", GCI + "GRCh38", "NC_000001.11:g.100A>T"),
        ]
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_alleles.sparql")).read()
        )
        df = q.run(
            T(spark, rows),
            arbase="http://reg.genome.network/allele/",
            cvbase="https://www.ncbi.nlm.nih.gov/clinvar/variation/",
        )
        by = {}
        for r in df.collect():
            by.setdefault(r.subject, {})[r.predicate] = (r.object, r.object_is_iri)
        v1 = by["urn:v1"]
        assert v1[":ga4gh/CanonicalReference"] == (
            "http://reg.genome.network/allele/CA123", True,
        )
        assert v1[":skos/preferred-label"][0] == "NM_7:c.1A>T"
        v2 = by["urn:v2"]
        assert v2[":ga4gh/CanonicalReference"] == (
            "https://www.ncbi.nlm.nih.gov/clinvar/variation/55555", True,
        )
        assert v2[":skos/preferred-label"][0] == "NC_000001.11:g.100A>T"

    def test_construct_secondary_contributions_fresh_bnodes(self, spark):
        """_:contrib in the template is a FRESH bnode per solution: two
        contributors must get two DISTINCT contribution nodes, each with
        its own agent + role pair."""
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            iri("urn:cls1", RDF + "type", GCI + "provisionalClassification"),
            lit("urn:cls1", GCI + "approvedClassification", "true", "xsd:boolean"),
            lit("urn:cls1", GCI + "classificationContributors", "10015"),
            lit("urn:cls1", GCI + "classificationContributors", "10029"),
        ]
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_secondary_contributions.sparql")).read()
        )
        out = q.run(T(spark, rows), affbase="http://aff.example/").collect()
        contribs = {
            r.object for r in out if r.predicate == ":sepio/qualified-contribution"
        }
        assert len(contribs) == 2  # fresh bnode per contributor row
        agents = {r.subject: r.object for r in out if r.predicate == ":sepio/has-agent"}
        assert set(agents) == contribs
        assert set(agents.values()) == {
            "http://aff.example/10015", "http://aff.example/10029",
        }
        roles = [r for r in out if r.predicate == ":bfo/realizes"]
        assert {r.subject for r in roles} == contribs
        assert all(r.object == ":sepio/SecondaryContributorRole" for r in roles)

    def test_construct_genetic_evidence_assertion(self, spark):
        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            iri("urn:cls1", RDF + "type", GCI + "provisionalClassification"),
            lit("urn:cls1", GCI + "approvedClassification", "true", "xsd:boolean"),
            iri("urn:cls1", GCI + "classificationPoints", "_:pts"),
            lit("_:pts", GCI + "geneticEvidenceTotal", "7.5", "xsd:decimal"),
        ]
        q = S.PreparedQuery(
            open(os.path.join(REF_DIR, "construct_genetic_evidence_assertion.sparql")).read()
        )
        by = {}
        for r in q.run(T(spark, rows)).collect():
            by.setdefault(r.subject, {})[r.predicate] = r.object
        line = by["urn:cls1_overall_genetic_evidence_line"]
        assert line[":sepio/evidence-line-strength-score"] == "7.5"
        assert by["urn:cls1"][":sepio/has-evidence"] == "urn:cls1_overall_genetic_evidence_line"


class TestTextQueryBgp:
    """The Jena full-text BGP (`?s text:query ( prop "terms" [limit] )`,
    query.clj:133-153 text-search-bgp; embedded in the dosage filters,
    gene_dosage.clj:70-110) compiled onto the inverted-index ranker."""

    @pytest.fixture(scope="class")
    def tq_graph(self, spark):
        return T(
            spark,
            [
                lit("urn:g1", ":label", "red widget"),
                lit("urn:g2", ":label", "red bolt"),
                lit("urn:g3", ":label", "blue gear"),
                iri("urn:g1", "rdf:type", ":Gene"),
                iri("urn:g2", "rdf:type", ":Gene"),
                iri("urn:g3", "rdf:type", ":Gene"),
                # a different property must NOT be searched
                lit("urn:g4", ":note", "red herring"),
            ],
        )

    def test_match_joins_into_bgp(self, spark, tq_graph):
        out = S.sparql(
            tq_graph,
            """prefix text: <http://jena.apache.org/text#>
               SELECT ?s WHERE { ?s text:query ( :label "red" ) .
                                 ?s a :Gene }""",
        ).collect()
        assert sorted(r.s for r in out) == ["urn:g1", "urn:g2"]

    def test_score_binding_and_limit(self, spark, tq_graph):
        out = S.sparql(
            tq_graph,
            """prefix text: <http://jena.apache.org/text#>
               SELECT ?s ?sc WHERE {
                 (?s ?sc) text:query ( :label "red widget" 2 ) }""",
        ).collect()
        by = {r.s: float(r.sc) for r in out}
        assert set(by) == {"urn:g1", "urn:g2"}
        # two matched tokens outscore one
        assert by["urn:g1"] > by["urn:g2"]

    def test_reference_quoted_or_form(self, spark, tq_graph):
        """gene_dosage.clj gene-filter embeds '( a OR b )' literals."""
        out = S.sparql(
            tq_graph,
            """prefix text: <http://jena.apache.org/text#>
               SELECT ?s WHERE { ?s text:query ( :label '( red OR blue )' ) }""",
        ).collect()
        assert sorted(r.s for r in out) == ["urn:g1", "urn:g2", "urn:g3"]


class TestSubSelect:
    """Sub-SELECT groups (SPARQL 1.1 §12) — the clinvar
    aggregate-assertion latest-as-of idiom
    (source/graphql/clinvar/aggregate_assertion.clj:28-46)."""

    @pytest.fixture(scope="class")
    def versions(self, spark):
        CG = "http://dataexchange.clinicalgenome.org/terms/"
        DC = "http://purl.org/dc/terms/"
        SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"
        rows = []
        for vid, dates in [
            ("a", ["2020-01-01", "2020-06-01", "2021-01-01"]),
            ("b", ["2019-05-05", "2020-02-02"]),
        ]:
            for d in dates:
                v = f"urn:assert:{vid}.{d}"
                rows += [
                    iri(v, "rdf:type", CG + "AggregateVariantClinicalSignificanceAssertion"),
                    iri(v, DC + "isVersionOf", "urn:assert:" + vid),
                    lit(v, CG + "release_date", d),
                    iri(v, SEPIO + "0000388", "urn:var:" + vid),
                ]
        return T(spark, rows)

    def test_reference_aggregate_assertion_latest(self, spark, versions):
        """The clinvar LATEST-timeframe query shape, verbatim prefixes."""
        out = S.sparql(
            versions,
            """PREFIX dc: <http://purl.org/dc/terms/>
               PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
               PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
               SELECT ?iri ?id ?subject ?release_date ?max_release_date
               WHERE {
                 {
                   SELECT ?id (max(?release_date) AS ?max_release_date)
                   WHERE {
                     ?subiri a cg:AggregateVariantClinicalSignificanceAssertion ;
                             dc:isVersionOf ?id ;
                             cg:release_date ?release_date .
                   }
                   GROUP BY ?id
                 }
                 ?iri dc:isVersionOf ?id ;
                      sepio:0000388 ?subject ;
                      cg:release_date ?release_date .
                 FILTER(?release_date = ?max_release_date)
               }""",
        ).collect()
        got = {(r.id, r.iri, r.release_date) for r in out}
        assert got == {
            ("urn:assert:a", "urn:assert:a.2021-01-01", "2021-01-01"),
            ("urn:assert:b", "urn:assert:b.2020-02-02", "2020-02-02"),
        }

    def test_subselect_numeric_max(self, spark, graph):
        """MAX over typed ints is numeric-aware ('7' < '42')."""
        out = S.sparql(
            graph,
            """SELECT ?x ?a WHERE {
                 { SELECT (MAX(?a) AS ?m) WHERE { ?x :age ?a } }
                 ?x :age ?a . FILTER(?a = ?m)
               }""",
        ).collect()
        assert [(r.x, r.a) for r in out] == [("urn:a", "42")]

    def test_subselect_distinct_projection_joins(self, spark, graph):
        """Non-aggregate subselect: projection narrows the join columns —
        ?y is projected out, so the outer join is only on ?x."""
        out = S.sparql(
            graph,
            """SELECT DISTINCT ?x ?n WHERE {
                 { SELECT DISTINCT ?x WHERE { ?x :knows ?y } }
                 ?x :name ?n
               } ORDER BY ?n""",
        ).collect()
        assert [(r.x, r.n) for r in out] == [
            ("urn:a", "alice"), ("urn:b", "bob"), ("urn:c", "carol"),
        ]

    def test_subselect_order_limit_inside(self, spark, graph):
        """ORDER BY + LIMIT evaluate inside the subquery scope, before
        the outer join (top-1 then annotate)."""
        out = S.sparql(
            graph,
            """SELECT ?x ?n WHERE {
                 { SELECT ?x ?a WHERE { ?x :age ?a }
                   ORDER BY DESC(?a) LIMIT 1 }
                 ?x :name ?n
               }""",
        ).collect()
        assert [(r.x, r.n) for r in out] == [("urn:a", "alice")]

    def test_prebound_param_reaches_subselect(self, spark, graph):
        out = S.sparql(
            graph,
            """SELECT ?n WHERE {
                 { SELECT ?who (COUNT(*) AS ?edges)
                   WHERE { ?who :knows ?other } GROUP BY ?who }
                 ?who :name ?n
               }""",
            who=("iri", "urn:b"),
        ).collect()
        assert [r.n for r in out] == ["bob"]

    def test_subselect_group_key_tags_survive(self, spark, graph):
        """Group keys keep IRI tags: the outer BGP must still join the
        subselect's ?x against IRI subjects (and a literal lexically
        equal to an IRI must not leak in — the urn:d :note trap)."""
        out = S.sparql(
            graph,
            """SELECT ?x ?n WHERE {
                 { SELECT ?x (COUNT(*) AS ?n)
                   WHERE { ?x :knows ?y } GROUP BY ?x }
                 ?x rdf:type :Person
               }""",
        ).collect()
        # aggregate outputs cross the subselect boundary as plain
        # literals, so ?n decodes to its lexical form
        assert sorted((r.x, r.n) for r in out) == [("urn:a", "1"), ("urn:b", "1")]


class TestClinvarResolverQueries:
    """The clinvar GraphQL resolvers embed sub-SELECT latest-as-of
    queries directly in Clojure strings — copied VERBATIM here
    (``source/graphql/clinvar/variant.clj:24-41,67-97``,
    ``aggregate_assertion.clj:28-46``) and executed over synthesized
    versioned triples."""

    CG = "http://dataexchange.clinicalgenome.org/terms/"
    DC = "http://purl.org/dc/terms/"
    SO = "http://purl.obolibrary.org/obo/SO_"

    @pytest.fixture(scope="class")
    def clinvar_graph(self, spark):
        CG, DC, SO = self.CG, self.DC, self.SO
        rows = []
        # variant v1: two versions; latest 2020-06-01
        for d in ["2020-01-01", "2020-06-01"]:
            v = f"urn:cv:v1.{d}"
            rows += [
                iri(v, "rdf:type", CG + "Variant"),
                iri(v, DC + "isVersionOf", "urn:cv:v1"),
                lit(v, CG + "release_date", d),
            ]
        # gene associations hang off the latest variant version
        rows += [
            iri("urn:cv:v1.2020-06-01", CG + "gene_associations", "urn:assoc:1"),
            lit("urn:assoc:1", CG + "gene_id", "g1"),
            iri("urn:cv:v1.2020-06-01", CG + "gene_associations", "urn:assoc:2"),
            lit("urn:assoc:2", CG + "gene_id", "g2"),
        ]
        # gene g1: two versions (latest 2020-06-01); g2: one version
        for gid, dates in [("g1", ["2020-01-01", "2020-06-01"]), ("g2", ["2020-03-03"])]:
            for d in dates:
                g = f"urn:cv:gene:{gid}.{d}"
                rows += [
                    iri(g, "rdf:type", SO + "0000704"),
                    iri(g, "rdf:type", CG + "ClinVarObject"),
                    lit(g, CG + "release_date", d),
                    lit(g, CG + "id", gid),
                ]
        return T(spark, rows)

    def test_variant_single_verbatim(self, spark, clinvar_graph):
        """clinvar/variant.clj:24-41 — latest version of one variant id."""
        q = """PREFIX dc: <http://purl.org/dc/terms/>
              PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
              SELECT ?iri ?id
              WHERE {
                {
                  SELECT ?id (max(?release_date) AS ?max_release_date)
                  WHERE {
                    ?subiri a cg:Variant ;
                            dc:isVersionOf ?id ;
                            cg:release_date ?release_date .
                  }
                  GROUP BY ?id
                }
                ?iri a cg:Variant ;
                     dc:isVersionOf ?id ;
                     cg:release_date ?release_date .
                FILTER(?release_date = ?max_release_date)

              }"""
        out = S.sparql(clinvar_graph, q, id=("iri", "urn:cv:v1")).collect()
        assert [(r.iri, r.id) for r in out] == [("urn:cv:v1.2020-06-01", "urn:cv:v1")]

    def test_variant_genes_verbatim(self, spark, clinvar_graph):
        """clinvar/variant.clj:67-97 — TWO sub-SELECTs (per-gene max
        release + the gene rows) + equality FILTER + ORDER BY."""
        q = """PREFIX dc: <http://purl.org/dc/terms/>
                            PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
                            PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
                            PREFIX so: <http://purl.obolibrary.org/obo/SO_>
                            # NOTE order matters, currently only gets the first element (column)
                            SELECT ?gene_iri ?gene_id ?gene_release_date ?s
                            WHERE {
                              ?s a cg:Variant .
                              ?s cg:gene_associations ?gene_association_iri .
                              ?s cg:release_date ?variant_release_date .
                              ?gene_association_iri cg:gene_id ?gene_id .
                              {
                                SELECT ?gene_id (MAX(?gene_release_date) AS ?max_gene_release_date) WHERE {
                                  ?g a so:0000704 . # so/Gene
                                  ?g a cg:ClinVarObject .
                                  ?g cg:release_date ?gene_release_date .
                                  ?g cg:id ?gene_id .
                                }
                                GROUP BY ?gene_id
                              }
                              {
                                SELECT ?gene_iri ?gene_id ?gene_release_date WHERE {
                                  ?gene_iri a so:0000704 . # so/Gene
                                  ?gene_iri a cg:ClinVarObject .
                                  ?gene_iri cg:release_date ?gene_release_date .
                                  ?gene_iri cg:id ?gene_id .
                                }
                              }
                              FILTER(?gene_release_date = ?max_gene_release_date)
                            }
                            ORDER BY ?s ?gene_id"""
        out = S.sparql(
            clinvar_graph, q, s=("iri", "urn:cv:v1.2020-06-01")
        ).collect()
        assert [(r.gene_iri, r.gene_id, r.gene_release_date) for r in out] == [
            ("urn:cv:gene:g1.2020-06-01", "g1", "2020-06-01"),
            ("urn:cv:gene:g2.2020-03-03", "g2", "2020-03-03"),
        ]

    def test_aggregate_assertion_latest_verbatim(self, spark):
        """aggregate_assertion.clj:28-46 with the LATEST date_filter
        substituted the way aggregate-assertion-list does."""
        CG, DC = self.CG, "http://purl.org/dc/terms/"
        SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"
        rows = []
        for vid, dates in [("a", ["2020-01-01", "2021-01-01"]), ("b", ["2019-05-05"])]:
            for d in dates:
                v = f"urn:agg:{vid}.{d}"
                rows += [
                    iri(v, "rdf:type", CG + "AggregateVariantClinicalSignificanceAssertion"),
                    iri(v, DC + "isVersionOf", "urn:agg:" + vid),
                    lit(v, CG + "release_date", d),
                    iri(v, SEPIO + "0000388", "urn:var:" + vid),
                ]
        q = """PREFIX dc: <http://purl.org/dc/terms/>
              PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
              PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
              SELECT ?iri ?id ?subject ?release_date ?max_release_date
              WHERE {
                {
                  SELECT ?id (max(?release_date) AS ?max_release_date)
                  WHERE {
                    ?subiri a cg:AggregateVariantClinicalSignificanceAssertion ;
                            dc:isVersionOf ?id ;
                            cg:release_date ?release_date .
                  }
                  GROUP BY ?id
                }
                ?iri dc:isVersionOf ?id ;
                     sepio:0000388 ?subject ; #:sepio/has-subject
                     cg:release_date ?release_date .
                {{date_filter}}
              }""".replace("{{date_filter}}", "FILTER(?release_date = ?max_release_date)")
        out = S.sparql(T(spark, rows), q).collect()
        assert sorted((r.id, r.release_date) for r in out) == [
            ("urn:agg:a", "2021-01-01"), ("urn:agg:b", "2019-05-05"),
        ]

    CLINICAL_SPQL = """PREFIX dc: <http://purl.org/dc/terms/>
              PREFIX sepio: <http://purl.obolibrary.org/obo/SEPIO_>
              PREFIX cg: <http://dataexchange.clinicalgenome.org/terms/>
              SELECT ?iri ?id ?subject ?release_date ?max_release_date
              WHERE {
                {
                  SELECT ?id (max(?release_date) AS ?max_release_date)
                  WHERE {
                    ?subiri a cg:VariantClinicalSignificanceAssertion ;
                            dc:isVersionOf ?id ;
                            cg:release_date ?release_date .
                  }
                  GROUP BY ?id
                }
                ?iri a cg:VariantClinicalSignificanceAssertion ;
                     dc:isVersionOf ?id ;
                     sepio:0000388 ?subject ;
                     cg:release_date ?release_date .
                {{date_filter}}
              }
              ORDER BY ASC(?id)"""

    @pytest.fixture(scope="class")
    def clinical_graph(self, spark):
        """SCV assertions versioned like clinical_assertion.clj expects:
        two point at variant v1 (one with two versions), one at a
        different subject."""
        CG, DC = self.CG, self.DC
        SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"
        rows = []
        for aid, subject, dates in [
            ("scv1", "urn:cv:v1", ["2020-01-01", "2020-06-01"]),
            ("scv2", "urn:cv:v1", ["2020-03-03"]),
            ("scv3", "urn:cv:OTHER", ["2020-04-04"]),
        ]:
            for d in dates:
                a = f"urn:cv:{aid}.{d}"
                rows += [
                    iri(a, "rdf:type", CG + "VariantClinicalSignificanceAssertion"),
                    iri(a, DC + "isVersionOf", "urn:cv:" + aid),
                    iri(a, SEPIO + "0000388", subject),
                    lit(a, CG + "release_date", d),
                ]
        return T(spark, rows)

    def test_clinical_assertions_by_subject_latest(self, spark, clinical_graph):
        """clinical_assertion.clj:25-56 — the assertions-by-subject
        template with the LATEST date_filter substituted exactly the way
        clinical-assertions-by-subject does, ?subject pre-bound."""
        q = self.CLINICAL_SPQL.replace(
            "{{date_filter}}", "FILTER(?release_date = ?max_release_date)"
        )
        out = S.sparql(clinical_graph, q, subject=("iri", "urn:cv:v1")).collect()
        assert [(r.iri, r.id, r.subject, r.release_date, r.max_release_date)
                for r in out] == [
            ("urn:cv:scv1.2020-06-01", "urn:cv:scv1", "urn:cv:v1",
             "2020-06-01", "2020-06-01"),
            ("urn:cv:scv2.2020-03-03", "urn:cv:scv2", "urn:cv:v1",
             "2020-03-03", "2020-03-03"),
        ]

    def test_clinical_assertions_by_subject_all(self, spark, clinical_graph):
        """Same template with the ALL timeframe (empty date_filter):
        every version row joins its id's max."""
        q = self.CLINICAL_SPQL.replace("{{date_filter}}", "")
        out = S.sparql(clinical_graph, q, subject=("iri", "urn:cv:v1")).collect()
        assert sorted((r.iri, r.release_date, r.max_release_date) for r in out) == [
            ("urn:cv:scv1.2020-01-01", "2020-01-01", "2020-06-01"),
            ("urn:cv:scv1.2020-06-01", "2020-06-01", "2020-06-01"),
            ("urn:cv:scv2.2020-03-03", "2020-03-03", "2020-03-03"),
        ]
        # ORDER BY ASC(?id): scv1 rows precede scv2
        assert [r.id for r in out] == ["urn:cv:scv1", "urn:cv:scv1", "urn:cv:scv2"]


class TestGraphPattern:
    """GRAPH <iri>|?g { ... } named-graph scoping (util/test_data.clj:67
    extracts the mondo named graph this way; the store is named-graph
    partitioned so a constant GRAPH is a partition prune)."""

    @pytest.fixture(scope="class")
    def multi(self, spark):
        rows = [
            ("urn:g1", "urn:a", ":p", "x", False, None),
            ("urn:g1", "urn:a", ":q", "urn:b", True, None),
            ("urn:g2", "urn:a", ":p", "y", False, None),
            (None, "urn:a", ":p", "default", False, None),  # default graph
        ]
        return spark.createDataFrame(rows, TRIPLE_SCHEMA)

    def test_constant_graph_scopes(self, spark, multi):
        out = S.sparql(
            multi, "SELECT ?v WHERE { GRAPH <urn:g1> { ?s :p ?v } }"
        ).collect()
        assert [r.v for r in out] == ["x"]

    def test_construct_extract_named_graph(self, spark, multi):
        """The test_data.clj:67 shape: copy one named graph's triples."""
        out = S.sparql(
            multi,
            "CONSTRUCT { ?s ?p ?o } WHERE { GRAPH <urn:g1> { ?s ?p ?o } }",
        )
        got = {(r.subject, r.predicate, r.object) for r in out.collect()}
        assert got == {("urn:a", ":p", "x"), ("urn:a", ":q", "urn:b")}

    def test_graph_var_binds_and_excludes_default(self, spark, multi):
        out = S.sparql(
            multi, "SELECT ?g ?v WHERE { GRAPH ?g { ?s :p ?v } } ORDER BY ?g"
        ).collect()
        assert [(r.g, r.v) for r in out] == [("urn:g1", "x"), ("urn:g2", "y")]

    def test_graph_var_joins_within_group(self, spark, multi):
        # both patterns must match in the SAME graph: only g1 has :p and :q
        out = S.sparql(
            multi,
            "SELECT ?g WHERE { GRAPH ?g { ?s :p ?v . ?s :q ?w } }",
        ).collect()
        assert [r.g for r in out] == ["urn:g1"]

    def test_path_inside_graph_var_stays_per_graph(self, spark):
        # r6: property paths thread the graph column (corpus mode needs
        # them) — a seq path inside GRAPH ?g must not hop across graphs
        rows = [
            ("urn:g1", "urn:a", ":p", "urn:b", True, None),
            ("urn:g1", "urn:b", ":q", "v1", False, None),
            ("urn:g2", "urn:a", ":p", "urn:c", True, None),
            # bait: the second step exists only in g2 — a cross-graph
            # join would produce (g?, urn:a, v2)
            ("urn:g2", "urn:b", ":q", "v2", False, None),
            (None, "urn:a", ":p", "urn:b", True, None),  # default graph
        ]
        t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        out = S.sparql(
            t, "SELECT ?g ?s ?v WHERE { GRAPH ?g { ?s :p/:q ?v } }"
        ).collect()
        assert [(r.g, r.s, r.v) for r in out] == [("urn:g1", "urn:a", "v1")]
        # closure paths stay per-graph too
        out = S.sparql(
            t,
            "SELECT DISTINCT ?g ?v WHERE { GRAPH ?g { ?s :p*/:q ?v } } ORDER BY ?v",
        ).collect()
        assert [(r.g, r.v) for r in out] == [
            ("urn:g1", "v1"), ("urn:g2", "v2"),
        ]

    def test_path_inside_graph_var_stays_per_graph_distributed(self, spark, monkeypatch):
        monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 0)
        self.test_path_inside_graph_var_stays_per_graph(spark)

    def test_path_inside_constant_graph_works(self, spark, multi):
        out = S.sparql(
            multi,
            "SELECT ?s WHERE { GRAPH <urn:g1> { ?s :q/:p* ?v } FILTER(?v = <urn:b>) }",
        ).collect()
        assert [r.s for r in out] == ["urn:a"]
        # RDFterm-equal: the same-spelled plain LITERAL never equals the
        # IRI binding (review r6 — '=' now honors the whole-term
        # invariant the module header promises)
        out = S.sparql(
            multi,
            'SELECT ?s WHERE { GRAPH <urn:g1> { ?s :q/:p* ?v } FILTER(?v = "urn:b") }',
        ).collect()
        assert out == []

    def test_nested_graph_forms_raise(self, spark, multi):
        # ADVICE r5: a constant GRAPH nested inside GRAPH ?g silently
        # returned ?g unbound (SPARQL keeps ?g ranging over named
        # graphs); now every nested GRAPH form raises explicitly
        for q in [
            "SELECT ?g ?v WHERE { GRAPH ?g { GRAPH <urn:g1> { ?s :p ?v } } }",
            "SELECT ?g ?h WHERE { GRAPH ?g { GRAPH ?h { ?s :p ?v } } }",
            "SELECT ?v WHERE { GRAPH <urn:g2> { GRAPH <urn:g1> { ?s :p ?v } } }",
        ]:
            with pytest.raises(S.SparqlSyntaxError, match="nested GRAPH"):
                S.sparql(multi, q).collect()


class TestCurationValueSetQueries:
    """The two value-set queries common/curation.clj:320-331 embeds in
    Clojure strings — the whole bodies of the ``criteria.clj`` and
    ``classification.clj`` resolvers — copied VERBATIM and executed over
    a synthesized type hierarchy (subClassOf* includes the zero-step
    root per SPARQL path semantics)."""

    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    CRIT_ROOT = "http://purl.obolibrary.org/obo/SEPIO_0000037"
    ASSERT_ROOT = "http://purl.obolibrary.org/obo/SEPIO_0000001"

    CRITERIA_Q = """select distinct ?criteria where 
{ ?criteria_type <http://www.w3.org/2000/01/rdf-schema#subClassOf>* <http://purl.obolibrary.org/obo/SEPIO_0000037> .
  ?criteria a ?criteria_type . }"""

    CLASSIFICATIONS_Q = """select distinct ?classification where 
{ ?assertion_type <http://www.w3.org/2000/01/rdf-schema#subClassOf>* <http://purl.obolibrary.org/obo/SEPIO_0000001> .
  ?assertion a ?assertion_type .
  ?assertion :sepio/has-object ?classification . }"""

    @pytest.fixture(scope="class")
    def valueset_graph(self, spark):
        rows = [
            # criteria types: direct subclass, transitive subclass
            iri("urn:crit-typeA", self.SUB, self.CRIT_ROOT),
            iri("urn:crit-typeB", self.SUB, "urn:crit-typeA"),
            iri("urn:c1", self.RDF_TYPE, "urn:crit-typeA"),
            iri("urn:c2", self.RDF_TYPE, "urn:crit-typeB"),
            # zero-step: an instance typed as the root itself qualifies
            iri("urn:c3", self.RDF_TYPE, self.CRIT_ROOT),
            # decoy outside the hierarchy
            iri("urn:x1", self.RDF_TYPE, "urn:unrelated"),
            # assertion hierarchy + classifications
            iri("urn:atype", self.SUB, self.ASSERT_ROOT),
            iri("urn:as1", self.RDF_TYPE, "urn:atype"),
            iri("urn:as1", ":sepio/has-object", "urn:class:definitive"),
            iri("urn:as2", self.RDF_TYPE, "urn:atype"),
            # duplicate classification value — DISTINCT must collapse it
            iri("urn:as2", ":sepio/has-object", "urn:class:definitive"),
            iri("urn:as3", self.RDF_TYPE, "urn:atype"),
            iri("urn:as3", ":sepio/has-object", "urn:class:limited"),
            # decoy assertion whose type is outside the hierarchy
            iri("urn:bad", self.RDF_TYPE, "urn:unrelated"),
            iri("urn:bad", ":sepio/has-object", "urn:class:never"),
        ]
        return T(spark, rows)

    def test_evaluation_criteria_verbatim(self, spark, valueset_graph):
        out = sorted(
            r.criteria for r in S.sparql(valueset_graph, self.CRITERIA_Q).collect()
        )
        assert out == ["urn:c1", "urn:c2", "urn:c3"]

    def test_classifications_verbatim(self, spark, valueset_graph):
        out = sorted(
            r.classification
            for r in S.sparql(valueset_graph, self.CLASSIFICATIONS_Q).collect()
        )
        assert out == ["urn:class:definitive", "urn:class:limited"]


class TestFindQueries:
    """The generic find query (source/graphql/schema/find.clj:58-75) —
    the resolver behind the GraphQL ``find`` top-level query — executed
    VERBATIM: type filter via the ``a? | sub-class-of*`` alternation
    path, linkage via the three-way inverse alternation, the
    ``:jena/query`` keyword-form text BGP with a PRE-BOUND ?text var,
    and the WIP coordinate-range query with numeric-typed pre-bound
    bounds (Jena binds Clojure numbers as typed literals)."""

    FIND_Q = """select distinct ?x where {
 ?x a? | :rdfs/sub-class-of * ?type ;
 ^ :sepio/has-subject  |  ^ :sepio/has-object | ^ :sepio/has-agent  ?subject .
}"""

    FIND_TEXT_Q = """select distinct ?x where {
      ?x :jena/query ( :cg/resource ?text ) ;
      a? | :rdfs/sub-class-of * ?type ;
      ^ :sepio/has-subject  |  ^ :sepio/has-object | ^ :sepio/has-agent  ?subject .
    }"""

    COORD_Q = """select ?x where {
?x :geno/has-location ?loc .
?loc :geno/has-reference-sequence ?sequence ;
:geno/has-interval ?interval .
?interval :geno/start-position ?start_position ;
:geno/end-position ?end_position .
FILTER(?start_position > ?start)
FILTER(?end_position < ?end)
}"""

    @pytest.fixture(scope="class")
    def find_graph(self, spark):
        return T(
            spark,
            [
                iri("urn:geneclass", ":rdfs/sub-class-of", ":so/Gene"),
                iri("urn:g1", "rdf:type", ":so/Gene"),
                # instance of a SUBCLASS: the a?|subClassOf* alternation
                # (unlike a/subClassOf* composition) does NOT reach the
                # root from here — must be excluded
                iri("urn:g2", "rdf:type", "urn:geneclass"),
                iri("urn:d1", "rdf:type", ":mondo/Disease"),
                iri("urn:s1", ":sepio/has-subject", "urn:g1"),
                iri("urn:s1", ":sepio/has-object", "urn:d1"),
                iri("urn:s1", ":sepio/has-agent", "urn:agent1"),
                iri("urn:s2", ":sepio/has-object", "urn:g2"),
                iri("urn:s3", ":sepio/has-object", "urn:geneclass"),
                lit("urn:g1", ":cg/resource", "brca1 gene curated"),
                lit("urn:geneclass", ":cg/resource", "gene class"),
                lit("urn:d1", ":cg/resource", "some disease"),
            ],
        )

    def test_find_by_type(self, spark, find_graph):
        out = sorted(
            r.x
            for r in S.sparql(
                find_graph, self.FIND_Q, type=("iri", ":so/Gene")
            ).collect()
        )
        # g1 via the one-step `a` branch; geneclass via subClassOf*;
        # g2 (instance of the subclass) correctly absent; :so/Gene
        # itself (zero-step) absent because no statement references it
        assert out == ["urn:g1", "urn:geneclass"]

    def test_find_with_text(self, spark, find_graph):
        find = lambda **kw: sorted(
            r.x for r in S.sparql(find_graph, self.FIND_TEXT_Q, **kw).collect()
        )
        assert find(type=("iri", ":so/Gene"), text="gene") == [
            "urn:g1",
            "urn:geneclass",
        ]
        assert find(type=("iri", ":so/Gene"), text="brca1") == ["urn:g1"]
        assert find(type=("iri", ":mondo/Disease"), text="disease") == ["urn:d1"]

    @pytest.fixture(scope="class")
    def coord_graph(self, spark):
        rows = []
        for i, (st, en) in enumerate([(100, 200), (1000, 1100), (90, 2000)]):
            rows += [
                iri(f"urn:x{i}", ":geno/has-location", f"urn:loc{i}"),
                iri(f"urn:loc{i}", ":geno/has-reference-sequence", "urn:seq:chr1"),
                iri(f"urn:loc{i}", ":geno/has-interval", f"urn:iv{i}"),
                lit(f"urn:iv{i}", ":geno/start-position", str(st), "xsd:integer"),
                lit(f"urn:iv{i}", ":geno/end-position", str(en), "xsd:integer"),
            ]
        return T(spark, rows)

    def test_coordinate_range(self, spark, coord_graph):
        out = sorted(
            r.x
            for r in S.sparql(
                coord_graph,
                self.COORD_Q,
                sequence=("iri", "urn:seq:chr1"),
                start=50,
                end=1500,
            ).collect()
        )
        # x2's end (2000) fails `< 1500`; numeric not lexical compare
        # ("100" > "50" is lexically FALSE — x0 only survives because the
        # typed pre-bound int compares numerically)
        assert out == ["urn:x0", "urn:x1"]


class TestInferredTypeQuery:
    """schema/resource.clj:12 — the inferred rdf-types query executed
    VERBATIM (note: this file spells the property :rdfs/subClassOf,
    unlike the :rdfs/sub-class-of used elsewhere; keyword terms match
    literally)."""

    Q = "select ?type where {?resource a /  :rdfs/subClassOf * ?type}"

    def test_inferred_types(self, spark):
        m = T(
            spark,
            [
                iri("urn:r1", "rdf:type", "urn:B"),
                iri("urn:B", ":rdfs/subClassOf", "urn:A"),
                iri("urn:A", ":rdfs/subClassOf", "urn:Root"),
                iri("urn:other", "rdf:type", "urn:Z"),
            ],
        )
        out = sorted(
            r.type
            for r in S.sparql(m, self.Q, resource=("iri", "urn:r1")).collect()
        )
        # direct type + every superclass via the a/subClassOf* composition
        assert out == ["urn:A", "urn:B", "urn:Root"]


class TestAnnotateAuthQueries:
    """The three queries embedded outside the GraphQL/transform tiers —
    annotate/gene.clj (validity genes), annotate/replaces.clj (the
    GCI-Express supersession lookup that drives the replaces chain), and
    auth.clj (find-user-by-email) — executed VERBATIM. With these,
    every create-query embedded anywhere in the reference source has
    verified verbatim execution."""

    VALIDITY_GENES_Q = """select ?gene where
{ ?proposition a :sepio/GeneValidityProposition .
  ?proposition :sepio/has-subject ?gene }"""

    # replaces.clj:10-19 builds this with (str ...); joined verbatim
    REPLACES_Q = (
        "select ?proposition where { "
        " ?report a :sepio/GeneValidityReport . "
        " ?report :dc/source :cg/GeneCurationExpress ."
        " ?report :bfo/has-part ?assertion ."
        " ?assertion a :sepio/GeneValidityEvidenceLevelAssertion . "
        " ?assertion :sepio/has-subject ?proposition ."
        " ?proposition :sepio/has-subject ?gene ."
        " ?proposition :sepio/has-qualifier ?moi ."
        " ?proposition :sepio/has-object ?disease . }"
    )

    AUTH_Q = "select ?user where { ?user :foaf/mbox ?email }"

    def test_validity_genes(self, spark):
        m = T(
            spark,
            [
                iri("urn:prop1", "rdf:type", ":sepio/GeneValidityProposition"),
                iri("urn:prop1", ":sepio/has-subject", "urn:gene1"),
                iri("urn:prop2", "rdf:type", ":sepio/OtherProposition"),
                iri("urn:prop2", ":sepio/has-subject", "urn:gene2"),
            ],
        )
        out = [r.gene for r in S.sparql(m, self.VALIDITY_GENES_Q).collect()]
        assert out == ["urn:gene1"]

    def test_gci_express_replaces_lookup(self, spark):
        def curation(n, source=":cg/GeneCurationExpress", gene="urn:g1",
                     moi="urn:moi1", disease="urn:d1"):
            return [
                iri(f"urn:rep{n}", "rdf:type", ":sepio/GeneValidityReport"),
                iri(f"urn:rep{n}", ":dc/source", source),
                iri(f"urn:rep{n}", ":bfo/has-part", f"urn:as{n}"),
                iri(f"urn:as{n}", "rdf:type",
                    ":sepio/GeneValidityEvidenceLevelAssertion"),
                iri(f"urn:as{n}", ":sepio/has-subject", f"urn:prop{n}"),
                iri(f"urn:prop{n}", ":sepio/has-subject", gene),
                iri(f"urn:prop{n}", ":sepio/has-qualifier", moi),
                iri(f"urn:prop{n}", ":sepio/has-object", disease),
            ]

        m = T(
            spark,
            curation(1)
            # same pair but NOT from GCI Express: must not be replaced
            + curation(2, source=":cg/OtherSource")
            # different MOI: not a match for the (gene, disease, moi) key
            + curation(3, moi="urn:moi2"),
        )
        out = [
            r.proposition
            for r in S.sparql(
                m,
                self.REPLACES_Q,
                gene=("iri", "urn:g1"),
                disease=("iri", "urn:d1"),
                moi=("iri", "urn:moi1"),
            ).collect()
        ]
        assert out == ["urn:prop1"]

    def test_find_user_by_email(self, spark):
        m = T(
            spark,
            [
                iri("urn:user:1", ":foaf/mbox", "mailto:a@clinicalgenome.org"),
                iri("urn:user:2", ":foaf/mbox", "mailto:b@clinicalgenome.org"),
            ],
        )
        out = [
            r.user
            for r in S.sparql(
                m, self.AUTH_Q, email=("iri", "mailto:b@clinicalgenome.org")
            ).collect()
        ]
        assert out == ["urn:user:2"]


class TestCorrelatedExists:
    """Correlated FILTER (NOT) EXISTS — SPARQL 1.1 §8.1.1 substitution
    semantics beyond the clinvar reference shapes (probed live, then
    pinned)."""

    def _vals(self, spark):
        XI = "http://www.w3.org/2001/XMLSchema#integer"
        return T(
            spark,
            [lit(s, ":val", v, XI) for s, v in
             [("a", "1"), ("b", "5"), ("c", "9")]],
        )

    def test_positive_correlated_exists(self, spark):
        out = S.sparql(
            self._vals(spark),
            """SELECT ?s ?v WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { ?o :val ?w . FILTER(?w > ?v) }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["a", "b"]

    def test_argmax_via_uncorrelated_not_exists(self, spark):
        """No shared variable at all: the anti-join runs on the hoisted
        range predicate alone (broadcast-nested-loop — the honest plan
        for that query shape)."""
        out = S.sparql(
            self._vals(spark),
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER NOT EXISTS { ?o :val ?w . FILTER(?w > ?v) }
               }""",
        )
        assert [r.s for r in out.collect()] == ["c"]

    def test_unbound_var_in_exists_filter_is_error_false(self, spark):
        """A filter var bound on NEITHER side evaluates as an error →
        the EXISTS pattern yields no solutions → EXISTS false,
        NOT EXISTS true (§17.2)."""
        q = """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { ?o :val ?w . FILTER(?w > ?nosuch) }
               }"""
        assert S.sparql(self._vals(spark), q).count() == 0
        qn = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
        assert S.sparql(self._vals(spark), qn).count() == 3

    def test_arithmetic_in_hoisted_filter(self, spark):
        out = S.sparql(
            self._vals(spark),
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER NOT EXISTS { ?o :val ?w . FILTER(?w > ?v + 1) }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["c"]

    def test_deep_correlated_filter_decorrelates(self, spark):
        """ADVICE r5 flagged nested outer-correlated filters as silently
        NULL-compiled; r6 implements the §8.1.1 substitution instead —
        the EXISTS pattern re-compiles SEEDED with the distinct outer
        correlated values, so filters at any depth see the binding."""
        tri = self._vals(spark)
        # braced sub-group: exists a strictly larger value → a, b
        out = S.sparql(
            tri,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { { ?o :val ?w . FILTER(?w > ?v) } }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["a", "b"]
        # UNION branches: first branch correlated, second never matches;
        # NOT EXISTS keeps only the max (the silent-NULL bug kept all 3)
        out = S.sparql(
            tri,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER NOT EXISTS {
                   { ?o :val ?w . FILTER(?w > ?v) }
                   UNION
                   { ?o :val ?w . FILTER(?w > 100) } }
               }""",
        )
        assert [r.s for r in out.collect()] == ["c"]
        # two levels of EXISTS nesting
        out = S.sparql(
            tri,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { ?o :val ?w .
                   FILTER EXISTS { ?p :val ?u . FILTER(?u > ?v) } }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["a", "b"]
        # OPTIONAL inside EXISTS: the optional filter cannot remove the
        # required match, so all rows keep their EXISTS
        out = S.sparql(
            tri,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { ?o :val ?w .
                   OPTIONAL { ?o :val ?x . FILTER(?x > ?v) } }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["a", "b", "c"]

    def test_null_correlated_rows_keep_sibling_branches(self, spark):
        """Review-caught regression guard: an outer row whose correlated
        var is UNBOUND must still see EXISTS=true through a sibling
        branch that doesn't touch the var — §8.1.1 leaves the var free,
        so only the filtered branch dies (error→false), not the whole
        pattern. A seed that drops NULL rows would falsify EXISTS for
        them entirely."""
        XI = "http://www.w3.org/2001/XMLSchema#integer"
        t = T(
            spark,
            [lit(s, ":val", v, XI) for s, v in
             [("a", "1"), ("b", "5"), ("c", "9")]]
            + [lit("b", ":opt", "5", XI), lit("urn:x", ":mark", "1")],
        )
        out = S.sparql(
            t,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 OPTIONAL { ?s :opt ?d }
                 FILTER EXISTS {
                   { ?s2 :mark ?m }
                   UNION
                   { ?o :val ?w . FILTER(?w > ?d) } }
               }""",
        )
        # ?d unbound for a and c: the :mark branch still satisfies EXISTS
        assert sorted(r.s for r in out.collect()) == ["a", "b", "c"]
        # without the sibling branch, unbound-?d rows see error→false
        out = S.sparql(
            t,
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 OPTIONAL { ?s :opt ?d }
                 FILTER EXISTS { { ?o :val ?w . FILTER(?w > ?d) } }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["b"]

    def test_deep_filter_on_inner_vars_still_fine(self, spark):
        """Nested filters that reference only pattern-bound vars keep
        working — the raise is scoped to OUTER-correlated ones."""
        out = S.sparql(
            self._vals(spark),
            """SELECT ?s WHERE {
                 ?s :val ?v .
                 FILTER EXISTS { { ?o :val ?w . FILTER(?w > 5) } }
               }""",
        )
        assert sorted(r.s for r in out.collect()) == ["a", "b", "c"]


class TestPerGraphSelectAsk:
    """per_graph SELECT/ASK (corpus mode, r6): the reference runs these
    queries once per event model, so solution modifiers scope to ONE
    graph — per-graph aggregates, per-graph ORDER BY/LIMIT, one ASK
    boolean per graph."""

    def _t(self, spark):
        rows = [
            ("g1", "urn:a1", ":val", "1", False, "http://www.w3.org/2001/XMLSchema#integer"),
            ("g1", "urn:a2", ":val", "9", False, "http://www.w3.org/2001/XMLSchema#integer"),
            ("g2", "urn:b1", ":val", "5", False, "http://www.w3.org/2001/XMLSchema#integer"),
            ("g3", "urn:c1", ":other", "x", False, None),
        ]
        return spark.createDataFrame(rows, TRIPLE_SCHEMA)

    def _graphs(self, spark, *gs):
        return spark.createDataFrame([(g,) for g in gs], "graph string")

    def test_per_graph_order_limit(self, spark):
        q = S.PreparedQuery(
            "SELECT ?s ?v WHERE { ?s :val ?v } ORDER BY DESC(?v) LIMIT 1"
        )
        out = q.run(self._t(spark), per_graph=self._graphs(spark, "g1", "g2"))
        got = sorted((r.graph, r.s, r.v) for r in out.collect())
        # one top row PER GRAPH (a global LIMIT 1 would keep only g1's)
        assert got == [("g1", "urn:a2", "9"), ("g2", "urn:b1", "5")]

    def test_per_graph_aggregate(self, spark):
        q = S.PreparedQuery(
            "SELECT (SUM(?v) AS ?total) (COUNT(?s) AS ?n) WHERE { ?s :val ?v }"
        )
        out = q.run(self._t(spark), per_graph=self._graphs(spark, "g1", "g2"))
        got = {r.graph: (r.total, r.n) for r in out.collect()}
        assert got == {"g1": ("10", 2), "g2": ("5", 1)} or got == {
            "g1": (10.0, 2), "g2": (5.0, 1),
        } or got == {"g1": (10, 2), "g2": (5, 1)}

    def test_per_graph_ask(self, spark):
        q = S.PreparedQuery("ASK WHERE { ?s :val ?v }")
        out = q.run(
            self._t(spark), per_graph=self._graphs(spark, "g1", "g2", "g3")
        )
        got = {r.graph: r.result for r in out.collect()}
        # g3 has triples but none matching; it must report False, not
        # vanish
        assert got == {"g1": True, "g2": True, "g3": False}

    def test_verbatim_affiliation_query_per_graph(self, spark):
        """The reference's has-affiliation-query
        (gene_validity_refactor.clj:397-412) VERBATIM over two curations
        in one job — its ORDER BY DESC(?date) LIMIT 1 must resolve PER
        CURATION. Cross-checked against find_affiliations (two
        independent implementations, one answer)."""
        from genegraph_spark.operators.gdm_chain import find_affiliations

        GCI = "http://dataexchange.clinicalgenome.org/gci/"
        rows = []
        for g, aff_new, aff_old in [
            ("urn:cur1", "urn:aff-new1", "urn:aff-old1"),
            ("urn:cur2", "urn:aff-new2", "urn:aff-old2"),
        ]:
            rows += [
                (g, g + "/gdm", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", GCI + "gdm", True, None),
                (g, g + "/clsA", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", GCI + "provisionalClassification", True, None),
                (g, g + "/clsA", GCI + "affiliation", aff_old, True, None),
                (g, g + "/clsA", GCI + "last_modified", "2019-01-01", False, None),
                (g, g + "/clsB", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", GCI + "provisionalClassification", True, None),
                (g, g + "/clsB", GCI + "affiliation", aff_new, True, None),
                (g, g + "/clsB", GCI + "last_modified", "2021-06-01", False, None),
            ]
        t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        q = S.PreparedQuery(
            """prefix gci: <http://dataexchange.clinicalgenome.org/gci/>
               select ?affiliationIRI where {
                 ?proposition a gci:gdm .
                 OPTIONAL { ?proposition gci:affiliation ?gdmAffiliationIRI . }
                 OPTIONAL {
                   ?classification a gci:provisionalClassification .
                   ?classification gci:affiliation ?classificationAffiliationIRI .
                   ?classification gci:last_modified ?date .
                 }
                 BIND(COALESCE(?classificationAffiliationIRI, ?gdmAffiliationIRI)
                      AS ?affiliationIRI) }
               ORDER BY DESC(?date) LIMIT 1"""
        )
        out = q.run(t, per_graph=self._graphs(spark, "urn:cur1", "urn:cur2"))
        got = {r.graph: r.affiliationIRI for r in out.collect()}
        assert got == {"urn:cur1": "urn:aff-new1", "urn:cur2": "urn:aff-new2"}
        # independent implementation agrees
        via_frame = {
            r.graph: r.affiliation for r in find_affiliations(t).collect()
        }
        assert via_frame == got


class TestReviewR6Fixes:
    """Regression pins for the round-6 review findings: conformance
    gaps in paths no reference query exercises (each silently returned
    wrong/empty results before)."""

    def test_pname_trailing_dot_is_triple_terminator(self, spark):
        # `ex:Gene.` = IRI ex:Gene + '.', not an IRI with a trailing dot
        t = T(spark, [
            iri("urn:s", "http://ex/type", "http://ex/Gene"),
            lit("urn:s", "http://ex/label", "BRCA1"),
        ])
        out = S.sparql(
            t,
            "PREFIX ex: <http://ex/> "
            "SELECT ?l WHERE { ?s ex:type ex:Gene. ?s ex:label ?l }",
        ).collect()
        assert [r.l for r in out] == ["BRCA1"]

    def test_default_prefix_declaration(self, spark):
        t = T(spark, [iri("urn:s", "http://ex/p", "urn:o")])
        out = S.sparql(
            t,
            "PREFIX : <http://ex/> SELECT ?s WHERE { ?s :p <urn:o> }",
        ).collect()
        assert [r.s for r in out] == ["urn:s"]

    def test_values_arity_mismatch_raises(self, spark):
        for q in [
            'SELECT ?a WHERE { VALUES (?a ?b) { ("x") } ?s ?p ?a }',
            'SELECT ?a WHERE { VALUES (?a ?b) { ("p" "q" "r") } ?s ?p ?a }',
        ]:
            with pytest.raises(S.SparqlSyntaxError, match="VALUES row"):
                S.PreparedQuery(q)

    def test_anon_bnode_in_construct_template(self, spark):
        # `[]` in the template mints a fresh bnode per solution
        t = T(spark, [
            lit("urn:a", "http://ex/q", "1"),
            lit("urn:b", "http://ex/q", "2"),
        ])
        out = S.sparql(
            t,
            "PREFIX ex: <http://ex/> "
            "CONSTRUCT { ?s ex:p [] } WHERE { ?s ex:q ?o }",
        ).collect()
        assert len(out) == 2
        bnodes = {r.object for r in out}
        assert len(bnodes) == 2  # fresh per solution
        assert all(b.startswith("_:") for b in bnodes)
        assert all(r.object_is_iri for r in out)

    def test_describe_multiple_terms(self, spark):
        t = T(spark, [
            lit("urn:a", "http://ex/l", "A"),
            lit("urn:b", "http://ex/l", "B"),
            lit("urn:c", "http://ex/l", "C"),
            iri("urn:a", "http://ex/knows", "urn:b"),
        ])
        out = S.sparql(
            t,
            "PREFIX ex: <http://ex/> "
            "DESCRIBE ?x ?y <urn:c> WHERE { ?x ex:knows ?y }",
        ).collect()
        # union of descriptions: urn:a (2 triples incl. the link),
        # urn:b (1), urn:c (1)
        subjects = {r.subject for r in out}
        assert subjects == {"urn:a", "urn:b", "urn:c"}
        assert len(out) == 4

    def test_bgp_after_optional_uses_compatibility(self, spark):
        # SPARQL §18.3: an OPTIONAL-unbound ?x is compatible with any
        # later BGP binding of ?x; a NULL-rejecting join dropped the row
        t = T(spark, [
            iri("urn:s1", "http://ex/p", "urn:x1"),
            # s2 has no ex:p — OPTIONAL leaves ?x unbound
            lit("urn:s1", "http://ex/t", "S1"),
            lit("urn:s2", "http://ex/t", "S2"),
            lit("urn:x1", "http://ex/q", "Q1"),
            lit("urn:x2", "http://ex/q", "Q2"),
        ])
        out = S.sparql(
            t,
            "PREFIX ex: <http://ex/> SELECT ?s ?x ?y WHERE { "
            "?s ex:t ?l OPTIONAL { ?s ex:p ?x } ?x ex:q ?y } ORDER BY ?s ?x",
        ).collect()
        got = [(r.s, r.x, r.y) for r in out]
        # s1: ?x bound to x1 → joins x1 only; s2: ?x unbound → extends
        # with EVERY ex:q binding (x1 and x2)
        assert got == [
            ("urn:s1", "urn:x1", "Q1"),
            ("urn:s2", "urn:x1", "Q1"),
            ("urn:s2", "urn:x2", "Q2"),
        ]

    def test_exists_with_maybe_unbound_shared_var(self, spark):
        t = T(spark, [
            iri("urn:s1", "http://ex/p", "urn:x1"),
            lit("urn:s1", "http://ex/t", "S1"),
            lit("urn:s2", "http://ex/t", "S2"),  # ?x unbound for s2
            lit("urn:x1", "http://ex/q", "Q1"),
        ])
        q = (
            "PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:t ?l "
            "OPTIONAL { ?s ex:p ?x } FILTER %s { ?x ex:q ?v } } ORDER BY ?s"
        )
        # EXISTS: s1's ?x=x1 has a ex:q solution; s2's ?x is UNBOUND →
        # §8.1.1 leaves ?x free, the pattern has solutions → EXISTS true
        got = [r.s for r in S.sparql(t, q % "EXISTS").collect()]
        assert got == ["urn:s1", "urn:s2"]
        # NOT EXISTS: both rows must drop (dual of the above)
        got = [r.s for r in S.sparql(t, q % "NOT EXISTS").collect()]
        assert got == []

    def test_bind_inside_exists_decorrelates(self, spark):
        # outer-correlated BIND inside EXISTS now routes through the
        # seeded decorrelation path instead of reading ?tag as NULL
        t = T(spark, [
            lit("urn:s1", "http://ex/tag", "a"),
            lit("urn:s2", "http://ex/tag", "b"),
            lit("urn:k", "http://ex/id", "a-x"),
        ])
        out = S.sparql(
            t,
            "PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:tag ?tag "
            'FILTER EXISTS { BIND(CONCAT(?tag, "-x") AS ?k) ?n ex:id ?k } }',
        ).collect()
        assert [r.s for r in out] == ["urn:s1"]

    def test_iri_never_equals_literal(self, spark):
        # RDFterm-equal via '=': kind mismatch → false; '!=' → true
        t = T(spark, [
            iri("urn:s1", "http://ex/p", "urn:val"),   # IRI object
            lit("urn:s2", "http://ex/p", "urn:val"),   # same-spelled literal
        ])
        q = "PREFIX ex: <http://ex/> SELECT ?s WHERE { ?s ex:p ?v FILTER(%s) } ORDER BY ?s"
        assert [r.s for r in S.sparql(t, q % '?v = "urn:val"').collect()] == ["urn:s2"]
        assert [r.s for r in S.sparql(t, q % "?v = <urn:val>").collect()] == ["urn:s1"]
        assert [r.s for r in S.sparql(t, q % '?v != "urn:val"').collect()] == ["urn:s1"]
        # var-var: IRI vs literal with equal lexical forms stays unequal
        q2 = (
            "PREFIX ex: <http://ex/> SELECT ?a ?b WHERE { "
            "?a ex:p ?v1 . ?b ex:p ?v2 . FILTER(?v1 = ?v2 && ?a != ?b) }"
        )
        assert S.sparql(t, q2).collect() == []


class TestClosureRounds:
    """SPARQL ``+`` closures forced onto the distributed round loop."""

    Q = "SELECT ?a ?b WHERE { ?a <urn:next>+ ?b }"

    @staticmethod
    def chain(spark, n):
        return T(spark, [iri(f"urn:n{i}", "urn:next", f"urn:n{i + 1}") for i in range(n)])

    def test_unconverged_plus_path_raises(self, spark, monkeypatch):
        monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 0)
        real = fixpoint.iterate
        monkeypatch.setattr(
            fixpoint, "iterate", lambda *a, **k: real(*a, **{**k, "max_iter": 1})
        )
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            S.sparql(self.chain(spark, 4), self.Q)

    def test_jobs_per_round(self, spark, monkeypatch):
        """A round is one action: a lazy checkpoint materialized by its
        count. AQE submits map-stage jobs of its own for each action, so
        the bound is on measured jobs per round: a chain of n edges takes
        ceil(log2 n) + 1 rounds, 4 for n=8 and 6 for n=32. An eager
        checkpoint plus a count measured 7 jobs per round."""
        monkeypatch.setattr(fixpoint, "PAIR_BUDGET", 0)
        sc = spark.sparkContext

        def compile_jobs(n):
            t = self.chain(spark, n)
            group = f"closure-jobs-{n}"
            sc.setJobGroup(group, group)
            try:
                S.sparql(t, self.Q)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        assert (compile_jobs(32) - compile_jobs(8)) / 2 <= 6
