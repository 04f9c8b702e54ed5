"""Round-2 operators: collect pivots, cross-curation replaces,
declarative validation, serialization round-trip, producer sink, struct
parsers, nested-JSON payloads, event archives, property-path
extensions, dry-run, and the real kill/resume drill."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from genegraph_spark.operators import algebra as A
from genegraph_spark.operators import grouping as G
from genegraph_spark.operators import replaces as R
from genegraph_spark.operators import validate as VD
from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore


def triples_df(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


# -- grouping ---------------------------------------------------------------

def test_collect_pivot_sorted_and_counted(spark):
    df = spark.createDataFrame(
        [("s1", "p", "b"), ("s1", "p", "a"), ("s1", "q", "x"), ("s2", "p", "c")],
        "subject string, predicate string, object string",
    )
    got = {
        (r["subject"], r["predicate"]): (r["objects"], r["n_objects"])
        for r in G.out_edge_documents(df).collect()
    }
    assert got == {
        ("s1", "p"): (["a", "b"], 2),
        ("s1", "q"): (["x"], 1),
        ("s2", "p"): (["c"], 1),
    }


def test_single_member_groups_emits_only_singletons(spark):
    df = spark.createDataFrame(
        [("ph1", "gA"), ("ph1", "gA"), ("ph2", "gA"), ("ph2", "gB"), ("ph3", "gC")],
        "pheno string, gene string",
    )
    got = {(r["pheno"], r["only_member"]) for r in G.single_member_groups(df, "pheno", "gene").collect()}
    # ph1: one distinct gene (duplicate rows collapse); ph2: two genes -> excluded
    assert got == {("ph1", "gA"), ("ph3", "gC")}


# -- cross-curation replaces --------------------------------------------------

def test_publish_with_replaces_deletes_superseded_graph(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store"), n_buckets=8)
    old = triples_df(spark, [("urn:c1", "urn:c1", ":assertion", "old", False, None)])
    store.merge(old)
    installed_keys = spark.createDataFrame(
        [("urn:c1", "g1", "d1", "AD")], "graph string, gene string, disease string, moi string"
    )

    new = triples_df(spark, [("urn:c2", "urn:c2", ":assertion", "new", False, None)])
    incoming_keys = spark.createDataFrame(
        [("urn:c2", "g1", "d1", "AD")], "graph string, gene string, disease string, moi string"
    )
    R.publish_with_replaces(store, new, incoming_keys, installed_keys, ["gene", "disease", "moi"])

    graphs = {r["graph"] for r in store.triples().select("graph").distinct().collect()}
    assert graphs == {"urn:c2"}  # superseded c1 removed in the same commit
    lin = store.lineage()
    assert lin.where("graph = 'urn:c1' and action = 'unpublish'").count() == 1


def test_find_superseded_requires_key_match(spark):
    installed = spark.createDataFrame(
        [("urn:c1", "g1", "d1"), ("urn:c3", "g2", "d2")], "graph string, gene string, disease string"
    )
    incoming = spark.createDataFrame([("urn:c2", "g1", "d1")], "graph string, gene string, disease string")
    got = {(r["graph"], r["supersedes"]) for r in R.find_superseded(installed, incoming, ["gene", "disease"]).collect()}
    assert got == {("urn:c2", "urn:c1")}  # c3 has a different key -> untouched


# -- validation ----------------------------------------------------------------

def test_quarantine_split_reasons(spark):
    df = spark.createDataFrame(
        [("https://a", "en", 1, "ok"), ("ftp://b", "en", 1, "ok"), ("https://c", None, 9, "")],
        "url string, lang string, version int, text string",
    )
    shape = [
        VD.matches("url", "^https://"),
        VD.required("lang"),
        VD.in_range("version", 1, 3),
        VD.required("text"),
    ]
    valid, quarantined = VD.quarantine_split(df, shape)
    assert [r["url"] for r in valid.collect()] == ["https://a"]
    bad = {r["url"]: r["violations"] for r in quarantined.collect()}
    assert bad["ftp://b"] == ["url:pattern"]
    assert bad["https://c"] == ["lang:required", "text:required", "version:range"]


def test_when_then_conditional_constraint(spark):
    df = spark.createDataFrame([(True, ""), (False, ""), (False, "x")], "tomb boolean, text string")
    c = VD.when_then("live:text", ~F.col("tomb"), F.col("text") != "")
    out = VD.with_violations(df, [c]).collect()
    # tombstones exempt; live rows need text
    assert [r["violations"] for r in out] == [[], ["live:text"], []]


# -- serialization + producer sink ---------------------------------------------

def test_jsonld_roundtrip_preserves_triples(spark):
    from genegraph_spark.functions import serialize as SER

    rows = [
        ("g1", "s1", "p1", "o1", True, None),
        ("g1", "s1", "p2", "lit", False, "http://www.w3.org/2001/XMLSchema#string"),
        ("g2", "s2", "p1", "o9", True, None),
    ]
    t = triples_df(spark, rows)
    docs = SER.graph_documents(t)
    back = SER.parse_documents(docs)
    assert {tuple(r) for r in back.collect()} == set(rows)  # incl. null datatype restored


def test_output_topic_idempotent_and_latest(spark, tmp_path):
    from genegraph_spark.sinks.producer import OutputTopic

    topic = OutputTopic(spark, str(tmp_path / "topic"))
    d0 = spark.createDataFrame([("g1", "v0"), ("g2", "v0")], "graph string, doc string")
    assert topic.produce(d0) == 0
    # replay of the same commit id overwrites, not double-appends
    topic.produce(d0, commit=0)
    assert topic.read().count() == 2
    d1 = spark.createDataFrame([("g1", "v1")], "graph string, doc string")
    topic.produce(d1)
    latest = {r["graph"]: r["doc"] for r in topic.latest().collect()}
    assert latest == {"g1": "v1", "g2": "v0"}


# -- struct parser ---------------------------------------------------------------

def test_cnv_parse_unparse_roundtrip():
    from genegraph_spark.functions.parse import parse_cnv_py, unparse_cnv_py

    s = "GRCh38 chr7:117480025-117668665 DEL"
    d = parse_cnv_py(s)
    assert d == {"assembly": "GRCh38", "chrom": "7", "start": 117480025, "end": 117668665, "svtype": "DEL"}
    assert unparse_cnv_py(d) == s
    for bad in [None, "", "chr7:1-2 DEL", "GRCh38 chr7:5-2 DEL", "GRCh39 chr7:1-2 DEL"]:
        assert parse_cnv_py(bad) is None


def test_cnv_parse_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from genegraph_spark.functions.parse import parse_cnv_py, unparse_cnv_py

    chroms = [str(i) for i in range(1, 23)] + ["X", "Y", "M"]

    @settings(max_examples=200, deadline=None)
    @given(
        st.sampled_from(["GRCh37", "GRCh38", "NCBI36"]),
        st.sampled_from(chroms),
        st.integers(0, 10**9),
        st.integers(0, 10**9),
        st.sampled_from(["DEL", "DUP", "INS", "INV"]),
    )
    def check(asm, chrom, a, b, sv):
        d = {"assembly": asm, "chrom": chrom, "start": min(a, b), "end": max(a, b), "svtype": sv}
        assert parse_cnv_py(unparse_cnv_py(d)) == d

    check()


def test_cnv_parse_udf_struct(spark):
    from genegraph_spark.functions.parse import parse_cnv

    df = spark.createDataFrame(
        [("GRCh37 chrX:10-20 DUP",), ("nope",), (None,)], "raw string"
    )
    got = df.select(parse_cnv("raw").alias("c")).select("c.assembly", "c.start").collect()
    assert (got[0]["assembly"], got[0]["start"]) == ("GRCh37", 10)
    assert got[1]["assembly"] is None and got[2]["assembly"] is None


# -- payload parsing ---------------------------------------------------------------

def test_nested_json_and_corrupt_rows(spark):
    from genegraph_spark.sources import payload as PL

    df = spark.createDataFrame(
        [('{"id": 1, "content": "{\\"k\\": 7}"}',), ("not json at all",)], "value string"
    )
    out = PL.parse_nested_content(df, "value", "id long, content string", "content", "k int")
    rows = out.select(F.col("outer.id").alias("id"), F.col("content.k").alias("k")).collect()
    assert (rows[0]["id"], rows[0]["k"]) == (1, 7)
    assert rows[1]["id"] is None and rows[1]["k"] is None  # quarantine-able, not fatal


def test_event_archive_roundtrip(spark, tmp_path):
    from genegraph_spark.sources import payload as PL

    env = spark.createDataFrame(
        [("k1", '{"a": 1}', "2024-01-01 00:00:00", "t", 0, 5)],
        "key string, value string, timestamp string, topic string, partition int, offset long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    path = str(tmp_path / "archive")
    PL.write_event_archive(env, path)
    back = PL.read_event_archive(spark, path)
    assert back.count() == 1
    r = back.collect()[0]
    assert (r["key"], r["topic"], r["offset"]) == ("k1", "t", 5)


# -- property-path extensions -------------------------------------------------------

def test_ld_path_alternation_optional_rep(spark):
    rows = [
        ("g", "a", ":p", "b", True, None),
        ("g", "a", ":q", "c", True, None),
        ("g", "b", ":r", "d", True, None),
        ("g", "d", ":r", "e", True, None),
    ]
    t = triples_df(spark, rows)
    start = spark.createDataFrame([("a",)], "node string")
    alt = {r["node"] for r in A.ld_path(t, start, [(">", [":p", ":q"])]).collect()}
    assert alt == {"b", "c"}
    opt = {r["node"] for r in A.ld_path(t, start, [(">", ":p"), ("?", ":r")]).collect()}
    assert opt == {"b", "d"}  # zero-or-one hop
    rep = {r["node"] for r in A.ld_path(t, spark.createDataFrame([("b",)], "node string"), [("rep", ":r", 2)]).collect()}
    assert rep == {"e"}  # rdf:rest{2}-style positional


def test_slice_compiles_to_take_ordered(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    out = A.slice(df, limit=10, offset=5, order=[("?k", "asc"), ("?id", "desc")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    got = [r["id"] for r in out.collect()]
    assert len(got) == 10
    # golden page: full order is (k asc, id desc); rows 6..15 of that order
    full = sorted([(i % 7, -i) for i in range(1000)])[5:15]
    assert [(-b) for _, b in full] == got


# -- dry run + kill/resume -----------------------------------------------------------

def test_run_to_store_dry_run_writes_nothing(spark, sf_dir, tmp_path):
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg_dry")
    res, store, summary = run_to_store(spark, sf_dir, path, dry_run=True, use_golden_text=True)
    assert summary["dry_run"] and summary["n_triples"] > 0 and summary["n_graphs"] > 0
    assert store.last_commit() is None  # no manifest, no data, no lineage
    assert not os.path.exists(os.path.join(path, "data"))
    assert not os.path.exists(os.path.join(path, "lineage"))


CRASH_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
from genegraph_spark.session import get_spark
from genegraph_spark.sinks.named_graph import NamedGraphStore, TRIPLE_SCHEMA
spark = get_spark("crash_drill", extra_conf={{"spark.driver.memory": "4g"}})
store = NamedGraphStore(spark, {path!r}, n_buckets=4)
rows = [(f"g{{i}}", "s", "p", f"o{{i}}", True, None) for i in range(20)]
store.merge(spark.createDataFrame(rows, TRIPLE_SCHEMA))
os.environ["GG_CRASH_AFTER_DATA_WRITE"] = "1"
rows2 = [("g1", "s", "p", "NEW", True, None)]
store.merge(spark.createDataFrame(rows2, TRIPLE_SCHEMA))  # dies mid-commit
"""


@pytest.mark.slow
def test_kill_between_data_and_manifest_then_resume(spark, tmp_path):
    """The BASELINE resumability rule, for real: a run hard-killed after
    commit 1's data write but before its manifest write must leave the
    store at commit 0, and replaying the merge must converge (the orphan
    data dir is clobbered, not a path-exists error)."""
    path = str(tmp_path / "crash_store")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = CRASH_SCRIPT.format(repo=repo, path=path)
    env = {k: v for k, v in os.environ.items() if k != "GG_CRASH_AFTER_DATA_WRITE"}
    r = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300)
    assert r.returncode == 17, r.stderr[-2000:]

    store = NamedGraphStore(spark, path, n_buckets=4)
    # the interrupted commit is invisible...
    assert store.last_commit() == 0
    assert os.path.exists(os.path.join(path, "data", "c00000001"))  # orphan exists
    assert {r_["object"] for r_ in store.triples().where("graph = 'g1'").collect()} == {"o1"}
    committed = {r_["graph"] for r_ in store.committed_graphs().collect()}
    assert committed == {f"g{i}" for i in range(20)}  # orphan lineage ignored
    # ...and the replayed merge converges over the orphan dir
    rows2 = triples_df(spark, [("g1", "s", "p", "NEW", True, None)])
    store.merge(rows2)
    assert {r_["object"] for r_ in store.triples().where("graph = 'g1'").collect()} == {"NEW"}
    assert store.triples().count() == 20


# -- snapshot tables + catch-up + params + dates -------------------------------

def test_snapshot_store_versions_and_asof(spark, tmp_path):
    from genegraph_spark.sinks.snapshots import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "snaps"))
    v1 = spark.createDataFrame(
        [("e1", 1, "a"), ("e2", 1, "b")], "is_version_of string, version int, doc string"
    )
    v2 = spark.createDataFrame([("e1", 2, "a2")], "is_version_of string, version int, doc string")
    assert store.write("trait", v1) == 0
    assert store.write("trait", v2) == 1
    # idempotent replay of a snapshot id
    store.write("trait", v2, snapshot=1)
    assert store.read("trait").count() == 3
    asof1 = {(r["is_version_of"], r["doc"]) for r in store.latest_as_of("trait", 1).collect()}
    assert asof1 == {("e1", "a"), ("e2", "b")}
    asof2 = {(r["is_version_of"], r["doc"]) for r in store.latest_as_of("trait", 2).collect()}
    assert asof2 == {("e1", "a2"), ("e2", "b")}


def test_stream_source_catch_up_detection(spark, sf_dir, tmp_path):
    from genegraph_spark.streaming import stream as S

    src = S.write_pages_source(spark, sf_dir, str(tmp_path / "src"))
    ckpt = str(tmp_path / "ckpt")
    S.stream_mention_counts(spark, src, ckpt, out_dir=str(tmp_path / "out"))
    st = S.source_up_to_date(src, ckpt)
    assert st["up_to_date"] and st["n_available"] > 0
    # a new file lands after the stream stopped -> no longer caught up
    import shutil, glob
    f = glob.glob(os.path.join(src, "*.parquet"))[0]
    shutil.copy(f, os.path.join(src, "part-late.parquet"))
    assert not S.source_up_to_date(src, ckpt)["up_to_date"]


def test_bind_params_filters_bindings(spark):
    rows = [("g", "a", ":p", "b", True, None), ("g", "c", ":p", "d", True, None)]
    t = triples_df(spark, rows)
    b = A.bgp(t, [("?s", ":p", "?o")])
    got = A.bind_params(b, s="a").collect()
    assert [(r["s"], r["o"]) for r in got] == [("a", "b")]


def test_fix_offset_colon_repair():
    import pandas as pd  # noqa: F401
    from genegraph_spark.functions import dates as DT
    from pyspark.sql import functions as F  # noqa: F811

    # pure-expression check via a tiny frame
    from genegraph_spark.session import get_spark

    spark = get_spark("dates_test")
    df = spark.createDataFrame(
        [("2024-01-15T10:30:00.000+0000",), ("2024-01-15T10:30:00.000+00:00",)], "raw string"
    )
    out = df.select(DT.fix_offset_colon(F.col("raw")).alias("fixed"),
                    DT.parse_offset_ts(F.col("raw")).alias("ts")).collect()
    assert out[0]["fixed"] == "2024-01-15T10:30:00.000+00:00"
    assert out[0]["ts"] == out[1]["ts"] is not None


# -- as-of join, isomorphism, stateful streaming ---------------------

def test_asof_join_union_merge(spark):
    from genegraph_spark.operators.versioned import asof_join

    right = spark.createDataFrame(
        [("k1", 1, "v1"), ("k1", 3, "v3"), ("k2", 2, "w2")],
        "k string, ver long, payload string",
    )
    left = spark.createDataFrame(
        [("k1", 0, "a"), ("k1", 1, "b"), ("k1", 2, "c"), ("k1", 9, "d"), ("k2", 1, "e"), ("k3", 5, "f")],
        "k string, t long, tag string",
    )
    out = asof_join(left, right, key="k", left_on="t", right_on="ver", right_cols=["ver", "payload"])
    got = {(r["tag"], r["ver"], r["payload"]) for r in out.collect()}
    assert got == {
        ("a", None, None),      # before first version
        ("b", 1, "v1"),         # equal version matches (<=)
        ("c", 1, "v1"),
        ("d", 3, "v3"),
        ("e", None, None),      # k2's only version is 2 > 1
        ("f", None, None),      # key absent from right
    }


@pytest.mark.slow
def test_model_isomorphism_bnode_renaming(spark):
    from genegraph_spark.operators import model as M

    a = triples_df(spark, [
        ("g", "s", ":has", "_:x", True, None),
        ("g", "_:x", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:y", True, None),
        ("g", "_:y", ":val", "2", False, "xsd:int"),
    ])
    b = triples_df(spark, [  # same graph, bnodes renamed + reordered
        ("g", "_:q", ":val", "2", False, "xsd:int"),
        ("g", "s", ":has", "_:p", True, None),
        ("g", "_:p", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:q", True, None),
    ])
    c = triples_df(spark, [  # different literal -> NOT isomorphic
        ("g", "s", ":has", "_:x", True, None),
        ("g", "_:x", ":val", "1", False, "xsd:int"),
        ("g", "s", ":has", "_:y", True, None),
        ("g", "_:y", ":val", "3", False, "xsd:int"),
    ])
    assert M.is_isomorphic(a, b)
    assert not M.is_isomorphic(a, c)
    assert M.model_diff(a, a).isEmpty()
    assert M.model_union(a, b).count() == 8


def test_stateful_stream_carries_state_across_batches(spark, sf_dir, tmp_path):
    from genegraph_spark.streaming import stream as S

    src = S.write_events_source(spark, sf_dir, str(tmp_path / "src"))
    # maxFilesPerTrigger=1 over 4 files -> 4 micro-batches: the final
    # totals are only right if GroupState survives batch boundaries
    got = S.stream_user_running_totals(
        spark, src, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    expected = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
    )
    a = {(r["user_id"], r["n_events"], r["total"]) for r in got.collect()}
    b = {(r["user_id"], r["n_events"], r["total"]) for r in expected.collect()}
    assert a == b


# -- skew utilities + multimodal resize ------------------------------------------

def test_salted_join_matches_unsalted(spark):
    from genegraph_spark.operators import skew as SK

    # one hot key (k0 has 500 rows), small dim replicated per salt
    big = spark.range(600).select(
        F.when(F.col("id") < 500, "k0").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        F.col("id").alias("rid"),
    )
    dim = spark.createDataFrame([("k0", "hot"), ("k1", "x"), ("k501", "y")], "k string, v string")
    plain = big.join(dim, "k")
    salted = SK.salted_join(big, dim, on="k", n_salts=4, salt_by="rid")
    assert {tuple(r) for r in salted.select("k", "rid", "v").collect()} == {
        tuple(r) for r in plain.select("k", "rid", "v").collect()
    }


def test_salted_aggregate_and_topk_match_direct(spark):
    from genegraph_spark.operators import skew as SK
    from pyspark.sql import Window

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.col("id").alias("rid"),
        (F.col("id") * 7 % 101).cast("double").alias("score"),
    )
    agg = SK.salted_aggregate(df, "k", {"score": "sum", "rid": "count"}, n_salts=4, salt_by="rid")
    direct = df.groupBy("k").agg(F.sum("score").alias("sum_score"), F.count("rid").alias("count_rid"))
    assert {tuple(r) for r in agg.collect()} == {tuple(r) for r in direct.collect()}

    topk = SK.salted_top_k(df, "k", "score", k=5, n_salts=4, salt_by="rid", tiebreak="rid")
    w = Window.partitionBy("k").orderBy(F.desc("score"), F.asc("rid"))
    directk = df.withColumn("rank", F.row_number().over(w)).where("rank <= 5")
    assert {tuple(r) for r in topk.select("k", "rid", "rank").collect()} == {
        tuple(r) for r in directk.select("k", "rid", "rank").collect()
    }


def test_resize_images_stub_shapes(spark, sf_dir):
    from genegraph_spark.functions import multimodal as MM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = MM.make_media_df(spark, docs)
    out = MM.resize_images(media, target_w=8, target_h=8).collect()
    assert out and all(len(r["payload"]) == 64 and r["width"] == 8 for r in out)


# -- plan-shape regressions (lock in the audited physical plans) -----------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_triples_plan_shape(spark, sf_dir):
    import __spark_entry__ as E

    plan = _plan(E.queries()["kg_triples"](spark, sf_dir))
    assert "SortMergeJoin" not in plan  # dictionary joins must broadcast
    assert plan.count("MapInPandas") == 1  # exactly one Python pass
    assert "CartesianProduct" not in plan


def test_mentions_broadcast_join(spark, sf_dir):
    import __spark_entry__ as E

    plan = _plan(E.queries()["kg_mentions_preferred"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # gazetteer side broadcast
    assert "SortMergeJoin" not in plan


# -- resume skip + curation views -------------------------------------------------

def test_resume_skips_committed_graphs(spark, sf_dir, tmp_path):
    from genegraph_spark.plans.pipeline import run_to_store

    path = str(tmp_path / "kg_resume")
    res1, store1, _ = run_to_store(spark, sf_dir, path, use_golden_text=True)
    n1 = store1.triples().count()
    res2, store2, _ = run_to_store(spark, sf_dir, path, resume=True, use_golden_text=True)
    # all page graphs already committed -> the resumed run reprocesses none
    assert res2.pages.count() == 0
    assert store2.triples().count() == n1  # state unchanged


def test_curation_views_shape(spark, sf_dir):
    from genegraph_spark.plans import curation as CUR
    from genegraph_spark.plans.pipeline import construct_kg

    t = construct_kg(spark, sf_dir, use_golden_text=True).triples
    pairs = CUR.gene_disease_pairs(t)
    assert pairs.columns == ["gene", "disease", "n_pages"]
    assert pairs.where("gene = disease").count() == 0
    top = CUR.entity_page_counts(t, entity_type="gene", limit=3)
    rows = top.collect()
    assert len(rows) <= 3
    assert all("/entity/" in r["entity"] for r in rows)
    sug = CUR.suggest_labels(t, "s", limit=4).collect()
    assert 0 < len(sug) <= 4 and all(r["label"].startswith("s") for r in sug)


# -- surface-form canonicalization, ANN recall, bucketed co-located join ---------

def test_surface_form_edges_merge_near_duplicate_labels(spark):
    from genegraph_spark.operators import canonicalize as C

    labels = spark.createDataFrame(
        [
            ("e:1", "spark protein one"),
            ("e:2", "spark protein one!"),   # near-dup of e:1's label
            ("e:3", "completely different"),
        ],
        "iri string, label string",
    )
    edges = C.surface_form_edges(labels, threshold=0.6)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert ("e:1", "e:2") in got
    assert not any("e:3" in e for pair in got for e in pair)

    # feeds CC: e1/e2 merge, e3 singleton
    dictionary = labels.select("iri")
    sameas = spark.createDataFrame([], "iri string, xref string")
    cmap = {r["iri"]: r["canonical_iri"] for r in C.canonical_entity_map(
        dictionary, sameas, surface_edges=edges).collect()}
    assert cmap["e:1"] == cmap["e:2"] == "e:1" and cmap["e:3"] == "e:3"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from genegraph_spark.operators import similarity as SIM
    import pyspark.sql.functions as F  # noqa: F811

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 10").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.cosine_topk(emb, q, k=5)
    approx = SIM.ivf_topk(emb, q, k=5, n_probe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # md5-bucket centroids are a weak quantizer; with n_probe=4 of 16
    # partitions recall must still beat random scanning by a wide margin
    assert recall >= 0.5, recall


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed by the join key
    into the same bucket count join with zero Exchange operators — the
    pre-partitioning strategy SURVEY §2.1 promises for repeated big-big
    joins (at cluster scale: Iceberg bucket partition transforms)."""
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bucket_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bucket_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the big-big path (tiny test tables would broadcast, which
        # disables bucketing): the bucketed SMJ must need NO shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


# -- second-review regression fixes ----------------------------------------------

def test_asof_join_null_payload_stays_atomic(spark):
    from genegraph_spark.operators.versioned import asof_join

    right = spark.createDataFrame(
        [("k", 1, "x"), ("k", 5, None), ("k", None, "bad")],
        "k string, ver long, payload string",
    )
    left = spark.createDataFrame([("k", 6, "a"), ("k", 0, "b")], "k string, t long, tag string")
    out = {r["tag"]: (r["ver"], r["payload"]) for r in asof_join(
        left, right, key="k", left_on="t", right_on="ver", right_cols=["ver", "payload"]
    ).collect()}
    # the matched row is ver=5 WITH its own NULL payload (not ver=1's 'x')
    assert out["a"] == (5, None)
    # NULL-version right rows can never match (t=0 has no candidate)
    assert out["b"] == (None, None)


def test_simhash_blocking_scales_with_max_hamming(spark):
    from genegraph_spark.operators import dedup as D

    # hand-build docs whose simhashes differ in >3 well-spread bits is
    # hard to control; instead verify blocked results equal brute force
    docs = spark.createDataFrame(
        [(i, f"tok{i % 4} alpha beta gamma delta tok{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    for mh in (3, 8):
        blocked = {
            (r["id_a"], r["id_b"]) for r in
            D.simhash_near_duplicates(docs, max_hamming=mh).collect()
        }
        s = D.simhash(docs).collect()
        hs = {r["doc_id"]: r["simhash"] for r in s}
        brute = {
            (a, b)
            for a in hs for b in hs if a < b
            and bin(hs[a] ^ hs[b]).count("1") <= mh
        }
        assert blocked == brute, (mh, len(blocked), len(brute))


def test_store_n_buckets_persisted_on_reopen(spark, tmp_path):
    path = str(tmp_path / "store_nb")
    s1 = NamedGraphStore(spark, path, n_buckets=8)
    s1.merge(triples_df(spark, [(f"g{i}", "s", "p", f"o{i}", True, None) for i in range(50)]))
    # reopening with a different n_buckets must adopt the persisted layout
    s2 = NamedGraphStore(spark, path, n_buckets=32)
    assert s2.n_buckets == 8
    s2.merge(triples_df(spark, [("g7", "s", "p", "NEW", True, None)]))
    got = {r["object"] for r in s2.triples().where("graph = 'g7'").collect()}
    assert got == {"NEW"}  # old row rewritten, not stranded in a stale bucket
    assert s2.triples().count() == 50


def test_merge_delete_wins_over_publish(spark, tmp_path):
    store = NamedGraphStore(spark, str(tmp_path / "store_dw"), n_buckets=4)
    store.merge(triples_df(spark, [("g1", "s", "p", "o", True, None)]))
    both = triples_df(spark, [("g1", "s", "p", "o2", True, None), ("g2", "s", "p", "o", True, None)])
    dels = spark.createDataFrame([("g1",)], "graph string")
    store.merge(both, delete_graphs=dels)
    graphs = {r["graph"] for r in store.triples().select("graph").distinct().collect()}
    assert graphs == {"g2"}  # g1 deleted deterministically
    committed = {r["graph"] for r in store.committed_graphs().collect()}
    assert committed == {"g2"}


def test_alias_from_dictionary_unique_label_iri(spark):
    from genegraph_spark.operators import mentions as M

    d = spark.createDataFrame(
        [("e:1", "gene", "tp53", ["tp53", "p53"], None, [])],
        "iri string, entity_type string, preferred_label string, "
        "alt_labels array<string>, hidden_labels array<string>, same_as array<string>",
    )
    rows = M.alias_from_dictionary(d).collect()
    # 'tp53' appears once (preferred wins over its alt duplicate)
    labels = [(r["label"], r["label_kind"]) for r in rows]
    assert sorted(labels) == [("p53", "alt"), ("tp53", "preferred")]
