"""Tests of the benchmark itself: no Spark session needed.

    python -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from kgbench import gate, gen, layers, run, trace  # noqa: E402

SMALL = gen.Sizes(n_docs=60, n_feeds=3, hier_nodes=40, n_queries=16)


# -- generator -------------------------------------------------------------------

def test_same_seed_gives_identical_inputs():
    a, b = gen.generate(7, SMALL), gen.generate(7, SMALL)
    assert gen.input_hash(a) == gen.input_hash(b)
    assert a.docs == b.docs and a.feeds == b.feeds and a.queries == b.queries
    assert gen.describe(a) == gen.describe(b)


def test_other_seed_changes_content_not_shape():
    a, b = gen.generate(7, SMALL), gen.generate(8, SMALL)
    assert gen.input_hash(a) != gen.input_hash(b)
    assert a.docs["text"] != b.docs["text"]
    # stratified lengths: the same multiset of doc lengths for every seed
    lens = lambda i: sorted(len(t.split(" ")) for t in i.docs["text"])  # noqa: E731
    assert lens(a) == lens(b)
    assert [k for k, _ in a.queries] == [k for k, _ in b.queries]


def test_feeds_respect_the_version_contract():
    inp = gen.generate(3, SMALL)
    last = {d: 3 if d % 50 == 0 else 2 if d % 10 == 0 else 1 for d in inp.docs["doc_id"]}
    for feed in inp.feeds:
        assert len({r["url"] for r in feed}) == len(feed)
        for r in feed:
            assert r["version"] == last[r["doc_id"]] + 1 <= 3
            last[r["doc_id"]] = r["version"]


# -- correctness gate ------------------------------------------------------------

def _fake_store(path: str, cols: list[str], rows: list[tuple]) -> None:
    """One-bucket store layout: manifest -> data dir -> bucket=0 file."""
    os.makedirs(os.path.join(path, "manifests"))
    d = os.path.join(path, "data", "c00000000", "bucket=0")
    os.makedirs(d)
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(path, "manifests", "c00000000.json"), "w") as f:
        json.dump({"commit": 0, "buckets": {"0": "data/c00000000"}, "n_buckets": 1}, f)


@pytest.fixture(scope="module")
def oracle_rows(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("docs")
    docs = os.path.join(tmp, "docs.parquet")
    pq.write_table(pa.table(gen.generate(11, SMALL).docs), docs)
    o = gate.Oracle(docs)
    cols, rows = o.rows(gate.kg_triples_sql())
    o.close()
    assert rows
    return docs, cols, rows


@pytest.mark.parametrize("plant", ["none", "drop", "alter", "duplicate"])
def test_gate_rejects_a_planted_triple(tmp_path, oracle_rows, plant):
    docs, cols, rows = oracle_rows
    rows = list(rows)
    i = len(rows) // 2
    if plant == "drop":
        del rows[i]
    elif plant == "alter":
        r = list(rows[i])
        r[cols.index("object")] = str(r[cols.index("object")]) + "x"
        rows[i] = tuple(r)
    elif plant == "duplicate":
        rows.append(rows[i])
    store = os.path.join(tmp_path, "store")
    _fake_store(store, cols, rows)
    o = gate.Oracle(docs)
    o.register_snapshot("snap", store)
    in_duckdb = o.table_diff("snap", gate.kg_triples_sql())
    in_python = gate.diff(*o.rows("SELECT * FROM snap"), *o.rows(gate.kg_triples_sql()))
    o.close()
    assert (in_duckdb is None) == (plant == "none"), in_duckdb
    assert (in_python is None) == (plant == "none"), in_python


def test_feed_oracle_applies_latest_version(tmp_path):
    inp = gen.generate(5, SMALL)
    docs = os.path.join(tmp_path, "docs.parquet")
    pq.write_table(pa.table(inp.docs), docs)
    feed = os.path.join(tmp_path, "feed.parquet")
    rows = inp.feeds[0]
    pq.write_table(
        pa.table(
            {
                **{c: [r[c] for r in rows] for c in ("url", "text", "lang", "version", "doc_id", "tombstone")},
                "warc_ts": pa.array([0] * len(rows), pa.timestamp("us", tz="UTC")),
            }
        ),
        feed,
    )
    o = gate.Oracle(docs)
    o.register_feeds([feed])
    _, after = o.rows(gate.kg_triples_sql(with_feeds=True))
    o.close()
    graphs = {r[0] for r in after}
    for r in rows:
        assert (r["url"] in graphs) == (not r["tombstone"])


# -- metric names ------------------------------------------------------------------

def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert spec == run.END_TO_END


def test_per_layer_names_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert spec == {n: layers.unit_of(n) for n in layers.names()}


def test_workloads_match_benchmark_json():
    assert {w["name"] for w in _benchmark_json()["workloads"]} == set(run.WORKLOADS)


# -- span arithmetic -------------------------------------------------------------------

def _span(i, parent, start, end, name="s"):
    return trace.Span(i, name, start, parent, "r", end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),  # overlaps span 2: covered once
        _span(4, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
        _span(5, 2, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_covered_handles_disjoint_nested_and_empty():
    assert trace.covered([], 0, 5) == 0
    assert trace.covered([(1, 2), (3, 4)], 0, 5) == pytest.approx(2)
    assert trace.covered([(1, 4), (2, 3)], 0, 5) == pytest.approx(3)
    assert trace.covered([(-2, -1), (6, 7)], 0, 5) == 0


def test_tracer_records_parents_and_py4j_counts():
    t = trace.Tracer("r", enabled=True)
    with t.span("outer"):
        t.py4j.n += 3
        with t.span("inner"):
            t.py4j.n += 2
    rec = {r["name"]: r for r in t.records()}
    assert rec["inner"]["parent"] == rec["outer"]["id"]
    assert (rec["outer"]["py4j"], rec["inner"]["py4j"]) == (5, 2)
    assert rec["outer"]["self_s"] <= rec["outer"]["dur_s"]


def test_scope_groups_collect_each_op_subtree():
    recs = [
        {"id": 1, "parent": None, "name": "op.commit", "group": "g1", "outer_group": None},
        {"id": 2, "parent": 1, "name": "stream.call", "group": "g2", "outer_group": "g1"},
        {"id": 3, "parent": 2, "name": "store.merge", "group": "g3", "outer_group": "stream-run"},
        {"id": 4, "parent": None, "name": "op.commit", "group": "g4", "outer_group": None},
        {"id": 5, "parent": None, "name": "replay", "group": "g5", "outer_group": None},
        {"id": 6, "parent": 5, "name": "op.bgp", "group": "g6", "outer_group": "g5"},
    ]
    assert [r["id"] for r in layers.subtree(recs, 1)] == [1, 2, 3]
    assert layers.scope_groups(recs) == {"commit": ({"g1", "g2", "g3", "stream-run", "g4"}, 2)}


def test_disabled_tracer_records_nothing():
    t = trace.Tracer("r", enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.records() == []


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([1.0] * 10) == (None, None)
    xs = list(range(1, 31))
    v, p = run.tail(xs)
    assert sum(1 for x in xs if x > v) == 10 and p == pytest.approx(20 / 30)


def test_parse_metric_forms():
    assert trace.parse_metric("2,688") == 2688
    assert trace.parse_metric("1.5 MiB") == 1.5 * 1024**2
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n4.1 MiB (9 KiB, 1 KiB, 2 KiB (stage 1.0: task 2))") == pytest.approx(4.1 * 1024**2)
