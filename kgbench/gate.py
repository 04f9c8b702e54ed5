"""Correctness gate: every output the benchmark times is checked here,
after the timed window, against an independent DuckDB computation.

The store is read straight from its files (manifest -> bucket dirs ->
parquet) so the check covers what a reader would see on disk, not what
the Spark reader returns. Results compare as multisets of canonical rows
(columns sorted by name), the order-insensitive comparison the repo's
oracle check uses.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter

import duckdb

TRIPLE_COLS = ["graph", "subject", "predicate", "object", "object_is_iri", "object_datatype"]


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer():
            return str(int(v))
        return repr(v)
    return str(v)


def canon_rows(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_cell(r[i]) for i in order) for r in rows)


def diff(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when equal; otherwise a short description of the mismatch."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    a, b = canon_rows(cols_a, rows_a), canon_rows(cols_b, rows_b)
    if a == b:
        return None
    only_a, only_b = a - b, b - a
    return (
        f"{sum(a.values())} vs {sum(b.values())} rows; "
        f"{sum(only_a.values())} only in result (e.g. {list(only_a)[:2]}), "
        f"{sum(only_b.values())} only in oracle (e.g. {list(only_b)[:2]})"
    )


def snapshot_files(store_path: str) -> list[str]:
    """Parquet files of the store's latest snapshot, from its manifest."""
    mdir = os.path.join(store_path, "manifests")
    commit = max(int(m[1:-5]) for m in os.listdir(mdir) if m.startswith("c") and m.endswith(".json"))
    with open(os.path.join(mdir, f"c{commit:08d}.json")) as f:
        manifest = json.load(f)
    files: list[str] = []
    for b, d in sorted(manifest["buckets"].items(), key=lambda kv: int(kv[0])):
        files += sorted(glob.glob(os.path.join(store_path, d, f"bucket={b}", "*.parquet")))
    return files


class Oracle:
    """A DuckDB connection holding the generated inputs as views."""

    def __init__(self, docs_parquet: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        tab = self.con.execute(sql).arrow()
        cols = list(tab.column_names)
        return cols, list(zip(*[c.to_pylist() for c in tab.columns])) if cols else []

    def table_diff(self, got: str, want_sql: str) -> str | None:
        """Multiset comparison inside DuckDB: rows of table ``got`` against
        the rows of ``want_sql`` (EXCEPT ALL both ways, columns by name).
        None when equal; otherwise counts and a sample of each side."""
        cols = [r[0] for r in self.con.execute(f"DESCRIBE {got}").fetchall()]
        want_cols = [d[0] for d in self.con.execute(f"SELECT * FROM ({want_sql}) LIMIT 0").description]
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != {sorted(want_cols)}"
        sel = ", ".join(sorted(cols))
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE _want AS SELECT {sel} FROM ({want_sql})")
        extra = f"SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM _want"
        missing = f"SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM {got}"
        n_extra = self.con.execute(f"SELECT count(*) FROM ({extra})").fetchone()[0]
        n_missing = self.con.execute(f"SELECT count(*) FROM ({missing})").fetchone()[0]
        if not (n_extra or n_missing):
            return None
        return (
            f"{n_extra} rows only in result (e.g. {self.con.execute(extra + ' LIMIT 2').fetchall()}), "
            f"{n_missing} only in oracle (e.g. {self.con.execute(missing + ' LIMIT 2').fetchall()})"
        )

    def register_snapshot(self, name: str, store_path: str) -> None:
        files = snapshot_files(store_path)
        if files:
            lst = ", ".join(f"'{f}'" for f in files)
            src = f"SELECT {', '.join(TRIPLE_COLS)} FROM read_parquet([{lst}])"
        else:
            src = (
                "SELECT NULL::VARCHAR AS graph, NULL::VARCHAR AS subject, NULL::VARCHAR AS predicate, "
                "NULL::VARCHAR AS object, NULL::BOOLEAN AS object_is_iri, NULL::VARCHAR AS object_datatype "
                "WHERE FALSE"
            )
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS {src}")

    def register_hierarchy(self, edges: list[tuple[str, str]]) -> None:
        """``hier``: the seeded hierarchy graph as triples."""
        import pyarrow as pa

        from genegraph_spark.functions import iri as I

        from .gen import HIER_GRAPH

        n = len(edges)
        self.con.register(
            "hier",
            pa.table(
                {
                    "graph": [HIER_GRAPH] * n,
                    "subject": [c for c, _ in edges],
                    "predicate": [I.BROADER] * n,
                    "object": [p for _, p in edges],
                    "object_is_iri": [True] * n,
                    "object_datatype": pa.array([None] * n, pa.string()),
                }
            ),
        )

    def register_feeds(self, feed_parquets: list[str]) -> None:
        """``feed_pages``: every feed row, in the pages-table shape."""
        if feed_parquets:
            lst = ", ".join(f"'{f}'" for f in feed_parquets)
            src = f"SELECT url, warc_ts, text, lang, version, doc_id, tombstone FROM read_parquet([{lst}])"
        else:
            src = "SELECT * FROM (SELECT NULL::VARCHAR AS url) WHERE FALSE"
        self.con.execute(f"CREATE OR REPLACE VIEW feed_pages AS {src}")


def kg_triples_sql(with_feeds: bool = False) -> str:
    """The repo's ``kg_triples`` oracle text; ``with_feeds`` swaps its
    pages CTE (fixture derivation over ``documents``) for that derivation
    plus every feed row, i.e. a one-shot ingest of the final page states."""
    import __spark_entry__ as E

    sql = E.oracle_sql()["kg_triples"]
    if not with_feeds:
        return sql
    base = E._PAGES
    assert base in sql, "kg_triples oracle no longer starts from the pages CTE"
    from genegraph_spark import fixtures

    return sql.replace(
        base,
        f"pages AS ({fixtures.pages_sql()} UNION ALL "
        "SELECT url, warc_ts, text, lang, version, doc_id, tombstone FROM feed_pages)",
    )


def store_sql(run) -> str:
    """The store a run must leave: ``kg_triples`` over the docs plus every
    landed feed row, plus the hierarchy graph when set-up merged it (needs
    ``feed_pages`` and ``hier`` registered)."""
    sql = kg_triples_sql(with_feeds=bool(run.feeds_written))
    return f"{sql} UNION ALL SELECT * FROM hier" if run.hierarchy_merged else sql


# -- store_query equivalents -------------------------------------------------

def query_sql(kind: str, p: dict) -> str:
    """DuckDB equivalent of one store_query op over table ``snap``."""
    from genegraph_spark.functions import iri as I

    q = lambda s: "'" + s.replace("'", "''") + "'"  # noqa: E731
    if kind == "lookup":
        return f"SELECT * FROM snap WHERE graph IN ({', '.join(q(g) for g in p['graphs'])})"
    if kind == "bgp":
        return (
            f"SELECT a.subject AS p FROM snap a JOIN snap b ON a.subject = b.subject "
            f"WHERE a.predicate = {q(I.P_MENTIONS)} AND a.object = {q(p['hot'])} AND a.object_is_iri "
            f"AND b.predicate = {q(I.P_MENTIONS)} AND b.object = {q(p['cold'])} AND b.object_is_iri"
        )
    if kind == "path":
        return (
            "WITH RECURSIVE anc(a) AS ("
            f"SELECT object FROM snap WHERE subject = {q(p['start'])} AND predicate = {q(I.BROADER)} AND object_is_iri "
            "UNION SELECT s.object FROM snap s JOIN anc ON s.subject = anc.a "
            f"WHERE s.predicate = {q(I.BROADER)} AND s.object_is_iri) SELECT a FROM anc"
        )
    if kind == "agg":
        return (
            "SELECT m.object AS e, count(*) AS n FROM snap l JOIN snap m ON l.subject = m.subject "
            f"WHERE l.predicate = {q(I.P_LANG)} AND l.object = {q(p['lang'])} AND NOT l.object_is_iri "
            f"AND l.object_datatype = {q(I.XSD_STRING)} AND m.predicate = {q(I.P_MENTIONS)} "
            "GROUP BY m.object"
        )
    if kind == "optional":
        return (
            "WITH c AS (SELECT subject AS p FROM snap WHERE predicate = "
            f"{q(I.P_MENTIONS)} AND object = {q(p['cold'])} AND object_is_iri), "
            "o AS (SELECT h.subject AS p, pos.object AS pos FROM snap h "
            "JOIN snap ce ON ce.subject = h.object JOIN snap pos ON pos.subject = h.object "
            f"WHERE h.predicate = {q(I.P_HAS_MENTION)} AND ce.predicate = {q(I.P_CANONICAL)} "
            f"AND ce.object = {q(p['hot'])} AND pos.predicate = {q(I.P_POSITION)}) "
            "SELECT c.p, o.pos FROM c LEFT JOIN o ON c.p = o.p"
        )
    raise ValueError(kind)
