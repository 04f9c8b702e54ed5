"""SPARQL *text* front-end: parse the query-string subset the reference
actually uses and compile it onto the :mod:`.algebra` combinators.

The reference compiles SPARQL strings at load time — ``create-query`` on
strings (``src/genegraph/database/query/resource.clj:223-239``) and ~40
``.sparql`` CONSTRUCT files under
``src/genegraph/transform/gene_validity_refactor/`` (e.g.
``construct_proband_score.sparql``, ``construct_articles.sparql``) — and
executes them against per-event Jena models. This module is the
text→plan half of that capability for the Spark engine: the programmatic
algebra (``algebra.py``) already covers the operator menu; here a
recursive-descent parser turns query text into those combinators, so a
user's existing ``.sparql`` file runs unmodified over a triples
DataFrame.

Supported subset (everything observed in the reference's query files):
SELECT / CONSTRUCT / ASK; PREFIX; basic graph patterns with
predicate-object lists (``;``), object lists (``,``), ``a``, ``[]``
anonymous nodes; OPTIONAL; FILTER (comparisons, logical ``&&``/``||``/
``!``, REGEX, CONTAINS, STRSTARTS/STRENDS, STRLEN, BOUND) and
FILTER (NOT) EXISTS; BIND with IF / BOUND / COALESCE / CONCAT / IRI /
STR / STRLEN / SUBSTR / REPLACE / LCASE / UCASE / STRAFTER / STRBEFORE;
UNION; MINUS; VALUES (incl. UNDEF); property paths ``p/q``, ``^p``,
``p|q``, ``p?``, ``p*``, ``p+``, ``p{n}``, ``p{n,m}``, ``!(p|q)`` and
parenthesized combinations (the proband query's
``^gci:familyIncluded? / ^(gci:families|gci:groups)? / gci:article``);
ORDER BY / LIMIT / OFFSET / DISTINCT; aggregates — GROUP BY / HAVING
with COUNT(*) / COUNT(DISTINCT) / SUM / AVG / MIN / MAX / SAMPLE /
GROUP_CONCAT and computed projections ``(expr AS ?v)`` (the
``:count``/``:group`` execution modes of create-query as SPARQL 1.1
text; MIN/MAX order numeric-aware and return the original lexical
form, SAMPLE is pinned to MIN for determinism, GROUP_CONCAT joins
sorted values); DESCRIBE (constant IRIs or a WHERE-bound variable —
delegates to the concise-bounded-description closure of
:func:`.algebra.describe`); pre-bound parameters (the QuerySolutionMap
path, resource.clj:86-92 — ``?pmbase`` in construct_articles.sparql
arrives this way).

Term model: internally every binding column holds a TAGGED term string —
``I|<iri>`` for IRIs/bnodes, ``L|<datatype>|<lexical>`` for literals —
so join keys compare whole RDF terms (a literal ``"x"`` never equals an
IRI ``x``) and CONSTRUCT can emit ``object_is_iri``/``object_datatype``
for variable objects without per-variable shadow columns. SELECT output
decodes to plain strings (the repo-wide untagged convention).
Prefixed names with a declared prefix expand to full IRIs; names with an
UNDECLARED prefix (the reference's Jena-keyword forms like
``:sepio/has-evidence``) are kept verbatim as CURIE-style IRIs — the
same convention the repo's triple store uses (``functions/iri.py``).

Scale: a parsed query compiles to exactly the plan the programmatic
combinators would build — pattern constants push to the parquet scan,
shared variables become shuffled equi-joins under Catalyst/AQE, VALUES
becomes a broadcast join, ``*``/``+`` paths use the closure of
:func:`.fixpoint.closure` (path doubling, ⌈log2 d⌉ rounds). The
parse itself is driver-side and O(query text), never O(data).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import algebra as A
from . import fixpoint

RDF_TYPE = "rdf:type"
# the Jena full-text dataset predicate (database/instance.clj:29-31 text
# index; query.clj:133-153 text-search-bgp) in both spellings
# the full IRI, the conventional prefix form, and the reference's
# keyword form (property-names.edn:574 maps :jena/query to the text IRI;
# find.clj writes the BGP that way)
_TEXT_QUERY_IRIS = (
    "http://jena.apache.org/text#query",
    "text:query",
    ":jena/query",
)
RDF_TYPE_FULL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_BOOLEAN = "xsd:boolean"

# Reserved binding column for per-graph (corpus) mode — the graph term
# every scan binds and every seed row keys on. No query variable may
# shadow it (?__g is not a plausible SPARQL variable).
GRAPH_BINDING = "__g"


def tag_iri(c: Column | str) -> Column:
    """Tag a raw IRI column as the engine's internal IRI term — for
    building :meth:`Query.run` ``per_graph`` seed columns."""
    return F.concat(F.lit("I|"), F.col(c) if isinstance(c, str) else c)


def tag_lit(c: Column | str, datatype: str | None = None) -> Column:
    """Tag a raw value column as a (typed) literal term — the
    ``per_graph`` counterpart of a plain-string pre-bound param."""
    col = F.col(c) if isinstance(c, str) else c
    return F.concat(F.lit(f"L|{datatype or ''}|"), col.cast("string"))
_MAXLEN = 1 << 20  # effectively-unbounded substr length


# ===========================================================================
# Tokenizer
# ===========================================================================

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>\s]*>)
    | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<VAR>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<NUMBER>[0-9]+(?:\.[0-9]+)?)
    # Prefixed names: `gci:foo` (no slash in the local part — '/' there is
    # always a path separator) and the reference's Jena-keyword CURIEs
    # `:ns/local-name` (empty prefix; '/'-joined segments, where a segment
    # never starts with ':' — so `:a/:b` tokenizes as path `:a / :b`).
    # A local part / segment may CONTAIN dots but not END with one
    # (SPARQL PN_LOCAL) — `ex:Gene.` is the IRI ex:Gene plus the triple
    # terminator, not an IRI with a trailing dot (review r6). A bare `:`
    # is the default-prefix PNAME (`PREFIX : <iri>` declarations).
    | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*:(?:[A-Za-z0-9_\-.]*[A-Za-z0-9_\-])?|:(?:(?:[A-Za-z0-9_\-.]*[A-Za-z0-9_\-])(?:/[A-Za-z0-9_\-.]*[A-Za-z0-9_\-])*)?)
    | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP>&&|\|\||!=|<=|>=|[{}()\[\].;,=<>!^/|?*+\-])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "prefix", "select", "construct", "ask", "describe", "where", "optional",
    "filter", "bind", "values", "union", "minus", "not", "exists", "order",
    "by", "group", "having", "asc", "desc", "limit", "offset", "distinct",
    "reduced", "as", "undef", "graph",
}


@dataclass
class Tok:
    kind: str
    text: str
    pos: int


def tokenize(text: str) -> list[Tok]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise SparqlSyntaxError(f"unexpected character {text[i]!r} at offset {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        toks.append(Tok(kind, m.group(), m.start()))
    return toks


class SparqlSyntaxError(ValueError):
    pass


# ===========================================================================
# AST
# ===========================================================================
# Terms: ('var', name) | ('iri', iri) | ('lit', lexical, datatype|None)
# Paths: ('pred', iri) | ('seq', a, b) | ('alt', a, b) | ('inv', p)
#        | ('opt', p) | ('star', p) | ('plus', p) | ('rep', p, n, m)
#        | ('neg', [iri, ...])
# Pattern elements: ('bgp', [(s, path, o), ...]) | ('optional', group)
#        | ('filter', expr) | ('fexists', group, positive)
#        | ('bind', expr, var) | ('values', [var, ...], [row, ...])
#        | ('union', [group, ...]) | ('minus', group) | ('group', elements)
#        | ('subselect', Query)
# Exprs: terms | ('op', op, a, b) | ('not', a) | ('call', name, [args])


@dataclass
class Query:
    form: str  # 'select' | 'construct' | 'ask' | 'describe'
    pattern: list  # group elements
    select_vars: list[str] = field(default_factory=list)
    select_exprs: list = field(default_factory=list)  # [(expr, alias), ...]
    distinct: bool = False
    templates: list = field(default_factory=list)  # construct triples
    order: list = field(default_factory=list)  # [(var, 'asc'|'desc'), ...]
    limit: int | None = None
    offset: int = 0
    group_by: list = field(default_factory=list)  # [var, ...]
    having: list = field(default_factory=list)  # [expr, ...]
    describe_terms: list = field(default_factory=list)  # terms to describe


class _Parser:
    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._bnode_n = 0

    # -- token plumbing ------------------------------------------------------
    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise SparqlSyntaxError("unexpected end of query")
        self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "NAME" and t.text.lower() in kws

    def eat_kw(self, kw: str) -> None:
        if not self.at_kw(kw):
            t = self.peek()
            raise SparqlSyntaxError(f"expected {kw.upper()}, got {t.text if t else 'EOF'}")
        self.next()

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "OP" and t.text in ops

    def eat_op(self, op: str) -> None:
        if not self.at_op(op):
            t = self.peek()
            raise SparqlSyntaxError(f"expected {op!r}, got {t.text if t else 'EOF'}")
        self.next()

    # -- terms ---------------------------------------------------------------
    def expand_pname(self, text: str) -> str:
        pfx, _, local = text.partition(":")
        if pfx in self.prefixes:
            return self.prefixes[pfx] + local
        # undeclared prefix: keep verbatim (the reference's Jena-keyword
        # CURIEs, matching the repo's CURIE-style store terms)
        return text

    def term(self, in_expr: bool = False):
        t = self.next()
        if t.kind == "VAR":
            return ("var", t.text[1:])
        if t.kind == "IRIREF":
            return ("iri", t.text[1:-1])
        if t.kind == "PNAME":
            return ("iri", self.expand_pname(t.text))
        if t.kind == "STRING":
            body = _unescape(t.text[1:-1])
            dt = None
            if self.at_op("^") and self.peek(1) and self.peek(1).kind == "OP" and self.peek(1).text == "^":
                self.next(); self.next()
                dt = self.term()[1]
            return ("lit", body, dt)
        if t.kind == "NUMBER":
            dt = "xsd:decimal" if "." in t.text else "xsd:integer"
            return ("lit", t.text, dt)
        if t.kind == "NAME" and t.text.lower() in ("true", "false"):
            return ("lit", t.text.lower(), XSD_BOOLEAN)
        if t.kind == "NAME" and t.text == "a" and not in_expr:
            return ("iri", RDF_TYPE)
        if t.kind == "OP" and t.text == "[":
            self.eat_op("]")
            self._bnode_n += 1
            return ("var", f"_anon_{self._bnode_n}")
        if t.kind == "OP" and t.text == "(" and not in_expr:
            # collection term: `( a b ... )` — used by the Jena text
            # BGP (`?s text:query ( prop "terms" [limit] )`,
            # query.clj:133-153 text-search-bgp builds exactly this
            # rdf-list shape) and its `(?s ?score)` subject form
            items = []
            while not self.at_op(")"):
                items.append(self.term())
            self.eat_op(")")
            return ("coll", items)
        if t.kind == "OP" and t.text == "-" and self.peek() and self.peek().kind == "NUMBER":
            n = self.next()
            dt = "xsd:decimal" if "." in n.text else "xsd:integer"
            return ("lit", "-" + n.text, dt)
        raise SparqlSyntaxError(f"unexpected token {t.text!r} at offset {t.pos}")

    # -- query ---------------------------------------------------------------
    def parse(self) -> Query:
        while self.at_kw("prefix"):
            self.next()
            ns = self.next()
            if ns.kind != "PNAME" or not ns.text.endswith(":"):
                raise SparqlSyntaxError(f"bad PREFIX declaration at {ns.text!r}")
            iri = self.next()
            if iri.kind != "IRIREF":
                raise SparqlSyntaxError("PREFIX needs an <iri>")
            self.prefixes[ns.text[:-1]] = iri.text[1:-1]

        if self.at_kw("select"):
            return self._select()
        if self.at_kw("construct"):
            return self._construct()
        if self.at_kw("ask"):
            self.next()
            if self.at_kw("where"):
                self.next()
            return Query("ask", self.group())
        if self.at_kw("describe"):
            self.next()
            terms = []
            while self.peek() and (
                self.peek().kind in ("VAR", "IRIREF", "PNAME")
            ):
                terms.append(self.term())
            pattern = []
            if self.at_kw("where") or self.at_op("{"):
                if self.at_kw("where"):
                    self.next()
                pattern = self.group()
            return Query("describe", pattern, describe_terms=terms)
        raise SparqlSyntaxError("expected SELECT, CONSTRUCT, ASK or DESCRIBE")

    def _select(self) -> Query:
        self.next()
        distinct = False
        if self.at_kw("distinct", "reduced"):
            distinct = self.at_kw("distinct")
            self.next()
        sel: list[str] = []
        sexprs: list = []
        if self.at_op("*"):
            self.next()
        else:
            while True:
                if self.peek() and self.peek().kind == "VAR":
                    sel.append(self.next().text[1:])
                elif self.at_op("("):
                    # (expr AS ?alias) — aggregate or computed projection
                    self.next()
                    e = self.expr()
                    self.eat_kw("as")
                    v = self.next()
                    self.eat_op(")")
                    sexprs.append((e, v.text[1:]))
                    sel.append(v.text[1:])
                else:
                    break
        if self.at_kw("where"):
            self.next()
        q = Query(
            "select",
            self.group(),
            select_vars=sel,
            select_exprs=sexprs,
            distinct=distinct,
        )
        self._modifiers(q)
        return q

    def _construct(self) -> Query:
        self.next()
        if self.at_kw("where"):
            # CONSTRUCT WHERE { tp } shorthand (SPARQL 1.1 §10.2.2):
            # the template IS the pattern (util/test_data.clj's
            # `construct where {?disease ?p ?o}` extraction uses it).
            # Template verbs and path leaves share the same AST shapes
            # (("pred", iri) / ("pvar", var)), so one parse serves both.
            self.next()
            templates = self._triples_block(template=True)
            q = Query(
                "construct", [("bgp", list(templates))], templates=templates
            )
            self._modifiers(q)
            return q
        templates = self._triples_block(template=True)
        self.eat_kw("where")
        q = Query("construct", self.group(), templates=templates)
        self._modifiers(q)
        return q

    def _modifiers(self, q: Query) -> None:
        while True:
            if self.at_kw("group"):
                self.next()
                self.eat_kw("by")
                while self.peek() and self.peek().kind == "VAR":
                    q.group_by.append(self.next().text[1:])
            elif self.at_kw("having"):
                self.next()
                q.having.append(self.expr_primary_or_paren())
            elif self.at_kw("order"):
                self.next(); self.eat_kw("by")
                while True:
                    if self.at_kw("asc", "desc"):
                        d = self.next().text.lower()
                        self.eat_op("(")
                        v = self.next()
                        self.eat_op(")")
                        q.order.append((v.text[1:], d))
                    elif self.peek() and self.peek().kind == "VAR":
                        q.order.append((self.next().text[1:], "asc"))
                    else:
                        break
            elif self.at_kw("limit"):
                self.next()
                q.limit = int(self.next().text)
            elif self.at_kw("offset"):
                self.next()
                q.offset = int(self.next().text)
            else:
                break

    # -- group graph pattern -------------------------------------------------
    def group(self) -> list:
        self.eat_op("{")
        if self.at_kw("select"):
            # SubSelect (SPARQL 1.1 §12): `{ SELECT ... }` as a group —
            # the clinvar aggregate-assertion latest-as-of idiom
            # (source/graphql/clinvar/aggregate_assertion.clj:28-40:
            # inner `SELECT ?id (max(?release_date) AS ?max_release_date)
            # ... GROUP BY ?id` joined to the outer BGP). _select() reads
            # its own WHERE group and solution modifiers; they all sit
            # inside these braces.
            sub = self._select()
            self.eat_op("}")
            return [("subselect", sub)]
        elements: list = []
        while not self.at_op("}"):
            if self.at_op("."):
                self.next()
                continue
            if self.at_kw("optional"):
                self.next()
                elements.append(("optional", self.group()))
            elif self.at_kw("filter"):
                self.next()
                if self.at_kw("not"):
                    self.next(); self.eat_kw("exists")
                    elements.append(("fexists", self.group(), False))
                elif self.at_kw("exists"):
                    self.next()
                    elements.append(("fexists", self.group(), True))
                else:
                    # FILTER (expr) or FILTER regex(...): both are a
                    # BrackettedExpression-or-BuiltInCall per the grammar
                    elements.append(("filter", self.expr_primary_or_paren()))
            elif self.at_kw("bind"):
                self.next()
                self.eat_op("(")
                e = self.expr()
                self.eat_kw("as")
                v = self.next()
                self.eat_op(")")
                elements.append(("bind", e, v.text[1:]))
            elif self.at_kw("values"):
                self.next()
                elements.append(self._values())
            elif self.at_kw("minus"):
                self.next()
                elements.append(("minus", self.group()))
            elif self.at_kw("graph"):
                # GRAPH <iri>|?g { ... } — named-graph scoping over the
                # store's graph column (util/test_data.clj:67 extracts a
                # named graph this way). A constant graph is a pushable
                # partition-prune filter; a variable binds per-solution.
                self.next()
                gterm = self.term()
                if gterm[0] not in ("iri", "var"):
                    raise SparqlSyntaxError("GRAPH takes an IRI or a variable")
                elements.append(("graphpat", gterm, self.group()))
            elif self.at_op("{"):
                alts = [self.group()]
                while self.at_kw("union"):
                    self.next()
                    alts.append(self.group())
                elements.append(("union", alts) if len(alts) > 1 else ("group", alts[0]))
            else:
                block = self._triples_block()
                if not block:
                    # nothing consumable here (e.g. a stray keyword):
                    # raising beats looping forever on the same token
                    t = self.peek()
                    raise SparqlSyntaxError(
                        f"unexpected token {t.text if t else 'EOF'!r} in group pattern"
                    )
                elements.append(("bgp", block))
        self.eat_op("}")
        return elements

    def _values(self):
        if self.at_op("("):
            self.next()
            vs = []
            while self.peek() and self.peek().kind == "VAR":
                vs.append(self.next().text[1:])
            self.eat_op(")")
            self.eat_op("{")
            rows = []
            while self.at_op("("):
                self.next()
                row = []
                while not self.at_op(")"):
                    if self.at_kw("undef"):
                        self.next()
                        row.append(None)
                    else:
                        row.append(self.term())
                self.eat_op(")")
                if len(row) != len(vs):
                    # Jena rejects ragged VALUES tables at parse time; a
                    # silent zip would treat short rows as UNDEF (over-
                    # matching) and drop surplus cells (review r6)
                    raise SparqlSyntaxError(
                        f"VALUES row has {len(row)} terms for "
                        f"{len(vs)} variables"
                    )
                rows.append(row)
            self.eat_op("}")
        else:
            v = self.next()
            vs = [v.text[1:]]
            self.eat_op("{")
            rows = []
            while not self.at_op("}"):
                if self.at_kw("undef"):
                    self.next()
                    rows.append([None])
                else:
                    rows.append([self.term()])
            self.eat_op("}")
        return ("values", vs, rows)

    def _triples_block(self, template: bool = False) -> list:
        if template:
            self.eat_op("{")
        patterns: list = []
        while True:
            t = self.peek()
            if t is None or (t.kind == "OP" and t.text == "}"):
                break
            if t.kind == "OP" and t.text == ".":
                self.next()
                continue
            # stop at the next non-triples element
            if t.kind == "NAME" and t.text.lower() in _KEYWORDS and t.text.lower() not in ("a",):
                break
            if t.kind == "OP" and t.text == "{":
                break
            subj = self.term()
            patterns.extend(self._property_list(subj, template))
            if self.at_op("."):
                self.next()
            else:
                break
        if template:
            self.eat_op("}")
        return patterns

    def _property_list(self, subj, template: bool) -> list:
        out = []
        while True:
            path = self.path() if not template else self._simple_verb()
            while True:
                obj = self.term()
                out.append((subj, path, obj))
                if self.at_op(","):
                    self.next()
                    continue
                break
            if self.at_op(";"):
                self.next()
                # dangling ';' before '.', '}' or a following clause
                # (OPTIONAL/FILTER/...) is legal — Jena tolerates it and
                # the reference files use it (construct_alleles.sparql:16)
                t = self.peek()
                if t is None or (t.kind == "OP" and t.text in (".", "}")):
                    break
                if t.kind == "NAME" and t.text.lower() in _KEYWORDS:
                    break
                continue
            break
        return out

    def _simple_verb(self):
        t = self.next()
        if t.kind == "NAME" and t.text == "a":
            return ("pred", RDF_TYPE)
        if t.kind == "IRIREF":
            return ("pred", t.text[1:-1])
        if t.kind == "PNAME":
            return ("pred", self.expand_pname(t.text))
        if t.kind == "VAR":
            # the unlink_* "copy all except" templates: CONSTRUCT {?s ?p ?o}
            return ("pvar", t.text[1:])
        raise SparqlSyntaxError(f"expected predicate in template, got {t.text!r}")

    # -- property paths ------------------------------------------------------
    def path(self):
        return self._path_alt()

    def _path_alt(self):
        p = self._path_seq()
        while self.at_op("|"):
            self.next()
            p = ("alt", p, self._path_seq())
        return p

    def _path_seq(self):
        p = self._path_elt_or_inverse()
        while self.at_op("/"):
            self.next()
            p = ("seq", p, self._path_elt_or_inverse())
        return p

    def _path_elt_or_inverse(self):
        if self.at_op("^"):
            self.next()
            return ("inv", self._path_elt())
        return self._path_elt()

    def _path_elt(self):
        p = self._path_primary()
        if self.at_op("?"):
            self.next()
            return ("opt", p)
        if self.at_op("*"):
            self.next()
            return ("star", p)
        if self.at_op("+"):
            self.next()
            return ("plus", p)
        if self.at_op("{"):
            self.next()
            lo = int(self.next().text)
            hi = lo
            if self.at_op(","):
                self.next()
                hi = int(self.next().text) if self.peek().kind == "NUMBER" else None
            self.eat_op("}")
            if hi is None:
                raise SparqlSyntaxError("unbounded {n,} repetition is not supported; use p+ with a prefix")
            return ("rep", p, lo, hi)
        return p

    def _path_primary(self):
        if self.at_op("("):
            self.next()
            p = self.path()
            self.eat_op(")")
            return p
        if self.at_op("!"):
            self.next()
            self.eat_op("(")
            preds = []
            while True:
                t = self.next()
                if t.kind == "IRIREF":
                    preds.append(t.text[1:-1])
                elif t.kind == "PNAME":
                    preds.append(self.expand_pname(t.text))
                elif t.kind == "NAME" and t.text == "a":
                    preds.append(RDF_TYPE)
                else:
                    raise SparqlSyntaxError("negated property set takes plain IRIs")
                if self.at_op("|"):
                    self.next()
                    continue
                break
            self.eat_op(")")
            return ("neg", preds)
        t = self.next()
        if t.kind == "NAME" and t.text == "a":
            return ("pred", RDF_TYPE)
        if t.kind == "IRIREF":
            return ("pred", t.text[1:-1])
        if t.kind == "PNAME":
            return ("pred", self.expand_pname(t.text))
        if t.kind == "VAR":
            return ("pvar", t.text[1:])
        raise SparqlSyntaxError(f"unexpected token {t.text!r} in property path")

    # -- expressions ---------------------------------------------------------
    def expr_primary_or_paren(self):
        if self.at_op("("):
            self.next()
            e = self.expr()
            self.eat_op(")")
            return e
        return self._expr_primary()

    def expr(self):
        return self._expr_or()

    def _expr_or(self):
        e = self._expr_and()
        while self.at_op("||"):
            self.next()
            e = ("op", "||", e, self._expr_and())
        return e

    def _expr_and(self):
        e = self._expr_cmp()
        while self.at_op("&&"):
            self.next()
            e = ("op", "&&", e, self._expr_cmp())
        return e

    def _expr_cmp(self):
        e = self._expr_add()
        if self.at_op("=", "!=", "<", ">", "<=", ">="):
            op = self.next().text
            e = ("op", op, e, self._expr_add())
            return e
        # (NOT) IN — SPARQL 1.1 §17.4.1.9/.10: sugar for an =-chain
        neg = False
        if self.at_kw("not") and self.peek(1) and self.peek(1).text.lower() == "in":
            self.next()
            neg = True
        if self.at_kw("in"):
            self.next()
            self.eat_op("(")
            items = []
            if not self.at_op(")"):
                items.append(self.expr())
                while self.at_op(","):
                    self.next()
                    items.append(self.expr())
            self.eat_op(")")
            return ("in", e, items, neg)
        return e

    def _expr_add(self):
        e = self._expr_mul()
        while self.at_op("+", "-"):
            op = self.next().text
            e = ("op", op, e, self._expr_mul())
        return e

    def _expr_mul(self):
        e = self._expr_unary()
        while self.at_op("*", "/"):
            op = self.next().text
            e = ("op", op, e, self._expr_unary())
        return e

    def _expr_unary(self):
        if self.at_op("!"):
            self.next()
            return ("not", self._expr_unary())
        if self.at_op("-"):
            self.next()
            return ("op", "-", ("lit", "0", "xsd:integer"), self._expr_unary())
        if self.at_op("+"):
            self.next()
            return self._expr_unary()
        return self._expr_primary()

    _FUNCS = {
        "bound", "coalesce", "if", "concat", "iri", "uri", "str", "strlen",
        "substr", "replace", "regex", "contains", "strstarts", "strends",
        "lcase", "ucase", "strafter", "strbefore",
        "isblank", "isiri", "isuri", "isliteral", "isnumeric",
        "abs", "ceil", "floor", "round",
        "datatype", "sameterm", "md5", "sha1", "sha256", "encode_for_uri",
    }

    _AGGS = {"count", "sum", "min", "max", "avg", "sample", "group_concat"}

    def _expr_primary(self):
        if self.at_op("("):
            self.next()
            e = self.expr()
            self.eat_op(")")
            return e
        t = self.peek()
        if t.kind == "NAME" and t.text.lower() in self._AGGS:
            name = self.next().text.lower()
            self.eat_op("(")
            distinct = False
            if self.at_kw("distinct"):
                self.next()
                distinct = True
            if self.at_op("*"):
                self.next()
                arg = "*"
            else:
                arg = self.expr()
            if self.at_op(";"):
                # GROUP_CONCAT(?x; separator="...") — SPARQL 1.1
                # §18.5.1.7. Only the separator scalar arg exists in the
                # grammar; a 5-tuple AST keeps the common 4-tuple shape
                # for every other aggregate.
                self.next()
                kw = self.next()
                if kw.text.lower() != "separator":
                    raise SparqlSyntaxError(
                        f"expected 'separator', got {kw.text!r}"
                    )
                self.eat_op("=")
                sep = self.next()
                if sep.kind != "STRING":
                    raise SparqlSyntaxError("separator must be a string literal")
                self.eat_op(")")
                return ("agg", name, distinct, arg, _unescape(sep.text[1:-1]))
            self.eat_op(")")
            return ("agg", name, distinct, arg)
        if t.kind == "NAME" and t.text.lower() in self._FUNCS:
            name = self.next().text.lower()
            self.eat_op("(")
            args = []
            if not self.at_op(")"):
                args.append(self.expr())
                while self.at_op(","):
                    self.next()
                    args.append(self.expr())
            self.eat_op(")")
            return ("call", name, args)
        return self.term(in_expr=True)


def _unescape(body: str) -> str:
    """SPARQL string-literal escapes (shared by term() and the
    GROUP_CONCAT separator clause)."""
    return re.sub(
        r"\\(.)",
        lambda m: {"n": "\n", "t": "\t"}.get(m.group(1), m.group(1)),
        body,
    )


def parse_sparql(text: str) -> Query:
    p = _Parser(text)
    try:
        q = p.parse()
    except SparqlSyntaxError:
        raise
    except (ValueError, AttributeError, IndexError) as e:
        # malformed input reaching an int()/attribute access inside the
        # parser is a SYNTAX error at the boundary, not an internal crash
        t = p.peek()
        raise SparqlSyntaxError(
            f"malformed query near {t.text if t else 'EOF'!r}: {e}"
        ) from None
    if p.peek() is not None:
        raise SparqlSyntaxError(f"trailing tokens from {p.peek().text!r}")
    return q


# ===========================================================================
# Term encoding (tagged strings)
# ===========================================================================

def _tag_const(term) -> str:
    """Encode a constant AST term as a tagged string."""
    if term[0] == "iri":
        return "I|" + term[1]
    if term[0] == "lit":
        return "L|" + (term[2] or "") + "|" + term[1]
    raise ValueError(f"not a constant term: {term}")


def _enc_subject() -> Column:
    return F.concat(F.lit("I|"), F.col("subject"))


def _enc_object() -> Column:
    return F.when(
        F.col("object_is_iri"), F.concat(F.lit("I|"), F.col("object"))
    ).otherwise(
        F.concat(
            F.lit("L|"),
            F.coalesce(F.col("object_datatype"), F.lit("")),
            F.lit("|"),
            F.col("object"),
        )
    )


def term_value(c: Column) -> Column:
    """Decode a tagged term to its value/lexical form (SPARQL STR)."""
    return F.when(
        c.startswith("I|"), c.substr(F.lit(3), F.lit(_MAXLEN))
    ).otherwise(c.substr(F.locate("|", c, 3) + 1, F.lit(_MAXLEN)))


def term_is_iri(c: Column) -> Column:
    return c.startswith("I|")


def term_datatype(c: Column) -> Column:
    p = F.locate("|", c, 3)
    return F.when(c.startswith("I|"), F.lit(None).cast("string")).otherwise(
        F.nullif(c.substr(F.lit(3), p - 3), F.lit(""))
    )


# ===========================================================================
# Compiler
# ===========================================================================


class _Compiler:
    def __init__(
        self,
        triples: DataFrame,
        graph_var: str | None = None,
        in_graph: bool = False,
        graph_seed: DataFrame | None = None,
    ):
        self.triples = triples
        self.spark = triples.sparkSession
        # set inside GRAPH ?g { ... }: every simple-predicate scan also
        # binds ?g from the store's graph column (NULL-graph rows — the
        # default graph — are excluded, per SPARQL named-graph semantics)
        self.graph_var = graph_var
        # per-graph pre-binding (corpus mode): a frame of one row per
        # graph — column graph_var (tagged graph term) plus one TAGGED
        # column per pre-bound variable. EVERY group starts from this
        # frame, so the vars behave exactly like Jena QuerySolutionMap
        # substitution at each scope: inner OPTIONAL / UNION / MINUS /
        # EXISTS groups all natural-join the per-graph value (the
        # family-segregation NOT EXISTS references ?affiliation three
        # levels deep — a post-hoc join could not reproduce that).
        self.graph_seed = graph_seed
        # true inside any GRAPH form (constant OR variable): a further
        # nested GRAPH would need the outer scope threaded through
        # (SPARQL keeps ?g ranging over named graphs even inside a
        # constant inner GRAPH) — unsupported, detected, and raised
        self.in_graph = in_graph or graph_var is not None

    # -- patterns ------------------------------------------------------------
    def _unit(self) -> DataFrame:
        return self.spark.range(1).select(F.lit(1).alias("_unit"))

    @staticmethod
    def _pred_filter(p: str) -> Column:
        """`a` is semantically rdf:type whichever lexical convention the
        store uses (CURIE "rdf:type" or the full IRI) — match both. Still
        a pushable IN-filter on the scan."""
        if p in (RDF_TYPE, RDF_TYPE_FULL):
            return F.col("predicate").isin([RDF_TYPE, RDF_TYPE_FULL])
        return F.col("predicate") == p

    def scan(self, s, path, o) -> DataFrame:
        """One triple pattern → tagged bindings. Simple predicates filter
        the raw columns (parquet pushdown, algebra.scan:41-58); complex
        paths go through :meth:`path_pairs`."""
        if path[0] == "pred" and path[1] in _TEXT_QUERY_IRIS:
            return self._text_query(s, o)
        if path[0] == "pred":
            df = self.triples.where(self._pred_filter(path[1]))
            return self._bind_endpoints(df, s, o)
        if path[0] == "pvar":
            # predicate var: carry it as a tagged IRI column; a predicate
            # var that REPEATS the subject/object var becomes a
            # self-equality filter, not a duplicate column
            df = self.triples
            cols, filters = self._endpoint_exprs(s, o)
            pred_tag = F.concat(F.lit("I|"), F.col("predicate"))
            repeats = (s[0] == "var" and s[1] == path[1]) or (
                o[0] == "var" and o[1] == path[1]
            )
            if repeats:
                other = _enc_subject() if s[0] == "var" and s[1] == path[1] else _enc_object()
                df = df.where(other == pred_tag)
            else:
                cols.append(pred_tag.alias(path[1]))
            for f in filters:
                df = df.where(f)
            if self.graph_var:
                df = df.where(F.col("graph").isNotNull())
                gtag = F.concat(F.lit("I|"), F.col("graph"))
                gv = self.graph_var
                if (s[0] == "var" and s[1] == gv) or (o[0] == "var" and o[1] == gv):
                    sel = _enc_subject() if s[0] == "var" and s[1] == gv else _enc_object()
                    df = df.where(sel == gtag)
                elif path[1] == gv:
                    df = df.where(pred_tag == gtag)
                else:
                    cols.append(gtag.alias(gv))
            return df.select(*cols)
        pairs = self.path_pairs(path)
        out_cols: list[Column] = []
        df = pairs
        gv = self.graph_var
        for term, col in ((s, "node"), (o, "next")):
            if term[0] == "var" and gv is not None and term[1] == gv:
                df = df.where(
                    F.col(col) == F.concat(F.lit("I|"), F.col("_g"))
                )
            elif term[0] == "var":
                out_cols.append(F.col(col).alias(term[1]))
            else:
                df = df.where(F.col(col) == _tag_const(term))
        if gv is not None:
            out_cols.append(F.concat(F.lit("I|"), F.col("_g")).alias(gv))
        return df.select(*out_cols) if out_cols else df.select(F.lit(1).alias("_unit"))

    def _text_query(self, s, o) -> DataFrame:
        """The Jena full-text BGP: ``?s text:query ( prop "terms"
        [limit] )`` — the shape ``text-search-bgp``
        (database/query.clj:133-153) composes and the dosage
        gene/region/disease filters embed (gene_dosage.clj:70-110).
        Subject may be ``(?s ?score)`` to also bind the relevance score
        (Jena text ext). Matching = any query token; scoring = the
        tf·idf of :func:`.algebra.text_search_ranked` (6dp, engine-
        portable); ``limit`` keeps the top-limit by (score desc, node).

        Scale shape: delegates to the inverted-index view — query-token
        postings only, broadcast df/N scalars, one grouped sum."""
        import re as _re

        if self.graph_var:
            raise SparqlSyntaxError(
                "text:query inside GRAPH ?var is not supported; "
                "use a constant graph IRI"
            )

        if o[0] != "coll" or not 2 <= len(o[1]) <= 3:
            raise SparqlSyntaxError(
                "text:query object must be ( property \"terms\" [limit] )"
            )
        prop, qlit = o[1][0], o[1][1]
        if prop[0] != "iri" or qlit[0] != "lit":
            raise SparqlSyntaxError(
                "text:query arguments are a property IRI and a literal"
            )
        limit = None
        if len(o[1]) == 3:
            if o[1][2][0] != "lit":
                raise SparqlSyntaxError("text:query limit must be a number")
            limit = int(o[1][2][1])
        if s[0] == "coll":
            if len(s[1]) != 2 or any(t[0] != "var" for t in s[1]):
                raise SparqlSyntaxError(
                    "text:query subject list must be (?node ?score)"
                )
            svar, scorevar = s[1][0][1], s[1][1][1]
        elif s[0] == "var":
            svar, scorevar = s[1], None
        else:
            raise SparqlSyntaxError("text:query subject must be a variable")
        # strip the reference's lucene-ism: '( term OR term )' query
        # strings (gene_dosage.clj gene-filter) — OR is our default
        qtext = _re.sub(r"(?i)\bOR\b", " ", qlit[1]).strip("() ")
        idx = A.text_index(self.triples, predicates=[prop[1]])
        qtokens = [t for t in _re.split(r"[^a-z0-9]+", qtext.lower()) if t]
        if not qtokens:
            raise SparqlSyntaxError("text:query needs at least one token")
        n_docs = idx.select("node").distinct().agg(F.count("*").alias("n"))
        hits = idx.where(F.col("token").isin(qtokens))
        dfreq = hits.groupBy("token").agg(F.countDistinct("node").alias("df"))
        scored = (
            hits.join(F.broadcast(dfreq), "token")
            .crossJoin(F.broadcast(n_docs))
            .withColumn(
                "w",
                F.col("tf").cast("double")
                * F.log(
                    F.lit(1.0)
                    + F.col("n").cast("double") / F.col("df").cast("double")
                ),
            )
            .groupBy("node")
            .agg(F.round(F.sum("w"), 6).alias("score"))
        )
        if limit is not None:
            scored = scored.orderBy(F.desc("score"), F.asc("node")).limit(limit)
        cols = [F.concat(F.lit("I|"), F.col("node")).alias(svar)]
        if scorevar is not None:
            cols.append(
                F.concat(
                    F.lit("L|xsd:decimal|"), F.col("score").cast("string")
                ).alias(scorevar)
            )
        return scored.select(*cols)

    def _endpoint_exprs(self, s, o):
        cols: list[Column] = []
        filters: list[Column] = []
        if s[0] == "var":
            cols.append(_enc_subject().alias(s[1]))
        else:
            filters.append(F.col("subject") == s[1])
        if o[0] == "var":
            cols.append(_enc_object().alias(o[1]))
        elif o[0] == "iri":
            filters.append(F.col("object_is_iri") & (F.col("object") == o[1]))
        else:  # literal: lenient datatype (plain vs xsd:string vs absent)
            filters.append(~F.col("object_is_iri") & (F.col("object") == o[1]))
        return cols, filters

    def _bind_endpoints(self, df: DataFrame, s, o) -> DataFrame:
        cols, filters = self._endpoint_exprs(s, o)
        for f in filters:
            df = df.where(f)
        if s[0] == "var" and o[0] == "var" and s[1] == o[1]:
            # same var both ends: self-equality
            df = df.where(_enc_subject() == _enc_object())
            cols = [_enc_subject().alias(s[1])]
        if self.graph_var:
            df = df.where(F.col("graph").isNotNull())
            gtag = F.concat(F.lit("I|"), F.col("graph"))
            gv = self.graph_var
            if s[0] == "var" and s[1] == gv:
                df = df.where(_enc_subject() == gtag)
            elif o[0] == "var" and o[1] == gv:
                df = df.where(_enc_object() == gtag)
            else:
                cols.append(gtag.alias(gv))
        return df.select(*cols) if cols else df.select(F.lit(1).alias("_unit"))

    # -- property paths ------------------------------------------------------
    def path_pairs(self, p) -> DataFrame:
        """(node, next) tagged endpoint pairs for a path expression.
        seq/alt keep bag semantics; ?/*/+/{n,m} are distinct per SPARQL
        1.1 §9.3. Each base step is a predicate-filtered scan (pushdown);
        * / + use :func:`.fixpoint.closure` (path doubling, ⌈log2 d⌉
        shuffle rounds).

        Under ``graph_var`` (GRAPH ?g / per-graph mode) every pairs
        frame also carries the raw ``_g`` graph column and every path
        join co-keys on it, so closures and sequences never cross named
        graphs — the per-graph corpus chain relies on this."""
        kind = p[0]
        in_g = self.graph_var is not None
        keys = ("_g",) if in_g else ()

        def base(df: DataFrame) -> DataFrame:
            cols = [_enc_subject().alias("node"), _enc_object().alias("next")]
            if in_g:
                df = df.where(F.col("graph").isNotNull())
                cols.append(F.col("graph").alias("_g"))
            return df.select(*cols)

        if kind == "pred":
            return base(self.triples.where(self._pred_filter(p[1])))
        if kind == "neg":
            return base(
                self.triples.where(~F.col("predicate").isin(list(p[1])))
            )
        if kind == "inv":
            q = self.path_pairs(p[1])
            sel = [F.col("next").alias("node"), F.col("node").alias("next")]
            if in_g:
                sel.append(F.col("_g"))
            return q.select(*sel)
        if kind == "seq":
            return fixpoint.compose(self.path_pairs(p[1]), self.path_pairs(p[2]), keys)
        if kind == "alt":
            return self.path_pairs(p[1]).unionByName(self.path_pairs(p[2]))
        if kind == "opt":
            return self._identity().unionByName(self.path_pairs(p[1])).distinct()
        if kind in ("star", "plus"):
            closure = fixpoint.closure(self.path_pairs(p[1]), keys)
            if kind == "star":
                closure = closure.unionByName(self._identity()).distinct()
            return closure
        if kind == "rep":
            _, sub, lo, hi = p
            base = self.path_pairs(sub)
            cur = self._identity() if lo == 0 else base
            for _ in range(max(lo - 1, 0)):
                cur = fixpoint.compose(cur, base, keys)
            out = cur
            for _ in range(hi - lo):
                cur = fixpoint.compose(cur, base, keys)
                out = out.unionByName(cur)
            return out.distinct()
        raise ValueError(f"unknown path node {p!r}")

    def _identity(self) -> DataFrame:
        if self.graph_var is not None:
            t = self.triples.where(F.col("graph").isNotNull())
            nodes = t.select(
                _enc_subject().alias("node"), F.col("graph").alias("_g")
            ).unionByName(
                t.select(_enc_object().alias("node"), F.col("graph").alias("_g"))
            ).distinct()
            return nodes.select("node", F.col("node").alias("next"), "_g")
        nodes = self.triples.select(_enc_subject().alias("node")).unionByName(
            self.triples.select(_enc_object().alias("node"))
        ).distinct()
        return nodes.select("node", F.col("node").alias("next"))

    # -- groups --------------------------------------------------------------
    def group(self, elements: list) -> DataFrame:
        return self._group(elements)[0]

    def _group(self, elements: list) -> tuple[DataFrame, set]:
        """Compile a group; also return the set of MAYBE-UNBOUND
        variables (columns a prior OPTIONAL / BIND / UNDEF VALUES /
        asymmetric UNION could have left as SQL NULL). A later OPTIONAL
        sharing such a variable must use SPARQL solution COMPATIBILITY
        (unbound matches anything, merged solution takes the bound
        value) instead of a NULL-rejecting equi-join — the
        construct_functional_evidence.sparql shape, where three
        mutually-exclusive OPTIONALs each BIND the same ?gciSubType."""
        cur: DataFrame | None = self.graph_seed
        maybe: set = set()
        filters: list = []
        exists_clauses: list = []
        # VALUES appearing before anything else whose rows contain UNDEF
        # cells must NOT seed the solution directly: UNDEF would become a
        # SQL NULL column and the next BGP's natural join on a NULL key
        # matches nothing (ADVICE r4). Defer such tables and apply them
        # with A.values (defined-signature joins) once bindings exist.
        deferred_values: list[tuple[list, list]] = []

        def merge(right: DataFrame, right_maybe: set = frozenset()) -> DataFrame:
            # SPARQL §18.3 Join: a shared variable a prior OPTIONAL/BIND/
            # UNDEF-VALUES/asymmetric-UNION may have left unbound (NULL)
            # on EITHER side is compatible with any binding on the other
            # — a NULL-rejecting natural join would drop those solutions
            # (review r6; previously only _optional() consulted `maybe`)
            if cur is None:
                return right
            shared = set(cur.columns) & set(right.columns)
            left_nn = sorted(shared & maybe)
            right_nn = sorted(shared & set(right_maybe))
            if left_nn and right_nn:
                raise SparqlSyntaxError(
                    "join of two patterns that may each leave a shared "
                    f"variable unbound ({sorted(set(left_nn) | set(right_nn))}) "
                    "is not supported; restructure the query"
                )
            if left_nn:
                return A.compatible_join(cur, right, left_nn)
            if right_nn:
                return A.compatible_join(right, cur, right_nn)
            return A.join(cur, right)

        def drain_deferred(df: DataFrame) -> DataFrame:
            while deferred_values:
                _, tbl_rows = deferred_values.pop(0)
                df = A.values(df, tbl_rows)
            return df

        for el in elements:
            kind = el[0]
            if kind == "bgp":
                for s, path, o in el[1]:
                    cur = merge(self.scan(s, path, o))
            elif kind == "optional":
                cur, ext_maybe = self._optional(cur, el[1], maybe)
                maybe |= ext_maybe
            elif kind == "filter":
                filters.append(el[1])
            elif kind == "fexists":
                exists_clauses.append((el[1], el[2]))
            elif kind == "bind":
                base = cur if cur is not None else self._unit()
                cur = base.withColumn(el[2], self.term_expr(el[1], base))
                # a BIND expression can evaluate to NULL (e.g. an
                # unbound-var reference outside IF(BOUND(...)))
                maybe.add(el[2])
            elif kind == "values":
                vs, rows = el[1], el[2]
                tbl_rows = [
                    {v: _tag_const(t) for v, t in zip(vs, row) if t is not None}
                    for row in rows
                ]
                maybe |= {v for v in vs if any(v not in r for r in tbl_rows)}
                if cur is not None:
                    cur = A.values(cur, tbl_rows)
                elif all(len(r) == len(vs) for r in tbl_rows):
                    # fully-defined rows are a safe seed table
                    cur = self.spark.createDataFrame(
                        [tuple(r.get(v) for v in vs) for r in tbl_rows],
                        ", ".join(f"{v} string" for v in vs),
                    )
                else:
                    deferred_values.append((vs, tbl_rows))
            elif kind == "union":
                branches = [self._group(g) for g in el[1]]
                u = reduce(A.union, (b[0] for b in branches))
                cols = [set(b[0].columns) for b in branches]
                # columns missing from any branch arrive as NULLs
                u_maybe = set().union(*cols) - set.intersection(*cols)
                u_maybe |= set().union(*(b[1] for b in branches))
                cur = merge(u, u_maybe)
                maybe |= u_maybe
            elif kind == "minus":
                if cur is not None:
                    cur = A.minus(cur, self.group(el[1]))
            elif kind == "group":
                sub, sub_maybe = self._group(el[1])
                cur = merge(sub, sub_maybe)
                maybe |= sub_maybe
            elif kind == "graphpat":
                # GRAPH scoping: a constant graph filters the scan (a
                # partition prune when the store is graph-partitioned);
                # a variable threads the graph column through every
                # inner scan as a binding — solutions within one group
                # element share one ?g binding via the natural joins.
                gterm, inner = el[1], el[2]
                if self.graph_seed is not None:
                    raise SparqlSyntaxError(
                        "GRAPH forms inside per-graph (corpus) mode are "
                        "not supported — the whole query already runs "
                        "graph-scoped"
                    )
                if self.in_graph:
                    # SPARQL keeps the OUTER ?g ranging over named graphs
                    # even inside a constant inner GRAPH; silently
                    # compiling the inner block without the outer scope
                    # would leave ?g unbound / mis-scoped (ADVICE r5)
                    raise SparqlSyntaxError(
                        "nested GRAPH forms are not supported; flatten the "
                        "query to one GRAPH scope per pattern"
                    )
                if gterm[0] == "iri":
                    sub_c = _Compiler(
                        self.triples.where(F.col("graph") == gterm[1]),
                        in_graph=True,
                    )
                elif gterm[0] == "var":
                    sub_c = _Compiler(self.triples, graph_var=gterm[1])
                else:
                    raise SparqlSyntaxError("GRAPH takes an IRI or a variable")
                sub, sub_maybe = sub_c._group(inner)
                cur = merge(sub, sub_maybe)
                maybe |= sub_maybe
            elif kind == "subselect":
                # SubSelect (SPARQL 1.1 §12): evaluate the inner SELECT
                # to a tagged frame, natural-join it into the enclosing
                # group on shared projected variables (the clinvar
                # aggregate-assertion latest-as-of idiom). Scale: the
                # inner aggregation is one shuffle on its GROUP BY key;
                # the outer join shares that key in the reference's
                # usage, so AQE can plan it shuffle-local.
                sq: Query = el[1]
                if sq.form != "select":
                    raise SparqlSyntaxError("subqueries must be SELECTs")
                if self.graph_seed is not None:
                    # an inner GROUP BY without the graph key would
                    # aggregate ACROSS curations — refuse until needed
                    raise SparqlSyntaxError(
                        "sub-SELECT inside per-graph (corpus) mode is "
                        "not supported"
                    )
                sub_bind, sub_maybe = self._group(sq.pattern)
                sub = _select_project(self, sq, sub_bind, tagged=True)
                proj = set(sub.columns)
                aliases = {a for _, a in sq.select_exprs}
                # projected-but-unbound vars arrive as NULL columns;
                # computed/aggregate columns can be NULL (empty SUM, BIND)
                sub_new_maybe = ((sub_maybe | aliases) & proj) | (
                    proj - set(sub_bind.columns)
                )
                cur = merge(sub, sub_new_maybe)
                maybe |= sub_new_maybe
            else:
                raise ValueError(f"unknown group element {kind!r}")
            if cur is not None and deferred_values:
                cur = drain_deferred(cur)
        if deferred_values:
            # nothing ever bound: the group IS the (UNDEF-bearing) VALUES
            # table(s); materialize with NULL = unbound cells
            for vs, tbl_rows in deferred_values:
                tbl = self.spark.createDataFrame(
                    [tuple(r.get(v) for v in vs) for r in tbl_rows],
                    ", ".join(f"{v} string" for v in vs),
                )
                cur = tbl if cur is None else A.join(cur, tbl)
            deferred_values.clear()
        if cur is None:
            cur = self._unit()
        for e in filters:
            cur = cur.where(self.bool_expr(e, cur))
        for grp, positive in exists_clauses:
            cur = self._exists_join(cur, grp, positive, maybe)
        return cur, maybe

    def _exists_join(
        self,
        cur: DataFrame,
        grp: list,
        positive: bool,
        maybe: set = frozenset(),
    ) -> DataFrame:
        """FILTER (NOT) EXISTS with CORRELATION (SPARQL 1.1 §8.1.1
        substitution semantics): a top-level filter inside the pattern
        may compare variables bound only in the OUTER solution — the
        reference's versioned-as-of idiom (``aggregate-members-timeseries``,
        source/graphql/clinvar/aggregate_assertion.clj:204-239, and
        ``genes-for-variation-byversion-query``,
        transform/clinvar/jsonld/clinical_assertion.clj:20-62). Such
        filters hoist into the semi/anti-join CONDITION; compiling them
        inside the sub-group would read the outer variable as NULL and
        the EXISTS would never (NOT EXISTS always) hold.

        Scale: the hoisted predicates ride the same hash join the
        shared-variable equalities plan — no extra exchange; a purely
        range-correlated NOT EXISTS (no shared var) degrades to a
        broadcast-nested-loop, the honest cost of that query shape.
        """
        inner = [el for el in grp if el[0] != "filter"]
        fs = [el[1] for el in grp if el[0] == "filter"]
        sub = self.group(inner)
        # Only TOP-LEVEL filters hoist; an outer-correlated filter nested
        # DEEPER (inside OPTIONAL/UNION/a braced group within the EXISTS
        # pattern) would have compiled the outer variable as NULL during
        # self.group(inner) above, silently making EXISTS never (NOT
        # EXISTS always) hold for that branch. Fix (ADVICE r5 asked for
        # a raise; this implements the semantics instead): DECORRELATE
        # by seeding — re-compile the EXISTS pattern with a seed frame
        # of the outer solutions' DISTINCT correlated values, so every
        # scope (nested OPTIONAL/UNION/EXISTS included) evaluates with
        # the variable bound per outer value (§8.1.1 substitution, the
        # magic-set shape), then semi/anti-join the correlated vars as
        # ordinary shared columns. Spark-first: one distinct on the
        # bounded correlated-value set + co-keyed joins — no per-row
        # re-evaluation, no driver loop.
        deep_corr = (
            self._nested_filter_vars(inner) & set(cur.columns)
        ) - set(sub.columns)
        if deep_corr:
            if self.graph_seed is not None:
                raise SparqlSyntaxError(
                    "outer-correlated filters nested inside EXISTS are "
                    "not supported in per-graph (corpus) mode"
                )
            corr = sorted(
                (self._nested_filter_vars(inner) | set().union(
                    *[self._expr_vars(e) for e in fs] or [set()]
                ))
                & set(cur.columns) - set(sub.columns)
            )
            nn = reduce(
                lambda a, b: a & b, [F.col(c).isNotNull() for c in corr]
            )
            seed = cur.select(*corr).where(nn).distinct()
            sub_c = _Compiler(
                self.triples, graph_var=self.graph_var, graph_seed=seed
            )
            sub_seeded = sub_c.group(inner)
            for e in fs:
                # with the correlated values in scope, every top-level
                # filter is an ordinary inner filter
                sub_seeded = sub_seeded.where(sub_c.bool_expr(e, sub_seeded))
            bound_part = self._exists_std(
                cur.where(nn), sub_seeded, [], positive, maybe
            )
            # Rows whose correlated var is UNBOUND (NULL): §8.1.1 leaves
            # the variable free, so only the branch whose filter touches
            # it dies (error → false, §17.2) while sibling UNION/OPTIONAL
            # branches still match — exactly what the PLAIN compile gives
            # (the nested reference reads NULL inside its own branch).
            # Seeding would instead falsify the WHOLE pattern for those
            # rows (NULL joins nothing) — a review-caught regression.
            unbound_part = self._exists_std(
                cur.where(~nn), sub, fs, positive, maybe
            )
            return bound_part.unionByName(unbound_part)
        return self._exists_std(cur, sub, fs, positive, maybe)

    def _exists_std(
        self,
        cur: DataFrame,
        sub: DataFrame,
        fs: list,
        positive: bool,
        maybe: set = frozenset(),
    ) -> DataFrame:
        """The (NOT) EXISTS join for one outer slice: self-contained
        top-level filters apply inside ``sub``; outer-correlated ones
        hoist into the semi/anti-join condition. Shared variables a
        prior OPTIONAL/BIND/VALUES may have left UNBOUND (``maybe``)
        are only substituted when bound (§8.1.1): the outer splits by
        null-signature and each slice joins on its definitely-bound
        shared subset — a NULL-rejecting equi-join would make EXISTS
        never (NOT EXISTS always) hold for unbound rows (review r6)."""
        hoisted = []
        for e in fs:
            vs = self._expr_vars(e)
            if vs <= set(sub.columns) or not (vs & set(cur.columns)):
                # self-contained (or referencing nothing the outer
                # binds): an ordinary inner filter
                sub = sub.where(self.bool_expr(e, sub))
            else:
                hoisted.append(e)
        shared = sorted(set(cur.columns) & set(sub.columns))
        how = "left_semi" if positive else "left_anti"
        nullable = [c for c in shared if c in maybe]
        if not nullable:
            return self._exists_slice(cur, sub, shared, hoisted, how)
        if len(nullable) > 4:
            raise SparqlSyntaxError(
                f"(NOT) EXISTS shares {len(nullable)} maybe-unbound "
                f"variables ({nullable}) — 2^k branch explosion; "
                "restructure the query"
            )
        from itertools import combinations

        out = None
        for k in range(len(nullable) + 1):
            for mask in combinations(nullable, k):
                part = cur
                for c in nullable:
                    part = part.where(
                        F.col(c).isNull() if c in mask else F.col(c).isNotNull()
                    )
                keys = [c for c in shared if c not in mask]
                branch = self._exists_slice(part, sub, keys, hoisted, how)
                out = branch if out is None else out.unionByName(branch)
        return out

    def _exists_slice(
        self, cur: DataFrame, sub: DataFrame, keys: list, hoisted: list, how: str
    ) -> DataFrame:
        if not hoisted:
            if keys:
                return cur.join(sub, keys, how)
            # disjoint EXISTS: a constant guard — keep all rows iff the
            # sub-pattern has (no) solutions
            return cur.join(sub.limit(1), F.lit(True), how)
        ren = {c: f"__ex_{c}" for c in sub.columns}
        sub_r = sub.select([F.col(c).alias(ren[c]) for c in sub.columns])
        conds = [F.col(v) == F.col(ren[v]) for v in keys]
        scope = SimpleNamespace(columns=list(cur.columns) + list(ren.values()))
        outer_cols = set(cur.columns)
        for e in hoisted:
            conds.append(self.bool_expr(_rename_vars(e, ren, outer_cols), scope))
        return cur.join(
            sub_r, reduce(lambda a, b: a & b, conds, F.lit(True)), how
        )

    @classmethod
    def _nested_filter_vars(cls, elements: list) -> set:
        """Variables referenced by FILTER / EXISTS expressions at any
        depth BELOW the given elements (the elements' own top-level
        filters are the caller's to handle). Used by :meth:`_exists_join`
        to decide when the EXISTS pattern needs seeded decorrelation
        (§8.1.1 substitution into nested scopes)."""
        out: set = set()

        def walk(els, top):
            for el in els:
                kind = el[0]
                if kind == "filter":
                    if not top:
                        out.update(cls._expr_vars(el[1]))
                elif kind == "bind":
                    # a BIND expression referencing an outer var compiles
                    # it as NULL just like a nested filter would — include
                    # binds at EVERY depth (top-level binds stay inside
                    # the pattern; only top-level FILTERs are the
                    # caller's to hoist) so the seeded decorrelation
                    # path catches them (review r6)
                    out.update(cls._expr_vars(el[1]))
                elif kind == "fexists":
                    walk(el[1], False)
                elif kind in ("optional", "minus", "group"):
                    walk(el[1], False)
                elif kind == "union":
                    for g in el[1]:
                        walk(g, False)
                elif kind == "graphpat":
                    walk(el[2], False)
                elif kind == "subselect":
                    # outer-correlated vars inside a sub-SELECT's pattern
                    # would also read as NULL; routing them through the
                    # seeded path either decorrelates or raises loudly
                    walk(el[1].pattern, False)

        walk(elements, True)
        return out

    @staticmethod
    def _expr_vars(e) -> set:
        """All ?variable names referenced anywhere in an expression AST."""
        out: set = set()

        def walk(x):
            if isinstance(x, tuple):
                if x and x[0] == "var":
                    out.add(x[1])
                else:
                    for y in x[1:]:
                        walk(y)
            elif isinstance(x, list):
                for y in x:
                    walk(y)

        walk(e)
        return out

    def _optional(
        self,
        cur: DataFrame | None,
        inner_elems: list,
        outer_maybe: set = frozenset(),
    ) -> tuple[DataFrame, set]:
        """OPTIONAL with SPARQL LeftJoin(A, B, F) semantics. Returns
        (df, maybe-unbound additions).

        A top-level FILTER inside the OPTIONAL whose variables are not
        all bound by the inner pattern is part of the LEFT-JOIN
        CONDITION, not an inner-group filter (SPARQL 1.1 §18.2.2.2;
        previously such a filter compiled the outer var to lit(NULL)
        inside the inner group and dropped every optional match —
        ADVICE r4). Evaluation: μ1 extends with a compatible μ2 passing
        F; a μ1 with no passing match survives alone (even when matches
        existed but all failed F).

        Shared variables in ``outer_maybe`` (a prior OPTIONAL / BIND /
        UNDEF could have left them NULL) join with SPARQL solution
        COMPATIBILITY (:func:`algebra.compatible_join`) instead of a
        NULL-rejecting equi-join."""
        fel = [e for e in inner_elems if e[0] == "filter"]
        nonf = [e for e in inner_elems if e[0] != "filter"]
        right, right_maybe = self._group(nonf)
        inner_vars = set(right.columns)
        join_filters = []
        for e in fel:
            if self._expr_vars(e[1]) <= inner_vars:
                right = right.where(self.bool_expr(e[1], right))
            else:
                join_filters.append(e[1])
        if cur is None:
            # no outer bindings: outer-var refs are genuinely unbound
            for e in join_filters:
                right = right.where(self.bool_expr(e, right))
            return right, set(right_maybe)
        ext = set(right.columns) - set(cur.columns)
        nullable_shared = sorted(
            set(cur.columns) & set(right.columns) & set(outer_maybe)
        )
        if not join_filters and not nullable_shared:
            return A.optional(cur, right), ext | right_maybe
        # general LeftJoin: inner compatible join + re-emit of the left
        # rows with no surviving match. A row id keys the re-emission
        # (value-based anti-joins mis-handle NULL columns); the lazy
        # localCheckpoint freezes the nondeterministic ids at first
        # materialization so both branches read identical values.
        lid = "__lid"
        cur_id = cur.withColumn(lid, F.monotonically_increasing_id())
        cur_id = cur_id.localCheckpoint(eager=False)
        merged = A.compatible_join(cur_id, right, nullable_shared)
        for e in join_filters:
            merged = merged.where(self.bool_expr(e, merged))
        lonely = cur_id.join(merged.select(lid), lid, "left_anti")
        extra = [c for c in merged.columns if c not in cur_id.columns]
        lonely = lonely.select(
            *cur_id.columns, *[F.lit(None).cast("string").alias(c) for c in extra]
        )
        out = merged.select(*cur_id.columns, *extra).unionByName(lonely).drop(lid)
        return out, ext | right_maybe | set(nullable_shared)

    # -- expressions ---------------------------------------------------------
    @staticmethod
    def _ast_kind(e) -> str:
        if isinstance(e, tuple):
            if e[0] == "op":
                return "bool" if e[1] in ("=", "!=", "<", ">", "<=", ">=", "&&", "||") else "num"
            if e[0] == "not":
                return "bool"
            if e[0] == "in":
                return "bool"
            if e[0] == "call":
                n = e[1]
                if n in (
                    "bound", "regex", "contains", "strstarts", "strends",
                    "isblank", "isiri", "isuri", "isliteral", "isnumeric",
                    "sameterm",
                ):
                    return "bool"
                if n in ("strlen", "abs", "ceil", "floor", "round"):
                    return "num"
                if n in ("iri", "uri"):
                    return "iri"
                if n in ("if", "coalesce"):
                    return "term"
                return "str"
            if e[0] == "lit":
                return "const"
            if e[0] in ("var", "iri"):
                return "term"
        return "term"

    @staticmethod
    def _numeric_ast(e) -> bool:
        return (
            isinstance(e, tuple)
            and (
                (e[0] == "lit" and e[2] in ("xsd:integer", "xsd:decimal"))
                or (e[0] == "op" and e[1] in ("+", "-", "*", "/"))
                or (
                    e[0] == "call"
                    and e[1] in ("strlen", "abs", "ceil", "floor", "round")
                )
            )
        )

    @staticmethod
    def _term_kind(e, df: DataFrame) -> Column | None:
        """IRI-ness of a term-form expression AST (True = IRI/bnode,
        False = literal), read from the raw term tag; None when the AST
        is not a plain term (calls, arithmetic — value comparison only)."""
        if e[0] == "var" and e[1] in df.columns:
            return F.col(e[1]).startswith("I|")
        if e[0] == "iri":
            return F.lit(True)
        if e[0] == "lit":
            return F.lit(False)
        return None

    def value_expr(self, e, df: DataFrame) -> Column:
        """Value mode: plain Spark value (string/number/boolean)."""
        if e[0] == "in":
            # (NOT) IN (§17.4.1.9): an =-chain with the same per-element
            # numeric-vs-lexical comparison rule as the binary `=` op
            _, lhs, items, neg = e
            ca = self.value_expr(lhs, df)
            cond = F.lit(False)
            for it in items:
                cb = self.value_expr(it, df)
                if self._numeric_ast(it) or self._numeric_ast(lhs):
                    cond = cond | (ca.cast("double") == cb.cast("double"))
                else:
                    cond = cond | (ca == cb)
            return ~cond if neg else cond
        if e[0] == "var":
            if e[1] not in df.columns:
                return F.lit(None).cast("string")
            return term_value(F.col(e[1]))
        if e[0] == "iri":
            return F.lit(e[1])
        if e[0] == "lit":
            if e[2] in ("xsd:integer", "xsd:decimal"):
                try:
                    return F.lit(int(e[1]))
                except ValueError:
                    # decimals AND exotic lexical forms (1e-07, inf)
                    return F.lit(float(e[1]))
            if e[2] == XSD_BOOLEAN:
                return F.lit(e[1] == "true")
            return F.lit(e[1])
        if e[0] == "not":
            return ~self.bool_expr(e[1], df)
        if e[0] == "op":
            op, a, b = e[1], e[2], e[3]
            if op in ("&&", "||"):
                ca, cb = self.bool_expr(a, df), self.bool_expr(b, df)
                return ca & cb if op == "&&" else ca | cb
            ca, cb = self.value_expr(a, df), self.value_expr(b, df)
            if op in ("=", "!=", "<", ">", "<=", ">=") and (
                self._numeric_ast(a) or self._numeric_ast(b)
            ):
                ca, cb = ca.cast("double"), cb.cast("double")
            elif op in ("=", "!="):
                # RDFterm-equal: an IRI never equals a literal, even
                # with the same spelling — the whole-term invariant the
                # module header promises held for joins but not for
                # expression '=' (review r6). The kind conjunct compares
                # the raw term tags; literal-vs-literal comparison stays
                # value-based (the house convention filters rely on).
                ka, kb = self._term_kind(a, df), self._term_kind(b, df)
                if ka is not None and kb is not None:
                    eq = (ka == kb) & (ca == cb)
                    return eq if op == "=" else ~eq
            if op in ("+", "-", "*", "/"):
                ca, cb = ca.cast("double"), cb.cast("double")
            return {
                "=": ca == cb, "!=": ca != cb, "<": ca < cb, ">": ca > cb,
                "<=": ca <= cb, ">=": ca >= cb, "+": ca + cb, "-": ca - cb,
                "*": ca * cb, "/": ca / cb,
            }[op]
        if e[0] == "call":
            return self._call(e[1], e[2], df)
        if e[0] == "rawcol":  # post-aggregation column reference (HAVING)
            return F.col(e[1])
        if e[0] == "agg":
            raise ValueError(
                "aggregate used outside SELECT projection / HAVING context"
            )
        raise ValueError(f"unsupported expression {e!r}")

    def agg_expr(self, e, df: DataFrame, tagged: bool = False) -> Column:
        """One SPARQL aggregate → a Spark aggregate expression over the
        (tagged) bindings. SUM/AVG decode-and-cast to double; MIN/MAX
        operate on the decoded string unless the argument is numeric;
        SAMPLE is pinned to MIN (deterministic pick — SPARQL leaves the
        choice open); GROUP_CONCAT joins the SORTED values (deterministic
        ordering; separator from the §18.5.1.7 clause, default space;
        DISTINCT collapses duplicates).

        ``tagged``: sub-SELECT mode. MIN/MAX/SAMPLE of a bare variable
        then return the input's ORIGINAL TAGGED TERM (SPARQL §18.5.1 —
        Max returns one of the multiset's values, datatype and all), so
        an enclosing BGP's natural join on the projected alias matches
        the stored typed literal. Re-tagging the decoded value as a
        plain literal broke exactly the reference's latest-version
        idiom: ``(max(?release_date) AS ?max)`` joined back against
        ``cg:release_date`` bindings (clinvar aggregate-members,
        aggregate_assertion.clj:157-199)."""
        assert e[0] == "agg", e
        _, fn, distinct, arg, *rest = e
        if fn == "count" and arg == "*":
            return F.count(F.lit(1))
        val = self.value_expr(arg, df)
        if fn == "count":
            return F.countDistinct(val) if distinct else F.count(val)
        if distinct and fn != "group_concat":
            raise ValueError(
                f"DISTINCT is only supported with COUNT/GROUP_CONCAT, not {fn}"
            )
        if fn in ("sum", "avg"):
            v = val.cast("double")
            return F.sum(v) if fn == "sum" else F.avg(v)
        if fn in ("min", "max", "sample"):
            # numeric-aware ordering with lexical fallback: numbers
            # compare as numbers (castable values sort before
            # non-castable), everything else lexically; the ORIGINAL
            # lexical form is returned (repo-wide untagged convention).
            # try_cast: ANSI mode would otherwise raise on mixed values
            dv = val.try_cast("double")
            key = F.struct(
                dv.isNull().cast("int").alias("k1"),
                F.coalesce(dv, F.lit(0.0)).alias("k2"),
                val.alias("k3"),
            )
            ret = val
            if (
                tagged
                and isinstance(arg, tuple)
                and arg[0] == "var"
                and arg[1] in df.columns
            ):
                ret = F.col(arg[1])
            return (
                F.min_by(ret, key) if fn in ("min", "sample") else F.max_by(ret, key)
            )
        if fn == "group_concat":
            sep = rest[0] if rest else " "
            vals = F.collect_set(val) if distinct else F.collect_list(val)
            return F.array_join(F.sort_array(vals), sep)
        raise ValueError(f"unknown aggregate {fn!r}")

    def bool_expr(self, e, df: DataFrame) -> Column:
        c = self.value_expr(e, df)
        return c if self._ast_kind(e) in ("bool",) else c.cast("boolean")

    def _lit_arg(self, e) -> str:
        assert e[0] == "lit", f"expected a literal argument, got {e!r}"
        return e[1]

    def _call(self, name: str, args: list, df: DataFrame) -> Column:
        v = lambda i: self.value_expr(args[i], df)  # noqa: E731
        if name == "bound":
            assert args[0][0] == "var"
            if args[0][1] not in df.columns:
                return F.lit(False)
            return F.col(args[0][1]).isNotNull()
        if name == "sameterm":
            # §17.4.1.8: RDF-term identity — compare the TAGGED encodings
            # so "5" (plain) never equals "5"^^xsd:integer or <5>
            def tagged(a):
                if a[0] == "var":
                    return (
                        F.col(a[1])
                        if a[1] in df.columns
                        else F.lit(None).cast("string")
                    )
                if a[0] == "iri":
                    return F.lit("I|" + a[1])
                if a[0] == "lit":
                    return F.lit(f"L|{a[2] or ''}|{a[1]}")
                return F.lit(None).cast("string")

            return tagged(args[0]) == tagged(args[1])
        if name == "datatype":
            # §17.4.2.7: typed literal → its datatype, plain literal →
            # xsd:string, IRI/blank → error (NULL)
            a = args[0]
            if a[0] == "var":
                if a[1] not in df.columns:
                    return F.lit(None).cast("string")
                c = F.col(a[1])
                return F.when(
                    ~term_is_iri(c),
                    F.coalesce(term_datatype(c), F.lit("xsd:string")),
                )
            if a[0] == "lit":
                return F.lit(a[2] or "xsd:string")
            return F.lit(None).cast("string")
        if name in ("md5", "sha1", "sha256"):
            src = v(0).cast("string")
            return {
                "md5": F.md5(src),
                "sha1": F.sha1(src),
                "sha256": F.sha2(src, 256),
            }[name]
        if name == "encode_for_uri":
            # url_encode is Java form-encoding; fn:encode-for-uri differs
            # on exactly three characters: space (+ → %20), tilde
            # (unreserved, must stay) and asterisk (must encode)
            out = F.url_encode(v(0))
            out = F.replace(out, F.lit("+"), F.lit("%20"))
            out = F.replace(out, F.lit("%7E"), F.lit("~"))
            out = F.replace(out, F.lit("*"), F.lit("%2A"))
            return out
        if name in ("isblank", "isiri", "isuri", "isliteral", "isnumeric"):
            # term-kind tests (SPARQL 1.1 §17.4.2). Blank nodes travel as
            # IRI-tagged terms with the "_:" prefix (the CONSTRUCT /
            # deterministic-bnode convention throughout this repo), so
            # isBlank = IRI-tagged AND "_:"-prefixed; isIRI excludes them.
            a = args[0]
            if a[0] == "var":
                if a[1] not in df.columns:
                    return F.lit(None).cast("boolean")
                c = F.col(a[1])
                blank = term_is_iri(c) & term_value(c).startswith("_:")
                if name == "isblank":
                    r = blank
                elif name in ("isiri", "isuri"):
                    r = term_is_iri(c) & ~term_value(c).startswith("_:")
                elif name == "isliteral":
                    r = ~term_is_iri(c)
                else:  # isnumeric: a literal whose value casts to double
                    r = ~term_is_iri(c) & term_value(c).try_cast(
                        "double"
                    ).isNotNull()
                # an unbound (NULL) term is an error per spec → NULL,
                # which FILTER treats as not-true
                return F.when(c.isNotNull(), r)
            if a[0] == "iri":
                is_b = a[1].startswith("_:")
                return F.lit(
                    is_b if name == "isblank"
                    else (not is_b) if name in ("isiri", "isuri")
                    else False
                )
            if a[0] == "lit":
                if name == "isliteral":
                    return F.lit(True)
                if name == "isnumeric":
                    return F.lit(a[1]).try_cast("double").isNotNull()
                return F.lit(False)
            return F.lit(None).cast("boolean")
        if name == "coalesce":
            return F.coalesce(*[self.value_expr(a, df) for a in args])
        if name == "if":
            return F.when(self.bool_expr(args[0], df), v(1)).otherwise(v(2))
        if name == "concat":
            return F.concat(*[self.value_expr(a, df).cast("string") for a in args])
        if name in ("iri", "uri", "str"):
            return v(0)
        if name == "strlen":
            return F.length(v(0))
        if name in ("abs", "ceil", "floor", "round"):
            n = v(0).cast("double")
            return {
                "abs": F.abs(n),
                "ceil": F.ceil(n).cast("double"),
                "floor": F.floor(n).cast("double"),
                # SPARQL/XPath fn:round: halves round toward POSITIVE
                # infinity (-2.5 → -2), not away from zero — floor(x+0.5)
                "round": F.floor(n + F.lit(0.5)).cast("double"),
            }[name]
        if name == "substr":
            ln = v(2) if len(args) > 2 else F.lit(_MAXLEN)
            return v(0).substr(v(1).cast("int"), ln.cast("int"))
        if name == "replace":
            return F.regexp_replace(v(0), self._lit_arg(args[1]), self._lit_arg(args[2]))
        if name == "regex":
            pat = self._lit_arg(args[1])
            if len(args) > 2 and "i" in self._lit_arg(args[2]):
                pat = "(?i)" + pat
            return v(0).rlike(pat)
        if name == "contains":
            return v(0).contains(v(1))
        if name == "strstarts":
            return v(0).startswith(v(1))
        if name == "strends":
            return v(0).endswith(v(1))
        if name == "lcase":
            return F.lower(v(0))
        if name == "ucase":
            return F.upper(v(0))
        if name == "strafter":
            x = self._lit_arg(args[1])
            p = F.instr(v(0), x)
            return F.when(p > 0, v(0).substr(p + len(x), F.lit(_MAXLEN))).otherwise(F.lit(""))
        if name == "strbefore":
            x = self._lit_arg(args[1])
            p = F.instr(v(0), x)
            return F.when(p > 0, v(0).substr(F.lit(1), p - 1)).otherwise(F.lit(""))
        raise ValueError(f"unsupported function {name!r}")

    def term_expr(self, e, df: DataFrame) -> Column:
        """Term mode: tagged term string (for BIND / CONSTRUCT)."""
        if e[0] == "var":
            return F.col(e[1]) if e[1] in df.columns else F.lit(None).cast("string")
        if e[0] in ("iri", "lit"):
            return F.lit(_tag_const(e))
        if e[0] == "call" and e[1] == "if":
            return F.when(
                self.bool_expr(e[2][0], df), self.term_expr(e[2][1], df)
            ).otherwise(self.term_expr(e[2][2], df))
        if e[0] == "call" and e[1] == "coalesce":
            return F.coalesce(*[self.term_expr(a, df) for a in e[2]])
        if e[0] == "call" and e[1] in ("iri", "uri"):
            return F.concat(F.lit("I|"), self.value_expr(e[2][0], df))
        kind = self._ast_kind(e)
        val = self.value_expr(e, df)
        if kind == "bool":
            return F.concat(
                F.lit("L|" + XSD_BOOLEAN + "|"),
                F.when(val, F.lit("true")).otherwise(F.lit("false")),
            )
        if kind == "num":
            # integral results tag xsd:integer; fractional ones must NOT
            # truncate (BIND(ABS(?x)) / division produce decimals)
            d = val.cast("double")
            return (
                F.when(d.isNull(), F.lit(None).cast("string"))
                .when(
                    d == F.floor(d),
                    F.concat(
                        F.lit("L|xsd:integer|"), d.cast("long").cast("string")
                    ),
                )
                .otherwise(F.concat(F.lit("L|xsd:decimal|"), d.cast("string")))
            )
        return F.when(
            val.isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat(F.lit("L||"), val.cast("string")))


# ===========================================================================
# Public API
# ===========================================================================


def _rename_vars(e, ren: dict, keep: set):
    """Rewrite variable references in a filter expression AST for the
    correlated-EXISTS join condition: a var bound only in the EXISTS
    sub-pattern takes its renamed (``__ex_``-prefixed) column; a var the
    outer solution binds keeps its name (for shared vars the join's
    equality makes either side equivalent — the outer one avoids a
    rename)."""
    if isinstance(e, tuple):
        if e and e[0] == "var":
            v = e[1]
            return e if (v in keep or v not in ren) else ("var", ren[v])
        return tuple(_rename_vars(x, ren, keep) for x in e)
    if isinstance(e, list):
        return [_rename_vars(x, ren, keep) for x in e]
    return e


def _subst(node, mapping: dict):
    """Substitute pre-bound variables with constant terms, recursively.
    Recurses into nested sub-SELECT Query nodes (pre-binding reaches
    inner scopes the way a QuerySolutionMap does in Jena)."""
    if isinstance(node, Query):
        import dataclasses

        # a pre-bound var that the sub-SELECT projects or groups by no
        # longer appears in its substituted pattern — re-introduce it as
        # a BIND of the constant so the projection/groupBy still resolves
        binds = [
            ("bind", mapping[v], v)
            for v in dict.fromkeys([*node.select_vars, *node.group_by])
            if v in mapping
        ]
        return dataclasses.replace(
            node,
            pattern=_subst(node.pattern, mapping) + binds,
            select_exprs=_subst(node.select_exprs, mapping),
            having=_subst(node.having, mapping),
            templates=_subst(node.templates, mapping),
            describe_terms=_subst(node.describe_terms, mapping),
        )
    if isinstance(node, tuple):
        if node[0] == "var" and node[1] in mapping:
            return mapping[node[1]]
        return tuple(_subst(x, mapping) for x in node)
    if isinstance(node, list):
        return [_subst(x, mapping) for x in node]
    return node


def _apply_names(node, names: dict):
    """Expand default-prefix CURIE-keywords (``:sepio/x``) to full IRIs
    through a local-names table (``functions.names.load_names_edn``) —
    the reference's keyword→IRI resolution (database/names.clj:61-90).
    Walks the whole AST: BGP terms, path ``pred``/``neg`` leaves,
    expression and template constants, nested sub-SELECT queries."""
    if isinstance(node, Query):
        import dataclasses

        return dataclasses.replace(
            node,
            pattern=_apply_names(node.pattern, names),
            select_exprs=_apply_names(node.select_exprs, names),
            having=_apply_names(node.having, names),
            templates=_apply_names(node.templates, names),
            describe_terms=_apply_names(node.describe_terms, names),
        )
    if isinstance(node, tuple):
        if (
            len(node) == 2
            and node[0] in ("iri", "pred")
            and isinstance(node[1], str)
        ):
            return (node[0], names.get(node[1], node[1]))
        if len(node) == 2 and node[0] == "neg" and isinstance(node[1], list):
            return ("neg", [names.get(p, p) for p in node[1]])
        return tuple(_apply_names(x, names) for x in node)
    if isinstance(node, list):
        return [_apply_names(x, names) for x in node]
    return node


class PreparedQuery:
    """A parsed SPARQL query, executable against any triples DataFrame
    with the repo schema (graph, subject, predicate, object,
    object_is_iri, object_datatype) — the create-query analog
    (resource.clj:223-239).

    ``names`` (optional): a ``{":ns/name": iri}`` local-names table;
    when given, default-prefix keywords in the query expand to full
    IRIs, matching the reference's Jena-side keyword resolution. The
    engine-wide default (names=None) keeps the raw-CURIE convention."""

    def __init__(self, text: str, names: dict | None = None):
        self.text = text
        self.ast = parse_sparql(text)
        if names:
            q = self.ast
            q.pattern = _apply_names(q.pattern, names)
            q.templates = _apply_names(q.templates, names)
            q.select_exprs = _apply_names(q.select_exprs, names)
            q.describe_terms = _apply_names(q.describe_terms, names)
            q.having = _apply_names(q.having, names)

    def run(
        self,
        triples: DataFrame,
        per_graph: DataFrame | None = None,
        **params,
    ):
        """Execute. ``params`` pre-bind variables (QuerySolutionMap,
        resource.clj:86-92): a plain string binds a literal; an
        ``('iri', value)`` tuple binds an IRI. Returns a DataFrame for
        SELECT (decoded value columns) and CONSTRUCT (repo triple
        schema), a bool for ASK.

        ``per_graph`` (corpus mode) generalizes pre-binding to N named
        graphs in ONE job: a frame with a raw ``graph`` column plus one
        TAGGED term column per variable (``"I|<iri>"`` / ``"L|dt|<v>"``;
        see :func:`tag_iri`). The query compiles graph-scoped — every
        scan, join, path step, OPTIONAL/UNION/MINUS/EXISTS subgroup
        stays within one graph, and each graph's row of ``per_graph``
        is its QuerySolutionMap. Only CONSTRUCT is supported (the GDM
        corpus chain's need); constructed triples carry their graph.

        Scale: ``per_graph`` is one row per graph (the same cardinality
        class as the graph dimension); seed joins co-key on the graph
        term alongside the pattern's own join keys, so the plan stays
        shuffle-partitioned by graph — no driver loop over curations.
        """
        q = self.ast
        if per_graph is not None:
            if q.form not in ("construct", "select", "ask"):
                raise SparqlSyntaxError(
                    "per_graph (corpus) mode supports CONSTRUCT, SELECT "
                    "and ASK queries"
                )
            if "graph" not in per_graph.columns:
                raise ValueError("per_graph frame needs a 'graph' column")
            seed = per_graph.select(
                F.concat(F.lit("I|"), F.col("graph")).alias(GRAPH_BINDING),
                *[c for c in per_graph.columns if c != "graph"],
            )
        # Jena's QuerySolutionMap binds Clojure numbers/booleans as TYPED
        # literals, so a pre-bound number participates in numeric FILTER
        # comparisons (find.clj's coordinate-range query filters
        # ?start_position > ?start with an int-typed ?start); mirror that
        # typing here. bool before int: bool subclasses int in Python.
        mapping = {}
        for k, v in params.items():
            if isinstance(v, tuple):
                mapping[k] = ("iri", v[1])
            elif isinstance(v, bool):
                mapping[k] = ("lit", "true" if v else "false", XSD_BOOLEAN)
            elif isinstance(v, int):
                mapping[k] = ("lit", str(v), "xsd:integer")
            elif isinstance(v, float):
                # decimal lexical form — repr() yields scientific
                # notation for small/large magnitudes, which the literal
                # branch of value_expr cannot parse
                mapping[k] = ("lit", f"{v:f}", "xsd:decimal")
            else:
                mapping[k] = ("lit", str(v), None)
        pattern = _subst(q.pattern, mapping) if mapping else q.pattern
        templates = _subst(q.templates, mapping) if mapping else q.templates
        if mapping:
            # a pre-bound var the TOP-LEVEL query projects or groups by
            # no longer appears in the substituted pattern — re-introduce
            # it as a BIND of the constant so it stays visible in the
            # result, the way Jena's QuerySolutionMap bindings do
            # (clinical_assertion.clj projects its pre-bound ?subject)
            pattern = pattern + [
                ("bind", mapping[v], v)
                for v in dict.fromkeys([*q.select_vars, *q.group_by])
                if v in mapping
            ]
        if per_graph is not None:
            c = _Compiler(triples, graph_var=GRAPH_BINDING, graph_seed=seed)
        else:
            c = _Compiler(triples)
        bindings = c.group(pattern)
        if q.form == "ask":
            if per_graph is not None:
                # per-graph ASK: one boolean PER GRAPH (the reference
                # runs its activity ASKs once per event model) — the
                # seed's graphs left-join the solutions' graph set
                got = (
                    bindings.select(GRAPH_BINDING)
                    .distinct()
                    .withColumn("_e", F.lit(True))
                )
                return (
                    seed.select(GRAPH_BINDING)
                    .distinct()
                    .join(got, GRAPH_BINDING, "left")
                    .select(
                        term_value(F.col(GRAPH_BINDING)).alias("graph"),
                        F.coalesce(F.col("_e"), F.lit(False)).alias("result"),
                    )
                )
            return A.ask(bindings)
        if q.form == "construct":
            # A template bnode (_:label) denotes a FRESH blank node PER
            # SOLUTION ROW (SPARQL 1.1 §16.2.1), not a shared constant —
            # construct_secondary_contributions.sparql relies on this.
            # Deterministic freshness: suffix the label with the md5 of
            # the row's full binding tuple (distinct solutions → distinct
            # bnodes; duplicate solutions merge, which dropDuplicates
            # does anyway — bnode-isomorphic to Jena's _:b0.._bN).
            if len(templates) > 1:
                # Every template triple re-embeds the full compiled WHERE
                # DAG; on the reference's 20-template / 40-OPTIONAL
                # constructs Catalyst then re-analyzes the pattern once
                # PER TEMPLATE (the dominant fixed cost of the transform
                # chain). Truncate the lineage once — each template then
                # selects from a leaf. Lazy: the solutions job runs when
                # the first template is consumed (review r6).
                bindings = bindings.localCheckpoint(eager=False)
            row_suffix = F.md5(
                F.concat_ws(
                    "\x01", *[F.coalesce(F.col(c), F.lit("\x02")) for c in sorted(bindings.columns)]
                )
            )

            def _tpl_iri(v: str):
                if v.startswith("_:"):
                    return F.concat(F.lit(v + "-"), row_suffix)
                return F.lit(v)

            graph_col = (
                term_value(F.col(GRAPH_BINDING))
                if per_graph is not None
                else F.lit(None).cast("string")
            )
            outs = []
            for s, path, o in templates:
                assert path[0] in ("pred", "pvar"), "CONSTRUCT templates take simple predicates"
                pred = (
                    F.lit(path[1])
                    if path[0] == "pred"
                    else term_value(F.col(path[1]))
                )
                def _anon_tpl(t) -> bool:
                    # an anonymous `[]` in the TEMPLATE (never bound by
                    # the pattern) is a fresh blank node per solution
                    # (§16.2.1), same as an explicit `_:label` — it must
                    # not compile to an unbound NULL var (review r6)
                    return (
                        t[0] == "var"
                        and t[1].startswith("_anon_")
                        and t[1] not in bindings.columns
                    )

                if _anon_tpl(s):
                    subj = _tpl_iri("_:" + s[1])
                else:
                    subj = (
                        term_value(F.col(s[1])) if s[0] == "var" else _tpl_iri(s[1])
                    )
                if _anon_tpl(o):
                    obj, is_iri, dt = (
                        _tpl_iri("_:" + o[1]),
                        F.lit(True),
                        F.lit(None).cast("string"),
                    )
                elif o[0] == "var":
                    oc = F.col(o[1]) if o[1] in bindings.columns else F.lit(None).cast("string")
                    obj, is_iri, dt = term_value(oc), term_is_iri(oc), term_datatype(oc)
                elif o[0] == "iri":
                    obj, is_iri, dt = _tpl_iri(o[1]), F.lit(True), F.lit(None).cast("string")
                else:
                    obj, is_iri, dt = F.lit(o[1]), F.lit(False), F.lit(o[2]).cast("string")
                sc = (
                    subj
                    if s[0] != "var"
                    or s[1] in bindings.columns
                    or _anon_tpl(s)
                    else F.lit(None)
                )
                src = bindings
                if s[0] == "var" and s[1] in bindings.columns:
                    # literal-bound subject vars make ill-formed triples;
                    # SPARQL/Jena silently skip them (bnodes keep their
                    # I| tag, so they pass) — ADVICE r4
                    src = src.where(term_is_iri(F.col(s[1])))
                if path[0] == "pvar" and path[1] in bindings.columns:
                    # same for literal-bound predicate vars
                    src = src.where(term_is_iri(F.col(path[1])))
                outs.append(
                    src.select(
                        graph_col.alias("graph"),
                        sc.cast("string").alias("subject"),
                        pred.cast("string").alias("predicate"),
                        obj.cast("string").alias("object"),
                        is_iri.alias("object_is_iri"),
                        dt.alias("object_datatype"),
                    ).where(
                        F.col("subject").isNotNull() & F.col("object").isNotNull()
                    )
                )
            return reduce(lambda a, b: a.unionByName(b), outs).dropDuplicates()
        if q.form == "describe":
            # DESCRIBE takes the UNION of descriptions over every listed
            # term — all variables' bindings plus every constant IRI,
            # not just the first term (review r6)
            parts = []
            if q.pattern:
                for t in q.describe_terms:
                    if t[0] == "var" and t[1] in bindings.columns:
                        parts.append(
                            bindings.select(
                                term_value(F.col(t[1])).alias("node")
                            )
                        )
            const_iris = [(t[1],) for t in q.describe_terms if t[0] == "iri"]
            if const_iris or not parts:
                parts.append(
                    triples.sparkSession.createDataFrame(
                        const_iris, "node string"
                    )
                )
            nodes = reduce(lambda a, b: a.unionByName(b), parts).distinct()
            return A.describe(triples, nodes)

        # SELECT
        if per_graph is not None:
            return _select_project_per_graph(c, q, bindings)
        return _select_project(c, q, bindings, tagged=False)


def _contains_agg(e) -> bool:
    if isinstance(e, tuple):
        return e[0] == "agg" or any(_contains_agg(x) for x in e)
    if isinstance(e, list):
        return any(_contains_agg(x) for x in e)
    return False


def _select_project(c: "_Compiler", q: Query, bindings: DataFrame, tagged: bool) -> DataFrame:
        """SELECT projection + aggregation + solution modifiers over
        compiled (tagged) bindings. ``tagged=False`` decodes terms to
        plain values — the top-level result frame. ``tagged=True`` keeps
        the tagged-term encoding so the frame can re-enter an enclosing
        group as a sub-SELECT (SPARQL 1.1 §12); aggregate and computed
        columns are re-tagged as plain literals (their lexical value is
        what outer FILTER / join comparisons decode — a later BGP join
        on a DATATYPED aggregate output would need the original tag,
        which MIN/MAX discard by design; none of the reference
        subqueries do that)."""
        contains_agg = _contains_agg
        has_agg = bool(q.group_by) or any(
            contains_agg(e) for e, _ in q.select_exprs
        )
        cols = q.select_vars or [
            col for col in bindings.columns if not col.startswith("_")
        ]

        def retag(col: Column) -> Column:
            # plain-literal re-tag; NULL (unbound) stays NULL
            return F.when(
                col.isNotNull(), F.concat(F.lit("L||"), col.cast("string"))
            )

        if has_agg:
            # grouped projection: every computed column must be an
            # aggregate; group keys stay tagged through the groupBy and
            # decode on the way out. HAVING aggregates become hidden
            # agg columns, dropped after the filter.
            aggs = []
            pretagged: set = set()
            for e, alias in q.select_exprs:
                if not contains_agg(e):
                    raise SparqlSyntaxError(
                        f"non-aggregate projection ({alias}) in a grouped SELECT"
                    )
                aggs.append(c.agg_expr(e, bindings, tagged=tagged).alias(alias))
                if (
                    tagged
                    and e[0] == "agg"
                    and e[1] in ("min", "max", "sample")
                    and isinstance(e[3], tuple)
                    and e[3][0] == "var"
                ):
                    pretagged.add(alias)

            hidden: list = []

            def rewrite(e):
                if isinstance(e, tuple):
                    if e[0] == "agg":
                        name = f"_hav{len(hidden)}"
                        hidden.append((name, e))
                        return ("rawcol", name)
                    return tuple(rewrite(x) for x in e)
                if isinstance(e, list):
                    return [rewrite(x) for x in e]
                return e

            having = [rewrite(h) for h in q.having]
            for name, e in hidden:
                aggs.append(c.agg_expr(e, bindings).alias(name))
            if q.group_by and not aggs:
                # GROUP BY with no aggregate projections (SPARQL §11:
                # grouped vars project directly — one row per group, i.e.
                # DISTINCT over the keys; actionability.clj's
                # uniq-disease-pairs `GROUP BY ?gene ?disease` shape).
                # Spark's groupBy().agg() requires >=1 expr, so compile
                # as dropDuplicates on the keys instead.
                grouped = bindings.select(*q.group_by).dropDuplicates(q.group_by)
            else:
                grouped = (
                    bindings.groupBy(*q.group_by).agg(*aggs)
                    if q.group_by
                    else bindings.agg(*aggs)
                )
            for h in having:
                grouped = grouped.where(c.bool_expr(h, grouped))
            if tagged:
                # group keys keep their tags; MIN/MAX/SAMPLE-of-a-var
                # outputs are already the original tagged terms; other
                # aggregate outputs re-tag as plain literals
                out = grouped.select(
                    *[
                        F.col(v)
                        if v in q.group_by or v in pretagged
                        else retag(F.col(v)).alias(v)
                        for v in cols
                    ]
                )
            else:
                out = grouped.select(
                    *[
                        term_value(F.col(v)).alias(v) if v in q.group_by else F.col(v)
                        for v in cols
                    ]
                )
        elif tagged:
            computed = {
                alias: (
                    F.col(e[1])
                    if e[0] == "var" and e[1] in bindings.columns
                    else c.term_expr(e, bindings)
                    if e[0] in ("var", "iri", "lit")
                    else retag(c.value_expr(e, bindings))
                )
                for e, alias in q.select_exprs
            }
            out = bindings.select(
                *[
                    computed[v].alias(v)
                    if v in computed
                    else (
                        F.col(v)
                        if v in bindings.columns
                        else F.lit(None).cast("string").alias(v)
                    )
                    for v in cols
                ]
            )
        else:
            computed = {alias: c.value_expr(e, bindings) for e, alias in q.select_exprs}
            out = bindings.select(
                *[
                    computed[v].alias(v)
                    if v in computed
                    else (
                        term_value(F.col(v)).alias(v)
                        if v in bindings.columns
                        else F.lit(None).cast("string").alias(v)
                    )
                    for v in cols
                ]
            )
        if q.distinct:
            out = out.dropDuplicates()
        if q.order or q.limit is not None or q.offset:
            if tagged:
                # order on DECODED values (numeric-aware castable-first
                # key, the agg MIN/MAX convention), project tags through.
                # Leading field: the SPARQL §15.1 term-kind tier —
                # unbound < blank node < IRI < literal (tags are still
                # present here, so the full tier is implementable; the
                # untagged path below can only honor unbound-lowest).
                keys = []
                for v, d in q.order:
                    oc = F.col(v)
                    val = term_value(oc)
                    dv = val.try_cast("double")
                    kind = (
                        F.when(oc.isNull(), 0)
                        .when(term_is_iri(oc) & val.startswith("_:"), 1)
                        .when(term_is_iri(oc), 2)
                        .otherwise(3)
                    )
                    k = F.struct(
                        kind.alias("k0"),
                        F.coalesce(dv.isNull().cast("int"), F.lit(1)).alias("k1"),
                        F.coalesce(dv, F.lit(0.0)).alias("k2"),
                        F.coalesce(val, F.lit("")).alias("k3"),
                    )
                    keys.append(k.desc() if d == "desc" else k.asc())
                if keys:
                    out = out.orderBy(*keys)
                if q.offset:
                    from pyspark.sql import Window as _W

                    w = _W.orderBy(*(keys or [F.lit(1)]))
                    out = (
                        out.withColumn("_rn", F.row_number().over(w))
                        .where(F.col("_rn") > q.offset)
                        .drop("_rn")
                    )
                if q.limit is not None:
                    out = out.limit(q.limit)
            else:
                # numeric-aware: bindings are untagged strings here, so "10"
                # must not sort before "9" (castable-numeric-first key, the
                # same convention agg MIN/MAX already use)
                out = A.slice(out, limit=q.limit, offset=q.offset,
                              order=q.order or None, numeric_aware=True) \
                    if (q.offset or q.limit is not None) \
                    else A.order_by(out, *q.order, numeric_aware=True)
        return out


def _select_project_per_graph(c: "_Compiler", q: Query, bindings: DataFrame) -> DataFrame:
    """SELECT in per-graph (corpus) mode: the reference runs each of
    these queries PER EVENT MODEL, so every solution modifier scopes to
    one graph — aggregates group WITHIN a graph, DISTINCT is per
    (graph, row), and ORDER BY/LIMIT/OFFSET pick each graph's top rows
    (``has-affiliation-query``'s ``ORDER BY DESC(?date) LIMIT 1`` must
    yield one row PER CURATION, not one row total).

    Shape: reuse :func:`_select_project` with the graph binding
    appended to the projection (and to GROUP BY when aggregating), then
    apply the modifiers as ONE window partitioned by graph — no global
    single-partition sort, no per-graph loop."""
    import copy

    q2 = copy.copy(q)
    base_vars = q.select_vars or [
        col for col in bindings.columns if not col.startswith("_")
    ]
    # ORDER BY may reference non-projected vars (SPARQL §15.1; Spark's
    # ResolveMissingReferences covers a global orderBy but NOT window
    # expressions) — carry them through as hidden columns
    hidden = [
        v
        for v, _ in q.order
        if v not in base_vars and v in bindings.columns
    ]
    q2.select_vars = list(base_vars) + hidden + [GRAPH_BINDING]
    if q.group_by or any(_contains_agg(e) for e, _ in q.select_exprs):
        q2.group_by = list(q.group_by) + [GRAPH_BINDING]
    q2.order, q2.limit, q2.offset = [], None, 0
    out = _select_project(c, q2, bindings, tagged=False)
    if q.order or q.limit is not None or q.offset:
        from pyspark.sql import Window as _W

        keys = (
            list(A._sort_exprs(q.order, numeric_aware=True))
            if q.order
            else [F.lit(1)]
        )
        w = _W.partitionBy(GRAPH_BINDING).orderBy(*keys)
        out = out.withColumn("_rn", F.row_number().over(w))
        if q.offset:
            out = out.where(F.col("_rn") > q.offset)
        if q.limit is not None:
            out = out.where(F.col("_rn") <= q.offset + q.limit)
        out = out.drop("_rn")
    return out.drop(*hidden).withColumnRenamed(GRAPH_BINDING, "graph")


def sparql(triples: DataFrame, text: str, /, names: dict | None = None, **params):
    """Parse + run in one call (create-query + execute,
    resource.clj:201-239). ``triples`` and ``text`` are positional-only
    so a query may pre-bind a variable literally named ``?text`` (the
    find query, source/graphql/schema/find.clj:70-75, does)."""
    return PreparedQuery(text, names=names).run(triples, **params)


def transform_chain(
    model: DataFrame,
    steps: list,
    params: dict | None = None,
) -> DataFrame:
    """Run a sequence of SPARQL transforms the way the reference's
    ``transform-gdm`` does (``transform/gene_validity_refactor.clj:414-463``):
    a union of CONSTRUCT outputs over the SOURCE model, then rewrite /
    augment passes over the ACCUMULATED model.

    ``steps`` — (kind, query) pairs, ``query`` a string or
    :class:`PreparedQuery`:

    - ``('construct', q)`` — run against the SOURCE model; output unions
      into the accumulated model (the 22-query ``q/union`` block).
    - ``('rewrite', q)`` — run against the ACCUMULATED model and REPLACE
      it (the ``unlink_*`` copy-all-except queries:
      ``CONSTRUCT {?s ?p ?o} WHERE { ?s ?p ?o . minus {...} }``).
    - ``('augment', q)`` — run against the accumulated model; output
      unions in (``construct-evidence-connections`` /
      ``add-legacy-website-id`` style).

    ``params`` pre-bind variables for every step (the shared ``params``
    map: ``:pmbase``, ``:affiliation``, ...).

    Scale: each step is one declarative plan; the accumulated model is
    lazily localCheckpointed after every rewrite/augment so the ~25-step
    chain's lineage stays bounded (house rule — checkpoint, not persist)
    and earlier steps never re-execute. dropDuplicates at the end gives
    the chain RDF set semantics, matching Jena model union."""
    params = params or {}

    def run(q, frame):
        pq = q if isinstance(q, PreparedQuery) else PreparedQuery(q)
        out = pq.run(frame, **params)
        if not isinstance(out, DataFrame):
            raise TypeError("transform_chain steps must be CONSTRUCT queries")
        return out

    acc: DataFrame | None = None
    for kind, q in steps:
        if kind == "construct":
            out = run(q, model)
            acc = out if acc is None else acc.unionByName(out)
        elif kind == "rewrite":
            assert acc is not None, "rewrite before any construct step"
            acc = run(q, acc).localCheckpoint(eager=False)
        elif kind == "augment":
            assert acc is not None, "augment before any construct step"
            acc = acc.localCheckpoint(eager=False)
            acc = acc.unionByName(run(q, acc))
        else:
            raise ValueError(f"unknown step kind {kind!r}")
    assert acc is not None, "transform_chain needs at least one step"
    return acc.dropDuplicates()


def load_query_dir(path: str, names: dict | None = None) -> dict:
    """Load every ``.sparql`` file in a directory into a name →
    :class:`PreparedQuery` map — the ``declare-query`` pattern
    (``transform/gene_validity_refactor.clj:31-53`` binds each resource
    file to a var at load time). Names are the file stems with ``-`` for
    ``_`` stripped of extension, matching the reference's var names
    (``construct_proband_score.sparql`` → ``construct-proband-score``).
    Parse errors fail at LOAD time with the file named — queries are
    compiled before any data is touched, like the reference."""
    import os

    out: dict[str, PreparedQuery] = {}
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".sparql"):
            continue
        name = fn[: -len(".sparql")].replace("_", "-")
        try:
            out[name] = PreparedQuery(
                open(os.path.join(path, fn)).read(), names=names
            )
        except SparqlSyntaxError as e:
            raise SparqlSyntaxError(f"{fn}: {e}") from None
    return out
