"""Fixpoints: the one path-doubling closure and the one round loop.

Every recursive operator of the engine runs through this module — SPARQL
``*``/``+`` property paths and :func:`.algebra.transitive_closure` (the
``rdfs:subClassOf*`` traversal of the reference,
``source/graphql/common/curation.clj:303-314``) via :func:`closure`;
DESCRIBE's blank-node closure and the connected-components star
contraction via :func:`iterate`. :func:`compose` is the hop join shared
by the closure and SPARQL sequence / bounded-repetition paths.

Round loop: each round's frame is checkpointed lazily and materialized by
its ``count`` — one Spark action per round (an eager checkpoint followed
by a count is two), and the checkpoint cuts the lineage that would
otherwise grow with every round. A loop that has not reached its fixpoint
after ``max_iter`` rounds raises; no caller gets a partial answer.

Local or distributed is decided from a size the code has observed, never
from a switch: :func:`closure` saturates on the driver while the pairs it
holds stay within :data:`PAIR_BUDGET` (bounded by the *output*, so a
long chain whose closure is quadratic in its edges bails out instead of
filling the driver heap) and otherwise runs the distributed doubling
loop. Both paths return the same set.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Most (node, next, *keys) pairs the driver-local closure may hold —
#: probed edges plus every pair derived during saturation.
PAIR_BUDGET = 100_000


def compose(a: DataFrame, b: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """(node, next, *keys) pairs of an ``a`` hop followed by a ``b`` hop
    (bag semantics); both hops must agree on every ``keys`` column."""
    l, r = a.alias("l"), b.alias("r")
    cond = F.col("l.next") == F.col("r.node")
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return l.join(r, cond).select(
        F.col("l.node").alias("node"),
        F.col("r.next").alias("next"),
        *[F.col(f"l.{k}").alias(k) for k in keys],
    )


def _same_count(prev: DataFrame, cur: DataFrame, prev_n: int, n: int) -> bool:
    return prev_n == n


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    done: Callable[[DataFrame, DataFrame, int, int], bool] = _same_count,
    *,
    max_iter: int,
    name: str,
    stats: dict | None = None,
) -> DataFrame:
    """Apply ``step`` until ``done(prev, cur, prev_count, count)`` holds
    (default: the row count stopped changing, which is exact for a
    monotone step) and return the last state. ``stats["rounds"]`` gets
    the number of rounds run. Raises ``RuntimeError`` after ``max_iter``
    rounds without a fixpoint."""
    state = state.localCheckpoint(eager=False)
    n = state.count()
    for rnd in range(1, max_iter + 1):
        cur = step(state).localCheckpoint(eager=False)
        m = cur.count()  # the round's one action; materializes the checkpoint
        fixed = done(state, cur, n, m)
        state, n = cur, m
        if fixed:
            if stats is not None:
                stats["rounds"] = rnd
            return state
    raise RuntimeError(f"{name} did not converge in {max_iter} rounds")


def _saturate(rows: list, budget: int) -> list | None:
    """Driver-local closure of (node, next, *keys) rows, or ``None`` once
    the pairs held exceed ``budget``. Monotone set saturation: cycle-safe,
    and it terminates because reach sets only grow."""
    reach: dict[tuple, set] = {}
    for r in rows:
        reach.setdefault((*r[2:], r[0]), set()).add(r[1])
    held = len(rows)  # the probe is distinct
    changed = True
    while changed:
        changed = False
        for (*keys, _), s in reach.items():
            add: set = set()
            for v in s:
                nxt = reach.get((*keys, v))
                if nxt is not None and not nxt <= s:
                    add |= nxt
            add -= s
            if add:
                s |= add
                held += len(add)
                if held > budget:
                    return None
                changed = True
    return [(u, v, *keys) for (*keys, u), s in reach.items() for v in s]


def closure(pairs: DataFrame, keys: tuple[str, ...] = (), max_iter: int = 20) -> DataFrame:
    """One-or-more-hop closure of a (node, next, *keys) pairs frame; the
    ``keys`` columns co-key every hop (a path inside ``GRAPH ?g`` never
    crosses graphs). Returns distinct (node, next, *keys).

    Path doubling: each distributed round joins the closure with itself,
    so a diameter-d graph converges in ⌈log2 d⌉ rounds instead of d — the
    round count, not per-round work, dominates at cluster scale (each
    round is a full shuffle + barrier)."""
    pairs = pairs.select("node", "next", *keys).distinct()
    probe = pairs.limit(PAIR_BUDGET + 1).collect()
    if len(probe) <= PAIR_BUDGET:
        held = _saturate(probe, PAIR_BUDGET)
        if held is not None:
            return pairs.sparkSession.createDataFrame(held, pairs.schema)

    def double(c: DataFrame) -> DataFrame:
        return c.union(compose(c, c, keys)).distinct()

    return iterate(pairs, double, max_iter=max_iter, name="closure")
