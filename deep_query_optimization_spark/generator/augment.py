"""Equivalent-query augmentation.

Reference ``dqo/query_generator/augment.py:10-23`` +
``Tree.permutations`` (``dqo/tree/__init__.py:350-408``) +
``RelationalTree.permutations`` (``relational/tree/__init__.py:213-266``):
enumerate semantically-equivalent re-emissions of a query (child
reorderings, operator flips, selection-chain reorders), keep the
original runtime label — free training data for the estimator.

Our set-based ``Query.to_sql`` is canonical, so variants are produced
by a non-canonical emitter: permuted FROM order, permuted predicate
order, flipped join/comparison operands. Result sets are identical by
construction (commutativity of ∧ and of inner joins).

NOTE on training value: the reference's encoders featurize the
*as-parsed* logical tree, which is order-sensitive, so augmentation
yields genuinely different training vectors for the same label (its
best results were aug-trained, BASELINE.md). Our ``plans.encoder``
featurizes the Catalyst-*optimized* plan, which canonicalizes away
emission order — augmented variants encode identically. Augmentation
here therefore serves (a) SQL-text-level consumers (parser fuzzing,
cache testing) and (b) any future encoder over the analyzed-but-
unoptimized plan; it does NOT inflate plan-space training data.
"""

from __future__ import annotations

import itertools
import random

from deep_query_optimization_spark.relational.models import sql_literal
from deep_query_optimization_spark.relational.query import Query

_FLIP = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "=", "!=": "!="}


def _emit(query: Query, rel_order: list, pred_order: list[int], flips: int, aliases: dict) -> str:
    projs = sorted(query.projections)
    select = ", ".join(p.to_sql(aliases[p.column.table]) for p in projs)
    frm = ", ".join(f"{rel.name} {aliases[rel]}" for rel in rel_order)
    preds: list[str] = []
    k = 0
    for j in sorted(query.joins):
        left = f"{aliases[j.left.table]}.{j.left.column}"
        right = f"{aliases[j.right.table]}.{j.right.column}"
        if flips >> k & 1:
            preds.append(f"{right} {_FLIP.get(j.op, j.op)} {left}")
        else:
            preds.append(f"{left} {j.op} {right}")
        k += 1
    for c in sorted(query.conditions, key=lambda c: (c.column, c.op, str(c.value))):
        # operator-flip variation for range conditions: col ⊗ const →
        # const ⊗' col (reference node.py:219-228)
        if c.op in _FLIP and (flips >> k & 1):
            lit = sql_literal(c.value, c.column.dtype)
            preds.append(f"{lit} {_FLIP[c.op]} {aliases[c.column.table]}.{c.column.column}")
        else:
            preds.append(c.to_sql(aliases[c.column.table]))
        if c.op in _FLIP:
            k += 1
    preds = [preds[i] for i in pred_order]
    sql = f"SELECT {select} FROM {frm}"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    # mixed aggregate + plain projections need the same GROUP BY clause
    # Query.to_sql emits — without it every re-emission of such a query
    # is an AnalysisException, so the hint path would turn a runnable
    # GROUP BY join into an unrunnable candidate
    plain = [p for p in projs if p.func is None]
    if plain and any(p.func for p in projs):
        sql += " GROUP BY " + ", ".join(
            p.to_sql(aliases[p.column.table]).split(" AS ")[0] for p in plain
        )
    return sql


def permutations(query: Query, limit: int = 24, seed: int | None = None) -> list[str]:
    """Up to ``limit`` distinct equivalent SQL emissions of ``query``
    (always including the canonical one first)."""
    rng = random.Random(seed)
    aliases = query._aliases()
    rels = sorted(query.relations)
    n_preds = len(query.joins) + len(query.conditions)
    out: list[str] = [query.to_sql()]
    seen = set(out)

    rel_orders = list(itertools.permutations(rels))[:12]
    pred_orders = list(itertools.permutations(range(n_preds)))[:12] if n_preds <= 5 else None
    n_flippable = len(query.joins) + sum(1 for c in query.conditions if c.op in _FLIP)
    attempts = 0
    while len(out) < limit and attempts < limit * 10:
        attempts += 1
        rel_order = list(rng.choice(rel_orders))
        if pred_orders:
            pred_order = list(rng.choice(pred_orders))
        else:
            pred_order = list(range(n_preds))
            rng.shuffle(pred_order)
        flips = rng.randrange(2 ** max(1, n_flippable))
        sql = _emit(query, rel_order, pred_order, flips, aliases)
        if sql not in seen:
            seen.add(sql)
            out.append(sql)
    return out


def augment_dataset(rows: list[tuple[str, float]], parse=None, per_query: int = 4, seed: int | None = None):
    """Reference ``DatasetAugmenter`` (``datasets/__init__.py:177-209``):
    for (sql, runtime) rows where we still hold the Query object, emit
    equivalent variants with the same runtime label. ``rows`` here is
    [(Query, runtime)] — emission happens at augmentation time."""
    rng = random.Random(seed)
    out: list[tuple[str, float]] = []
    for query, runtime in rows:
        for sql in permutations(query, limit=per_query, seed=rng.randint(0, 2**31)):
            out.append((sql, runtime))
    return out
