"""Plan ingestion + featurization tests."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_query_optimization_spark.catalog import Database
from deep_query_optimization_spark.plans import PlanEncoder, parse_optimized_plan, physical_summary
from deep_query_optimization_spark.plans.parser import (
    _json_head,
    _junction,
    parse_jvm_plan,
    parse_plan_json,
    physical_summary_of,
    plan_shape,
)

SNAPSHOT = "deep_query_optimization_spark/snapshots/sf0.01_schema.json"


@pytest.fixture(scope="module")
def db():
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    return Database.load(str(root / SNAPSHOT))


def test_parse_filter_scan(spark, tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey")
    root = parse_optimized_plan(df)
    kinds = [n.kind for n in root.preorder()]
    assert "selection" in kinds
    assert "relation" in kinds
    assert "projection" in kinds


def test_parse_join_plan(spark, tables):
    df = tables["lineitem"].join(tables["orders"], F.col("l_orderkey") == F.col("o_orderkey")).select("l_quantity")
    root = parse_optimized_plan(df)
    assert root.count("join") == 1
    assert root.count("relation") == 2
    join = next(n for n in root.preorder() if n.kind == "join")
    assert "l_orderkey" in join.condition and "o_orderkey" in join.condition


def test_parse_aggregate_plan(spark, tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    root = parse_optimized_plan(df)
    assert root.count("aggregation") == 1


def test_traversals_consistent(spark, tables):
    df = tables["lineitem"].filter("l_quantity > 5").join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
    root = parse_optimized_plan(df)
    pre, post, bfs = root.preorder(), root.postorder(), root.bfs()
    assert len(pre) == len(post) == len(bfs)
    assert set(id(n) for n in pre) == set(id(n) for n in post)


# -- live plan path vs plan JSON -----------------------------------------

WORKLOAD = "artifacts/gen_r11/workload.csv"


def _assert_same_encoding(enc, plan):
    """The live path's encodings equal those of the whole-plan JSON."""
    live, ref = parse_jvm_plan(plan), parse_plan_json(plan.toJSON())
    for a, b in zip(enc.encode_plan(live), enc.encode_plan(ref)):
        assert np.array_equal(a, b)
    (ids, mat, children), (ids2, mat2, children2) = enc.encode_tree(live), enc.encode_tree(ref)
    assert np.array_equal(ids, ids2) and np.array_equal(mat, mat2) and children == children2


def _optimized(spark, sql):
    return spark.sql(sql)._jdf.queryExecution().optimizedPlan()


def test_live_plan_matches_json_on_workload_sample(spark, tables, db):
    """128 workload rows, one seeded pick per SQL-length stratum: each
    takes the text-shape path and encodes exactly as its plan JSON."""
    import csv
    import random
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    with open(root / WORKLOAD, newline="") as fh:
        sqls = sorted({row["query"] for row in csv.DictReader(fh)}, key=lambda q: (len(q), q))
    rng, k = random.Random(0), 128
    sample = [sqls[rng.randrange(i * len(sqls) // k, (i + 1) * len(sqls) // k)] for i in range(k)]
    enc = PlanEncoder(db)
    for sql in sample:
        plan = _optimized(spark, sql)
        assert plan_shape(plan) is not None, sql
        _assert_same_encoding(enc, plan)


@pytest.mark.parametrize(
    "sql, guarded",
    [
        # the literal's newline spills the Filter onto a second line
        ("SELECT COUNT(*) AS c FROM orders WHERE o_orderpriority = 'a\nb'", True),
        # the subquery's plan prints as an inner child, two levels deeper
        ("SELECT o_orderkey FROM orders WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)", True),
        ("SELECT o_orderkey FROM orders WHERE 1 = 0", False),  # empty LocalRelation
        ("SELECT COUNT(*) AS c FROM orders CROSS JOIN region", False),  # Join without condition
        # the shape holds, but the JSON path names an empty alias by the
        # attribute under it, so parse_jvm_plan falls back to the JSON
        ("SELECT o_orderkey + 1 AS ``, o_custkey FROM orders", False),
    ],
)
def test_live_plan_edge_cases(spark, tables, db, sql, guarded):
    plan = _optimized(spark, sql)
    assert (plan_shape(plan) is None) == guarded
    _assert_same_encoding(PlanEncoder(db), plan)


def test_live_plan_cached_table_takes_json_path(spark, tables, db):
    """An ``InMemoryRelation`` prints its cached physical plan as inner
    children, so the text shape is rejected."""
    tables["region"].filter("r_regionkey >= 0").createOrReplaceTempView("region_cached")
    spark.catalog.cacheTable("region_cached")
    try:
        plan = _optimized(spark, "SELECT r_name FROM region_cached WHERE r_regionkey > 1")
        assert "InMemoryRelation" in plan.toString()
        assert plan_shape(plan) is None
        _assert_same_encoding(PlanEncoder(db), plan)
    finally:
        spark.catalog.uncacheTable("region_cached")
        spark.catalog.dropTempView("region_cached")


# conjunctions whose condition JSON is over the one-reply size
_LONG_AND = " AND ".join(f"o_orderkey <> {k}" for k in range(40))
_LONG_OR = " OR ".join(f"o_custkey = {k}" for k in range(40))


@pytest.mark.parametrize(
    "where",
    [
        _LONG_AND,
        f"({_LONG_OR}) AND o_totalprice > 5",
        # quoted parentheses and AND inside a literal, then a long chain
        f"o_orderstatus LIKE '%x) AND (y%' AND o_orderpriority <> 'it\\'s' AND {_LONG_AND}",
    ],
)
def test_long_condition_json_head(spark, tables, db, where):
    """A condition whose JSON does not fit one reply is fetched as its
    head; the head's text is the whole JSON's, and it encodes the same."""
    plan = _optimized(spark, f"SELECT o_orderkey FROM orders WHERE {where}")
    (i,) = [i for i, (cls, _, _) in enumerate(plan_shape(plan)) if cls == "Filter"]
    cond = plan.apply(i).condition()
    full = json.loads(cond.toJSON())
    head = _json_head(cond)
    assert len(json.dumps(full).encode()) > 8000 and len(head) < len(full)
    assert head == full[: len(head)]
    assert json.dumps(head)[:2000] == json.dumps(full)[:2000]
    _assert_same_encoding(PlanEncoder(db), plan)


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("((a = 1) AND (b = 2))", ("And", "(a = 1)", "(b = 2)")),
        ("((a = 1) OR `x) AND (y`)", ("Or", "(a = 1)", "`x) AND (y`")),
        ("((a = 'it\\'s) OR (') AND (b = 2))", ("And", "(a = 'it\\'s) OR (')", "(b = 2)")),
        ("((a = 1) AND (a = 1))", None),  # equal operands share a child number
        ("(a = 1) AND (b = 2)", None),  # the first parenthesis closes early
        ("(a BETWEEN 1 AND 2 AND b)", None),  # two junctions at one level
        ("(NOT (a AND b))", None),
    ],
)
def test_junction(sql, expected):
    got = _junction(sql)
    if expected is None:
        assert got is None
    else:
        assert (got[0].rsplit(".", 1)[-1], got[1], got[2]) == expected


def test_physical_summary_pushdown(spark, tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    df.collect()
    s = physical_summary_of(df)
    assert s["counts"].get("FileScan", 0) >= 1
    assert s["pushed_filters"], "filter must push into the parquet scan"
    assert any("l_quantity" in p for p in s["pushed_filters"])
    # column pruning: only the two selected columns in ReadSchema
    assert s["read_schema"] and "l_extendedprice" not in s["read_schema"][0]


def test_physical_summary_broadcast_join(spark, tables):
    df = tables["lineitem"].join(F.broadcast(tables["orders"]), F.expr("l_orderkey = o_orderkey"))
    df.collect()
    s = physical_summary_of(df)
    assert s["counts"].get("BroadcastHashJoin", 0) == 1


def test_physical_summary_text_parsing():
    s = physical_summary(
        "*(1) FileScan parquet [a] PushedFilters: [IsNotNull(a), GreaterThan(a,5)], "
        "PartitionFilters: [], ReadSchema: struct<a:bigint>\nBroadcastHashJoin [a], [b]"
    )
    assert s["counts"]["FileScan"] == 1
    assert s["pushed_filters"] == ["IsNotNull(a), GreaterThan(a,5)"]
    assert not s["partition_filters"]


# -- encoder ------------------------------------------------------------


def test_column_vector_layout(db):
    enc = PlanEncoder(db)
    v = enc.column_vector("lineitem", "l_quantity")
    assert v.shape == (13,)
    assert v[0] > 0  # log total
    assert 0 < v[1] <= 1  # distinct ratio
    assert v[8] == 1.0  # FLOAT one-hot
    assert enc.column_vector("lineitem", "nope").sum() == 0


def test_encoder_column_index_keeps_first_table_match():
    from deep_query_optimization_spark.catalog import Column, DataType, Table

    db = Database(
        [
            Table("a", [Column("k", DataType.NUMBER), Column("x", DataType.FLOAT)]),
            Table("b", [Column("k", DataType.NUMBER), Column("y", DataType.STRING)]),
        ]
    )
    enc = PlanEncoder(db)
    assert enc._find_column("t2.`k`") == ("a", "k")
    assert enc._condition_columns('{"name":"y"} {"name":"k"} {"name":"y"}') == [("b", "y"), ("a", "k")]
    assert enc._find_column("nope") is None


def test_encoder_memoized_vectors_are_read_only(db):
    enc = PlanEncoder(db)
    v = enc.column_vector("orders", "o_totalprice")
    assert v is enc.column_vector("orders", "o_totalprice")
    assert np.array_equal(v, enc._column_vector("orders", "o_totalprice"))
    r = enc.relation_vector("orders")
    assert np.array_equal(r, enc._relation_vector("orders"))
    for arr in (v, r):
        with pytest.raises(ValueError):
            arr[0] = 1.0


def test_relation_vector(db):
    enc = PlanEncoder(db)
    v = enc.relation_vector("lineitem")
    assert v.shape == (25,)
    assert v[21] > 0  # log rows
    type_counts = v[16:21]
    assert type_counts.sum() == len(db["lineitem"].columns)


def test_selection_vector_selectivity(db):
    enc = PlanEncoder(db)
    ns = db["orders"]["o_totalprice"].stats.values
    mid = (ns.min + ns.max) / 2
    v = enc.selection_vector("orders", "o_totalprice", "<", mid)
    assert v.shape == (enc.width,)
    off = enc.COL_DIM + enc.REL_DIM + 22 + 5
    assert v[off + 2] == 1.0  # RANGE op one-hot
    operand = v[off + 5 :]
    assert 0.4 < operand[0] < 0.6  # scaled value near middle
    assert 0.4 < operand[1] < 0.6  # selectivity near half


def test_selection_vector_like_selectivity(db):
    """LIKE conditions get a letter-frequency selectivity operand
    (reference encoder.py:289-313) instead of the 0-filled fallback."""
    enc = PlanEncoder(db)
    off = enc.COL_DIM + enc.REL_DIM + 22 + 5
    common = enc.selection_vector("orders", "o_orderpriority", "LIKE", "%e%")
    rare = enc.selection_vector("orders", "o_orderpriority", "LIKE", "%zzz%")
    assert common[off + 5 + 1] > rare[off + 5 + 1] > 0
    neg = enc.selection_vector("orders", "o_orderpriority", "NOT LIKE", "%zzz%")
    assert neg[off + 5 + 1] > 0.9  # NOT LIKE of a rare pattern ≈ everything


def test_encode_plan_end_to_end(spark, tables, db):
    enc = PlanEncoder(db)
    df = (
        tables["lineitem"]
        .filter(F.col("l_quantity") > 30)
        .join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    root = parse_optimized_plan(df)
    ids, mat = enc.encode_plan(root)
    assert len(ids) == mat.shape[0] >= 4
    assert mat.shape[1] == enc.width
    assert np.isfinite(mat).all()
    assert mat.any(axis=1).sum() >= 3  # most nodes got non-zero features
