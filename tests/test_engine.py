"""DQOEngine facade test — the full reference lifecycle in miniature."""

from __future__ import annotations

import pytest


@pytest.mark.slow
def test_engine_lifecycle(spark, sf_dir, tmp_path):
    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.generator.partitioner import Log2Partitioner

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    db = engine.snapshot()
    assert len(db) == 10
    assert (tmp_path / "schema.json").exists()

    # snapshot cache hit
    engine2 = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    assert len(engine2.snapshot()) == 10

    ds = engine.generate_workload(8, seed=1, partitioner=Log2Partitioner(-3, 0))
    assert len(ds.rows) >= 8

    report = engine.train_estimator(ds, epochs=30)
    assert "accuracy" in report["train"]

    est = engine.estimate("SELECT COUNT(*) AS c FROM orders")
    assert est > 0
    assert -3 <= engine.estimate_bucket("SELECT COUNT(*) AS c FROM orders") <= 8

    rt = engine.run("SELECT MIN(o_totalprice) AS m FROM orders")
    assert rt > 0


def test_engine_estimate_requires_training(spark, sf_dir):
    from deep_query_optimization_spark.engine import DQOEngine

    engine = DQOEngine(spark, sf_dir)
    with pytest.raises(RuntimeError):
        engine.estimate("SELECT 1")


def test_engine_load_estimator_serves_saved_weights(spark, sf_dir, tmp_path):
    """engine.load_estimator must serve the exact saved checkpoint:
    predictions from the engine equal predictions from the loaded model
    object, for both a vector family (mlp) and a tree family (gerelt4)."""
    import numpy as np

    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.estimator.model import (
        Gerelt4CostModel,
        MLPCostModel,
    )

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    sql = "SELECT COUNT(*) AS c FROM orders"

    mlp = MLPCostModel(in_dim=engine.encoder.width, seed=3)
    mlp_path = tmp_path / "model_mlp.json"
    mlp.save(str(mlp_path))
    engine.load_estimator(str(mlp_path))
    assert engine._model_family == "mlp"
    direct = float(mlp.predict([engine.encode_sql(sql)])[0])
    served = float(np.log2(engine.estimate(sql)))
    assert abs(served - np.clip(direct, -10, 20)) < 1e-6

    g4 = Gerelt4CostModel(in_dim=engine.encoder.width, seed=3)
    g4_path = tmp_path / "model_gerelt4_finetuned.json"
    g4.save(str(g4_path))
    engine.load_estimator(str(g4_path))  # family inferred, _finetuned stripped
    assert engine._model_family == "gerelt4"
    assert engine.estimate(sql) > 0

    with pytest.raises(ValueError):
        engine.load_estimator(str(tmp_path / "weights.json"))
    with pytest.raises(ValueError):
        engine.load_estimator(str(mlp_path), family="mscn")


def test_engine_load_best_serves_picked_checkpoint(spark, sf_dir, tmp_path):
    """engine.load_best reads pick_best_model.py's choice.json and
    serves the winner's checkpoint — the single file the calibration
    and hint reports also score with."""
    import json

    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.estimator.model import GRUCostModel

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    best = tmp_path / "best"
    best.mkdir()
    gru = GRUCostModel(in_dim=engine.encoder.width, seed=5)
    gru.save(str(best / "model_gru.json"))
    (best / "choice.json").write_text(json.dumps({"family": "gru", "accuracy": 0.7}))

    engine.load_best(str(best))
    assert engine._model_family == "gru"
    assert engine.estimate("SELECT COUNT(*) AS c FROM orders") > 0


def test_engine_optimize_sql_regime_gated(spark, sf_dir, tmp_path):
    """engine.run(sql, hints=True) / optimize_sql: the learned
    join-order hint fires only past every measured gate — default
    estimate >= ~2 s, margin cleared, calibrated buckets — and returns
    the input unchanged for non-join queries and hold-fire regimes."""
    import json

    from deep_query_optimization_spark.engine import DQOEngine

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    engine.model = object()  # estimate is stubbed below; skip load_best

    sql = (
        "SELECT MIN(lineitem.l_quantity) AS m FROM lineitem, orders, customer "
        "WHERE lineitem.l_orderkey = orders.o_orderkey "
        "AND orders.o_custkey = customer.c_custkey"
    )
    canonical_from = engine.parse(sql).to_sql().split(" FROM ")[1].split(" WHERE ")[0]

    def fake_estimate(s: str) -> float:
        # canonical FROM order looks expensive, every reorder cheap
        return 32.0 if s.split(" FROM ")[1].split(" WHERE ")[0] == canonical_from else 4.0

    engine.estimate = fake_estimate

    # flat margin (calibration explicitly disabled): override taken
    chosen = engine.optimize_sql(sql, calibration="")
    assert chosen.split(" FROM ")[1].split(" WHERE ")[0] != canonical_from

    # hold-fire regime: default under min_default_s -> input unchanged
    engine.estimate = lambda s: 1.5
    assert engine.optimize_sql(sql, calibration="") == sql

    # abstain: default predicted bucket 5 absent from the calibration
    # table -> the CALLER's text comes back byte-identical despite the
    # 8x predicted win (no-override means pass-through, not a canonical
    # re-emission of the caller's query)
    engine.estimate = fake_estimate
    calib = tmp_path / "calib.json"
    calib.write_text(
        json.dumps({"per_bucket_predicted": {"2": {"n": 50, "bucket_accuracy": 0.9}}})
    )
    assert engine.optimize_sql(sql, calibration=str(calib)) == sql

    # calibrated buckets for default (5) and best (2) -> override again
    calib.write_text(
        json.dumps(
            {
                "per_bucket_predicted": {
                    "2": {"n": 50, "bucket_accuracy": 0.9},
                    "5": {"n": 50, "bucket_accuracy": 0.9},
                }
            }
        )
    )
    chosen = engine.optimize_sql(sql, calibration=str(calib))
    assert chosen.split(" FROM ")[1].split(" WHERE ")[0] != canonical_from

    # non-join query: returned untouched, and run(hints=True) executes
    flat = "SELECT COUNT(*) AS c FROM orders"
    assert engine.optimize_sql(flat, calibration="") == flat
    assert engine.run(flat, hints=True) > 0


def test_engine_optimize_sql_group_by_candidates_runnable(spark, sf_dir, tmp_path):
    """A mixed plain+aggregate projection (GROUP BY) join query must
    survive the hint path end-to-end: every candidate emission is
    runnable Spark SQL, and the chosen emission returns the same result
    set as the caller's query (round-9 advice, high)."""
    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.plans.hints import order_variants

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    sql = (
        "SELECT orders.o_orderstatus AS st, SUM(lineitem.l_quantity) AS sq "
        "FROM lineitem, orders, customer "
        "WHERE lineitem.l_orderkey = orders.o_orderkey "
        "AND orders.o_custkey = customer.c_custkey "
        "GROUP BY orders.o_orderstatus"
    )
    q = engine.parse(sql)

    def values(text: str):
        # candidate emissions re-alias/reorder the projection list; the
        # hint compares PLANS, so compare column-order-independent rows
        return sorted(sorted(map(str, row)) for row in spark.sql(text).collect())

    expected = values(sql)
    for cand in order_variants(q, limit=6):
        assert values(cand) == expected  # must not raise

    # through optimize_sql with a stub estimator forcing an override:
    # the chosen emission must itself be runnable and equivalent
    engine.model = object()
    canonical_from = q.to_sql().split(" FROM ")[1].split(" WHERE ")[0]
    engine.estimate = lambda s: (
        32.0 if s.split(" FROM ")[1].split(" WHERE ")[0] == canonical_from else 4.0
    )
    chosen = engine.optimize_sql(sql, calibration="")
    assert chosen != sql
    assert values(chosen) == expected


def test_engine_optimize_sql_passthrough_and_never_raises(spark, sf_dir, tmp_path):
    """(a) When no override is chosen the CALLER's text comes back
    byte-identical (not a canonical re-emission); (b) any failure in
    candidate estimation degrades to the original sql — an advisory
    hint must never make a runnable query unrunnable."""
    from deep_query_optimization_spark.engine import DQOEngine

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    engine.model = object()
    sql = (
        "select min(lineitem.l_quantity) as m  from lineitem, orders "
        "where lineitem.l_orderkey = orders.o_orderkey"
    )  # deliberately non-canonical spelling: pass-through must preserve it

    engine.estimate = lambda s: 32.0  # all candidates equal -> no win
    assert engine.optimize_sql(sql, calibration="") == sql

    calls = {"n": 0}

    def exploding(s):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("candidate estimation blew up")
        return 32.0

    engine.estimate = exploding
    assert engine.optimize_sql(sql, calibration="") == sql


def test_engine_default_calibration_follows_loaded_checkpoint(spark, sf_dir, tmp_path):
    """optimize_sql's default calibration derives from the LOADED
    checkpoint's staging dir when it carries a calibration.json
    (round-9 advice: a session serving the sf10 model must not gate on
    sf1-derived margins), falling back to the repo sf1 report."""
    import json

    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.estimator.model import GRUCostModel

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    staged = tmp_path / "staged"
    staged.mkdir()
    GRUCostModel(in_dim=engine.encoder.width, seed=5).save(str(staged / "model_gru.json"))
    (staged / "choice.json").write_text(json.dumps({"family": "gru", "accuracy": 0.7}))
    (staged / "calibration.json").write_text(
        json.dumps({"per_bucket_predicted": {"5": {"n": 50, "bucket_accuracy": 0.9}}})
    )
    engine.load_best(str(staged))
    assert engine._default_calibration() == str(staged / "calibration.json")

    # a checkpoint dir WITHOUT a staged calibration falls back to sf1
    bare = tmp_path / "bare"
    bare.mkdir()
    GRUCostModel(in_dim=engine.encoder.width, seed=5).save(str(bare / "model_gru.json"))
    engine.load_estimator(str(bare / "model_gru.json"))
    assert engine._default_calibration().endswith("estimator_calibration_sf1.json")


def test_engine_run_hints_default_on_fails_closed(spark, sf_dir, tmp_path, monkeypatch):
    """Round-10 (verdict r9 ask #7): engine.run defaults hints=True.
    Default-on must fail closed — on a box with no staged checkpoint
    the first optimize_sql probe latches the path off and every query
    passes through byte-identical, with load_best probed exactly once
    (not per-query)."""
    import inspect

    from deep_query_optimization_spark.engine import DQOEngine

    assert inspect.signature(DQOEngine.run).parameters["hints"].default is True

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()
    probes = {"n": 0}

    def missing_checkpoint(best_dir=None):
        probes["n"] += 1
        raise FileNotFoundError("no .data/est_best on this box")

    monkeypatch.setattr(engine, "load_best", missing_checkpoint)
    sql = "select count(*) as c  from orders, customer where orders.o_custkey = customer.c_custkey"
    assert engine.optimize_sql(sql) == sql
    assert engine.optimize_sql(sql) == sql
    assert probes["n"] == 1  # latched after the first failed probe

    rt = engine.run(sql)  # the default path end-to-end, no checkpoint
    assert rt > 0
    assert probes["n"] == 1


def test_engine_resnapshot_refreshes_encoder(spark, sf_dir, tmp_path):
    """snapshot(use_cache=False) replaces the stats, and the next encoding
    must read them — not the memo of the encoder built on the old ones."""
    import shutil
    from pathlib import Path

    import numpy as np

    from deep_query_optimization_spark.engine import DQOEngine
    from deep_query_optimization_spark.plans import PlanEncoder
    from deep_query_optimization_spark.plans.parser import parse_optimized_plan

    cached = Path(__file__).resolve().parent.parent / "deep_query_optimization_spark/snapshots/sf0.01_schema.json"
    shutil.copy(cached, tmp_path / "schema.json")
    engine = DQOEngine(spark, sf_dir, tables=("orders",), snapshot_path=str(tmp_path / "schema.json"))
    engine.snapshot()  # sf0.01 stats from the cached file
    sql = "SELECT COUNT(*) AS c FROM orders WHERE o_totalprice > 1000"
    _, before = engine.encode_sql(sql)

    engine.snapshot(use_cache=False)  # fresh stats of the sf0.001 orders table
    _, after = engine.encode_sql(sql)
    assert not np.array_equal(before, after)
    _, fresh = PlanEncoder(engine.db).encode_plan(parse_optimized_plan(spark.sql(sql)))
    assert np.array_equal(after, fresh)


def test_engine_estimate_inspects_each_model_once(spark, sf_dir, monkeypatch):
    """estimate decides flat vs tree encoding once per model object."""
    import inspect

    from deep_query_optimization_spark.engine import DQOEngine

    class Flat:
        def forward(self, ids, mat):
            pass

        def predict(self, plans):
            return [0.0]

    class Tree(Flat):
        def forward(self, ids, mat, children):
            pass

    engine = DQOEngine(spark, sf_dir)
    calls = {"signature": 0, "flat": 0, "tree": 0}
    signature = inspect.signature

    def counting_signature(fn):
        calls["signature"] += 1
        return signature(fn)

    monkeypatch.setattr(inspect, "signature", counting_signature)
    monkeypatch.setattr(engine, "encode_sql", lambda sql: calls.__setitem__("flat", calls["flat"] + 1))
    monkeypatch.setattr(engine, "encode_sql_tree", lambda sql: calls.__setitem__("tree", calls["tree"] + 1))

    engine.model = Flat()
    assert engine.estimate("SELECT 1") == 1.0
    engine.estimate("SELECT 1")
    assert calls == {"signature": 1, "flat": 2, "tree": 0}
    engine.model = Tree()
    engine.estimate("SELECT 1")
    engine.estimate("SELECT 1")
    assert calls == {"signature": 2, "flat": 2, "tree": 2}
