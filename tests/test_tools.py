"""Pins for the reusable estimator tools in tools/: best-model pick,
held-out scrub, leak-safe split rebalance and sf10 staging margins."""

from __future__ import annotations

import json

import pytest

from deep_query_optimization_spark.estimator import QueriesDataset
from tools.filter_workload import filter_dir
from tools.pick_best_model import collect_candidates, collect_sweep_candidates, pick
from tools.split_workload import rebalanced_split
from tools.stage_sf10 import discount_by_calib_share, merge_disjoint_margins

# -- best-model pick ---------------------------------------------------


def _mk_train_root(tmp_path, accs):
    root = tmp_path / "train"
    models = {}
    for fam, acc in accs.items():
        (root / fam).mkdir(parents=True)
        (root / fam / f"model_{fam}.json").write_text("{}")
        models[fam] = {"test": {"accuracy": acc}, "test_calibrated": {"accuracy": acc + 0.01}}
    root.mkdir(exist_ok=True)
    (root / "report.json").write_text(json.dumps({"models": models}))
    return root


def test_collect_candidates_skips_missing(tmp_path):
    train = _mk_train_root(tmp_path, {"gru": 0.6, "treelstm": 0.55})
    ft = tmp_path / "ft"  # doesn't exist at all
    cands = collect_candidates(train, ft)
    assert {c[1] for c in cands} == {"gru", "treelstm"}
    assert all(lbl == "scratch-clean" for _, _, _, lbl in cands)


def test_pick_prefers_finetuned_when_better(tmp_path):
    train = _mk_train_root(tmp_path, {"gru": 0.6})
    ft = tmp_path / "ft"
    ft.mkdir()
    (ft / "finetune_gru.json").write_text(
        json.dumps({"after": {"accuracy": 0.7}, "after_calibrated": {"accuracy": 0.72}})
    )
    (ft / "model_gru_finetuned.json").write_text("{}")
    schema = tmp_path / "schema.json"
    schema.write_text("{}")
    test_csv = tmp_path / "test.csv"
    test_csv.write_text("query,runtime,plan\n")
    best = tmp_path / "best"
    choice = pick(train, ft, best, schema, test_csv)
    assert choice["family"] == "gru"
    assert choice["label"] == "pretrain+clean-ft"
    assert choice["accuracy"] == 0.72
    assert (best / "model_gru.json").exists()
    assert (best / "workload.csv").read_text().startswith("query,")
    assert len(choice["candidates"]) == 2


def test_pick_raises_when_nothing_trained(tmp_path):
    with pytest.raises(SystemExit):
        pick(tmp_path / "none", tmp_path / "none2", tmp_path / "b", tmp_path / "s", tmp_path / "t")


def test_sweep_candidates_join_the_pick(tmp_path, monkeypatch):
    """A capacity-sweep config that beats scratch/finetune must win the
    pick, with its (embed x hidden) config recorded in the label."""
    train = _mk_train_root(tmp_path, {"gru": 0.6})
    sweep = tmp_path / "sweep"
    for tag, fam, acc in [("gru_64x64", "gru", 0.75), ("mscn_64x64", "mscn", 0.99), ("cnn_96x96", "cnn", 0.62)]:
        d = sweep / tag
        d.mkdir(parents=True)
        (d / f"model_{fam}.json").write_text("{}")
        (d / "report.json").write_text(
            json.dumps({"models": {fam: {"test": {"accuracy": acc}, "test_calibrated": {"accuracy": acc}}}})
        )
    fams = ("gru", "treelstm", "gerelt4", "cnn")
    cands = collect_sweep_candidates([str(sweep)], fams)
    # mscn excluded (not servable by the report tools), gru + cnn in
    assert {(c[1], c[3]) for c in cands} == {
        ("gru", "capacity-sweep 64x64"),
        ("cnn", "capacity-sweep 96x96"),
    }

    schema = tmp_path / "schema.json"
    schema.write_text("{}")
    test_csv = tmp_path / "test.csv"
    test_csv.write_text("query,runtime,plan\n")
    monkeypatch.setenv("DQO_SWEEP_DIRS", str(sweep))
    choice = pick(train, tmp_path / "noft", tmp_path / "best", schema, test_csv, fams)
    assert choice["family"] == "gru"
    assert choice["label"] == "capacity-sweep 64x64"
    assert choice["accuracy"] == 0.75


# -- held-out scrub ----------------------------------------------------


def test_filter_workload_drops_heldout_rows(tmp_path):
    """The pretrain-corpus scrub removes exactly the rows whose SQL is
    in a held-out CSV, keeps the rest, and rewrites in place."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    ds = QueriesDataset()
    ds.add("SELECT 1 AS a FROM t", 0.5)
    ds.add("SELECT 2 AS a FROM t", 1.0)
    ds.add("SELECT 3 AS a FROM t", 2.0)
    ds.save(str(corpus / "workload.csv"))

    held = QueriesDataset()
    held.add("SELECT 2 AS a FROM t", 1.1)  # same SQL, different label
    held.save(str(tmp_path / "test_clean.csv"))

    kept, dropped = filter_dir(corpus, [tmp_path / "test_clean.csv"])
    assert (kept, dropped) == (2, 1)
    back = QueriesDataset.load(str(corpus / "workload.csv"))
    assert {sql for sql, _, _ in back.rows} == {"SELECT 1 AS a FROM t", "SELECT 3 AS a FROM t"}


# -- leak-safe split rebalance -----------------------------------------


def _mk(rows, path):
    ds = QueriesDataset()
    for s, rt in rows:
        ds.add(s, rt)
    ds.save(str(path))


def test_rebalanced_split_caps_test_and_never_leaks_train(tmp_path):
    """The per-bucket test cap never leaves a bucket with more test
    than train rows, and old TRAIN rows never enter test/calib."""
    old_dir, gen_dir, out = tmp_path / "old", tmp_path / "gen", tmp_path / "out"
    old_dir.mkdir()
    gen_dir.mkdir()

    # bucket 5 (rt 30 s): inverted — 30 test rows vs 5 train
    a_train = [(f"SELECT {i} FROM a_tr", 30.0) for i in range(5)]
    a_test = [(f"SELECT {i} FROM a_te", 30.0) for i in range(30)]
    a_calib = [("SELECT 0 FROM a_ca", 30.0)]
    a_new = [(f"SELECT {i} FROM a_new", 30.0) for i in range(10)]
    # bucket 0 (rt 1 s): test under cap, new rows must top it up
    b_train = [(f"SELECT {i} FROM b_tr", 1.0) for i in range(5)]
    b_test = [(f"SELECT {i} FROM b_te", 1.0) for i in range(3)]
    b_new = [(f"SELECT {i} FROM b_new", 1.0) for i in range(40)]

    _mk(a_train + b_train, old_dir / "workload.csv")
    _mk(a_test + b_test, old_dir / "test.csv")
    _mk(a_calib, old_dir / "calib.csv")
    _mk(a_train + a_test + a_calib + a_new + b_train + b_test + b_new, gen_dir / "workload.csv")
    (gen_dir / "schema.json").write_text("{}")

    rebalanced_split(
        gen_dir / "workload.csv", old_dir, out, test_floor=25, calib_frac_new=0.05, calib_cap=10
    )

    train = QueriesDataset.load(str(out / "workload.csv"))
    test = QueriesDataset.load(str(out / "test.csv"))
    calib = QueriesDataset.load(str(out / "calib.csv"))

    # conservation: every corpus row lands in exactly one split
    all_in = {s for s, *_ in train.rows} | {s for s, *_ in test.rows} | {s for s, *_ in calib.rows}
    assert len(train.rows) + len(test.rows) + len(calib.rows) == 94
    assert len(all_in) == 94

    # leak safety: no old TRAIN row may ever reach test or calib
    old_train_sqls = {s for s, _ in a_train + b_train}
    assert not (old_train_sqls & {s for s, *_ in test.rows})
    assert not (old_train_sqls & {s for s, *_ in calib.rows})

    def bucket_count(ds, frag):
        return sum(1 for s, *_ in ds.rows if frag in s)

    # bucket 5: total 46 -> cap min(25, 18) = 18; 12 excess test rows
    # moved to TRAIN (the inversion undone), none discarded
    assert bucket_count(test, "a_") == 18
    assert bucket_count(train, "a_te") == 12
    assert bucket_count(train, "a_") > bucket_count(test, "a_")

    # bucket 0: total 48 -> cap min(25, 19) = 19; topped up from NEW
    # rows only, remainder (minus a small calib carve) to train
    assert bucket_count(test, "b_") == 19
    assert bucket_count(test, "b_te") == 3
    assert bucket_count(test, "b_new") == 16
    assert bucket_count(calib, "b_new") == 1
    assert bucket_count(train, "b_new") == 23


# -- sf10 staging margins ----------------------------------------------


def test_discount_by_calib_share_scales_selection_biased_buckets():
    """Bucket accuracies measured on the calib+test union are scaled by
    (0.5 + 0.5 * calib_row_share): test.csv rows also selected the
    staged checkpoint, so their face-value accuracy is optimistic.
    Pure-calib buckets keep full value, pure-selection buckets count at
    half, and the raw value + share stay recorded for audit."""
    union = {
        "family": "gru",
        "n": 30,
        "per_bucket_predicted": {
            "3": {"n": 10, "bucket_accuracy": 0.8, "mean_pred_log2": 3.1},
            "5": {"n": 10, "bucket_accuracy": 0.6, "mean_pred_log2": 5.0},
            "6": {"n": 10, "bucket_accuracy": 0.4, "mean_pred_log2": 6.2},
        },
        "per_bucket": {"3": {"n": 10, "bucket_accuracy": 0.8, "mean_pred_log2": 3.1}},
    }
    calib_only = {
        "per_bucket_predicted": {
            "3": {"n": 10, "bucket_accuracy": 0.8},  # all rows from the carve
            "5": {"n": 5, "bucket_accuracy": 0.6},  # half carve, half selection
            # bucket 6 absent: measured purely on selection rows
        },
        "per_bucket": {},
    }
    out = discount_by_calib_share(union, calib_only)
    t = out["per_bucket_predicted"]
    assert t["3"]["bucket_accuracy"] == 0.8  # share 1.0 -> face value
    assert t["5"]["bucket_accuracy"] == round(0.6 * 0.75, 3)  # share 0.5
    assert t["6"]["bucket_accuracy"] == round(0.4 * 0.5, 3)  # share 0.0
    for b in ("3", "5", "6"):
        assert "bucket_accuracy_undiscounted" in t[b]
        assert "calib_row_share" in t[b]
    assert "discount" in out
    # metrics outside the bucket tables pass through untouched
    assert out["n"] == 30 and out["family"] == "gru"

    # no calib carve at all: every bucket is selection-only -> half
    out2 = discount_by_calib_share(union, None)
    assert out2["per_bucket_predicted"]["3"]["bucket_accuracy"] == 0.4


def test_merge_disjoint_margins_prefers_calib_only_where_thick():
    """Margins are fit on rows the winner never saw during selection
    wherever the disjoint calib carve can afford it (n >= 5, the same
    floor margins_from_calibration uses); thin buckets keep the
    discounted-union entry so the gate does not fall back to
    all-abstain. The returned flag is True only when every bucket that
    can grant override authority is calib-only sourced."""
    union_discounted = {
        "per_bucket_predicted": {
            "5": {"n": 12, "bucket_accuracy": 0.45, "calib_row_share": 0.5},
            "6": {"n": 9, "bucket_accuracy": 0.3, "calib_row_share": 0.2},
        },
        "per_bucket": {
            "5": {"n": 12, "bucket_accuracy": 0.4, "calib_row_share": 0.5},
        },
    }
    calib_only = {
        "per_bucket_predicted": {
            "5": {"n": 6, "bucket_accuracy": 0.67},  # thick: disjoint entry wins
            "6": {"n": 2, "bucket_accuracy": 1.0},  # thin: union fallback
        },
        "per_bucket": {"5": {"n": 6, "bucket_accuracy": 0.5}},
    }
    merged, disjoint = merge_disjoint_margins(union_discounted, calib_only)
    t = merged["per_bucket_predicted"]
    # bucket 5: the calib-only entry replaces the discounted union one
    assert t["5"]["n"] == 6 and t["5"]["bucket_accuracy"] == 0.67
    assert t["5"]["margin_fit_source"] == "calib_only_disjoint"
    # bucket 6: calib carve too thin -> discounted union kept, flagged
    assert t["6"]["n"] == 9 and t["6"]["bucket_accuracy"] == 0.3
    assert t["6"]["margin_fit_source"] == "union_discounted"
    # bucket 6 has n >= 5 post-merge, i.e. it CAN grant override
    # authority from non-disjoint rows -> the honest flag is False
    assert disjoint is False
    assert "margin_fit" in merged

    # once every acting bucket is calib-backed the flag flips true
    calib_only["per_bucket_predicted"]["6"]["n"] = 5
    _, disjoint2 = merge_disjoint_margins(union_discounted, calib_only)
    assert disjoint2 is True

    # no calib report at all: nothing is disjoint
    merged3, disjoint3 = merge_disjoint_margins(union_discounted, None)
    assert disjoint3 is False
    assert merged3["per_bucket_predicted"]["5"]["margin_fit_source"] == "union_discounted"
