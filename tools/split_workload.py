"""Carve a labeled workload into train / test / calibration CSVs.

The trainer's internal split re-derives membership from runtime buckets,
so relabeling held-out rows afterwards would silently re-deal the split
and leak test rows into train. Splitting *first* into physically
separate files freezes membership; the test and calibration files can
then be relabeled (tools/relabel_workload.py) without touching train.

Calibration exists because train labels (timed under generator
contention) are systematically slower than quiet-machine labels: a
scalar affine fit on the small calibration set removes that shift from
predictions before they are scored against the clean test labels.

Usage:
    python tools/split_workload.py in_dir out_dir [test_frac] [calib_frac] [min_test_per_bucket] [min_calib_per_bucket]

``min_test_per_bucket`` > 0 switches the test carve to
``stratified_split_min``: every bucket contributes at least that many
test rows (capped at half the bucket), so per-bucket metrics on scarce
upper buckets are measurable instead of resting on single-digit n.

``min_calib_per_bucket`` > 0 does the same for the calibration carve:
per-bucket override margins are only fit where the selection-DISJOINT
calib rows reach n >= 5, so a proportional carve that gives a 14-row
bucket ~3 calib rows silently forfeits the disjoint margin exactly
where the hint gate needs it.

``rebalanced_split`` re-splits a grown corpus against an existing
split without leaking (the persisted ``artifacts/est_r11`` split was
built this way).
"""

from __future__ import annotations

import random
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.metrics import bucketize  # noqa: E402

TEST_CAP_FRAC = 0.40  # no bucket's test set may exceed this share of its total rows


def main() -> None:
    in_dir = Path(sys.argv[1])
    out_dir = Path(sys.argv[2])
    test_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.15
    calib_frac = float(sys.argv[4]) if len(sys.argv) > 4 else 0.04
    out_dir.mkdir(parents=True, exist_ok=True)

    min_test = int(sys.argv[5]) if len(sys.argv) > 5 else 0
    min_calib = int(sys.argv[6]) if len(sys.argv) > 6 else 0

    ds = QueriesDataset.load(str(in_dir / "workload.csv"))
    if min_test > 0:
        rest, test = ds.stratified_split_min(test_frac, min_test_per_bucket=min_test, seed=0)
    else:
        rest, test = ds.stratified_split(test_frac, seed=0)
    # denominator from the ACTUAL remainder, not (1 - test_frac): with
    # min_test_per_bucket > 0 the test carve takes more than test_frac
    # of the rows (bucket floors), and dividing by the nominal fraction
    # would inflate calib and shrink train correspondingly
    calib_frac_rest = calib_frac * len(ds.rows) / max(len(rest.rows), 1)
    if min_calib > 0:
        train, calib = rest.stratified_split_min(
            calib_frac_rest, min_test_per_bucket=min_calib, seed=1
        )
    else:
        train, calib = rest.stratified_split(calib_frac_rest, seed=1)

    train.save(str(out_dir / "workload.csv"))  # trainer reads this name
    test.save(str(out_dir / "test.csv"))
    calib.save(str(out_dir / "calib.csv"))
    if (in_dir / "schema.json").exists():
        shutil.copy(in_dir / "schema.json", out_dir / "schema.json")
    print(f"train {len(train.rows)} / test {len(test.rows)} / calib {len(calib.rows)} -> {out_dir}")


def rebalanced_split(
    gen_csv: Path,
    old_dir: Path,
    out_dir: Path,
    test_floor: int,
    calib_frac_new: float,
    calib_cap: int,
) -> None:
    """Re-split the grown corpus ``gen_csv`` against the split in
    ``old_dir`` so that no bucket has more test than train rows.

    Membership rules, in the order they matter:
    - old TRAIN rows never move to test/calib (warm-started candidates
      trained on them — that direction is the leak);
    - old TEST rows above the per-bucket cap move to TRAIN (safe: no
      candidate ever trained on them, and test shrinking to the cap is
      the whole point);
    - NEW rows top test up to ``min(test_floor, 40% of bucket total)``,
      feed calib a small carve, and the rest — the majority — go to
      TRAIN, which is what the starved buckets actually need."""
    gen = QueriesDataset.load(str(gen_csv))
    old_train = QueriesDataset.load(str(old_dir / "workload.csv"))
    old_test = QueriesDataset.load(str(old_dir / "test.csv"))
    old_calib = QueriesDataset.load(str(old_dir / "calib.csv"))
    old_sqls = {s for ds in (old_train, old_test, old_calib) for s, _, _ in ds.rows}
    new_rows = [r for r in gen.rows if r[0] not in old_sqls]

    def by_bucket(rows):
        d: dict[int, list] = {}
        for r in rows:
            d.setdefault(bucketize(r[1]), []).append(r)
        return d

    nb, tb, trb, cb = by_bucket(new_rows), by_bucket(old_test.rows), by_bucket(old_train.rows), by_bucket(old_calib.rows)
    rng = random.Random(0)
    train_rows, test_rows, calib_rows = [], [], []
    for b in sorted(set(nb) | set(tb) | set(trb) | set(cb)):
        new_b, test_b = list(nb.get(b, [])), list(tb.get(b, []))
        train_b, calib_b = list(trb.get(b, [])), list(cb.get(b, []))
        rng.shuffle(new_b)
        rng.shuffle(test_b)
        total = len(new_b) + len(test_b) + len(train_b) + len(calib_b)
        target = min(test_floor, int(TEST_CAP_FRAC * total))
        if len(test_b) > target:
            # excess test -> TRAIN, so test never outgrows train
            train_b += test_b[target:]
            test_b = test_b[:target]
        else:
            take = min(target - len(test_b), len(new_b))
            test_b += new_b[:take]
            new_b = new_b[take:]
        n_calib = min(max(1, round(calib_frac_new * len(new_b))), calib_cap) if new_b else 0
        calib_b += new_b[:n_calib]
        train_b += new_b[n_calib:]
        print(
            f"bucket {b:3d}: total {total:4d} -> train {len(train_b):4d} / "
            f"test {len(test_b):3d} (cap {target}) / calib {len(calib_b):3d}"
        )
        train_rows += train_b
        test_rows += test_b
        calib_rows += calib_b

    out_dir.mkdir(parents=True, exist_ok=True)
    QueriesDataset(train_rows).save(str(out_dir / "workload.csv"))
    QueriesDataset(test_rows).save(str(out_dir / "test.csv"))
    QueriesDataset(calib_rows).save(str(out_dir / "calib.csv"))
    shutil.copy(gen_csv.parent / "schema.json", out_dir / "schema.json")
    print(f"train {len(train_rows)} / test {len(test_rows)} / calib {len(calib_rows)} -> {out_dir}")


if __name__ == "__main__":
    main()
