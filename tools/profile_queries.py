"""Workload query profiler.

Captures ``.explain("formatted")`` for every registered workload query
into ``plans/<tag>/<name>.txt`` and times each query ``--reps`` times
with the noop sink (guide §1.4), writing min/median/all timings to
``reports/profile_<tag>.json``, so plan work and timing evidence come
from the same session/shape as bench.py.

Usage:
  python tools/profile_queries.py --tag before [--reps 3] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout
from io import StringIO
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.session import get_spark  # noqa: E402
from deep_query_optimization_spark.workload import REGISTRY  # noqa: E402


def run_once(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--out", default=None, help="JSON timings output path")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / args.tag
    plans_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("dqo-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.count()
    li.groupBy("l_returnflag").count().collect()
    ords = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li.join(F.broadcast(ords.limit(1000)), li.l_orderkey == ords.o_orderkey).count()
    spark.range(1000).withColumn(
        "r", F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
    ).count()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, schema="id long").count()

    from deep_query_optimization_spark.workload import _hot_keys_for, prepare_bucketed_tables

    prepare_bucketed_tables(spark, sf_dir)
    _hot_keys_for(li, sf_dir)

    from deep_query_optimization_spark.functions import release_caches

    names = list(REGISTRY)
    if args.only:
        names = [n for n in args.only.split(",") if n in REGISTRY]

    results: dict[str, dict] = {}
    for name in names:
        wq = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        times = []
        for _ in range(args.reps):
            t0 = time.time()
            run_once(wq.fn(spark, sf_dir))
            times.append(round(time.time() - t0, 4))
        if not args.no_plans:
            # plan of the (lazily built) query; streaming rows return a
            # post-drain batch frame — captured as-is, noted in the file
            try:
                df = wq.fn(spark, sf_dir)
                buf = StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                (plans_dir / f"{name}.txt").write_text(buf.getvalue())
            except Exception as e:  # pragma: no cover - diagnostics only
                (plans_dir / f"{name}.txt").write_text(f"explain failed: {e}\n")
        results[name] = {
            "min": min(times),
            "median": round(statistics.median(times), 4),
            "times": times,
        }
        print(f"{min(times):8.3f} min {statistics.median(times):8.3f} med  {name}", flush=True)
    release_caches()

    out = args.out or f"reports/profile_{args.tag}.json"
    Path(out).parent.mkdir(parents=True, exist_ok=True)
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "reps": args.reps, "queries": results}, f, indent=1)
    total_min = round(sum(r["min"] for r in results.values()), 3)
    total_med = round(sum(r["median"] for r in results.values()), 3)
    print(f"TOTAL min={total_min} median={total_med}")


if __name__ == "__main__":
    main()
