"""The benchmark's two workloads.

Each workload is a closed loop from one client: the next operation
starts when the previous one has returned. A run has four phases:

1. ``setup``  - tables registered (and for ``estimate`` the engine
   built) plus a warm-up; timed as ``setup_s`` by the runner;
2. ``check``  - one untimed pass that checks every output and warms
   the code paths of the measured pass;
3. ``measure`` - whole passes over the inputs until the run's seconds
   are used, one latency sample per operation;
4. ``finish`` - checks that need the measured results.

The benchmark calls only the package's public functions; the traced run
wraps some of them in spans from the outside (``tracing.Tracer.wrap``).
"""

from __future__ import annotations

import csv
import math
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

from checks import OracleCache, compare, result_digest
from tracing import Tracer, job_group_metrics

# registry-name prefix -> operator family of the per-layer metrics
OPERATOR_FAMILY = {
    "dedup_": "dedup",
    "sim_": "similarity",
    "text_": "text",
    "multimodal_": "multimodal",
    "validate_": "validate",
}
OPERATOR_PREFIXES = (*OPERATOR_FAMILY, "streaming_")


@dataclass
class Outcome:
    """What one run measured."""

    ops: int = 0
    latencies_ms: list[float] = field(default_factory=list)
    hint_latencies_ms: list[float] = field(default_factory=list)
    measure_s: float = 0.0
    ops_failed: int = 0
    checks: int = 0
    checks_failed: int = 0
    errors: list[str] = field(default_factory=list)
    snapshot_s: float = 0.0


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def _collect_rows(df) -> tuple[list, list[str]]:
    """Rows and column names of ``df`` through Arrow; timestamps come back
    as naive UTC, like the DuckDB side (the session time zone is UTC)."""
    table = df.toArrow()
    cols = []
    for col in table.columns:
        values = col.to_pylist()
        if values and hasattr(col.type, "tz") and col.type.tz is not None:
            values = [v.replace(tzinfo=None) if v is not None else None for v in values]
        cols.append(values)
    return list(zip(*cols)) if cols else [], table.column_names


class Workload:
    name = ""
    traced = False  # set by the runner: this run has a traced phase

    def __init__(self, data_dir: Path, run_dir: Path, seed: int, tracer: Tracer) -> None:
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.out = Outcome()

    def setup(self, spark) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def summary(self) -> str:
        """Extra detail for the run's human-readable line."""
        return ""

    def instrument(self) -> None:
        """Wrap the layer calls this workload makes (traced runs only)."""

    def _fail_check(self, reason: str) -> None:
        self.out.checks_failed += 1
        self.out.errors.append(reason)

    def _fail_op(self, what: str, exc: Exception) -> None:
        self.out.ops_failed += 1
        self.out.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


# ---------------------------------------------------------------------------
# queries: the workload registry
# ---------------------------------------------------------------------------


class Queries(Workload):
    """Every query of ``workload.REGISTRY``: the relational suite and the
    dedup, similarity, text, multimodal, streaming and validation
    operators. One op is one query built (DataFrame construction and any
    driver-side work) and executed into the noop sink. Queries run in
    registry order; the inputs do not depend on the seed."""

    name = "queries"
    check_s = 0.0  # untimed check executions inside the first pass

    def setup(self, spark) -> None:
        from deep_query_optimization_spark.catalog import load_tables
        from deep_query_optimization_spark.workload import REGISTRY

        self.spark = spark
        self.names = list(REGISTRY)  # registry order, the same in every run
        self.registry = REGISTRY
        t0 = time.perf_counter()
        tables = load_tables(spark, str(self.data_dir))
        self.load_tables_s = time.perf_counter() - t0
        # warm-up: a parquet scan with a shuffle aggregation, the JVM path
        # every query starts with
        tables["lineitem"].groupBy("l_returnflag").count().collect()

    def instrument(self) -> None:
        import deep_query_optimization_spark.streaming as streaming

        self.tracer.wrap(streaming, "run_available_now", "streaming.drain")
        self.tracer.wrap(streaming, "run_available_now_to_files", "streaming.drain")

    def check(self) -> None:
        """The checks run inside the first measured pass: each query is
        executed once untimed, its output compared with the oracle, and
        then executed again, timed (the run-twice, keep-the-second rule of
        ``bench.py``). Interleaving spreads the timed ops over the whole
        pass, so slow drifts of the machine average out."""
        self.unchecked = True

    def _check_one(self, name: str, oracles: OracleCache) -> None:
        wq = self.registry[name]
        self.out.checks += 1
        try:
            rows, cols = _collect_rows(wq.fn(self.spark, str(self.data_dir)))
            reason = compare(name, result_digest(rows, cols), oracles.digest(wq))
        except Exception as exc:  # noqa: BLE001 - a failing query is a reported defect
            reason = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        if reason:
            self._fail_check(reason)

    def _op(self, name: str, group: str) -> None:
        tr = self.tracer
        if not tr.enabled:
            _noop_write(self.registry[name].fn(self.spark, str(self.data_dir)))
            return
        sc = self.spark.sparkContext
        with tr.py4j.paused():
            sc.setJobGroup(group, name)
        try:
            with tr.span("op") as op:
                with tr.span("workload.build"):
                    df = self.registry[name].fn(self.spark, str(self.data_dir))
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.execute"):
                    _noop_write(df)
        finally:
            with tr.py4j.paused():
                sc.setJobGroup("", "")
        op.counts["query"] = name
        with tr.py4j.paused():
            op.counts.update(job_group_metrics(self.spark, group))
            if name.startswith("streaming_"):
                op.counts["active_after"] = len(self.spark.streams.active)

    def measure(self, seconds: float) -> None:
        self.per_query: dict[str, list[float]] = {}
        self.out.measure_s = 0.0  # time inside timed ops only
        oracles = OracleCache(self.data_dir) if self.unchecked else None
        t0 = time.perf_counter()
        n = 0
        try:
            while True:
                for name in self.names:
                    if oracles is not None:
                        s = time.perf_counter()
                        self._check_one(name, oracles)
                        self.check_s += time.perf_counter() - s
                    s = time.perf_counter()
                    try:
                        self._op(name, f"perfbench-{n}")
                    except Exception as exc:  # noqa: BLE001 - counted as a failed op
                        self._fail_op(name, exc)
                    dt = time.perf_counter() - s
                    self.out.measure_s += dt
                    self.out.latencies_ms.append(dt * 1000.0)
                    self.per_query.setdefault(name, []).append(dt * 1000.0)
                    self.out.ops += 1
                    n += 1
                if oracles is not None:
                    oracles.close()
                    oracles, self.unchecked = None, False
                if time.perf_counter() - t0 >= seconds:
                    break
        finally:
            if oracles is not None:
                oracles.close()

    def finish(self) -> None:
        from deep_query_optimization_spark.functions import release_caches

        release_caches()

    def summary(self) -> str:
        slow = sorted(self.per_query.items(), key=lambda kv: -_median(kv[1]))[:8]
        return f"checks_s={self.check_s:.2f} slowest_ms: " + " ".join(
            f"{n}={_median(v):.0f}" for n, v in slow
        )

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        ops = [sp for sp in tr.spans if sp.name == "op"]
        m: dict[str, float] = {}
        builds = [sp for sp in tr.spans if sp.name == "workload.build"]
        m["workload.build_s"] = sum(sp.duration for sp in builds)
        m["workload.py4j_calls"] = sum(sp.counts["py4j_calls"] for sp in builds) / max(1, len(builds))
        m["spark.plan_s"] = tr.total_s("spark.plan")
        m["spark.execute_s"] = tr.total_s("spark.execute")
        for key in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb"):
            m[f"spark.{key}"] = sum(sp.counts.get(key, 0) for sp in ops)
        m["spark.task_max_ms"] = max((sp.counts.get("task_max_ms", 0) for sp in ops), default=0)
        for prefix, fam in OPERATOR_FAMILY.items():
            fam_ops = [sp for sp in ops if sp.counts["query"].startswith(prefix)]
            m[f"operators.{fam}_s"] = sum(sp.duration for sp in fam_ops)
            if fam == "dedup":
                m["operators.dedup_jobs"] = sum(sp.counts.get("jobs", 0) for sp in fam_ops)
        m["workload.relational_s"] = sum(
            sp.duration for sp in ops if not sp.counts["query"].startswith(OPERATOR_PREFIXES)
        )
        m["streaming.drain_s"] = tr.total_s("streaming.drain")
        m["streaming.active_after"] = sum(sp.counts.get("active_after", 0) for sp in ops)
        return m


# ---------------------------------------------------------------------------
# estimate: estimator serving on one DQOEngine, plus its labeling loop
# ---------------------------------------------------------------------------


class Estimate(Workload):
    """Estimator serving: a ``DQOEngine`` serving the persisted GRU with
    its schema + stats snapshot scores labeled SQL rows. One op is one
    ``DQOEngine.estimate`` call (Catalyst analysis, plan JSON, parse,
    encode, predict); no query is executed.

    The rows are a stratified seeded sample of the generation corpus:
    sorted by SQL length, cut into ``n_estimate`` equal strata, one row
    drawn from each, so every seed gets the same spread of query sizes.

    The same engine also serves ``optimize_sql`` (the learned join-order
    hint) on ``n_hint`` of the rows and labels ``n_label`` seeded
    ``RandomQueryGen`` queries through ``SparkQueryRunner.time_query``
    into a ``QueryLog``. Both run, and are checked, in the check pass of
    every run; traced runs also time them after each measured pass and
    take a fresh ``DQOEngine.snapshot(use_cache=False)`` of every table."""

    name = "estimate"
    n_estimate = 64
    n_hint = 6
    n_label = 12
    labels = 0  # labels attempted over the whole run

    def setup(self, spark) -> None:
        from deep_query_optimization_spark.engine import DQOEngine

        root = Path.cwd()
        self.spark = spark
        self.log_path = self.run_dir / "labels.csv"
        self.log_path.unlink(missing_ok=True)
        self.labels = 0
        t0 = time.perf_counter()  # the engine registers every table
        self.engine = DQOEngine(
            spark,
            str(self.data_dir),
            snapshot_path=str(root / "artifacts/est_best/schema.json"),
            log_path=str(self.log_path),
        )
        self.load_tables_s = time.perf_counter() - t0
        self.engine.snapshot()  # the cached snapshot: never rewritten
        self.engine.load_estimator(str(root / "artifacts/est_best/model_gru.json"))
        if not hasattr(self, "sample"):
            with open(root / "artifacts/gen_r11/workload.csv", newline="") as fh:
                sqls = sorted({row["query"] for row in csv.DictReader(fh)}, key=lambda q: (len(q), q))
            rng = random.Random(self.seed)
            k = self.n_estimate
            self.sample = [
                sqls[rng.randrange(i * len(sqls) // k, (i + 1) * len(sqls) // k)] for i in range(k)
            ]
            self.hint_sample = rng.sample(self.sample, self.n_hint)
        for sql in self.sample[:2]:
            self.engine.estimate(sql)

    def instrument(self) -> None:
        import deep_query_optimization_spark.engine as engine_mod
        import deep_query_optimization_spark.lab.executor as executor
        import deep_query_optimization_spark.plans.hints as hints
        import deep_query_optimization_spark.relational.parser as rparser
        from deep_query_optimization_spark.engine import DQOEngine
        from deep_query_optimization_spark.generator import RandomQueryGen
        from deep_query_optimization_spark.lab.executor import SparkQueryRunner
        from deep_query_optimization_spark.plans import PlanEncoder

        tr = self.tracer

        def count_candidates(sp, result):
            sp.counts["candidates"] = len(result[1])

        def record_table(sp, result):
            sp.counts["table"] = result.name

        tr.wrap(DQOEngine, "estimate", "engine.estimate")
        tr.wrap(DQOEngine, "optimize_sql", "engine.optimize_sql")
        tr.wrap(DQOEngine, "encode_sql", "plans.optimized_plan")
        tr.wrap(DQOEngine, "encode_sql_tree", "plans.optimized_plan")
        tr.wrap(engine_mod, "parse_plan_json", "plans.parse")
        tr.wrap(PlanEncoder, "encode_plan", "plans.encode")
        tr.wrap(PlanEncoder, "encode_tree", "plans.encode")
        tr.wrap(self.engine.model, "predict", "estimator.predict")
        tr.wrap(rparser, "parse_sql", "relational.parse_sql")
        tr.wrap(hints, "reorder_by_estimate", "plans.reorder", on_result=count_candidates)
        tr.wrap(engine_mod, "collect_stats", "stats.collect", on_result=record_table)
        tr.wrap(RandomQueryGen, "randomize", "generator.randomize")
        tr.wrap(SparkQueryRunner, "time_query", "lab.time_query")
        tr.wrap(executor, "optimize_query", "relational.rewrite")

    def _estimates(self, rng: random.Random, timed: bool) -> None:
        order = list(self.sample)
        rng.shuffle(order)
        for sql in order:
            s = time.perf_counter()
            try:
                p = self.engine.estimate(sql)
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self._fail_op("estimate", exc)
                continue
            dt = (time.perf_counter() - s) * 1000.0
            if timed:
                self.out.ops += 1
                self.out.latencies_ms.append(dt)
            if sql not in self.predictions:
                self.out.checks += 1
                if not math.isfinite(p):
                    self._fail_check(f"estimate: non-finite prediction {p!r}")
                self.predictions[sql] = p
            elif p != self.predictions[sql]:
                self._fail_check(f"estimate: {p!r} differs from the check pass {self.predictions[sql]!r}")

    def _hints_and_labels(self) -> None:
        """The hint path and the labeling loop; the label generator
        restarts from the run's seed, so each call labels the same queries."""
        from deep_query_optimization_spark.generator import RandomQueryGen

        for sql in self.hint_sample:
            s = time.perf_counter()
            try:
                out = self.engine.optimize_sql(sql)
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self._fail_op("optimize_sql", exc)
                continue
            self.out.hint_latencies_ms.append((time.perf_counter() - s) * 1000.0)
            self.hint_outputs[sql] = out
            self.fired[0] += out != sql
            self.fired[1] += 1
        gen = RandomQueryGen(self.engine.db, seed=self.seed)
        for _ in range(self.n_label):
            self.labels += 1
            try:
                runtime = self.engine.runner.time_query(gen.randomize())
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                self._fail_op("time_query", exc)
                continue
            self.label_count[0] += runtime == 0.0  # a contradiction never reaches Spark
            self.label_count[1] += 1

    def check(self) -> None:
        from deep_query_optimization_spark.catalog import Database

        self.predictions: dict[str, float] = {}
        self.hint_outputs: dict[str, str] = {}
        self.fired = [0, 0]
        self.label_count = [0, 0]
        if self.traced:
            self._fresh_snapshot()
        self.out.checks += 1
        path = self.run_dir / "snapshot.json"
        self.engine.db.save(str(path))
        if Database.load(str(path)).to_json() != self.engine.db.to_json():
            self._fail_check("snapshot does not round-trip through Database.load")
        self._estimates(random.Random(self.seed), timed=False)
        self._hints_and_labels()

    def _fresh_snapshot(self) -> None:
        """``DQOEngine.snapshot(use_cache=False)`` of every table, traced,
        on an engine with no snapshot path (so nothing is written)."""
        from deep_query_optimization_spark.catalog import Database
        from deep_query_optimization_spark.engine import DQOEngine

        fresh = DQOEngine(self.spark, str(self.data_dir))
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-snapshot", "snapshot")
        self.tracer.enabled = True
        try:
            t0 = time.perf_counter()
            db = fresh.snapshot(use_cache=False)
            self.out.snapshot_s = time.perf_counter() - t0
        finally:
            self.tracer.enabled = False
            sc.setJobGroup("", "")
        per_table = [sp.duration for sp in self.tracer.spans if sp.name == "stats.collect"]
        with self.tracer.py4j.paused():
            jobs = job_group_metrics(self.spark, "perfbench-snapshot")["jobs"]
        self.stats_layer = {
            "stats.collect_s": sum(per_table),
            "stats.max_table_s": max(per_table, default=0.0),
            "stats.jobs": jobs,
        }
        self.tracer.spans.clear()  # the measured phase's spans start clean
        self.out.checks += 1
        path = self.run_dir / "fresh_snapshot.json"
        db.save(str(path))
        if Database.load(str(path)).to_json() != db.to_json() or len(db) != len(fresh.tables):
            self._fail_check("fresh snapshot does not round-trip through Database.load")

    def measure(self, seconds: float) -> None:
        rng = random.Random(self.seed + 1)
        self.fired = [0, 0]
        self.label_count = [0, 0]
        self.out.measure_s = 0.0
        t0 = time.perf_counter()
        while True:
            s = time.perf_counter()
            self._estimates(rng, timed=True)
            self.out.measure_s += time.perf_counter() - s
            if self.tracer.enabled:
                self._hints_and_labels()
            if time.perf_counter() - t0 >= seconds:
                break

    def finish(self) -> None:
        for sql, out in self.hint_outputs.items():
            self.out.checks += 1
            try:
                self.spark.sql(out)  # analysis is eager: resolves every name
            except Exception as exc:  # noqa: BLE001 - reported as a defect
                self._fail_check(f"optimize_sql({sql[:80]}...) does not analyze: {str(exc)[:200]}")
        self.out.checks += 1
        if self._log_rows() != self.labels:
            self._fail_check(f"QueryLog has {self._log_rows()} rows for {self.labels} labels")

    def _log_rows(self) -> int:
        with open(self.log_path, newline="") as fh:
            return sum(1 for _ in csv.DictReader(fh))

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        st = tr.self_times()

        def per_call_ms(name: str) -> float:
            n = len(tr.durations_ms(name))
            return st.get(name, 0.0) * 1000.0 / n if n else 0.0

        return {
            **getattr(self, "stats_layer", {}),
            "plans.optimized_plan_ms": per_call_ms("plans.optimized_plan"),
            "plans.parse_ms": per_call_ms("plans.parse"),
            "plans.encode_ms": per_call_ms("plans.encode"),
            "estimator.predict_ms": per_call_ms("estimator.predict"),
            "relational.parse_sql_ms": _median(tr.durations_ms("relational.parse_sql")),
            "plans.hint_candidates": tr.count("plans.reorder", "candidates"),
            "plans.hint_fired_frac": self.fired[0] / self.fired[1] if self.fired[1] else 0.0,
            "generator.randomize_ms": _median(tr.durations_ms("generator.randomize")),
            "relational.short_circuit_frac": (
                self.label_count[0] / self.label_count[1] if self.label_count[1] else 0.0
            ),
            "lab.time_query_ms": _median(tr.durations_ms("lab.time_query")),
            "lab.log_rows": self._log_rows(),
        }


WORKLOADS = {w.name: w for w in (Queries, Estimate)}
