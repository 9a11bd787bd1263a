"""spark-dqo benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds its fixture on first use
(seeded synthetic tables under ``.perfbench/``), sets up a Spark session
three times and reports the median, checks the program's outputs,
measures whole passes of the workload for ``--seconds`` and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last line of standard output. Everything it writes
stays under ``.perfbench/``; the per-run directory is removed at
exit. See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

T_IMPORT = time.time()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# scale factor of the fixture (lineitem = 6,000,000 x SF rows); README.md
# "Sizing" says why it is this small
SF = 0.01
SETUP_REPEATS = 3
FIXTURE_SEED = 42

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("catalog.load_tables_s", "s"),
    ("workload.build_s", "s"),
    ("workload.py4j_calls", "count"),
    ("workload.relational_s", "s"),
    ("spark.plan_s", "s"),
    ("spark.execute_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_max_ms", "ms"),
    ("operators.dedup_s", "s"),
    ("operators.similarity_s", "s"),
    ("operators.text_s", "s"),
    ("operators.multimodal_s", "s"),
    ("operators.validate_s", "s"),
    ("operators.dedup_jobs", "count"),
    ("streaming.drain_s", "s"),
    ("streaming.active_after", "count"),
    ("stats.collect_s", "s"),
    ("stats.max_table_s", "s"),
    ("stats.jobs", "count"),
    ("stats.snapshot_s", "s"),
    ("generator.randomize_ms", "ms"),
    ("relational.short_circuit_frac", "ratio"),
    ("lab.time_query_ms", "ms"),
    ("lab.log_rows", "count"),
    ("plans.optimized_plan_ms", "ms"),
    ("plans.parse_ms", "ms"),
    ("plans.encode_ms", "ms"),
    ("estimator.predict_ms", "ms"),
    ("relational.parse_sql_ms", "ms"),
    ("plans.hint_candidates", "count"),
    ("plans.hint_fired_frac", "ratio"),
    ("plans.hint_p50_ms", "ms"),
    ("trace.ops_per_s", "1/s"),
    ("trace.untraced_ops_per_s", "1/s"),
    ("trace.overhead_pct", "%"),
)
# self time (span duration minus child spans) of each traced layer call
SELF_SPANS = (
    "op",
    "workload.build",
    "spark.plan",
    "spark.execute",
    "streaming.drain",
    "engine.estimate",
    "engine.optimize_sql",
    "plans.optimized_plan",
    "plans.parse",
    "plans.encode",
    "estimator.predict",
    "relational.parse_sql",
    "plans.reorder",
    "stats.collect",
    "generator.randomize",
    "lab.time_query",
    "relational.rewrite",
)
PER_LAYER += tuple((f"self.{name}_s", "s") for name in SELF_SPANS)


def _process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return T_IMPORT


def _p90(xs: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def ensure_fixture(cache: Path, sf: float) -> tuple[Path, float]:
    """The fixture directory for ``sf``, built on first use, and the
    seconds spent building it (0.0 when it already existed). The
    directory name carries a hash of the generator, so a changed
    generator builds a new fixture."""
    import hashlib

    tag = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    data = cache / "data" / f"sf{sf}-seed{FIXTURE_SEED}-{tag}"
    built = 0.0
    if not data.is_dir():
        t0 = time.perf_counter()
        tmp = data.with_name(data.name + f".tmp{os.getpid()}")
        datagen.write_tables(sf, tmp, FIXTURE_SEED)
        try:
            tmp.rename(data)
        except OSError:  # another run finished first
            shutil.rmtree(tmp, ignore_errors=True)
        built = time.perf_counter() - t0
    _validate_fixture(data, sf)
    return data, built


def _validate_fixture(data: Path, sf: float) -> None:
    """Fact tables hold base x sf rows; region and nation keep their size."""
    import pyarrow.parquet as pq

    want = {k: max(1, int(round(v * sf))) for k, v in datagen.BASE_ROWS.items()}
    want.update(region=5, nation=25)
    for name in datagen.TABLES:
        got = pq.ParquetFile(data / f"{name}.parquet").metadata.num_rows
        if got != want[name]:
            raise SystemExit(f"fixture {data}: {name} has {got} rows, expected {want[name]}")


def set_environment(root: Path, run_dir: Path, cache: Path) -> None:
    """Process environment for the session, its JVM and Python workers."""
    cpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    (run_dir / "spark-local").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # never created: the run must not wait on another process's window
    os.environ["DQO_QUIET_SENTINEL"] = str(cache / "quiet_window")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def stop_spark(spark) -> float:
    """Stop the session, then the JVM and every process under it; returns
    the JVM's peak RSS in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    peak = _rss_mb(proc.pid) if proc is not None else 0.0
    kids = _children(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - any wait failure: escalate
            proc.kill()
            proc.wait(timeout=20)
    deadline = time.time() + 20
    while any(_alive(k) for k in kids) and time.time() < deadline:
        time.sleep(0.1)
    for k in kids:
        if _alive(k):
            os.kill(k, signal.SIGKILL)
    return peak


def measured_phase(wl, seconds: float) -> float:
    """Run one measured phase of ``wl`` from a clean tally; returns ops/s."""
    wl.out.ops, wl.out.latencies_ms, wl.out.hint_latencies_ms = 0, [], []
    wl.measure(seconds)
    return wl.out.ops / wl.out.measure_s


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "deep_query_optimization_spark").is_dir():
        print(f"{root} holds no deep_query_optimization_spark package", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = _process_start()
    loadavg = os.getloadavg()[0]
    cache = root / ".perfbench"
    run_dir = cache / "runs" / f"{args.workload}-{os.getpid()}"
    set_environment(root, run_dir, cache)
    sys.path.insert(0, str(root))

    t_fixture = time.time()
    data_dir, fixture_build_s = ensure_fixture(cache, SF)
    fixture_s = time.time() - t_fixture

    tracer = Tracer()
    wl = WORKLOADS[args.workload](data_dir, run_dir, args.seed, tracer)
    spark = None
    try:
        from deep_query_optimization_spark.session import get_spark

        setup_times, layer = [], {}
        for i in range(SETUP_REPEATS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench", extra_conf=spark_conf(run_dir))
            spark.sparkContext.setLogLevel("ERROR")
            t_session = time.time()
            wl.setup(spark)
            t_end = time.time()
            if i == 0:
                # from process start, less the fixture work
                setup_times.append(t_end - t_start - fixture_s)
                layer["session.start_s"] = t_session - t0
                layer["catalog.load_tables_s"] = wl.load_tables_s
            else:
                setup_times.append(t_end - t0)

        if args.trace:
            wl.instrument()
            tracer.py4j.install(spark)
        wl.traced = bool(args.trace)
        t0 = time.time()
        wl.check()
        check_s = time.time() - t0

        measured_phase(wl, args.seconds)
        ops_total = wl.out.ops
        if args.trace:
            # a traced phase, then an untraced one of the same kind; the
            # overhead compares the two (the traced phase runs first, on
            # a slightly colder JVM, so the overhead errs high)
            tracer.enabled = True
            traced_rate = measured_phase(wl, args.seconds)
            tracer.enabled = False
            ops_total += wl.out.ops
            layer.update(wl.layer_metrics())
            kept = (wl.out.ops, wl.out.measure_s, wl.out.latencies_ms, wl.out.hint_latencies_ms)
            untraced = measured_phase(wl, args.seconds)
            ops_total += wl.out.ops
            wl.out.ops, wl.out.measure_s, wl.out.latencies_ms, wl.out.hint_latencies_ms = kept
        wl.finish()

        out = wl.out
        e2e = {
            "setup_s": statistics.median(setup_times),
            "ops_per_s": out.ops / out.measure_s,
            "op_p50_ms": statistics.median(out.latencies_ms),
            "op_p90_ms": _p90(out.latencies_ms),
        }
        if args.trace:
            layer["stats.snapshot_s"] = out.snapshot_s
            layer["plans.hint_p50_ms"] = (
                statistics.median(out.hint_latencies_ms) if out.hint_latencies_ms else 0.0
            )
            layer["trace.ops_per_s"] = traced_rate
            layer["trace.untraced_ops_per_s"] = untraced
            layer["trace.overhead_pct"] = 100.0 * (untraced - traced_rate) / untraced
            selfs = tracer.self_times()
            for name in SELF_SPANS:
                layer[f"self.{name}_s"] = selfs.get(name, 0.0)
            tracer.dump(cache / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
    finally:
        tracer.close()
        jvm_peak = stop_spark(spark) if spark is not None else 0.0
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = ops_total + out.checks
    failed = out.ops_failed + out.checks_failed
    report = {
        **e2e,
        "hint_p50_ms": statistics.median(out.hint_latencies_ms) if out.hint_latencies_ms else None,
        "snapshot_s": out.snapshot_s or None,
        "error_rate": failed / attempted,
    }
    units = dict(END_TO_END, hint_p50_ms="ms", snapshot_s="s", error_rate="ratio")
    print(f"workload={args.workload} seed={args.seed} sf={SF} "
          f"clients=1 closed-loop loadavg_start={loadavg:.2f} fixture_build_s={fixture_build_s:.2f} "
          f"setup_runs={[round(s, 3) for s in setup_times]} check_s={check_s:.2f} "
          f"ops={out.ops} latency_samples={len(out.latencies_ms)} measure_s={out.measure_s:.2f} "
          + wl.summary())
    for k, v in report.items():
        print(f"  {k:12s} {'n/a' if v is None else f'{v:.4f}'} {units[k]}")
    for err in out.errors[:20]:
        print(f"  DEFECT {err}")
    if args.trace:
        layer["session.peak_rss_mb"] = _rss_mb(os.getpid()) + jvm_peak
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
