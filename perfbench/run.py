"""Benchmark entry point.

    python3 perfbench/run.py --workload quote_point --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from --seed into the
run's scratch directory (.perfbench/work-<pid>, removed at exit), a Spark
session is started with a fixed slot count and heap, the store is loaded and warmed up, and then
the workload's op types run round-robin for --seconds. Every op's result
is checked after the timed window. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (see
README.md). A diagnostics line precedes it.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

os.environ["TZ"] = "UTC"
time.tzset()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SLOTS = 2  # fixed: more slots measured slower on a 4-vCPU host (driver, JIT, GC, Arrow need cores)
HEAP = "2g"

# per-layer metrics, in BENCHMARK.json order; value = unit
MODULES = ["table", "series", "functions", "operators.windows", "operators.joins",
           "operators.grouping", "operators.sorting", "operators.timeseries"]
LAYER_UNITS = {
    **{f"{m}.build_ms": "ms" for m in MODULES},
    "driver.build_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_floor_ms": "ms", "spark.exec_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.input_rows": "count",
    "python.rows": "count", "python.mb": "MB",
    "collect.transfer_ms": "ms", "collect.rows": "count",
    "session.start_s": "s", "table.load_s": "s", "store.cached_frac": "ratio", "store.mb": "MB",
    "table.append_ms": "ms", "table.delete_ms": "ms", "table.save_ms": "ms", "table.open_ms": "ms",
    "ingest.files": "count", "ingest.disk_mb": "MB",
    "ingest.append_p50_ms": "ms", "ingest.read_p50_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.batches_data": "count",
    "streaming.batches_nodata": "count", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "pipeline.dedup.signatures_ms": "ms", "pipeline.dedup.candidates_ms": "ms",
    "pipeline.dedup.verify_ms": "ms", "pipeline.dedup.components_ms": "ms",
    "pipeline.dedup.candidate_yield": "ratio", "pipeline.similarity.topk_ms": "ms",
    "env.calib_ms": "ms", "run.drift": "ratio", "trace.overhead": "ratio",
    "trace.unaccounted_frac": "ratio",
}
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "rows_per_s": "1/s",
             "ok_frac": "ratio"}


class Ctx:
    def __init__(self, args, spark, data_root, work_dir, tracer):
        self.seed, self.scale = args.seed, args.scale
        self.spark, self.data_root, self.work_dir, self.tracer = spark, data_root, work_dir, tracer


def start_spark(work_dir: str):
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": work_dir,
    })
    tempfile.tempdir = work_dir
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    from imcs_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir} -Duser.timezone=UTC "
                                         f"-Dderby.system.home={work_dir}",
        "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "checkpoints"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def run_op(wl, op, params, probe, traced: bool, op_id: int):
    """One closed-loop op: build (library calls) then collect. Returns
    (latency_s, result, DataFrame or None, job group)."""
    from pyspark.sql import DataFrame

    tr = wl.tr
    tr.on, tr.op = traced, op_id
    group = f"perfbench-{op_id}"
    if traced:
        probe.begin(group)
    try:
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("build"):
                out = op.run(params)
                df = out if isinstance(out, DataFrame) else None
                if df is not None:
                    # optimize and plan here, so that the collect span
                    # holds only execution and result transfer
                    df._jdf.queryExecution().executedPlan()
            if df is not None:
                with tr.span("collect"):
                    out = df.toPandas() if op.pandas else df.collect()
        lat = time.perf_counter() - t0
    finally:
        tr.on = False
        if traced:
            probe.end()
    return lat, out, df, group


def op_layers(wl, probe, op_id, group, df, result) -> dict:
    """Per-layer split of one traced op (ms unless stated)."""
    import harness

    spans = wl.tr.op_spans(op_id)
    st = probe.read(group)
    jobs = harness.merge(st.pop("intervals"))
    by_name = {}
    for s in spans:
        by_name.setdefault(s[0], []).append(s)

    def outside_jobs(name) -> float:
        return sum((s[2] - s[1]) - harness.overlap(s[1], s[2], jobs)
                   for s in by_name.get(name, [])) * 1e3

    def dur(name) -> float:
        return sum(s[2] - s[1] for s in by_name.get(name, [])) * 1e3

    root = by_name["op"][0]
    lo, hi = root[1], root[2]
    clipped = [(max(a, lo), min(b, hi)) for a, b in jobs if b > lo and a < hi]
    out = {f"{m}.build_ms": outside_jobs(m) for m in MODULES}
    out["driver.build_ms"] = outside_jobs("build")
    out["collect.transfer_ms"] = outside_jobs("collect")
    out["spark.exec_ms"] = harness.union_length(clipped) * 1e3
    for k, v in st.items():
        out["spark." + k] = v
    wall = (hi - lo) * 1e3
    out["trace.unaccounted_frac"] = abs(
        wall - out["driver.build_ms"] - out["spark.exec_ms"] - out["collect.transfer_ms"]) / wall
    out["collect.rows"] = len(result) if df is not None else 0
    if df is not None:
        out["python.rows"], out["python.mb"] = harness.python_node_metrics(df)
    for verb in ("append", "delete", "save", "open"):
        if f"table.{verb}" in by_name:
            out[f"table.{verb}_ms"] = dur(f"table.{verb}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    import numpy as np

    import gen
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    cls = workloads.WORKLOADS[args.workload]
    t_import = time.perf_counter() - T_START

    work_dir = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    spark = wl = None
    try:
        t0 = time.perf_counter()
        data_root = os.path.join(work_dir, "data")
        for part in getattr(cls, "parts", (cls,)):
            gen.build(part.inputs, args.seed, part.sizes[args.scale], data_root)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = start_spark(work_dir)
        session_s = time.perf_counter() - t0
        tracer = harness.Tracer(False)
        wl = cls(Ctx(args, spark, data_root, work_dir, tracer))
        load_s = []
        for _ in range(wl.load_reps):
            wl.unload()
            t0 = time.perf_counter()
            wl.load()
            load_s.append(time.perf_counter() - t0)
        ops = wl.ops
        probe = harness.SparkProbe(spark)
        t0 = time.perf_counter()
        warm_rng = np.random.default_rng([args.seed, 1])
        for _ in range(wl.warmup_rounds):
            for op in ops:
                run_op(wl, op, op.params(warm_rng), probe, False, None)
                wl.after_op()
        warm_s = time.perf_counter() - t0
        setup_s = t_import + session_s + statistics.median(load_s) + warm_s

        calib = [harness.calib_ms()]
        floor_df = spark.range(1).selectExpr("id + 1 AS x")
        rng = np.random.default_rng([args.seed, 2])
        samples = []  # (op, params, latency_s, result, traced, layers)
        floors, phases = [], []
        t_begin = time.perf_counter()
        deadline = t_begin + args.seconds
        rnd, op_id = 0, 0
        rounds = []  # (wall_s, ops, input rows) of each untraced round
        # Whole rounds only, so every run holds the same op mix, and at
        # least min_rounds of them: the round count then does not flip
        # with machine speed near the deadline. Traced runs alternate
        # traced and untraced rounds, so they hold an even count.
        while (time.perf_counter() < deadline or rnd < wl.min_rounds
               or (args.trace and rnd % 2)):
            traced = bool(args.trace) and rnd % 2 == 0
            t_round, n_round = time.perf_counter(), len(samples)
            for op in ops:
                params = op.params(rng)
                try:
                    lat, res, df, group = run_op(wl, op, params, probe, traced, op_id)
                    layers = op_layers(wl, probe, op_id, group, df, res) if traced else None
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    lat, res, layers = None, None, None
                samples.append((op, params, lat, res, traced, layers))
                op_id += 1
                wl.after_op()
                if traced:
                    t = time.perf_counter()
                    floor_df.collect()
                    floors.append((time.perf_counter() - t) * 1e3)
            if traced and hasattr(wl, "phase_probe"):
                phases.append(wl.phase_probe(rng))
            elif not traced:
                done_round = [s for s in samples[n_round:] if s[2] is not None]
                rounds.append((time.perf_counter() - t_round, len(done_round),
                               sum(wl.nominal_work(s[0].name) for s in done_round)))
            rnd += 1
        wall = time.perf_counter() - t_begin
        calib.append(harness.calib_ms())

        t0 = time.perf_counter()
        ok = []
        for op, params, lat, res, _, _ in samples:
            try:
                ok.append(lat is not None and bool(op.check(params, res)))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok.append(False)
            if not ok[-1]:
                print(f"check failed: {op.name} {params!r:.200}", file=sys.stderr)
        final_ok = wl.final_checks() if hasattr(wl, "final_checks") else True
        check_s = time.perf_counter() - t0
        extra = wl.extra_metrics()
        layer_extra = wl.layer_metrics()
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    attempted = len(samples)
    failed = attempted - sum(ok) + (0 if final_ok else 1)
    done = [s for s in samples if s[2] is not None]
    untraced = [(s[0].name, s[2]) for s in done if not s[4]]
    per_type = {}
    for name, v in untraced:
        per_type.setdefault(name, []).append(v * 1e3)
    p50 = harness.geomean(statistics.median(v) for v in per_type.values())
    diag = {
        "workload": args.workload, "seed": args.seed, "ops": attempted, "wall_s": wall,
        "per_type_p50_ms": {k: statistics.median(v) for k, v in per_type.items()},
        "per_type_n": {k: len(v) for k, v in per_type.items()},
        "env.calib_ms": statistics.median(calib), "run.drift": harness.drift(untraced),
        "total_s": time.perf_counter() - T_START,
        "gen_s": gen_s, "check_s": check_s,
        "setup": {"import_s": t_import, "session_s": session_s, "load_s": load_s, "warmup_s": warm_s},
        **extra,
    }
    print(json.dumps({"diagnostics": diag}))

    if args.trace:
        traced = [s for s in samples if s[4] and s[5] is not None]
        metrics = {k: 0.0 for k in LAYER_UNITS}
        for k in LAYER_UNITS:
            vals = [s[5][k] for s in traced if k in s[5]]
            if vals:
                metrics[k] = float(np.mean(vals))
        t_types = {}
        for s in traced:
            t_types.setdefault(s[0].name, []).append(s[2] * 1e3)
        common = [k for k in t_types if k in per_type]
        if common:
            metrics["trace.overhead"] = harness.geomean(
                statistics.median(t_types[k]) for k in common) / harness.geomean(
                statistics.median(per_type[k]) for k in common)
        if floors:
            metrics["spark.job_floor_ms"] = statistics.median(floors)
        if phases:
            for k in phases[0]:
                metrics["pipeline.dedup." + k] = float(np.median([p[k] for p in phases]))
        if "ann_topk" in t_types:
            metrics["pipeline.similarity.topk_ms"] = statistics.median(t_types["ann_topk"])
        if "ingest" in per_type:
            metrics["ingest.append_p50_ms"] = statistics.median(per_type["ingest"])
            metrics["ingest.read_p50_ms"] = statistics.median(per_type["read_newest"])
        metrics.update({
            "session.start_s": session_s, "table.load_s": statistics.median(load_s),
            "env.calib_ms": diag["env.calib_ms"], "run.drift": diag["run.drift"],
        })
        if "store_mb" in extra:
            metrics["store.mb"] = extra["store_mb"]
        if "disk_mb" in extra:
            metrics["ingest.disk_mb"] = extra["disk_mb"]
        metrics.update(layer_extra)
        units = LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": p50,
            "ops_per_s": sum(n for _, n, _ in rounds) / sum(w for w, _, _ in rounds),
            "rows_per_s": sum(r for _, _, r in rounds) / sum(w for w, _, _ in rounds),
            "ok_frac": (attempted - failed) / attempted,
        }
        units = E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
