"""Benchmark entry point for the s2spark engine.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 18 --trace 0

Run from the repository root.  One process is one closed-loop client: a
single driver on local[N] (N = usable cores, shuffle partitions = N) that
sets up its inputs, then repeats the workload's fixed operation list for
about --seconds of measured time, checking every operation's output.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1.  The line before it is the full record (run context,
per-operation latencies, and with --trace 1 every span with its Spark stage
metrics); the same record is written under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MIN_PASSES = 3  # timed passes per run, at least, so run_s is a median
CALIB_ROWS = 10_000_000


def _metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of BENCHMARK.json's `end_to_end` or `per_layer` list:
    the metrics the result line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let workers import the package from any cwd.  Must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # a 2 GB heap with a fixed young generation: with the session's
        # default 8 GB heap, how much of it the JVM touched, and so its
        # peak RSS, varied far more from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in conf.items())
    os.environ.update({
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the session's own warm-up writes outside the checkout; the
        # first set-up repetition warms the session instead
        "S2_SESSION_WARMUP": "0",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def _unpersist_except(spark, keep: set[int]) -> None:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in set(rdds) - keep:
        rdds[rid].unpersist(True)


def _peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (VmHWM) of the driver's Python process and JVM."""
    out = {}
    for name, pid in (("python", os.getpid()),
                      ("jvm", spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as f:
            out[name] = next(int(line.split()[1]) for line in f
                             if line.startswith("VmHWM:")) / 1024.0
    return out


def _calibrate(spark, cpus: int) -> float:
    """The allocation-free JVM trig loop of bench.py's calibration, over
    CALIB_ROWS rows: a reading of the host window, not of the engine."""
    from pyspark.sql import functions as F
    t = time.perf_counter()
    (spark.range(0, CALIB_ROWS, 1, cpus * 8)
     .select((F.cos(F.col("id") * F.lit(1e-9 + 1e-12)) +
              F.sin(F.col("id") * F.lit(2e-9))).alias("v"))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t


class Runner:
    def __init__(self, spark, workload, tracer):
        self.spark, self.wl, self.tracer = spark, workload, tracer
        self.plant = False  # self-test: plant one wrong row once
        self.keep: set[int] = set()
        self.attempted = self.failed = 0
        self.failures: list[dict] = []
        self.leaked_max = 0

    def run_pass(self, index: int, traced: bool = False) -> dict:
        """One pass of the timed operations (all operations when `traced`);
        returns {op name: latency}.  Outputs are checked after the pass,
        outside timing."""
        from pyspark.sql import DataFrame

        from checks import digest
        results, lat, errors = {}, {}, {}
        for op in self.wl.ops(index):
            if not (op.timed or traced):
                continue
            t = time.perf_counter()
            try:
                with self.tracer.span(op.layer, op=op.name, index=index):
                    out = op.run()
                    if isinstance(out, DataFrame):
                        if self.plant:  # self-test: one duplicated row
                            self.plant = False
                            out = out.unionByName(out.limit(1))
                        out = digest(out, op.columns)
            except Exception as e:  # an operation that fails is counted
                out, errors[op.name] = None, repr(e)
            lat[op.name] = time.perf_counter() - t
            results[op.name] = out
            leaked = len(_persisted(self.spark) - self.keep)
            self.leaked_max = max(self.leaked_max, leaked)
        if errors:
            bad = set(results)
        else:
            try:
                bad = self.wl.check(index, results)
            except Exception as e:
                bad, errors["check"] = set(results), repr(e)
        self.last_results = results
        self.attempted += len(results)
        self.failed += len(bad)
        if bad:
            self.failures.append({"pass": index, "ops": sorted(bad),
                                  "errors": errors})
        self.wl.after_pass(index)
        _unpersist_except(self.spark, self.keep)
        return lat


def _layer_metrics(tracer, wl, probes: dict, extra: dict) -> dict:
    """Every per-layer metric of the benchmark's layer table."""
    spans = tracer.spans

    def pick(name, **attrs):
        return [s for s in spans if s.name == name and
                all(s.attrs.get(k) == v for k, v in attrs.items())]

    def self_s(ss):
        return sum(tracer.self_seconds(s) for s in ss)

    def stage(ss, key):
        return sum(s.stages.get(key, 0) for s in ss)

    def op_spans(layer):
        return [s for s in pick(layer) if "op" in s.attrs and
                s.attrs.get("index") == extra["traced_index"]]

    def children(ss, name):
        ids = {s.span_id for s in ss}
        return [s for s in spans if s.parent in ids and s.name == name]

    def ratio(a, b):
        return a / b if b else 0.0

    m = {}
    scan = self_s(pick("sources.pages", probe="scan"))
    geoparse = self_s(pick("sources.pages", probe="geoparse"))
    m["sources.pages.scan_s"] = scan
    m["sources.pages.geoparse_s"] = geoparse - scan if geoparse else 0.0
    m["sources.pages.input_bytes"] = stage(
        pick("sources.pages", probe="scan"), "input_bytes")
    cellid = self_s(pick("functions", probe="cellid"))
    m["functions.cellid_s"] = cellid - geoparse if cellid else 0.0
    cov = pick("kernel.coverer")
    m["kernel.coverer.covering_s"] = self_s(cov)
    m["kernel.coverer.covering_cells"] = sum(s.attrs["cells"] for s in cov)

    sj = op_spans("operators.spatial_join")
    cand = self_s(pick("operators.spatial_join", probe="candidates"))
    verified = self_s(pick("operators.spatial_join", probe="verified"))
    m["operators.spatial_join.candidate_s"] = cand
    m["operators.spatial_join.verify_s"] = verified - cand if verified \
        else 0.0
    m["operators.spatial_join.candidates"] = probes.get("candidates", 0)
    m["operators.spatial_join.verified"] = probes.get("verified", 0)
    m["operators.spatial_join.amplification"] = ratio(
        m["operators.spatial_join.candidates"],
        m["operators.spatial_join.verified"])
    m["operators.spatial_join.shuffle_bytes"] = stage(
        sj, "shuffle_write_bytes")
    m["operators.spatial_join.spill_bytes"] = stage(
        sj, "spill_memory_bytes") + stage(sj, "spill_disk_bytes")
    m["operators.spatial_join.task_s"] = stage(sj, "task_ms") / 1000.0
    m["operators.spatial_join.gc_s"] = stage(sj, "gc_ms") / 1000.0
    m["operators.spatial_join.exchanges"] = stage(sj, "exchanges")

    knn = op_spans("operators.knn")
    m["operators.knn.query_s"] = self_s(knn)
    m["operators.knn.rounds"] = probes.get("knn_rounds", 0)
    routes = op_spans("operators.routes")
    m["operators.routes.query_s"] = self_s(routes)
    m["operators.routes.covering_cells"] = sum(
        s.attrs["cells"] for s in children(routes, "kernel.coverer"))

    dd = op_spans("operators.dedup")
    dcand = self_s(pick("operators.dedup", probe="candidates"))
    dver = self_s(pick("operators.dedup", probe="verified"))
    m["operators.dedup.candidate_s"] = dcand
    m["operators.dedup.verify_s"] = dver - dcand if dver else 0.0
    m["operators.dedup.candidates"] = probes.get("dedup_candidates", 0)
    m["operators.dedup.pairs"] = probes.get("pairs", 0)
    m["operators.dedup.amplification"] = ratio(
        m["operators.dedup.candidates"], m["operators.dedup.pairs"])
    m["operators.dedup.shuffle_bytes"] = stage(dd, "shuffle_write_bytes")
    m["operators.dedup.exchanges"] = stage(dd, "exchanges")
    m["operators.components.propagation_s"] = self_s(
        pick("operators.components", probe="propagation"))

    lay = op_spans("plans.layout")
    writes = [s for s in lay if s.attrs["op"] == "layout_write"]
    reads = [s for s in lay if s.attrs["op"].startswith("range_read")]
    m["plans.layout.write_s"] = self_s(writes)
    m["plans.layout.files"] = getattr(wl, "layout_files", 0)
    m["plans.layout.bytes"] = getattr(wl, "layout_bytes", 0)
    m["plans.layout.range_read_s"] = self_s(reads)
    m["plans.layout.rows_scanned_per_row_returned"] = ratio(
        stage(reads, "input_records"), extra.get("range_rows", 0))
    lin = op_spans("plans.lineage")
    m["plans.lineage.write_s"] = self_s(
        [s for s in lin if s.attrs["op"] == "lineage_write"])
    m["plans.lineage.resume_s"] = self_s(
        [s for s in lin if s.attrs["op"] == "lineage_resume"])

    covering_ops = [s for layer in ("operators.spatial_join",
                                    "operators.knn", "operators.routes")
                    for s in op_spans(layer)]
    m["memo_hit_share"] = ratio(
        sum(1 for s in covering_ops if not children([s], "kernel.coverer")),
        len(covering_ops))
    traced = [s for s in spans if s.attrs.get("index") ==
              extra["traced_index"]]
    m["session.persisted_rdds"] = extra["leaked_max"]
    m["session.startup_s"] = extra["startup_s"]
    m["session.task_s"] = stage(traced, "task_ms") / 1000.0
    m["session.gc_s"] = stage(traced, "gc_ms") / 1000.0
    m["session.trace_overhead_s"] = extra["trace_overhead_s"]
    return m


def measure(args, work: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    cpus = _cpus()
    from s2_geometry_kotlin_spark.kernel.coverer import RegionCoverer
    from s2_geometry_kotlin_spark.session import get_spark

    from spans import Tracer
    from workloads import WORKLOADS

    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus,
                      shuffle_partitions=cpus)
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        startup_s = time.perf_counter() - t0
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id)
        wl = WORKLOADS[args.workload](spark, args.seed, work, cpus)
        runner = Runner(spark, wl, tracer)

        get_covering = RegionCoverer.get_covering

        def traced_covering(coverer, region):
            with tracer.span("kernel.coverer") as sp:
                cells = get_covering(coverer, region)
                if sp is not None:
                    sp.attrs["cells"] = len(cells)
            return cells

        if args.trace:
            RegionCoverer.get_covering = traced_covering
            tracer.enabled = True
        phases = {"startup": startup_s}
        mark = time.perf_counter()

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        setup_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("setup", rep=rep):
                wl.setup(rep)
            setup_times.append(time.perf_counter() - t)
        tracer.enabled = False
        runner.keep = _persisted(spark)
        phase("setup")

        # the first passes warm the JVM's generated code and the Python
        # workers for this operation list; they are checked, not timed
        warmup_s = [sum(runner.run_pass(i).values())
                    for i in range(wl.WARMUP_PASSES)]
        phase("warmup_and_check")
        runner.plant = args.plant_wrong_row
        # a fixed pass count, not a time budget: a faster commit must not
        # measure more (and more warmed-up) passes than a slower one.  The
        # traced run reports no end-to-end metric, so a single untraced
        # pass is its baseline for the tracing overhead.
        n_passes = 1 if args.trace else \
            max(MIN_PASSES, round(args.seconds / wl.PASS_S))
        traced_index = wl.WARMUP_PASSES + n_passes
        pass_times, op_by_pass = [], []
        for index in range(wl.WARMUP_PASSES, traced_index):
            lat = runner.run_pass(index)
            pass_times.append(sum(lat.values()))
            op_by_pass.append(lat)
        run_s = statistics.median(pass_times)
        # each latency operation's median over the passes, then their
        # mean: a slow outlier of one operation, or two operations
        # swapping rank, does not move it the way a pooled median does
        op_p50 = {k: statistics.median(lat[k] for lat in op_by_pass)
                  for k in wl.LATENCY_OPS}
        phase("timed_and_check")

        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": bool(args.trace), "cpus": cpus,
            "spark_version": spark.version, "run_seconds": args.seconds,
            "setup_reps_s": setup_times, "startup_s": startup_s,
            "warmup_pass_s": warmup_s,
            "pass_s": pass_times, "op_s": op_by_pass,
            "op_p50_by_op_s": op_p50, "op_latencies_n": n_passes,
            "rows": wl.rows, "input_shares": wl.shares,
            "layers": list(wl.LAYERS),
        }
        metrics = {}
        if args.trace:
            wl.setup_traced()
            tracer.enabled = True
            lat = runner.run_pass(traced_index, traced=True)
            # the timed operations only, as in run_s
            secs = sum(lat[k] for k in op_by_pass[0])
            record["traced_op_s"] = lat
            probes = wl.probes(tracer)
            tracer.enabled = False
            RegionCoverer.get_covering = get_covering
            tracer.collect_stage_metrics()
            extra = {"traced_index": traced_index, "startup_s": startup_s,
                     "leaked_max": runner.leaked_max,
                     "trace_overhead_s": secs - run_s,
                     "range_rows": sum(
                         r[0] for k, r in runner.last_results.items()
                         if k.startswith("range_read"))}
            layers = _layer_metrics(tracer, wl, probes, extra)
            record.update(layer_metrics=layers, probes=probes,
                          spans=tracer.records())
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in _metric_units("per_layer").items()}
        else:
            rss = record["peak_rss_mb"] = _peak_rss_mb(spark)
            values = {
                "setup_s": startup_s + statistics.median(setup_times),
                "run_s": run_s,
                "rows_per_s": wl.rows / run_s,
                "op_p50_s": statistics.fmean(op_p50.values()),
                "ok_frac": 1.0 - runner.failed / runner.attempted,
                "bytes_per_row": wl.bytes_per_row,
                "driver_peak_rss_mb": sum(rss.values()),
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in _metric_units("end_to_end").items()}
        record["failures"] = runner.failures
        phase("trace" if args.trace else "rss")
        record["calib_s"] = _calibrate(spark, cpus)
        phase("calib")
        record["phase_s"] = phases
        record["calib_rows"] = CALIB_ROWS
        record["metrics"] = metrics
        result = {"correct": runner.failed == 0,
                  "attempted": runner.attempted, "failed": runner.failed,
                  "metrics": metrics}
        return result, record
    finally:
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-row", action="store_true",
                    help="self-test: add one wrong row to the first timed "
                         "operation's output, which must count as failed")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails fast, before any process starts, when the package is missing
    import s2_geometry_kotlin_spark.session  # noqa: F401

    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        result, record = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
