"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload fs_upserts --seed 1 --seconds 20 --trace 0

One run: generate (or reuse) the seeded inputs, set the Spark session up,
prepare the workload untimed, run whole iterations until ``--seconds`` have
passed, run the correctness gate, and print a report whose
last line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` every call runs in its own Spark job
group, Spark's event log is on, and the metrics are the per-layer ones.

Everything the run writes stays under ``.perfbench/`` in the working
directory. The exit code is 0 only when every correctness check passed.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
MASTER = f"local[{CORES}]"
PACKAGE = "databricks_feature_store_flight_school_spark"
FS_LAYER_SPANS = [
    "featurestore.client.create_feature_table", "featurestore.writer.write_initial",
    "featurestore.online.publish_full", "featurestore.writer.commit",
    "featurestore.client.read_table", "featurestore.scoring.score_batch",
    "operators.ivm.refresh_mv", "featurestore.online.publish_incremental",
]
FS_QUANTITIES = ["wall_s", "driver_s", "jobs", "task_s", "shuffle_write_mb", "input_mb"]


def _configure_env(run_dir: str, trace: bool) -> str:
    """Point every scratch location at ``run_dir`` before the JVM starts;
    with tracing, also turn Spark's event log on."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "eventlog", "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Derby stands in for the online store; its log fsyncs are host disk
    # noise, not engine cost, so they are off (durability=test). The JIT stops
    # at C1: runs are too short for C2's compile storm to settle, which left
    # the timed iterations on the warm-up slope. The serial collector sizes
    # the heap from allocation alone, not from pause timing as G1 does, so
    # peak RSS stops following the host's speed (perfbench/DESIGN.md).
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['derby']} "
                 f"-Dderby.stream.error.file={os.path.join(dirs['derby'], 'derby.log')} "
                 "-Dderby.system.durability=test -XX:TieredStopAtLevel=1 -XX:+UseSerialGC")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{k}={v}'" for k, v in conf.items()) + " pyspark-shell"
    return dirs["eventlog"]


def _warm(spark) -> None:
    """Session warm pass: one job, so the scheduler and executor threads
    are up. The Python worker pool starts on the workload's first UDF, in
    its untimed prepare step."""
    spark.range(100_000).selectExpr("sum(id)").collect()


def _setup(get_spark) -> tuple[object, float, float]:
    t0 = time.perf_counter()
    spark = get_spark(master=MASTER, shuffle_partitions=CORES)
    t1 = time.perf_counter()
    _warm(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _layer_metrics(setup_table: dict, timed_table: dict, totals: dict,
                   iterations: int, session: tuple[float, float]) -> dict[str, float]:
    """Every per-layer metric this run can name; layers a workload leaves
    idle read 0."""
    from workloads import CATALOG_QUERIES

    def row(name: str) -> dict:
        return timed_table.get(name) or setup_table.get(name) or {}

    out = {}
    for span in FS_LAYER_SPANS:
        for q in FS_QUANTITIES:
            out[f"{span}.{q}"] = row(span).get(q, 0.0)
    for q in CATALOG_QUERIES:
        build, execute = row(f"plans.{q}.build"), row(f"plans.{q}.exec")
        out[f"plans.{q}.build_s"] = build.get("wall_s", 0.0)
        out[f"plans.{q}.exec_s"] = execute.get("wall_s", 0.0)
        out[f"plans.{q}.jobs"] = build.get("jobs", 0) + execute.get("jobs", 0)
        out[f"plans.{q}.max_task_s"] = max(build.get("max_task_s", 0.0),
                                          execute.get("max_task_s", 0.0))
    out["session.get_spark_s"], out["session.warm_s"] = session
    out["unattributed.jobs"] = totals["unattributed_jobs"]
    out["unattributed.task_s"] = totals["unattributed_task_s"]
    out["spark.shuffle_write_mb"] = totals["shuffle_write_mb"] / max(iterations, 1)
    out["spark.spill_mb"] = totals["spill_mb"] / max(iterations, 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE)) and os.path.isdir(os.path.join(ROOT, "tools"))
            and os.path.exists(spec_path)):
        print(f"perfbench: run from the repository root ({PACKAGE}/, tools/ and "
              "BENCHMARK.json must be present)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from workloads import WORKLOADS, geomean, tail

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    eventlog_dir = _configure_env(run_dir, trace)

    import pyspark

    from eventlog import Spans, render, summarize
    from inputs import cached, source_digest

    t = time.perf_counter()
    # the key names every sizing parameter and the generator code, so a
    # resize or a generator change never reuses stale inputs
    tag = f"{args.workload}-{workload.input_tag()}-{source_digest(ROOT)}-seed{args.seed}"
    inputs, was_cached = cached(os.path.join(WORK, "inputs", tag),
                                lambda d: workload.make_inputs(d, args.seed))
    gen_s = time.perf_counter() - t

    from databricks_feature_store_flight_school_spark.session import get_spark

    spark, get_s, warm_s = _setup(get_spark)
    sc = spark.sparkContext
    setup_spans = Spans(sc if trace else None, "setup")
    spans = Spans(sc if trace else None, "timed")

    t = time.perf_counter()
    workload.prepare(spark, inputs, run_dir, setup_spans)
    prepare_s = time.perf_counter() - t

    iters: list[float] = []
    window_start = time.time()
    t0 = time.perf_counter()
    # process start to the first timed call: interpreter, imports, JVM
    # launch, package ship, warm pass, worker pool and the workload's
    # untimed prepare; input generation is the benchmark's own and left out
    setup_s = t0 - PROCESS_START - gen_s
    while time.perf_counter() - t0 < args.seconds:  # whole iterations
        t = time.perf_counter()
        try:
            workload.iteration(spans)
        except Exception as exc:  # noqa: BLE001 — counted and reported
            traceback.print_exc()
            workload.failures.append(f"{spans.raised or 'iteration'}: iteration {len(iters) + 1}: "
                                     f"{type(exc).__name__}: {exc}")
            break
        iters.append(time.perf_counter() - t)
    window = (window_start, time.time())

    try:
        workload.check()
    except Exception as exc:  # noqa: BLE001 — counted and reported
        traceback.print_exc()
        workload.failures.append(f"check: {type(exc).__name__}: {exc}")
    rss_mb = _vm_hwm_mb(sc._gateway.proc.pid) + _vm_hwm_mb("self")
    host = {
        "nproc": os.cpu_count(), "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "pyspark": pyspark.__version__, "python": platform.python_version(),
    }
    spark.stop()
    proc = sc._gateway.proc
    sc._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF, its Python workers with it
    proc.wait(timeout=60)

    ops = workload.op_latencies(spans)
    medians = {op: statistics.median(v) for op, v in ops.items() if v}
    end_to_end = {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "iteration_s": statistics.median(iters) if iters else math.nan,
        "op_geomean_s": geomean(medians.values()) if medians else math.nan,
    }
    attempted = max(workload.attempted, 1)
    failed = len(workload.failures)

    print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("# host:", json.dumps(host))
    print("# inputs:", json.dumps(workload.input_sizes(inputs)),
          f"generated_s={gen_s:.3f} cached={str(was_cached).lower()}")
    print(f"# setup_s={setup_s:.4f}: get_spark_s={get_s:.4f} warm_s={warm_s:.4f} "
          f"prepare_s={prepare_s:.4f}")
    print(f"# iterations={len(iters)} "
          f"timed_s={window[1] - window[0]:.4f}")
    counts = workload.op_counts(spans)
    for op, v in ops.items():
        tail_v, pct = tail(v)
        tail_txt = f"p{pct}={tail_v:.4f}" if tail_v is not None else "tail=n/a(n<11)"
        med = f"{medians[op]:.4f}" if op in medians else "n/a"
        print(f"# op {op}: attempted={counts[op][0]} failed={counts[op][1]} "
              f"p50={med} {tail_txt}")
    for name, value in workload.named_metrics(ops, iters).items():
        print(f"metric {name} {value:.6g} s")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in end_to_end.items():
        print(f"metric {name} {value:.6g} {units.get(name, '')}")
    print(f"# attempted={attempted} failed={failed} failed_ratio={failed / attempted:.4f}")
    for f in workload.failures:
        print("# FAILED:", f)

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": end_to_end, "host": host, "timed_window": window,
              "eventlog_dir": eventlog_dir,
              "setup_spans": setup_spans.records, "spans": spans.records}
    if trace:
        base = os.path.join(WORK, "reports", f"{args.workload}-trace0.json")
        untraced = None
        if os.path.exists(base):  # the last untraced run of this workload
            with open(base) as fh:
                untraced = json.load(fh)
        tables, totals, overhead = summarize(report, untraced)
        layer = _layer_metrics(tables["setup_spans"], tables["spans"], totals,
                               len(iters), (get_s, warm_s))
        wanted = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in wanted}
        print(f"# traced end-to-end: {json.dumps(end_to_end)}")
        for line in render(tables, totals, overhead):
            print("#", line)
    else:
        metrics = {m["name"]: {"value": end_to_end[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh)
    for m in metrics.values():  # a failed run may lack a value; JSON has no NaN
        m["value"] = None if math.isnan(m["value"]) else m["value"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
