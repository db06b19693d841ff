"""Benchmark of the counsel engine, end to end and per layer.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run is a fresh process with Spark at
``local[<cores / 2>]`` and one client in a closed loop: an operation starts
when the previous one ends. The run sets up (session start and warm-up),
runs a first pass and a few warm-up passes, then measures warm passes
until ``--seconds`` have gone by, and prints one JSON object as the last
line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: measured passes alternate between traced and untraced, and
``trace.overhead_s`` is the difference of their medians. Detail files
(every pass, every failure, the spans) go to ``.perfbench_work/results``.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import gen_clinic  # noqa: E402
import gen_tables  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SF = 0.01            # OLAP table scale; the oracle parity attested scale
TABLE_SEED = 42      # the tables are fixed; the run seed orders queries
CLINIC_COUNTIES = 1  # counties in the clinic landing zone
CLINIC_CLINICS = 60  # clinics per county

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("executor_cpu_s", "s"),
    ("ok_frac", "ratio"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("first_pass_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("io.load_table_calls", "count"),
    ("io.load_table_s", "s"),
    ("io.load_table_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.cpu_per_run", "ratio"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.gc_s", "s"),
    ("exec.input_mb", "MB"),
    ("pipeline.merge_build_s", "s"),
    ("pipeline.merge_build_jobs", "count"),
    ("pipeline.merge_exec_s", "s"),
    ("pipeline.merge_exec_jobs", "count"),
    ("pipeline.merge_exec_tasks", "count"),
    ("pipeline.diff_s", "s"),
    ("pipeline.diff_jobs", "count"),
    ("enrich.delta_rows", "count"),
    ("enrich.cache_hit_ratio", "ratio"),
    ("validate.s", "s"),
    ("validate.quarantined_rows", "count"),
    ("pipeline.publish_s", "s"),
    ("publish.bytes", "bytes"),
    ("write.reset_s", "s"),
    ("write.cold_s", "s"),
    ("write.warm_read_s", "s"),
    ("write.files", "count"),
    ("write.bytes", "bytes"),
    ("host.steal_pct", "%"),
    ("host.idle_pct", "%"),
    ("host.load_1m", "load"),
    ("peak_rss_mb", "MB"),
    ("retained_mb", "MB"),
    ("trace.overhead_s", "s"),
]
WORKLOADS = ("olap", "clinic_daily")
# Warm passes after the first and before the measured ones: the first few
# olap passes are still quicker than the one before (4.2, 3.8, 3.4 s, then
# near 3.3 s on a shared four-core host); a clinic batch is level from its
# second pass (17.3, 17.7 s).
WARM_UP_PASSES = {"olap": 3, "clinic_daily": 0}
# Untraced passes measured at least, even when --seconds is over; pass_s and
# executor_cpu_s are their medians. A clinic batch takes 13-18 s, and two of
# them are what the 3420 s that the 4 + 22 runs per workload of a comparison
# may take leave room for.
MIN_MEASURED = {"olap": 5, "clinic_daily": 2}
# Spark's task threads: half the cores. The JVM's compiler and collector
# threads, the Python client process and the Python workers need the others;
# with a task thread per core a clinic batch ran 6% slower on a shared
# four-core host.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
DEADLINE_S = 170  # a run must end within 180 s


def _deadline(signum, frame) -> None:
    """Stop the JVM and exit without a result when a run overstays."""
    from pyspark import SparkContext

    print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is not None and gw.proc is not None:
        gw.proc.kill()
        gw.proc.wait()
    os._exit(3)


def _args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="counsel engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _environment() -> dict[str, str]:
    """Keep every file Spark and the program write inside ``WORK``, quiet
    the logs, and let Python workers import the program.

    The JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``). With the
    default tiered JIT, C2 went on compiling the program's paths for the
    first ten or so passes, and when it finished changed from run to run: a
    clinic batch's second pass read 14.5-18.4 s. With C1 only, passes are
    level from the second (a clinic batch about 12% slower)."""
    paths = {name: _fresh_dir(os.path.join(WORK, name))
             for name in ("tmp", "spark-local", "conf", "warehouse", "store")}
    with open(os.path.join(paths["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.sql.warehouse.dir {paths['warehouse']}\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={paths['tmp']} "
            f"-Dderby.system.home={paths['warehouse']} -XX:TieredStopAtLevel=1\n"
        )
    with open(os.path.join(paths["conf"], "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    prev = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": paths["tmp"],
        "SPARK_CONF_DIR": paths["conf"],
        "SPARK_LOCAL_DIRS": paths["spark-local"],
        "SPARK_GRAFT_CPUS": str(CORES),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([prev] if prev else [])),
    })
    return paths


def _tables() -> str:
    """The OLAP tables, generated once per checkout."""
    out = os.path.join(WORK, "tables", f"sf{SF}-seed{TABLE_SEED}")
    if not os.path.isfile(os.path.join(out, "DONE")):
        tmp = _fresh_dir(out + ".partial")
        gen_tables.generate(tmp, SF, TABLE_SEED)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def _warm_up(spark) -> None:
    """Bring the executor up: one aggregate through codegen, a shuffle and
    the noop sink. What else a pass needs first (parquet footers, Python
    workers, the JIT of the program's paths) is cold work of the first
    pass, as in a fresh process that runs one batch and ends."""
    from pyspark.sql import functions as F

    (spark.range(60_000).groupBy((F.col("id") % 3).alias("g")).agg(F.sum("id"))
     .write.format("noop").mode("overwrite").save())


def layer_metrics(pass_spans) -> dict[str, float]:
    """Per-layer numbers for one pass from its spans."""
    def by(name):
        return [s for s in pass_spans if s.name == name]

    def dur(name):
        return sum(s.seconds for s in by(name))

    def spark(name):
        return sum((s.spark for s in by(name)), spans.StageTotals())

    ex = spark("exec")
    return {
        "plans.build_s": dur("plans.build"),
        "plans.build_jobs": spark("plans.build").jobs,
        "io.load_table_calls": len(by("io.load_table")),
        "io.load_table_s": dur("io.load_table"),
        "io.load_table_jobs": spark("io.load_table").jobs,
        "catalyst.plan_s": dur("catalyst.plan"),
        "exec.s": dur("exec"),
        "exec.jobs": ex.jobs,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.run_s": ex.run_s,
        "exec.cpu_s": ex.cpu_s,
        "exec.cpu_per_run": ex.cpu_s / ex.run_s if ex.run_s else 0.0,
        "exec.shuffle_read_mb": ex.shuffle_read_mb,
        "exec.shuffle_write_mb": ex.shuffle_write_mb,
        "exec.spill_mb": ex.spill_mb,
        "exec.gc_s": ex.gc_s,
        "exec.input_mb": ex.input_mb,
        "pipeline.merge_build_s": dur("pipeline.merge_build"),
        "pipeline.merge_build_jobs": spark("pipeline.merge_build").jobs,
        "pipeline.merge_exec_s": dur("pipeline.merge_exec"),
        "pipeline.merge_exec_jobs": spark("pipeline.merge_exec").jobs,
        "pipeline.merge_exec_tasks": spark("pipeline.merge_exec").tasks,
        "pipeline.diff_s": dur("pipeline.diff"),
        "pipeline.diff_jobs": spark("pipeline.diff").jobs,
        "validate.s": dur("validate"),
        "pipeline.publish_s": dur("pipeline.publish"),
    }


def _median_dict(dicts: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "counsel_data_pipeline_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")):
        print(f"perfbench: the engine's sources are not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    paths = _environment()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    catalog = wl.import_program()
    # inputs and the oracle are made before set-up and are not part of it
    t0 = time.perf_counter()
    sf_dir = zone = None
    if args.workload == "olap":
        sf_dir = _tables()
    else:
        zone = _fresh_dir(os.path.join(WORK, "clinic"))
        gen_clinic.generate(zone, args.seed, CLINIC_COUNTIES, CLINIC_CLINICS)
    checker = wl.load_checker(ROOT)
    queries = wl.olap_queries(catalog, write_path=bool(args.trace)) if zone is None else {}
    expected = wl.oracle_signatures(checker, queries, sf_dir) if queries else {}
    outside_setup = time.perf_counter() - t0

    from counsel_data_pipeline_spark.session import get_spark

    weather0 = spans.cpu_times()
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t1
    t2 = time.perf_counter()
    _warm_up(spark)
    warm_up_s = time.perf_counter() - t2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    probe = spans.SparkProbe(spark)
    tracer = spans.Tracer(run_id, probe, enabled=False)
    if zone is not None:
        workload = wl.ClinicWorkload(spark, zone, paths["store"], tracer)
    else:
        workload = wl.OlapWorkload(spark, queries, sf_dir, checker, expected, tracer, args.seed)
    unwrap = spans.count_load_table(tracer) if args.trace else (lambda: None)
    setup_s = time.perf_counter() - T_START - outside_setup

    outcome = wl.Outcome()
    passes: list[wl.PassResult] = []

    def one_pass(traced: bool) -> wl.PassResult:
        tracer.enabled = traced
        mark = len(tracer.spans)
        group = f"{run_id}/pass{len(passes)}"
        if traced:
            with tracer.span("pass"):
                ops = workload.run_pass()
            cpu = tracer.spans[mark].spark.cpu_s
        else:
            with probe.group(group):
                ops = workload.run_pass()
            cpu = probe.totals(group).cpu_s
        for op in ops:
            outcome.record(op)
        p = wl.PassResult(sum(op.seconds for op in ops), ops, cpu, traced, mark)
        passes.append(p)
        return p

    first = one_pass(traced=False)
    for _ in range(WARM_UP_PASSES[args.workload]):
        one_pass(traced=False)
    measured_from = len(passes)
    t_measure = time.perf_counter()
    while True:
        measured = passes[measured_from:]
        untraced = [p for p in measured if not p.traced]
        traced = [p for p in measured if p.traced]
        enough = (len(untraced) >= (1 if args.trace else MIN_MEASURED[args.workload])
                  and (traced or not args.trace))
        if enough and time.perf_counter() - t_measure >= args.seconds:
            break
        # traced first: the later pass is warmer, so the difference is an
        # upper bound on the tracing overhead
        one_pass(traced=bool(args.trace) and len(traced) <= len(untraced))

    if args.trace and zone is None:
        tracer.enabled = True
        for op in workload.run_write_path(paths["tmp"]):
            outcome.record(op)
    unwrap()

    gw = spark.sparkContext._gateway
    rss = spans.peak_rss_mb([os.getpid(), gw.proc.pid])
    # two full collections and a pause: only traced runs pay for them
    retained = spans.retained_mb(spark) if args.trace else {}
    host = spans.weather(weather0, spans.cpu_times())
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)

    measured = passes[measured_from:]
    untraced = [p for p in measured if not p.traced]
    failed = len(outcome.failures)
    if args.trace:
        traced = [p for p in measured if p.traced]
        ends = [p.mark for p in passes[1:]] + [len(tracer.spans)]
        metrics = {k: 0.0 for k, _ in PER_LAYER}
        metrics.update(_median_dict([
            layer_metrics(tracer.spans[p.mark:end])
            for p, end in zip(passes, ends) if p.traced
        ]))
        metrics.update(workload.stats)
        metrics.update(host)
        metrics["peak_rss_mb"] = rss
        metrics["retained_mb"] = sum(retained.values())
        metrics["session.start_s"] = session_start_s
        metrics["first_pass_s"] = first.seconds
        metrics["trace.overhead_s"] = (statistics.median(p.seconds for p in traced)
                                       - statistics.median(p.seconds for p in untraced))
        units = PER_LAYER
        tracer.write(os.path.join(WORK, "results", f"spans-{run_id}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.seconds for p in untraced),
            "executor_cpu_s": statistics.median(p.cpu_s for p in untraced),
            "ok_frac": (outcome.attempted - failed) / outcome.attempted,
        }
        units = END_TO_END
    pass_times = [p.seconds for p in untraced]
    detail = {
        "run": run_id,
        "setup": {"setup_s": setup_s, "session_start_s": session_start_s,
                  "warm_up_s": warm_up_s, "inputs_and_oracle_s": outside_setup},
        "first_pass_s": first.seconds,
        "measured_from": measured_from,
        "passes": [{"seconds": p.seconds, "cpu_s": p.cpu_s, "traced": p.traced,
                    "ops": [op.__dict__ for op in p.ops]} for p in passes],
        "pass_s": {"median": statistics.median(pass_times), "max": max(pass_times),
                   "n": len(pass_times)},
        "failures": outcome.failures,
        "weather": host,
        "retained_mb": retained,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    for f in outcome.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"perfbench: {run_id} warm pass_s median {detail['pass_s']['median']:.3f} "
          f"max {detail['pass_s']['max']:.3f} n={len(pass_times)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": outcome.attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
