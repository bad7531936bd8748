"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 \
        --trace 0

Workloads (see workloads.py): ``etl_load`` and ``query_mix``.
Runs on ``local[<cores>]`` with ``get_spark()``'s own defaults; only
the warehouse and scratch locations are pointed into the run directory.
Inputs are generated from ``--seed`` (datagen.py) and every output is
checked (checks.py).  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.  Everything else the run has to say (the product's own
"already up to date" lines, Spark's log, a result file with the
effective session conf) goes to standard error or the run directory
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_load", "query_mix")

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "pass_ref_cpu_s": "s",
    "rows_per_ref_cpu_s": "rows/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cold_setup_s": "s",
    "session.peak_rss_mb": "MB",
    "setup.fixture_s": "s",
    "setup.pg_start_s": "s",
    "setup.prepare_s": "s",
    "update.resolve_source_ms": "ms",
    "update.source_modified_ms": "ms",
    "update.read_source_ms": "ms",
    "update.pre_gate_jobs": "count",
    "sources.sas7bdat.decode_s": "s",
    "sources.csv.decode_s": "s",
    "sources.scan_tasks": "count",
    "sources.sas7bdat.schema_sample_ms": "ms",
    "plans.apply_options_ms": "ms",
    "plans.rows_in": "count",
    "plans.rows_out": "count",
    "catalog.parquet.get_modified_ms": "ms",
    "catalog.csv.get_modified_ms": "ms",
    "catalog.postgres.get_comment_ms": "ms",
    "catalog.set_modified_ms": "ms",
    "catalog.decisions.loaded": "count",
    "catalog.decisions.skipped": "count",
    "catalog.skip_call_p50_ms": "ms",
    "sinks.parquet.write_s": "s",
    "sinks.csv.write_s": "s",
    "sinks.postgres.export_s": "s",
    "sinks.postgres.copy_s": "s",
    "sinks.postgres.ddl_s": "s",
    "sinks.postgres.psql_calls": "count",
    "sinks.parquet.bytes_written": "bytes",
    "sinks.csv.bytes_written": "bytes",
    "sinks.parquet.files_written": "count",
    "sinks.csv.files_written": "count",
    "sinks.parquet.bytes_per_source_byte": "ratio",
    "queries.plan_build_ms": "ms",
    "queries.relational.wall_s": "s",
    "queries.tpch.wall_s": "s",
    "queries.text.wall_s": "s",
    "queries.dedup_similarity.wall_s": "s",
    "queries.graph.wall_s": "s",
    "queries.stream_events.wall_s": "s",
    "queries.stats.wall_s": "s",
    "queries.multimodal.wall_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.slot_utilization": "ratio",
    "spark.task_skew": "ratio",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}
SETUP_CYCLES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Python workers must import the package whatever the cwd, Spark
    runs on every core of this machine, and scratch files stay in the
    run directory."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    sys.path[:0] = [ROOT, HERE]


def warm_up(spark, run_dir: str) -> None:
    """A fixed small job set, an aggregate and a parquet write, so the
    workload's first call does not pay for class loading alone."""
    spark.range(200_000).selectExpr("sum(id)", "count(*)").collect()
    spark.range(10_000).selectExpr("id", "cast(id as double) / 7 as x").write \
        .mode("overwrite").parquet(os.path.join(run_dir, "tmp", "warmup"))


def sessions(run_dir: str) -> tuple[object, dict]:
    """Set the session up SETUP_CYCLES times (get_spark + warm-up) and
    keep the last; the first cycle also starts the JVM."""
    from wrds2pg_spark.session import get_spark

    cycles = []
    spark = None
    for i in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.sql.warehouse.dir":
                "file://" + os.path.join(run_dir, "warehouse")})
        t1 = time.perf_counter()
        warm_up(spark, run_dir)
        cycles.append((t1 - t0, time.perf_counter() - t1))
    totals = [a + b for a, b in cycles]
    return spark, {
        "setup_s": statistics.median(totals),
        "session.get_spark_s": statistics.median(a for a, _ in cycles),
        "session.warmup_s": statistics.median(b for _, b in cycles),
        "session.cold_setup_s": totals[0],
    }


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it ends when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def make_inputs(args, run_dir: str):
    """The seed's inputs, generated or reused, and their set-up time."""
    import datagen

    t0 = time.perf_counter()
    # inputs are cached per seed and per version of the generator
    with open(datagen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    cache = os.path.join(run_dir, "inputs", version, f"seed-{args.seed}")
    if args.workload == "query_mix":
        inputs = datagen.make_query_tables(os.path.join(cache, "sf"),
                                           args.seed)
    else:
        inputs = datagen.make_catalog(os.path.join(cache, "catalog"),
                                      args.seed)
    return inputs, time.perf_counter() - t0


def run(args, run_dir: str) -> dict:
    import workloads
    from pgscratch import ScratchPostgres

    t_start = time.perf_counter()
    inputs, fixture_s = make_inputs(args, run_dir)
    with contextlib.ExitStack() as stack:
        pg = None
        if args.workload == "etl_load":
            pg = stack.enter_context(ScratchPostgres(run_dir))
        stack.callback(stop_jvm)
        t0 = time.perf_counter()
        spark, setup = sessions(run_dir)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = stack.enter_context(Tracer(spark))
        bench = workloads.Bench(spark, run_dir, args.seed, args.seconds,
                                tracer, [pg.server_pid] if pg else [])
        if args.workload == "query_mix":
            workloads.query_mix(bench, inputs)
        else:
            workloads.etl_load(bench, workloads.Etl(bench, inputs, pg))
        rss = workloads.peak_rss_mb()
        conf = dict(spark.sparkContext.getConf().getAll())
        t0 = time.perf_counter()
    bench.phases.update(fixture=fixture_s, session=session_s,
                        teardown=time.perf_counter() - t0,
                        total=time.perf_counter() - t_start)

    e2e = {"setup_s": setup["setup_s"], **workloads.end_to_end(bench)}
    layer = {k: v for k, v in setup.items() if k != "setup_s"}
    layer["session.peak_rss_mb"] = rss
    layer["setup.fixture_s"] = fixture_s
    layer["setup.pg_start_s"] = pg.start_s if pg else 0.0
    layer["setup.prepare_s"] = bench.prepare_s
    if tracer:
        # a layer the workload does not reach reads 0
        layer = {**dict.fromkeys(PER_LAYER, 0.0), **layer,
                 **workloads.per_layer(bench)}
    return {"e2e": e2e, "layer": layer, "bench": bench, "conf": conf}


def result_line(metrics: dict[str, float], units: dict[str, str],
                attempted: int, failed: int) -> dict:
    """The contract line: every named metric, nothing else."""
    missing = set(units) - set(metrics)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def write_reports(run_dir: str, args, out: dict, line: dict) -> None:
    """Result file per run; the traced run also writes the layer file
    with its tracing overhead against the untraced run of the same
    workload and seed, when one is on disk."""
    import workloads

    res_dir = os.path.join(run_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    bench = out["bench"]
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "passes": len(bench.pass_walls), "calls": len(bench.records),
        "call_walls": [[r["name"], r.get("sink"), round(r["wall"], 4),
                        round(r["cpu"], 2), round(r["jit"], 2),
                        round(r["probe"], 4)] for r in bench.records],
        "pass_cpu_s": workloads.pass_cpu_s(bench),
        "host_factor": workloads.host_factor(bench),
        "skip_walls": [[r["name"], r["sink"], round(r["wall"], 4)]
                       for r in bench.skips],
        "end_to_end": out["e2e"], "setup": out["layer"],
        "call_quantiles_s": workloads.call_quantiles(bench),
        "pass_wall_s": workloads.pass_wall_s(bench),
        "error_rate": line["failed"] / line["attempted"],
        "notes": bench.notes, "session_conf": out["conf"],
        "phases_s": bench.phases,
    }
    with open(os.path.join(res_dir, f"{stem}-trace{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if not args.trace:
        return
    overhead = None
    untraced = os.path.join(res_dir, f"{stem}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        # (a result file left by an older version may lack a metric)
        overhead = {k: v - base[k] for k, v in out["e2e"].items()
                    if k in base}
    layers = os.path.join(run_dir, "layers")
    os.makedirs(layers, exist_ok=True)
    with open(os.path.join(layers, f"{stem}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "per_layer": out["layer"],
                   "traced_end_to_end": out["e2e"],
                   "tracing_overhead": overhead}, f, indent=1,
                  sort_keys=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the scratch server and the
    # JVM are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "wrds2pg_spark", "update.py")):
        print("perfbench: wrds2pg_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench")
    prepare_env(run_dir)
    # Everything but the result line goes to stderr, including what the
    # product, the JVM and the workers write to fd 1.
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        out = run(args, run_dir)
        bench = out["bench"]
        attempted = len(bench.records) + len(bench.skips)
        if args.trace:
            line = result_line(out["layer"], PER_LAYER, attempted,
                               bench.failed)
        else:
            line = result_line(out["e2e"], END_TO_END, attempted,
                               bench.failed)
        write_reports(run_dir, args, out, line)
        for note in bench.notes:
            print(f"perfbench: {note}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(result_fd, 1)
        os.close(result_fd)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
