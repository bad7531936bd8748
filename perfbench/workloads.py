"""The workloads.  Each is a closed loop: one client in one process,
each call waiting for the previous one.

* ``etl_load``: every catalog table through ``wrds_update_pq``,
  ``wrds_update_csv`` and ``wrds_update(transport="copy")`` with
  ``force=True``; after the timed passes, an untimed check of the skip
  path (the same calls without ``force`` must each return False).
* ``query_mix``: a fixed stratified sample of ``REGISTRY`` keys,
  each materialized into the ``noop`` sink as ``bench.py`` does.

A run measures whole passes over its call list, in a fixed order, until
``seconds`` have gone by and at least ``MIN_PASSES`` passes are done, so
every run times the same calls; the seed moves only the data and the
option parameters.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import checks
import datagen

SINKS = ("parquet", "csv", "postgres")
# Passes per run at the least; the metrics take each call's best pass.
# The code still gets faster in the later passes as the JVM compiles it
# (a query pass's CPU time falls from 25 to 14 s over four passes).
MIN_PASSES = {"etl_load": 4, "query_mix": 5}

# One key per family, two for the widest: most sit near the scheduler
# floor (under 0.5 s warm), the graph key is iterative and the dedup key
# is a blocked quadratic self-join.  Fixed rather than drawn per seed, so
# every run times the same work; the seed moves the data.  No key here
# writes outside the run directory (several other keys build fixtures
# in /tmp).  dedup_ngram_jaccard stands for its family rather than
# dedup_minhash_lsh: it has an oracle, and the LSH key's CPU time was
# still falling at the fifth pass and differed by 25 % between runs.
QUERY_SAMPLE = {
    "relational": ("join_inner", "window_rank"),
    "tpch": ("tpch_q3_shape",),
    "text": ("text_stats",),
    "dedup_similarity": ("dedup_ngram_jaccard",),
    "graph": ("graph_pagerank",),
    "stream_events": ("funnel_events",),
    "stats": ("anomaly_zscore",),
    "multimodal": ("multimodal_binary_stats",),
}


# The host-speed probe: CPU time of a fixed sweep over 32 MB.  The CPU
# time of fixed work moves with the host's load (busy neighbours on the
# same cores and memory): across runs on one 4-vCPU virtual machine the
# probe read 28-38 ms, and a query pass's CPU time moved with it.
_SWEEP = np.ones(4_000_000)
REF_PROBE_S = 0.030  # the reference host: one where the probe takes 30 ms


def probe_s() -> float:
    t = time.process_time()
    for _ in range(10):
        _SWEEP.sum()
    return time.process_time() - t


def steal_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, in jiffies."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Bench:
    """State of one run: the session, the run directory, the tracer
    (None when untraced) and every timed call's record."""

    def __init__(self, spark, run_dir: str, seed: int, seconds: float,
                 tracer=None, cpu_roots=()):
        self.spark = spark
        # the processes whose CPU time a call is charged: this one (the
        # JVM, the Python workers and psql are its descendants) and the
        # scratch PostgreSQL server
        self.cpu_roots = [os.getpid(), *cpu_roots]
        stats = _proc_stats()
        self.jvms = [p for p in _process_tree([os.getpid()], stats)
                     if _comm(p) == "java"]
        if not self.jvms:
            raise RuntimeError("no JVM found under this process")
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.records: list[dict] = []
        self.pass_walls: list[float] = []
        self.prepare_s = 0.0
        self.failed = 0
        self.notes: list[str] = []
        self.layer_extra: dict[str, float] = {}
        self.skips: list[dict] = []  # the untimed skip-path check
        self.phases: dict[str, float] = {}  # wall time of each step

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time a step, and the share of CPU time a virtual machine's
        host stole from it meanwhile (the noise of a shared host)."""
        t0, s0 = time.perf_counter(), steal_jiffies()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0
            stolen, total = (b - a for a, b in zip(s0, steal_jiffies()))
            self.phases[f"{name}.steal_pct"] = 100 * stolen / max(total, 1)

    def timed(self, op: str, name: str, fn, **meta) -> dict:
        """Run one call, recording wall time, result and (traced) the
        layer spans and engine counters."""
        rec = {"op": op, "name": name, **meta}
        ctx = self.tracer.call(f"{op}:{name}") if self.tracer else None
        trace_rec = ctx.__enter__() if ctx else None
        rec["probe"] = probe_s()
        c0, j0 = tree_cpu_s(self.cpu_roots), jit_ticks(self.jvms)
        t0 = time.perf_counter()
        try:
            rec["result"] = fn()
            rec["error"] = None
        except Exception as exc:  # a failed call is counted, not fatal
            rec["result"] = None
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc()
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s(self.cpu_roots) - c0
        # compiler threads are started and stopped as the JVM needs
        # them: count those alive at the end, from 0 if new
        rec["jit"] = sum(t - j0.get(tid, 0) for tid, t in
                         jit_ticks(self.jvms).items()) / _TICK
        if ctx:
            ctx.__exit__(None, None, None)
            rec["trace"] = trace_rec
        return rec

    def passes(self, calls: list, do_call, min_passes: int) -> None:
        """Whole passes over ``calls`` until ``seconds`` have gone by,
        and at least ``min_passes`` of them."""
        start = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            for call in calls:
                rec = do_call(call)
                rec["pass"] = len(self.pass_walls)
                self.records.append(rec)
            self.pass_walls.append(time.perf_counter() - p0)
            if time.perf_counter() - start >= self.seconds and \
                    len(self.pass_walls) >= min_passes:
                return


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks: user and system time of the
    process and of the children it has reaped) of every process."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                out[int(pid)] = (int(fields[1]),
                                 sum(int(v) for v in fields[11:15]))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _process_tree(roots, stats) -> list[int]:
    """``roots`` and all their live descendants."""
    kids = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        kids[ppid].append(pid)
    tree, frontier = set(), [r for r in roots if r in stats]
    while frontier:
        p = frontier.pop()
        if p not in tree:
            tree.add(p)
            frontier += kids[p]
    return sorted(tree)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jit_ticks(pids) -> dict[int, int]:
    """tid -> CPU ticks so far of each JIT compiler thread of ``pids``."""
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in head:
                out[int(tid)] = sum(int(v) for v in tail.split()[11:13])
    return out


def tree_cpu_s(roots) -> float:
    """CPU seconds the processes under ``roots`` have used so far."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _process_tree(roots, stats)) / _TICK


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of the process tree."""
    kb = 0
    for pid in _process_tree([os.getpid()], _proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# ---------------------------------------------------------------------------
# ETL
# ---------------------------------------------------------------------------

class Etl:
    """The catalog, its three sinks and the scratch PostgreSQL."""

    def __init__(self, bench: Bench, catalog, pg):
        from wrds2pg_spark.sinks.postgres import psql_runners

        self.bench = bench
        self.catalog = catalog
        self.pg = pg
        lake = os.path.join(bench.run_dir, "lake")
        shutil.rmtree(lake, ignore_errors=True)  # no sink from an earlier run
        self.pq_root = os.path.join(lake, "parquet")
        self.csv_root = os.path.join(lake, "csv")
        self.tmp = os.path.join(bench.run_dir, "tmp")
        runners = psql_runners(pg.psql_argv, cwd=self.tmp)
        self.query = runners[1]
        self.seams = (bench.tracer.psql_runners(*runners)
                      if bench.tracer else runners)
        self.expected_rows = (self.expected_row_counts() if bench.tracer
                              else {})
        self.calls = [(s, sink) for s in catalog for sink in SINKS]

    def location(self, source, sink) -> str:
        from wrds2pg_spark.paths import get_csv_path, get_pq_path

        if sink == "parquet":
            return get_pq_path(source.table, source.schema, self.pq_root)
        return get_csv_path(source.table, source.schema, self.csv_root)

    def update(self, source, sink, force: bool):
        from wrds2pg_spark.update import (
            wrds_update, wrds_update_csv, wrds_update_pq,
        )

        kw = dict(source.options)
        if self.bench.tracer and source.kind == "sas7bdat":
            kw["read_fn"] = self.bench.tracer.sas_read_fn()
        args = (self.bench.spark, source.path, source.table, source.schema)
        if sink == "parquet":
            return wrds_update_pq(*args, data_dir=self.pq_root, force=force,
                                  **kw)
        if sink == "csv":
            return wrds_update_csv(*args, data_dir=self.csv_root, force=force,
                                   **kw)
        # wrds_update takes col_types as PostgreSQL DDL overrides only: the
        # frame is not cast, so an integer override of a sas7bdat double
        # fails at COPY ("7.0").  The PG loads therefore run the other
        # options with inferred types (see perfbench/tests).
        kw.pop("col_types", None)
        sql, query, copy = self.seams
        return wrds_update(*args, "", force=force, transport="copy",
                           execute_sql=sql, execute_query=query,
                           copy_csv=copy, **kw)

    def call(self, source, sink, force: bool, op: str) -> dict:
        rec = self.bench.timed(op, source.key, lambda: self.update(
            source, sink, force), sink=sink, kind=source.kind,
            rows=source.rows)
        if self.bench.tracer and rec["result"]:
            rec["rows_out"] = self.expected_rows[(source.key, sink)]
            if sink != "postgres":
                rec["written"] = _dir_bytes(self.location(source, sink))
                rec["source_bytes"] = os.path.getsize(source.path)
        return rec

    def warm_up(self) -> None:
        """Load every table once with ``force``, untimed, the sinks in
        rotation, so every source reader and every sink writer has run
        before the timed passes.  Any failure raises."""
        for i, source in enumerate(self.catalog):
            sink = SINKS[i % len(SINKS)]
            if self.update(source, sink, True) is not True:
                raise RuntimeError(f"load {source.key} {sink} skipped")

    def options(self, source, sink) -> dict:
        if sink == "postgres":
            return {k: v for k, v in source.options.items()
                    if k != "col_types"}
        return source.options

    def _each_sink(self):
        con = checks.duckdb.connect()
        try:
            for i, source in enumerate(self.catalog):
                frame = datagen.source_frame(self.bench.seed, i)[0]
                for sink in SINKS:
                    yield con, source, frame, sink
        finally:
            con.close()

    def expected_row_counts(self) -> dict[tuple, int]:
        return {(source.key, sink): checks.expected_digest(
                    con, source, frame, self.options(source, sink))[1]
                for con, source, frame, sink in self._each_sink()}

    def check_loads(self) -> dict[tuple, str]:
        """(table, sink) -> reason for every sink that does not match
        its DuckDB computation."""
        bad = {}
        for con, source, frame, sink in self._each_sink():
            if sink == "postgres":
                loc = (self.pg.psql_argv, source.schema, source.table,
                       os.path.join(self.tmp, f"{source.table}.pgdump"))
            else:
                loc = self.location(source, sink)
            why = checks.check_sink(con, source, frame,
                                    self.options(source, sink), sink, loc)
            if why:
                bad[(source.key, sink)] = why
        return bad

    def snapshot(self) -> dict:
        snap = {}
        for source in self.catalog:
            for sink in ("parquet", "csv"):
                snap[(source.key, sink)] = checks.file_snapshot(
                    self.location(source, sink))
            snap[(source.key, "postgres")] = checks.pg_snapshot(
                self.query, source.schema, source.table)
        return snap

    def csv_decode_probe(self) -> float:
        """Decode-only time of the CSV sources (read + noop write), the
        part of a CSV load that is not the sink."""
        from wrds2pg_spark.update import read_source

        total = 0.0
        for source in self.catalog:
            if source.kind.startswith("csv"):
                t0 = time.perf_counter()
                read_source(self.bench.spark, source.path).write.format(
                    "noop").mode("overwrite").save()
                total += time.perf_counter() - t0
        return total


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files a sink wrote."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return size, n


def etl_load(bench: Bench, etl: Etl) -> None:
    with bench.phase("warm_up"):
        etl.warm_up()
    bench.prepare_s = bench.phases["warm_up"]
    with bench.phase("timed"):
        bench.passes(etl.calls,
                     lambda c: etl.call(c[0], c[1], True, "load"),
                     MIN_PASSES["etl_load"])
    with bench.phase("check"):
        bad = etl.check_loads()
    bench.notes += sorted(bad.values())
    for rec in bench.records:
        if rec["error"] or rec["result"] is not True or \
                (rec["name"], rec["sink"]) in bad:
            bench.failed += 1
    # The skip path, untimed: with every sink current, the same calls
    # without force must all return False and change nothing.
    with bench.phase("skip_check"):
        before = etl.snapshot()
        bench.skips = [etl.call(s, sink, False, "skip")
                       for s, sink in etl.calls]
        after = etl.snapshot()
    bench.failed += checks.skip_failures(
        [r["result"] for r in bench.skips], before, after)
    bench.notes += [f"skip changed {k}" for k in before
                    if before[k] != after.get(k)]
    if bench.tracer:
        bench.layer_extra["sources.csv.decode_s"] = len(SINKS) * \
            etl.csv_decode_probe()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def query_mix(bench: Bench, sf_dir: str) -> None:
    from wrds2pg_spark.queries import REGISTRY

    family = {k: f for f, keys in QUERY_SAMPLE.items() for k in keys}
    keys = list(family)
    rows = datagen.QUERY_TABLE_ROWS

    def collect(key):  # the check pass, untimed: also the warm-up
        df = REGISTRY[key].fn(bench.spark, sf_dir)
        tables = _input_tables(df, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()], tables

    with bench.phase("check"):
        with ThreadPoolExecutor(4) as pool:
            futures = {key: pool.submit(collect, key) for key in keys}
        con = checks.query_oracle(sf_dir, rows)
        wrong, reads = set(), {}
        for key, future in futures.items():
            try:
                cols, got, tables = future.result()
                reads[key] = sum(rows[t] for t in tables)
                if REGISTRY[key].oracle:
                    why = checks.check_query(con, REGISTRY[key].oracle,
                                             cols, got)
                    if why:
                        wrong.add(key)
                        bench.notes.append(f"{key}: {why}")
            except Exception as exc:
                wrong.add(key)
                bench.notes.append(
                    f"{key}: {type(exc).__name__}: {exc}"[:300])
        con.close()
    bench.prepare_s = bench.phases["check"]

    def materialize(key, plan):
        t = time.perf_counter()
        df = REGISTRY[key].fn(bench.spark, sf_dir)
        plan["s"] = time.perf_counter() - t
        df.write.format("noop").mode("overwrite").save()
        return True

    def run_key(key):
        plan = {}
        rec = bench.timed("query", key, lambda: materialize(key, plan),
                          family=family[key], rows=reads.get(key, 0))
        rec["plan_build_s"] = plan.get("s", 0.0)
        return rec

    with bench.phase("timed"):
        bench.passes(keys, run_key, MIN_PASSES["query_mix"])
    for rec in bench.records:
        if rec["error"] or rec["name"] in wrong:
            bench.failed += 1


def _input_tables(df, sf_dir: str) -> set[str]:
    """The query tables a plan scans (``inputFiles`` of its leaves)."""
    prefix = os.path.realpath(sf_dir) + os.sep
    out = set()
    for f in df.inputFiles():
        path = os.path.realpath(f.split("file:", 1)[-1])
        if path.startswith(prefix):
            out.add(path[len(prefix):].split(os.sep)[0].split(".")[0])
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _per_call(bench: Bench, field: str) -> dict[tuple, list[float]]:
    out = defaultdict(list)
    for r in bench.records:
        out[(r["name"], r.get("sink"))].append(r[field])
    return out


def pass_cpu_s(bench: Bench) -> float:
    """CPU seconds of one pass: the sum of each call's least CPU time
    over the passes, leaving out the JVM's JIT compiler threads.

    CPU time, not wall time: on a virtual machine, the host takes the
    CPUs back in bursts, and a run with a tenth of its CPU stolen took
    1.5-2x the wall time of a calm one; the kernel leaves stolen time
    out of a process's CPU time.  Without the JIT compiler: it was about
    half of a warm query pass's CPU time, still compiling in the last
    pass, and how much it compiled when differed from run to run.  The
    least over the passes, because the code still gets faster as it is
    compiled, and what runs beside a call only ever adds to it."""
    return sum(min(c - j for c, j in zip(cpu, jit)) for cpu, jit in
               zip(_per_call(bench, "cpu").values(),
                   _per_call(bench, "jit").values()))


def host_factor(bench: Bench) -> float:
    """REF_PROBE_S over the median probe taken before each call: scales
    CPU time measured on this run's host to the reference host."""
    return REF_PROBE_S / statistics.median(r["probe"] for r in bench.records)


def end_to_end(bench: Bench) -> dict[str, float]:
    cpu_s = pass_cpu_s(bench) * host_factor(bench)
    rows = sum(r.get("rows", 0) for r in bench.records if r["pass"] == 0)
    return {"pass_ref_cpu_s": cpu_s, "rows_per_ref_cpu_s": rows / cpu_s}


def pass_wall_s(bench: Bench) -> float:
    """Wall time of one pass, for the result file: each call's fastest
    time over the passes."""
    return sum(min(v) for v in _per_call(bench, "wall").values())


def call_quantiles(bench: Bench) -> dict[str, float]:
    """p50 and p90 of the calls' median times, for the result file
    only: a pass has 9 calls of different kinds, so p50 is one call's
    time and p90 has no ten samples beyond it."""
    medians = [statistics.median(v)
               for v in _per_call(bench, "wall").values()]
    q = statistics.quantiles(medians, n=10)
    return {"p50": q[4], "p90": q[8]}


def per_layer(bench: Bench) -> dict[str, float]:
    """Per-layer metrics: totals per pass over the timed passes
    (median over passes), from the traced calls' spans and counters."""
    by_pass = defaultdict(lambda: defaultdict(float))
    for rec in bench.records:
        acc = by_pass[rec["pass"]]
        tr = rec["trace"]
        spans = tr["spans"]

        def span(name, i=0):
            return spans.get(name, (0.0, 0.0, 0))[i]

        acc["update.resolve_source_ms"] += 1e3 * span("update.resolve_source")
        acc["update.source_modified_ms"] += 1e3 * span(
            "update.source_modified")
        acc["update.read_source_ms"] += 1e3 * span("update.read_source")
        acc["update.pre_gate_jobs"] += tr.get("pre_gate_jobs", 0)
        acc["sources.sas7bdat.decode_s"] += tr["sas_decode_s"]
        acc["sources.sas7bdat.schema_sample_ms"] += 1e3 * span(
            "sources.sas7bdat.schema_sample")
        acc["plans.apply_options_ms"] += 1e3 * span("plans.apply_options")
        loaded = rec["op"] == "load" and rec["result"] is True
        if loaded:
            acc["plans.rows_in"] += rec["rows"]
            acc["plans.rows_out"] += rec.get("rows_out", 0)
        acc["catalog.parquet.get_modified_ms"] += 1e3 * span(
            "catalog.parquet.get_modified")
        acc["catalog.csv.get_modified_ms"] += 1e3 * span(
            "catalog.csv.get_modified")
        acc["catalog.postgres.get_comment_ms"] += 1e3 * span(
            "catalog.postgres.get_comment")
        acc["catalog.set_modified_ms"] += 1e3 * span("catalog.set_modified")
        for k, v in tr["counts"].items():
            acc[k] += v
        if loaded:
            # a sink's write time is its span's self time: the gate,
            # stamp and psql seam calls inside it are child spans
            acc["sinks.parquet.write_s"] += span("sinks.parquet.update", 1)
            acc["sinks.csv.write_s"] += span("sinks.csv.update", 1)
            acc["sinks.postgres.export_s"] += span("sinks.postgres.update",
                                                   1)
        acc["sinks.postgres.copy_s"] += span("sinks.postgres.copy")
        acc["sinks.postgres.ddl_s"] += span("sinks.postgres.ddl")
        if "written" in rec:
            size, files = rec["written"]
            acc[f"sinks.{rec['sink']}.bytes_written"] += size
            acc[f"sinks.{rec['sink']}.files_written"] += files
            if rec["sink"] == "parquet":
                acc["_source_bytes"] += rec["source_bytes"]
        if rec["op"] == "query":
            acc["queries.plan_build_ms"] += 1e3 * rec["plan_build_s"]
            acc[f"queries.{rec['family']}.wall_s"] += rec["wall"]
        sp = tr["spark"]
        for k, v in sp.items():
            if k == "spark.task_skew":
                acc[k] = max(acc[k], v)
            else:
                acc[k] += v
        acc["_wall"] += rec["wall"]
    out = {}
    passes = list(by_pass.values())
    keys = set().union(*passes)
    for k in keys:
        out[k] = statistics.median(p[k] for p in passes)
    run = [p["spark.executor_run_s"] / (p["_wall"] * bench.tracer.cores)
           for p in passes]
    out["spark.slot_utilization"] = statistics.median(run)
    ratio = [p["sinks.parquet.bytes_written"] / p["_source_bytes"]
             for p in passes if p["_source_bytes"]]
    out["sinks.parquet.bytes_per_source_byte"] = (
        statistics.median(ratio) if ratio else 0.0)
    skipped = [r for r in bench.skips if r["result"] is False]
    if skipped:
        out["catalog.decisions.skipped"] = sum(
            r["trace"]["counts"].get("catalog.decisions.skipped", 0)
            for r in skipped)
        out["catalog.skip_call_p50_ms"] = 1e3 * statistics.median(
            r["wall"] for r in skipped)
    out.update(bench.layer_extra)
    return {k: v for k, v in out.items() if not k.startswith("_")}
