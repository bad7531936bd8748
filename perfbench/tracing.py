"""Per-layer tracing for the traced run (``--trace 1``).

Spans come from the benchmark's own side of each layer boundary: the
tracer swaps the module attributes the product resolves at call time
(``update.read_source``, ``sinks.parquet.get_modified_pq``, ...) for
timing wrappers and puts the originals back on exit.  Nothing in the
product changes, and an untraced run installs nothing.

Spark's engine counters are read per call from the status store
(``sc._jsc.sc().statusStore()``) for the job group the benchmark sets
around that call, after the listener bus has drained, so every job,
stage and task of the call is counted.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._patches: list[tuple[object, str, object]] = []
        self._stack: list[list] = []
        self._call: dict | None = None
        self._group = None
        self._n = 0
        self.decode_acc = self.sc.accumulator(0.0)

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def _record(self, name: str, dur: float, self_dur: float) -> None:
        if self._call is not None:
            tot = self._call["spans"][name]
            tot[0] += dur
            tot[1] += self_dur
            tot[2] += 1

    def wrap(self, module, attr: str, name: str, before=None, after=None):
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                with self.span("trace.gate_probe"):
                    before()
            with self.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result)
            return result

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def __enter__(self) -> "Tracer":
        import wrds2pg_spark.sinks.csv as scsv
        import wrds2pg_spark.sinks.parquet as spq
        import wrds2pg_spark.sinks.postgres as spg
        import wrds2pg_spark.sources.sas7bdat as ssas
        import wrds2pg_spark.update as up

        self.wrap(up, "resolve_source", "update.resolve_source")
        self.wrap(up, "source_modified", "update.source_modified")
        self.wrap(up, "read_source", "update.read_source")
        self.wrap(up, "apply_options", "plans.apply_options")
        self.wrap(ssas, "read_sas7bdat", "sources.sas7bdat.schema_sample")
        self.wrap(up, "update_parquet", "sinks.parquet.update")
        self.wrap(up, "update_csv", "sinks.csv.update")
        self.wrap(spg, "update_postgres_copy", "sinks.postgres.update")
        self.wrap(spq, "get_modified_pq", "catalog.parquet.get_modified")
        self.wrap(scsv, "get_modified_csv", "catalog.csv.get_modified")
        self.wrap(spg, "get_table_comment", "catalog.postgres.get_comment")
        self.wrap(spq, "set_modified_pq", "catalog.set_modified")
        self.wrap(scsv, "set_modified_csv", "catalog.set_modified")
        for mod in (spq, scsv, spg):
            self.wrap(mod, "needs_update", "catalog.needs_update",
                      before=self._gate_reached, after=self._decision)
        return self

    def __exit__(self, *exc) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def _gate_reached(self) -> None:
        if self._call is not None and "pre_gate_jobs" not in self._call:
            self._drain()
            self._call["pre_gate_jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(self._group))

    def _decision(self, loaded: bool) -> None:
        if self._call is not None:
            key = "catalog.decisions.loaded" if loaded else \
                "catalog.decisions.skipped"
            self._call["counts"][key] += 1

    # -- seams the benchmark passes in ------------------------------------

    def psql_runners(self, execute_sql, execute_query, copy_csv):
        """Wrap the psql seam callables: DDL, comment stamp, comment
        read and COPY each get their own span, and every call counts."""
        def count():
            if self._call is not None:
                self._call["counts"]["sinks.postgres.psql_calls"] += 1

        def sql(stmt):
            count()
            name = ("catalog.set_modified" if stmt.startswith("COMMENT ON")
                    else "sinks.postgres.ddl")
            with self.span(name):
                return execute_sql(stmt)

        def query(stmt):
            count()
            with self.span("sinks.postgres.query"):
                return execute_query(stmt)

        def copy(*args, **kwargs):
            count()
            with self.span("sinks.postgres.copy"):
                return copy_csv(*args, **kwargs)

        return sql, query, copy

    def sas_read_fn(self):
        """A ``pandas.read_sas``-shaped decoder that adds the time spent
        pulling chunks on executors to an accumulator (driver-side
        schema sampling is timed by the ``read_sas7bdat`` span)."""
        acc = self.decode_acc

        # nested, so cloudpickle ships it by value to the workers, which
        # cannot import this module
        def timed_chunks(reader):
            it = iter(reader)
            while True:
                t = time.perf_counter()
                try:
                    chunk = next(it)
                except StopIteration:
                    acc.add(time.perf_counter() - t)
                    return
                acc.add(time.perf_counter() - t)
                yield chunk

        def read(path, **kwargs):
            import pandas as pd
            from pyspark import TaskContext

            reader = pd.read_sas(path, **kwargs)
            if TaskContext.get() is None:
                return reader
            return timed_chunks(reader)

        return read

    # -- per call ------------------------------------------------------------

    def call(self, label: str):
        return _Call(self, label)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def spark_counters(self, group: str, t0: float, t1: float) -> dict:
        """Engine counters of every job the group ran between epoch
        seconds ``t0`` and ``t1``."""
        self._drain()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = defaultdict(float)
        busy = []
        first_stage_tasks = 0
        stage_ids = []
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["spark.jobs"] += 1
            stage_ids.extend(info.stageIds)
        for sid in sorted(set(stage_ids)):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            n_tasks = st.numCompleteTasks()
            if not first_stage_tasks:
                first_stage_tasks = n_tasks
            out["spark.stages"] += 1
            out["spark.tasks"] += n_tasks
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.output_bytes"] += st.outputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1e3,
                             done.get().getTime() / 1e3))
            if n_tasks >= 2:
                out["spark.task_skew"] = max(
                    out["spark.task_skew"], self._skew(store, sid,
                                                       st.attemptId()))
        out["sources.scan_tasks"] = first_stage_tasks
        out["spark.driver_only_s"] = max(
            0.0, (t1 - t0) - _covered(busy, t0, t1))
        return dict(out)

    def _skew(self, store, sid: int, attempt: int) -> float:
        """max / median executor run time of the stage's tasks."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = store.taskSummary(sid, attempt, qs)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 0.0


def _covered(intervals, t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


class _Span:
    __slots__ = ("tracer", "name", "t0", "child")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        # outside a traced call (the concurrent set-up loads) no span
        # is kept, so only the calling thread touches the stack
        self.child = 0.0
        self.t0 = None
        if self.tracer._call is not None:
            self.tracer._stack.append(self)
            self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.t0 is None:
            return
        dur = time.perf_counter() - self.t0
        stack = self.tracer._stack
        stack.pop()
        if stack:
            stack[-1].child += dur
        self.tracer._record(self.name, dur, dur - self.child)


class _Call:
    """One benchmark operation: sets a job group, collects the spans
    the operation's layers opened and the group's engine counters."""

    def __init__(self, tracer: Tracer, label: str):
        self.tracer, self.label = tracer, label
        self.record: dict = {}

    def __enter__(self) -> dict:
        tr = self.tracer
        tr._n += 1
        tr._group = f"perfbench-{tr._n}"
        tr.sc.setJobGroup(tr._group, self.label)
        self.record = {"spans": defaultdict(lambda: [0.0, 0.0, 0]),
                       "counts": defaultdict(int)}
        tr._call = self.record
        self.decode0 = tr.decode_acc.value
        self.t0 = time.time()
        return self.record

    def __exit__(self, *exc) -> None:
        tr = self.tracer
        t1 = time.time()
        tr._call = None
        tr.sc.setLocalProperty("spark.jobGroup.id", None)
        tr.sc.setLocalProperty("spark.job.description", None)
        rec = self.record
        rec["spark"] = tr.spark_counters(tr._group, self.t0, t1)
        rec["sas_decode_s"] = tr.decode_acc.value - self.decode0
        rec["spans"] = {k: tuple(v) for k, v in rec["spans"].items()}
        rec["counts"] = dict(rec["counts"])
