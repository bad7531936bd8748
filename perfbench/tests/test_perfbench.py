"""Tests of the benchmark itself: input determinism, the output
checkers, the result contract and (slow) the repeatability of the
traced counts.

    python3 -m pytest perfbench/tests            # fast tests
    python3 -m pytest perfbench/tests -m slow    # runs the benchmark
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
from wrds2pg_spark.sinks.postgres import PsqlError  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    for make in (datagen.make_catalog, datagen.make_query_tables):
        a = tmp_path / make.__name__ / "a"
        b = tmp_path / make.__name__ / "b"
        c = tmp_path / make.__name__ / "c"
        make(str(a), 7)
        make(str(b), 7)
        make(str(c), 8)
        assert _digests(str(a)) == _digests(str(b))
        assert _digests(str(a)) != _digests(str(c))


def test_catalog_stamps_follow_the_seed(tmp_path):
    from wrds2pg_spark.update import source_modified

    cat = datagen.make_catalog(str(tmp_path / "a"), 7)
    again = datagen.make_catalog(str(tmp_path / "b"), 7)
    assert [source_modified(s.path) for s in cat] == \
        [source_modified(s.path) for s in again]


def _write_sink(con, sql: str, kind: str, out_dir: str) -> None:
    os.makedirs(out_dir)
    if kind == "parquet":
        con.execute(f"COPY ({sql}) TO '{out_dir}/part-00000.parquet' "
                    "(FORMAT parquet)")
    else:
        con.execute(f"COPY ({sql}) TO '{out_dir}/part-00000.csv.gz' "
                    "(HEADER, COMPRESSION gzip)")


@pytest.mark.parametrize("kind", ["parquet", "csv"])
@pytest.mark.parametrize("table", ["lineitem", "directors"])
def test_checker_flags_a_sink_missing_one_row(tmp_path, kind, table):
    catalog = datagen.make_catalog(str(tmp_path / "cat"), 7)
    i = [s.table for s in catalog].index(table)
    source = catalog[i]
    frame = datagen.source_frame(7, i)[0]
    con = checks.duckdb.connect()
    columns = checks.register_source(con, source, frame)
    sql, typed = checks.expected_sql(columns, source.options)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_sink(con, sql, kind, good)
    _write_sink(con, f"SELECT * FROM ({sql}) LIMIT "
                f"(SELECT count(*) - 1 FROM ({sql}))", kind, bad)
    assert checks.check_sink(con, source, frame, source.options, kind,
                             good) is None
    why = checks.check_sink(con, source, frame, source.options, kind, bad)
    assert why is not None and "rows" in why


def test_checker_flags_a_skip_that_loaded(tmp_path):
    sink = tmp_path / "t.parquet"
    sink.mkdir()
    (sink / "part-00000.parquet").write_bytes(b"x")
    before = {("t", "parquet"): checks.file_snapshot(str(sink))}
    assert checks.skip_failures([False, False], before, dict(before)) == 0
    # a call that reports a load
    assert checks.skip_failures([False, True], before, dict(before)) == 1
    # a call that says it skipped but rewrote the sink
    os.utime(sink / "part-00000.parquet", (1, 1))
    after = {("t", "parquet"): checks.file_snapshot(str(sink))}
    assert checks.skip_failures([False, False], before, after) == 1


def test_where_translation():
    assert checks._where_sql("ac_x is not missing and y ge 3") == \
        "ac_x IS NOT NULL and y >= 3"


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER
    line = run.result_line(dict.fromkeys(run.END_TO_END, 1.5),
                           run.END_TO_END, 3, 0)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert list(line["metrics"]) == list(run.END_TO_END)
    with pytest.raises(KeyError):
        run.result_line({"setup_s": 1.0}, run.END_TO_END, 3, 0)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_load",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert r.stdout == ""


def _traced(workload: str, seed: int) -> dict:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    line = json.loads(r.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0
    return {k: v["value"] for k, v in line["metrics"].items()}


COUNTS = ("spark.jobs", "spark.stages", "spark.tasks",
          "sinks.postgres.psql_calls", "catalog.decisions.loaded",
          "catalog.decisions.skipped", "plans.rows_in", "plans.rows_out")


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_counts_repeat(workload):
    first, second = _traced(workload, 5), _traced(workload, 5)
    assert {k: first[k] for k in COUNTS} == {k: second[k] for k in COUNTS}


@pytest.mark.slow
@pytest.mark.xfail(strict=True, raises=PsqlError, reason=(
    "wrds_update applies col_types to the PostgreSQL DDL only, so the "
    "COPY of a double column into an integer override fails"))
def test_copy_transport_casts_col_types(tmp_path):
    """The defect the etl workloads route around by passing no
    col_types to wrds_update: an integer override of a sas7bdat
    (double) column."""
    import pandas as pd

    from pgscratch import ScratchPostgres
    from wrds2pg_spark.session import get_spark
    from wrds2pg_spark.sinks.postgres import psql_runners
    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat
    from wrds2pg_spark.update import wrds_update

    os.environ["PYTHONPATH"] = ROOT
    src = str(tmp_path / "t.sas7bdat")
    write_sas7bdat(pd.DataFrame({"k": [1.0, 2.0, 3.0]}), src)
    spark = get_spark(app_name="perfbench-tests", driver_memory="2g")
    with ScratchPostgres(str(tmp_path)) as pg:
        sql, query, copy = psql_runners(pg.psql_argv, cwd=str(tmp_path))
        assert wrds_update(spark, src, "t", "s", "", force=True,
                           transport="copy", execute_sql=sql,
                           execute_query=query, copy_csv=copy,
                           col_types={"k": "integer"})
