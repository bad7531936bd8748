"""Output checks, all computed outside the timed region.

* ETL loads: each sink table (parquet directory, gzip-CSV directory,
  PostgreSQL table) must hold exactly the rows a DuckDB computation of
  the same ingest options over the generated source gives: same column
  names in order, same row count, same order-insensitive hash.  The
  DuckDB side is written here from the option strings, not through the
  product's option parsers.
* ETL skips: every call returned False and no sink file, stamp or table
  changed (``snapshot`` before and after).
* Queries: each sampled key with ``oracle_sql()`` collects the same
  normalized row multiset as DuckDB over the same parquet tables.
"""

from __future__ import annotations

import glob
import math
import os
import re
import subprocess

import duckdb
import pyarrow as pa

# PG type of a col_types override -> DuckDB type, and how Spark's cast
# to it behaves (numeric -> integer truncates toward zero; numeric ->
# boolean goes through int, as plans.ingest does).
_DUCK = {"integer": "INTEGER", "bigint": "BIGINT", "float8": "DOUBLE",
         "boolean": "BOOLEAN", "text": "VARCHAR"}
_MISSING = [*"ABCDEFGHIJKLMNOPQRSTUVWXYZ", "_", "."]


def _expand(spec: str, columns: list[str]) -> list[str]:
    out = []
    for tok in spec.lower().split():
        if tok.endswith(":"):
            out += [c for c in columns if c.startswith(tok[:-1])]
        else:
            out.append(tok)
    return list(dict.fromkeys(out))


def _where_sql(where: str) -> str:
    sql = re.sub(r"(\w+)\s+is\s+not\s+missing", r"\1 IS NOT NULL", where,
                 flags=re.I)
    ops = {"eq": "=", "ne": "<>", "gt": ">", "lt": "<", "ge": ">=",
           "le": "<="}
    return re.sub(r"\b(eq|ne|gt|lt|ge|le)\b",
                  lambda m: ops[m.group(1).lower()], sql)


def _q(name: str) -> str:
    return '"' + name + '"'


def expected_sql(columns: dict[str, str], options: dict) -> tuple[str, list]:
    """SQL over a relation named ``src`` (columns: name -> DuckDB type)
    applying ``options`` the way the SAS data step does: obs, drop/keep,
    rename, where, fix_missing, col_types.  Returns the SQL and the
    output (name, DuckDB type) list."""
    cols = list(columns)
    sql = "SELECT * FROM src"
    if options.get("obs") is not None:
        sql += f" LIMIT {int(options['obs'])}"
    if options.get("drop"):
        dropped = set(_expand(options["drop"], cols))
        cols = [c for c in cols if c not in dropped]
    if options.get("keep"):
        cols = _expand(options["keep"], cols)
    renames = dict(p.lower().split("=", 1)
                   for p in (options.get("rename") or "").split())
    out = [(renames.get(c, c), columns[c], c) for c in cols]
    sql = ("SELECT " + ", ".join(f"{_q(c)} AS {_q(n)}" for n, _, c in out)
           + f" FROM ({sql})")
    if options.get("where"):
        sql += " WHERE " + _where_sql(options["where"])
    casts = {k.lower(): v for k, v in options.get("col_types", {}).items()}
    exprs, typed = [], []
    for name, typ, _ in out:
        expr, target = _q(name), typ
        if name in casts and _DUCK[casts[name]] != typ:
            target = _DUCK[casts[name]]
            if typ == "VARCHAR" and options.get("fix_missing") and \
                    target != "VARCHAR":
                miss = ", ".join(f"'{m}'" for m in _MISSING)
                expr = (f"CASE WHEN trim({expr}) IN ({miss}, '') THEN NULL "
                        f"ELSE {expr} END")
            if typ == "DOUBLE" and target in ("INTEGER", "BIGINT"):
                expr = f"trunc({expr})"
            if typ == "DOUBLE" and target == "BOOLEAN":
                expr = f"CAST(trunc({expr}) AS INTEGER) <> 0"
            expr = f"CAST({expr} AS {target})"
        exprs.append(f"{expr} AS {_q(name)}")
        typed.append((name, target))
    return f"SELECT {', '.join(exprs)} FROM ({sql})", typed


def _digest(con, rel_sql: str, names: list[str]) -> tuple[int, int]:
    cols = ", ".join(_q(n) for n in names)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
        f"FROM ({rel_sql})").fetchone()
    return int(n), int(h)


def register_source(con, source, frame) -> dict[str, str]:
    """Register the source as ``src``.  sas7bdat sources come from the
    generator's own frame (NaN is SAS missing, so null); CSV sources
    are read from the file itself, every column text, empty as null."""
    if source.kind == "sas7bdat":
        con.register("src_arrow", pa.Table.from_pandas(
            frame, preserve_index=False))
        con.execute("CREATE OR REPLACE TEMP VIEW src AS "
                    "SELECT * FROM src_arrow")
    else:
        con.execute(
            "CREATE OR REPLACE TEMP VIEW src AS SELECT * FROM read_csv("
            f"'{source.path}', header=true, all_varchar=true)")
    rows = con.execute("DESCRIBE src").fetchall()
    return {r[0].lower(): r[1] for r in rows}


def expected_digest(con, source, frame, options) -> tuple[list, int, int]:
    """(output columns with DuckDB types, row count, hash) of the
    source under ``options``."""
    columns = register_source(con, source, frame)
    sql, typed = expected_sql(columns, options)
    n, h = _digest(con, sql, [c for c, _ in typed])
    return typed, n, h


def sink_digest(con, kind: str, location, typed) -> tuple[list, int, int]:
    """(column names, row count, hash) of what a sink holds, read back
    with the expected types.  ``location`` is a directory for parquet
    and CSV, or ``(psql_argv, schema, table, dump_path)`` for
    PostgreSQL."""
    names = [c for c, _ in typed]
    if kind == "parquet":
        rel = f"read_parquet('{location}/*.parquet')"
        got = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        sql = ("SELECT " + ", ".join(
            f"CAST({_q(c)} AS {t}) AS {_q(c)}" for c, t in typed)
            + f" FROM {rel}")
    else:
        if kind == "csv":
            # Spark's CSV writer escapes quotes with a backslash, psql
            # by doubling them
            files = sorted(glob.glob(f"{location}/part-*.csv.gz"))
            escape = "\\"
        else:
            psql_argv, schema, table, dump = location
            _pg_dump(psql_argv, schema, table, dump)
            files, escape = [dump], '"'
        if not files:
            return [], 0, 0
        flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        head = con.execute(
            f"DESCRIBE SELECT * FROM read_csv({flist}, header=true, "
            "all_varchar=true)").fetchall()
        got = [r[0] for r in head]
        if got != names:
            return got, 0, 0
        types = "{" + ", ".join(f"'{c}': '{t}'" for c, t in typed) + "}"
        sql = (f"SELECT * FROM read_csv({flist}, header=true, "
               f"columns={types}, escape='{escape}', quote='\"')")
    n, h = _digest(con, sql, names)
    return got, n, h


def _pg_dump(psql_argv, schema: str, table: str, path: str) -> None:
    stmt = (f'\\copy (SELECT * FROM "{schema}"."{table}") TO '
            f"'{path}' WITH (FORMAT csv, HEADER true)")
    r = subprocess.run(list(psql_argv) + ["-X", "-q", "-v", "ON_ERROR_STOP=1",
                                          "-c", stmt],
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        raise RuntimeError(f"psql dump failed: {r.stderr[-300:]}")


def check_sink(con, source, frame, options, kind, location) -> str | None:
    """None when the sink matches the DuckDB computation, else a
    one-line reason."""
    typed, n, h = expected_digest(con, source, frame, options)
    names, sn, sh = sink_digest(con, kind, location, typed)
    want = [c for c, _ in typed]
    if names != want:
        return f"{source.key} {kind}: columns {names} != {want}"
    if sn != n:
        return f"{source.key} {kind}: {sn} rows != {n}"
    if sh != h:
        return f"{source.key} {kind}: row hash differs"
    return None


# ---------------------------------------------------------------------------
# skip path
# ---------------------------------------------------------------------------

def file_snapshot(path: str) -> tuple:
    """Every file under ``path`` with size and mtime, plus the
    directory's own mtime (the CSV sink's stamp)."""
    if not os.path.exists(path):
        return ()
    out = [("", os.stat(path).st_mtime_ns)]
    for d, _, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(d, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out, key=str))


def pg_snapshot(execute_query, schema: str, table: str) -> tuple:
    """The table's storage identity, row count and comment stamp."""
    return tuple(execute_query(
        "SELECT c.relfilenode, obj_description(c.oid, 'pg_class'), "
        f'(SELECT count(*) FROM "{schema}"."{table}") FROM pg_class c '
        f"WHERE c.oid = '\"{schema}\".\"{table}\"'::regclass"))


def skip_failures(results: list[bool], before: dict, after: dict) -> int:
    """Skip calls that went wrong: each call that loaded, plus each
    sink whose snapshot moved."""
    loaded = sum(1 for r in results if r is not False)
    moved = sum(1 for k in before if before[k] != after.get(k))
    return loaded + moved


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# The normalization of tools/driver_sim.py (type-tagged values, floats
# rounded to six decimals); that module puts a fixed path on sys.path
# when imported, so it is repeated here rather than imported.
FLOAT_DECIMALS = 6


def _norm(v):
    # type-tagged, so an int and a float of the same value differ
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{round(v, FLOAT_DECIMALS)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if v is None:
        return "n:"
    return f"s:{v}"


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def query_oracle(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(con, sql: str, cols: list[str],
                rows: list[tuple]) -> str | None:
    cur = con.execute(sql)
    ocols = [d[0].lower() for d in cur.description]
    orows = cur.fetchall()
    cols = [c.lower() for c in cols]
    if sorted(cols) != sorted(ocols):
        return f"schema {sorted(cols)} != {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != {len(orows)}"
    if normalize(cols, rows) != normalize(ocols, orows):
        return "values differ"
    return None
