"""Seeded inputs for the benchmark.

Two input sets, both generated from ``--seed`` alone (same seed, same
bytes) and cached per seed under the run directory:

* the ETL catalog: WRDS-like single-file sources (``.sas7bdat``
  written with the product's own ``write_sas7bdat``, ``.csv`` and
  ``.csv.gz``) with one seeded set of SAS-style ingest options each;
* the query tables: the ten TPC-H-shaped parquet tables every
  ``REGISTRY`` key reads, at the row counts of the sf0.01 testdata
  (TESTDATA.md), with the same column names, types and value domains.

The catalog's *shape* (tables, columns, row counts, which options) is
fixed; the seed moves the values and the option parameters inside
narrow bands, so different seeds cost the same to load and the runs of
one workload are comparable.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Every source carries a fixed "Last modified" epoch so that the gate's
# stamps, and with them every skip decision, depend on the seed only.
_STAMP_BASE = 1_700_000_000


@dataclass(frozen=True)
class Source:
    """One catalog table: where its source file lives and the ingest
    options every load of it uses."""

    schema: str
    table: str
    path: str
    kind: str  # "sas7bdat" | "csv" | "csv.gz"
    rows: int
    options: dict = field(hash=False, default_factory=dict)

    @property
    def key(self) -> str:
        return f"{self.schema}.{self.table}"


# ---------------------------------------------------------------------------
# ETL catalog
# ---------------------------------------------------------------------------

# (schema, table, kind, rows).  A small WRDS-shaped table after
# FIXTURES.md section 2, a larger gzip-CSV one and a lineitem-shaped
# sas7bdat that carries most of the rows, so one pass holds cheap calls
# and heavy ones.  Sized so a pass over all tables and three sinks takes
# under ten seconds on four cores, and a run times three passes or more.
CATALOG_SHAPE = (
    ("audit", "feed20_nt", "csv", 3_000),
    ("risk", "directors", "csv.gz", 10_000),
    ("tpch", "lineitem", "sas7bdat", 20_000),
)

_FIRST = ("José", "Zoë", "Müller", "Ana", "Björn", "Chloé", "Iñigo", "Lee",
          "Søren", "Frédéric", "Mary", "Renée", "Ömer", "Ángel", "Kai")
_LAST = ("Peña", "García", "Schäfer", "Nuñez", "O'Neil", "Dubois", "Smith",
         "Åberg", "Kowalski", "Brontë", "Costa", "Ibáñez", "Wong")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")


def _sas_days(rng: np.random.Generator, n: int, start: str, end: str):
    """Dates as SAS stores them: float days since 1960-01-01."""
    lo = (pd.Timestamp(start) - pd.Timestamp("1960-01-01")).days
    hi = (pd.Timestamp(end) - pd.Timestamp("1960-01-01")).days
    return rng.integers(lo, hi, n).astype("float64")


def _special_missing(rng, values: list[str], share: float) -> list[str]:
    """Replace a share of numeric strings with SAS special-missing
    letters, as the reference's raw CSV carries them."""
    mask = rng.random(len(values)) < share
    letters = rng.choice(["A", "B", "C", "."], len(values))
    return [str(m) if hit else v for v, hit, m in zip(values, mask, letters)]


def _feed20_nt(rng, n):
    base = pd.Timestamp("2020-01-01")
    secs = np.sort(rng.integers(0, 4 * 365 * 86400, n))
    accepted = [str(base + pd.Timedelta(seconds=int(s))) for s in secs]
    ac = [a if keep else "" for a, keep in
          zip(accepted, rng.random(n) > 0.1)]
    df = pd.DataFrame({
        "nt_notify_key": [str(2**53 + int(k)) for k in
                          rng.integers(0, 10**9, n)],
        "cik": [str(int(k)) for k in rng.integers(1000, 2_000_000, n)],
        "filer_name": [f"{_LAST[i % len(_LAST)]} Holdings {i}"
                       for i in rng.integers(0, 10_000, n)],
        "file_accepted": accepted,
        "ac_file_accepted": ac,
        "ac_form": rng.choice(["10-K", "10-Q", "20-F"], n),
        "form_fkey": rng.choice(["NT 10-K", "NT 10-Q", "NT 20-F"], n),
    })
    opts = {
        "keep": "nt_notify_key file_accepted ac_: form_fkey",
        "where": "ac_file_accepted is not missing",
        "obs": int(n * rng.uniform(0.93, 0.97)),
        "col_types": {"nt_notify_key": "bigint"},
    }
    return df, opts


def _directors(rng, n):
    def nums(lo, hi, digits):
        vals = [f"{v:.{digits}f}" for v in rng.uniform(lo, hi, n)]
        return _special_missing(rng, vals, 0.05)

    names = [f"{_FIRST[a]} {_LAST[b]}" for a, b in
             zip(rng.integers(0, len(_FIRST), n),
                 rng.integers(0, len(_LAST), n))]
    df = pd.DataFrame({
        "director_name": names,
        "annrev": nums(1e5, 5e9, 2),
        "year_term_ends": nums(2020, 2030, 0),
        "voting": nums(0, 100, 3),
        "votecref": nums(0, 100, 3),
        "outside_public_boards": [str(v) for v in rng.integers(0, 6, n)],
        "committees": [", ".join(rng.choice(_WORDS, 3)) for _ in range(n)],
    })
    opts = {
        "rename": "director_name=name",
        "fix_missing": True,
        "col_types": {
            "annrev": "float8", "year_term_ends": "float8",
            "voting": "float8", "votecref": "float8",
            "outside_public_boards": "integer",
        },
    }
    return df, opts


def _lineitem(rng, n):
    partkey = rng.integers(0, 20_000, n).astype("float64")
    partkey[rng.random(n) < 0.03] = np.nan  # SAS missing
    df = pd.DataFrame({
        "l_orderkey": rng.integers(0, n // 4, n).astype("float64"),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, 1_000, n).astype("float64"),
        "l_linenumber": rng.integers(1, 8, n).astype("float64"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": rng.uniform(900, 105_000, n).round(2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returned": rng.integers(0, 2, n).astype("float64"),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _sas_days(rng, n, "1995-01-02", "2001-11-04"),
        "l_shipmode": rng.choice(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"], n),
    })
    opts = {
        "drop": "l_linenumber l_tax l_ship:",
        "rename": "l_extendedprice=l_price",
        "where": f"l_quantity ge {int(rng.integers(4, 7))}",
        "obs": int(n * rng.uniform(0.88, 0.92)),
        "col_types": {"l_orderkey": "bigint", "l_partkey": "bigint",
                      "l_suppkey": "integer", "l_returned": "boolean"},
    }
    return df, opts


_GENERATORS = {
    "feed20_nt": _feed20_nt, "directors": _directors, "lineitem": _lineitem,
}


def source_frame(seed: int, index: int) -> tuple[pd.DataFrame, dict]:
    """The generated frame and ingest options of catalog table
    ``index`` (the frame is what its source file holds)."""
    _, table, _, rows = CATALOG_SHAPE[index]
    return _GENERATORS[table](np.random.default_rng([seed, index]), rows)


def _write_csv(df: pd.DataFrame, path: str, gz: bool) -> None:
    text = df.to_csv(index=False, lineterminator="\n").encode("utf-8")
    if gz:
        # mtime=0 and no file name in the gzip header: same bytes per seed
        buf = io.BytesIO()
        with gzip.GzipFile(filename="", mode="wb", fileobj=buf,
                           mtime=0) as f:
            f.write(text)
        text = buf.getvalue()
    with open(path, "wb") as f:
        f.write(text)


def make_catalog(root: str, seed: int) -> list[Source]:
    """Write the catalog's source files under ``root`` and return one
    ``Source`` per table.  Reuses files a previous call wrote for the
    same seed (the manifest is written last, so a half-written
    catalog is regenerated)."""
    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return [Source(**{**s, "path": os.path.join(root, s["path"])})
                    for s in json.load(f)]
    shutil.rmtree(root, ignore_errors=True)
    out = []
    for i, (schema, table, kind, rows) in enumerate(CATALOG_SHAPE):
        df, opts = source_frame(seed, i)
        d = os.path.join(root, schema)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{table}.{kind}")
        stamp = _STAMP_BASE + 86_400 * (seed % 1000) + 3_600 * i
        if kind == "sas7bdat":
            # header stamp: seconds since 1960-01-01, wall clock
            write_sas7bdat(df, path, modified_secs=stamp + 315_619_200.0)
        else:
            _write_csv(df, path, gz=kind == "csv.gz")
        os.utime(path, (stamp, stamp))
        out.append(Source(schema, table, path, kind, rows, opts))
    with open(manifest, "w") as f:
        json.dump([{**s.__dict__, "path": os.path.relpath(s.path, root)}
                   for s in out], f, indent=1)
    return out


# ---------------------------------------------------------------------------
# Query tables (sf0.01-shaped)
# ---------------------------------------------------------------------------

QUERY_TABLE_ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000, "events": 10_000,
    "documents": 500, "embeddings": 500,
}
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget")


def _query_frames(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    n = QUERY_TABLE_ROWS
    i32, i64 = "int32", "int64"
    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
    }
    c = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(i32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, c).round(2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(i32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, s).round(2),
    })
    p = n["part"]
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(p, dtype=i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(i32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    day = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 2404, o) * 86_400_000_000).astype("timedelta64[us]")
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=i64),
        "o_custkey": rng.integers(0, c, o).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": rng.uniform(1000, 500_000, o).round(2),
        "o_orderdate": day,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    ship = np.datetime64("1995-01-02", "us") + (
        rng.integers(0, 2498, li) * 86_400_000_000).astype("timedelta64[us]")
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, o, li).astype(i64),
        "l_partkey": rng.integers(0, p, li).astype(i64),
        "l_suppkey": rng.integers(0, s, li).astype(i64),
        "l_linenumber": rng.integers(1, 8, li).astype(i32),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": rng.uniform(900, 105_000, li).round(2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": ship,
    })
    e = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, e)).astype("timedelta64[us]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=i64),
        "ts": ts,
        "user_id": rng.integers(0, 150, e).astype(i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": rng.exponential(50, e).round(2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document, as the testdata has
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=i64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], d),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=i64),
    })
    m = n["embeddings"]
    vec = rng.normal(0, 1, (m, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m, dtype=i64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, m).astype(i32),
    })
    return out


def make_query_tables(root: str, seed: int) -> str:
    """Write the ten query tables as ``root/<name>.parquet`` (one file
    each, like the sf0.01 testdata) and return ``root``."""
    done = os.path.join(root, "_done")
    if os.path.exists(done):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    frames = _query_frames(np.random.default_rng([seed, 99]))
    for name, df in frames.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding",
                pa.array(df["embedding"].map(list), pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    open(done, "w").close()
    return root
