"""Typed CSV source — the reference's actual transport format.

The reference ships every table as a CSV text stream (header first,
wrds2pg/sas/codegen.py:128-150) and types it at the sink from SAS
PROC-CONTENTS metadata (wrds2pg/files/parquet.py:42-59 ConvertOptions;
wrds2pg/postgres/copy.py:17-34 COPY column list).  This module is the
Spark-native equivalent: an explicit ``StructType`` built from PG type
strings (or SAS metadata rows) drives ``spark.read.csv`` so parsing is
JVM-side, schema-checked, and splittable across tasks.

Null semantics carried over:
- empty string -> null (``strings_can_be_null=True`` analog,
  wrds2pg/files/parquet.py:55-58)
- SAS special missing values ``.A``-``.Z``, ``._`` surface in CSV as a
  lone letter/underscore in *numeric* columns (wrds2pg/sas/
  codegen.py:117-124).  Spark's csv reader supports only one
  ``nullValue``, so numeric columns are read as string and scrubbed
  with ``fix_missing`` semantics before the cast — but ONLY when
  ``fix_missing=True`` is requested; otherwise a special missing in a
  numeric column is a loud parse failure under ``FAILFAST``, matching
  the engine's fail-loudly contract (SURVEY §7 hard part 3).
"""

from __future__ import annotations

import gzip
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from wrds2pg_spark.plans.ingest import quote_name, special_missing_to_null
from wrds2pg_spark.plans.types import spark_type_for_pg, struct_type_for

__all__ = [
    "read_csv_typed", "read_csv_sas_meta", "read_csv_strings",
    "normalize_encoding",
]

# SAS encoding names -> java.nio charset names (the vocabulary Spark's
# csv reader understands). Identity for names both worlds share.
_SAS_ENCODINGS = {
    "wlatin1": "windows-1252",
    "latin1": "ISO-8859-1",
    "latin9": "ISO-8859-15",
    "utf-8": "UTF-8",
    "utf8": "UTF-8",
}


def normalize_encoding(name: str) -> str:
    return _SAS_ENCODINGS.get(name.lower(), name)


# Spark 4 whitelists only these charsets unless the legacy conf is on.
_BUILTIN_CHARSETS = {
    "iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le",
    "utf-32", "utf-8",
}


def _enable_full_charsets(spark: SparkSession, charset: str) -> None:
    """windows-1252 (the true wlatin1 equivalent — iso-8859-1 differs
    in 0x80-0x9F) needs spark.sql.legacy.javaCharsets; flip it only
    when actually required."""
    if charset.lower() not in _BUILTIN_CHARSETS:
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")


def read_csv_typed(
    spark: SparkSession,
    path: str,
    col_types: dict[str, str],
    *,
    fix_missing: bool = False,
    header: bool = True,
    mode: str = "FAILFAST",
    encoding: str | None = None,
) -> DataFrame:
    """Read CSV with an explicit schema given as PG type strings
    (the ``col_types`` vocabulary of the reference's API).

    Column order in ``col_types`` defines the file's column order —
    dicts preserve insertion order, mirroring the reference forcing
    canonical names onto the stream (wrds2pg/files/parquet.py:76).

    ``encoding`` mirrors the reference's ``encoding``/``sas_encoding``
    knobs (wrds2pg/api.py:48,131-139, exercised by test_encoding.ipynb
    with wlatin1 sources): Spark charset names follow java.nio, so the
    SAS name ``wlatin1`` is accepted and mapped to ``windows-1252``.
    """
    fields, post_casts = [], {}
    for name, pg in col_types.items():
        name = name.lower()
        dt = spark_type_for_pg(pg)
        if fix_missing and not isinstance(dt, T.StringType):
            # read as text, scrub special missings, cast after
            fields.append(T.StructField(name, T.StringType(), True))
            post_casts[name] = dt
        else:
            fields.append(T.StructField(name, dt, True))

    reader = (
        spark.read.schema(T.StructType(fields))
        .option("header", str(header).lower())
        .option("mode", mode)
        .option("nullValue", "")
        .option("emptyValue", "")
    )
    if encoding:
        charset = normalize_encoding(encoding)
        _enable_full_charsets(spark, charset)
        reader = reader.option("encoding", charset)
    df = reader.csv(path)
    if not post_casts:
        return df
    return df.selectExpr(*(
        f"CAST({special_missing_to_null(quote_name(f.name))} AS "
        f"{post_casts[f.name].simpleString()}) AS {quote_name(f.name)}"
        if f.name in post_casts else quote_name(f.name)
        for f in fields
    ))


def _first_line(path: str, charset: str) -> str | None:
    r"""The first line of a (gzip) text file that is not empty or all
    spaces, as Spark's CSV header inference finds it: lines split at
    ``\n``, ``\r`` or ``\r\n`` with a leading UTF-8 BOM dropped, as
    Hadoop's LineRecordReader splits them, and decoded one by one."""
    opener = gzip.open if path.lower().endswith(".gz") else open
    with opener(path, "rb") as f:
        first = True
        for raw in f:
            if first:
                raw = raw.removeprefix(b"\xef\xbb\xbf")
                first = False
            for seg in re.split(rb"[\r\n]", raw):
                line = seg.decode(charset, errors="replace")
                if line.strip(" "):
                    return line
    return None


def _split_header(line: str) -> list[str]:
    r"""Split one header line into fields as Spark's CSV parser does
    with its defaults: ``,`` delimiter, ``"`` quote, ``\`` escaping a
    quote or itself inside quotes, no whitespace trimming.  A quoted
    field ends at a quote followed, after any whitespace, by a
    delimiter or the line end; a quote followed by anything else makes
    the field verbatim text up to the next delimiter.  Checked against
    Spark 4.1 on random lines of quotes, backslashes, delimiters and
    whitespace: the names differ only where a stray quote inside a
    quoted field is followed by a backslash."""
    fields, i, n = [], 0, len(line)
    while True:
        if i < n and line[i] == '"':
            value, j, end = [], i + 1, n
            while j < n:
                c = line[j]
                if c == "\\" and j + 1 == n:
                    break  # an escape ending an unclosed field is dropped
                if c == "\\" and line[j + 1] in '"\\':
                    value.append(line[j + 1])
                    j += 2
                elif c == '"':
                    k = j
                    while k < n and line[k] == '"':
                        k += 1
                    end = k
                    while end < n and line[end] <= " ":
                        end += 1
                    if end < n and line[end] != ",":
                        end = line.find(",", k)
                        end = n if end < 0 else end
                        value = [line[i:end]]
                    else:
                        # a run of quotes closing the field keeps all
                        # but the last
                        value.append('"' * (k - j - 1))
                    break
                else:
                    value.append(c)
                    j += 1
            # a quote ending the line is a name of its own
            fields.append('"' if i + 1 == n else "".join(value))
        else:
            end = line.find(",", i)
            end = n if end < 0 else end
            fields.append(line[i:end])
        if end >= n:
            return fields
        i = end + 1


def _header_names(
    path: str, charset: str = "UTF-8", case_sensitive: bool = False
) -> list[str]:
    """The column names ``spark.read.option("header", "true").csv``
    gives a CSV file, read from its first non-blank line with no Spark
    job.  Names follow Spark's ``CSVUtils.makeSafeHeader``: an empty
    field becomes ``_c{i}``, and a name that repeats (ignoring case
    unless ``case_sensitive``) gets its index appended."""
    line = _first_line(path, charset)
    if line is None:
        return []
    row = _split_header(line)
    key = (lambda v: v) if case_sensitive else str.lower
    seen = Counter(key(v) for v in row)
    return [
        f"_c{i}" if not v else f"{v}{i}" if seen[key(v)] > 1 else v
        for i, v in enumerate(row)
    ]


def read_csv_strings(
    spark: SparkSession, path: str, encoding: str | None = None
) -> DataFrame:
    """Read a CSV file with a header line as all-string columns, named
    as Spark's header inference would name them.  The header is read
    here, so planning the read runs no Spark job."""
    reader = spark.read.option("header", "true")
    charset = "UTF-8"
    if encoding:
        charset = normalize_encoding(encoding)
        _enable_full_charsets(spark, charset)
        reader = reader.option("encoding", charset)
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    names = _header_names(path, charset, case_sensitive)
    schema = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in names])
    return reader.schema(schema).csv(path)


def read_csv_sas_meta(
    spark: SparkSession,
    path: str,
    meta_rows: list[dict[str, str | int]],
    col_types: dict[str, str] | None = None,
    **kwargs,
) -> DataFrame:
    """Read CSV typed from SAS PROC-CONTENTS metadata rows, applying
    the reference's inference decision table (plans/types.py A15) plus
    user overrides — the Spark analog of wrds2pg/sas/metadata.py:201-254.
    """
    struct = struct_type_for(meta_rows, col_types)
    pg_like = {}
    for f in struct.fields:
        # reuse read_csv_typed by rendering back to PG vocabulary
        simple = f.dataType.simpleString()
        pg_like[f.name] = {
            "string": "text", "int": "integer", "bigint": "bigint",
            "double": "float8", "date": "date",
            "timestamp_ntz": "timestamp", "timestamp": "timestamptz",
        }.get(simple, simple)
    return read_csv_typed(spark, path, pg_like, **kwargs)
