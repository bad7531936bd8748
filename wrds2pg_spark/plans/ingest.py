"""The ingest transform chain — the reference's generated SAS data step
(wrds2pg/sas/codegen.py:128-150) re-expressed as declarative DataFrame
transforms.

Operation order mirrors the reference's dataset-option semantics:

1. lower-case all column names (canonicalization everywhere in the
   reference: copy.py:33, metadata.py:183,247, api.py:615)
2. ``obs`` first-N limit — applied on the *input*, upstream of the
   where filter, as SAS applies ``obs=`` on the ``set`` statement
   (codegen.py:47-50; doc api.py:99-102)
3. ``drop`` / ``keep`` projection with ``prefix:`` wildcards
   (codegen.py:52-60)
4. ``rename`` old=new pairs (codegen.py:35-38)
5. ``where`` predicate — sees post-rename names, as a SAS ``where``
   statement inside the data step does (codegen.py:62-65,137)
6. ``fix_missing`` — SAS special missing values (.A-.Z, ._) to null
   (codegen.py:117-124); a typed-ingest no-op for already-numeric
   columns, real work for the raw-CSV source (sources/csv.py)
7. ``col_types`` casts — user PG-type overrides applied on top of
   inferred types (metadata.py:250-252)

Every step is a Catalyst-visible transform: projection pruning,
predicate pushdown, and limit pushdown all reach the file scan, which
is the Spark-native equivalent of the reference pushing these options
into the SAS source (SURVEY §4).
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from wrds2pg_spark.plans.options import (
    expand_col_spec,
    parse_rename,
    translate_where,
)
from wrds2pg_spark.plans.types import spark_type_for_pg

__all__ = [
    "IngestOptions", "apply_options", "quote_name",
    "special_missing_to_null",
]

# SAS special missing values as they appear in exported CSV text: a
# lone letter A-Z, underscore or dot, or nothing at all
# (codegen.py:117-124 collapses them server-side when fix_missing=True;
# we normalize engine-side).
_SPECIAL_MISSING_SQL = ", ".join(
    f"'{v}'" for v in ["", *string.ascii_uppercase, "_", "."])


@dataclass
class IngestOptions:
    """Mirror of the reference's ``wrds_update(...)`` kwarg surface
    (wrds2pg/api.py:37-150), minus the transport-only knobs."""

    keep: str | None = None
    drop: str | None = None
    rename: str | None = None
    where: str | None = None
    obs: int | None = None
    fix_missing: bool = False
    fix_cr: bool = False
    col_types: dict[str, str] = field(default_factory=dict)


def quote_name(name: str) -> str:
    """``name`` as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def special_missing_to_null(ref: str) -> str:
    """SQL for the string expression ``ref`` with SAS special missing
    text (after trimming spaces) turned to NULL, so a later numeric
    cast is clean."""
    return (f"CASE WHEN trim({ref}) IN ({_SPECIAL_MISSING_SQL}) "
            f"THEN NULL ELSE {ref} END")


def _alias(sql: str, name: str) -> str:
    quoted = quote_name(name)
    return sql if sql == quoted else f"{sql} AS {quoted}"


def _value_sql(ref, dtype, target, fix_cr: bool, fix_missing: bool) -> str:
    """SQL for one output column: CR/LF strip, special-missing scrub
    and ``col_types`` cast of the input expression ``ref``."""
    is_string = dtype is not None and dtype.typeName() == "string"
    if fix_cr and is_string:
        # strip CR/LF inside character fields (codegen.py:18-28)
        ref = f"regexp_replace({ref}, '[\\r\\n]', ' ')"
    if target is None or target == dtype:
        return ref
    if fix_missing and is_string and target.typeName() != "string":
        # typed sources already carry special missings as null; only
        # string columns destined for a numeric cast need scrubbing
        ref = special_missing_to_null(ref)
    if target.typeName() == "boolean" and not is_string:
        # reference overrides 0/1 numerics to boolean
        # (wrds_update_test.ipynb cell 1)
        ref = f"CAST({ref} AS int)"
    return f"CAST({ref} AS {target.simpleString()})"


def apply_options(df: DataFrame, opts: IngestOptions) -> DataFrame:
    """Apply the full SAS-option chain to a DataFrame (any source).

    The schema is read once and the chain is planned here, so the
    plan costs a fixed handful of calls into Spark whatever the column
    count: at most a limit, one projection for keep/drop/rename, the
    filter, and one projection for the per-column work (with no
    ``where``, the two projections are one)."""
    schema = df.schema
    fields = [(f.name.lower(), f.dataType) for f in schema.fields]
    names = [n for n, _ in fields]
    if names != schema.names:
        df = df.toDF(*names)

    if opts.obs is not None:
        df = df.limit(int(opts.obs))

    if opts.drop:
        to_drop = set(expand_col_spec(opts.drop, names))
        fields = [f for f in fields if f[0] not in to_drop]
    if opts.keep:
        types = dict(fields)
        fields = [(n, types.get(n)) for n in
                  expand_col_spec(opts.keep, [n for n, _ in fields])]
    # pairs apply together, as in a SAS rename= list
    renames = parse_rename(opts.rename)
    out = [(renames.get(n, n), n, t) for n, t in fields]

    # fix_cr implies fix_missing in the reference (codegen.py:19)
    fix_missing = opts.fix_missing or opts.fix_cr
    targets = {k.lower(): spark_type_for_pg(v)
               for k, v in opts.col_types.items()}

    reshaped = [name for name, _, _ in out] != names
    where_sql = translate_where(opts.where)
    if where_sql:
        if reshaped:
            df = df.selectExpr(*(_alias(quote_name(src), name)
                                 for name, src, _ in out))
        df = df.filter(where_sql)
        out = [(name, name, dtype) for name, _, dtype in out]
        reshaped = False
    exprs = [
        _alias(_value_sql(quote_name(src), dtype, targets.get(name),
                          opts.fix_cr, fix_missing), name)
        for name, src, dtype in out
    ]
    if reshaped or any(e != quote_name(name)
                       for e, (name, _, _) in zip(exprs, out)):
        df = df.selectExpr(*exprs)
    return df
