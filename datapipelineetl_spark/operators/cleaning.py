"""Cleaning / scalar-transform operators (SURVEY.md §2.4, C1–C14).

These parameterize the reference's canonical cleaning chain
(/root/reference/mypy/preprocessproduce.py:48-65) and the EAV-feed casts
(mypy/streaming.py:128, mypy/xmlonly.py:120, mypy/xmlhard.py:111). Order
matters: targeted fills run before the global fill (C2–C5 interaction) —
``clean_cell_metrics`` preserves the exact reference order.

All operators are narrow transforms (no shuffle) built from JVM-side column
functions, so a 100 TB scan applies them inside the same whole-stage-codegen
span as the parquet read. The C1–C6 rules are each one SQL helper over a
column expression (``_parse_timestamp_sql`` … ``_string_sentinel_sql``):
the public operators apply one rule, and ``clean_cell_metrics`` nests them
per column into a single ``selectExpr``, so the chain costs one projection
to plan instead of a DataFrame per step.

Where the reference has latent bugs (``trim``/``lower`` used but never
imported, mypy/preprocessproduce.py:3 vs :61; ``pd`` alias mismatch,
dags/Dag2.py:16-17 vs :118) we implement the evident *intent*, documented
per-operator.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _q(name: str) -> str:
    """A column name as a SQL identifier (backticked, so dots and spaces
    stay part of the name)."""
    return "`" + name.replace("`", "``") + "`"


def _lit(value) -> str:
    """A Python scalar as the SQL literal ``F.lit`` would build: a bool
    is BOOLEAN, an int INT (BIGINT when wider), a float DOUBLE, a str
    STRING."""
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value!r}' AS DOUBLE)"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


# --- C1 ----------------------------------------------------------------------
REFERENCE_TIME_FORMAT = "MM-dd-yyyy HH:mm"  # mypy/preprocessproduce.py:50


def _parse_timestamp_sql(expr: str, fmt: str) -> str:
    return f"try_to_timestamp({expr}, {_lit(fmt)})"


def parse_timestamp(
    df: DataFrame, column: str, fmt: str = REFERENCE_TIME_FORMAT, out: str | None = None
) -> DataFrame:
    """C1: string → timestamp with explicit format; non-matching → null.

    Reference: ``to_timestamp(col("Time"), "MM-dd-yyyy HH:mm")``
    (mypy/preprocessproduce.py:50). The reference runs Spark 3.5 with ANSI
    off, where non-matching input yields null; under Spark 4's ANSI default
    plain ``to_timestamp`` would throw, so we use ``try_to_timestamp`` to
    pin the null-on-error semantics regardless of session config.
    """
    return df.withColumn(out or column, F.expr(_parse_timestamp_sql(_q(column), fmt)))


# --- C2/C3/C5 ----------------------------------------------------------------
def _fill_sql(expr: str, dtype: T.DataType, value) -> str | None:
    """``na.fill(value)`` on one column of type ``dtype``, or None where
    the fill skips that type."""
    if isinstance(value, bool):
        hit = isinstance(dtype, T.BooleanType)
    elif isinstance(value, (int, float)):
        hit = isinstance(dtype, T.NumericType)
    else:
        hit = isinstance(dtype, T.StringType)
    if not hit:
        return None
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        expr = f"nanvl({expr}, NULL)"  # na.fill replaces NaN as well
    # PySpark's na.fill passes a numeric value as a double, and the
    # double→int cast of its fill marks an int column nullable: keep that
    if type(value) is int:
        value = float(value)
    return f"coalesce({expr}, CAST({_lit(value)} AS {dtype.simpleString()}))"


def fill_nulls(df: DataFrame, value, subset: Sequence[str] | None = None) -> DataFrame:
    """C2/C3/C5: null fill — targeted when ``subset`` given, global otherwise.

    Reference: ``df.na.fill(0, subset=[...])`` then ``df.na.fill("N/A",
    subset=[...])`` then the global ``df.na.fill(0)``
    (mypy/preprocessproduce.py:51-57). Type-directed: a numeric fill only
    touches numeric columns, a string fill only string columns, a boolean
    fill only booleans, and a float or double column also has its NaN
    filled (Spark ``DataFrameNaFunctions`` semantics, same as the
    reference relies on). ``subset`` names must match columns exactly.
    """
    missing = set(subset or ()) - set(df.columns)
    if missing:
        raise ValueError(f"fill_nulls: no such columns {sorted(missing)}")
    exprs = []
    for f in df.schema.fields:
        filled = None
        if not subset or f.name in subset:
            filled = _fill_sql(_q(f.name), f.dataType, value)
        exprs.append(_q(f.name) if filled is None else f"{filled} AS {_q(f.name)}")
    return df.selectExpr(*exprs)


# --- C4 ----------------------------------------------------------------------
def _sentinel_sql(expr: str, sentinel) -> str:
    return f"CASE WHEN {expr} IS NULL THEN {_lit(sentinel)} ELSE {expr} END"


def replace_null_with_sentinel(df: DataFrame, columns: Sequence[str], sentinel) -> DataFrame:
    """C4: null → out-of-range sentinel (reference: geo 999).

    Reference: ``when(col("Longitude").isNull(), 999).otherwise(col(...))``
    (mypy/preprocessproduce.py:53-55; the comment says 123456 but the code
    says 999 — code wins, SURVEY.md §2.4).
    """
    return df.withColumns({c: F.expr(_sentinel_sql(_q(c), sentinel)) for c in columns})


# --- C6 ----------------------------------------------------------------------
def _string_sentinel_sql(
    expr: str,
    dtype: T.DataType,
    sentinel: str = "nil",
    value=0,
    case_insensitive: bool = True,
    trim: bool = True,
) -> str:
    probe = f"trim({expr})" if trim else expr
    if case_insensitive:
        probe, sentinel = f"lower({probe})", sentinel.lower()
    # Pin the replacement to the column's own type: under Spark 3.5/non-ANSI
    # (the reference runtime) `when(cond, 0).otherwise(string_col)` coerces
    # the branch to string; ANSI mode would instead try string→bigint and
    # throw. Casting the literal reproduces the reference behavior.
    replacement = f"CAST({_lit(value)} AS {dtype.simpleString()})"
    return f"CASE WHEN {probe} = {_lit(sentinel)} THEN {replacement} ELSE {expr} END"


def string_sentinel_to_value(
    df: DataFrame,
    column: str,
    sentinel: str = "nil",
    value=0,
    case_insensitive: bool = True,
    trim: bool = True,
) -> DataFrame:
    """C6: case/space-insensitive string sentinel → numeric value.

    Reference intent (mypy/preprocessproduce.py:60-62):
    ``when(trim(lower(col)) == "nil", 0).otherwise(col)``. The reference
    never imports ``trim``/``lower`` (NameError at runtime,
    preprocessproduce.py:3) — we implement the intended semantics.
    """
    sql = _string_sentinel_sql(
        _q(column), df.schema[column].dataType, sentinel, value, case_insensitive, trim
    )
    return df.withColumn(column, F.expr(sql))


# --- C7 ----------------------------------------------------------------------
def cast_with_sentinel(
    df: DataFrame, column: str, dtype: str, sentinels: Sequence[str] = ("NIL",), value=0
) -> DataFrame:
    """C7: sentinel → value, else cast.

    Reference: ``when(col("kpiValue") == "NIL", 0).otherwise(col.cast(...))``
    — int for the gzip feed (mypy/streaming.py:128), double for xmlonly
    (mypy/xmlonly.py:120) and xmlhard (mypy/xmlhard.py:111). The per-feed
    type divergence is spec (SURVEY.md §7 risks), hence the ``dtype`` param.
    """
    c = F.col(column)
    return df.withColumn(
        column,
        F.when(c.isin(*sentinels), F.lit(value).cast(dtype)).otherwise(c.try_cast(dtype)),
    )


# --- C8 ----------------------------------------------------------------------
def nil_null_nan_to_zero(df: DataFrame, column: str) -> DataFrame:
    """C8: null / "NIL" / "NULL" / NaN → 0, else passthrough.

    Reference intent (dags/Dag2.py:118, Dag3.py:184, Dag4.py:116):
    ``0 if pd.isna(v) or v == "NIL" or v == "NULL" else v`` (the ``pd``
    alias is another latent reference bug; intent is clear).
    """
    c = F.col(column)
    zero = F.lit(0).cast(df.schema[column].dataType)
    return df.withColumn(
        column, F.when(c.isNull() | c.isin("NIL", "NULL", "NaN"), zero).otherwise(c)
    )


# --- C9 ----------------------------------------------------------------------
def extract_between(
    df: DataFrame, column: str, out: str, start: str = "=", end: str = ","
) -> DataFrame:
    """C9: substring between first ``start`` and next ``end``; null-safe.

    Reference (dags/Dag2.py:111, Dag3.py:177): ``nodeid`` = text between the
    first '=' and the following ',' of ``measObjLdn``
    (``eNodeBFunctionName=X,...`` → ``X``). Implemented as a single
    ``regexp_extract`` so it stays in codegen.
    """
    import re as _re

    pat = f"{_re.escape(start)}([^{_re.escape(end)}]*)"
    extracted = F.regexp_extract(F.col(column), pat, 1)
    # regexp_extract returns "" on no-match/null input; preserve null-safety:
    return df.withColumn(
        out, F.when(F.col(column).isNull(), F.lit(None).cast("string")).otherwise(extracted)
    )


# --- C11 ---------------------------------------------------------------------
def constant_column(df: DataFrame, name: str, value) -> DataFrame:
    """C11: constant column (reference: Kafka key = str(batch_id),
    mypy/preprocessproduce.py:71)."""
    return df.withColumn(name, F.lit(value))


# --- C14 ---------------------------------------------------------------------
def strip_file_uri_prefix(df: DataFrame, column: str, out: str | None = None) -> DataFrame:
    """C14: strip ``file:``/``file://`` URI prefix from a path column.

    Reference does this driver-side with str.replace (mypy/streaming.py:121,
    xmlonly.py:113, xmlhard.py:100); we keep it on-executor.
    """
    return df.withColumn(out or column, F.regexp_replace(F.col(column), "^file:/*", "/"))


# --- The canonical chain (C1–C6 + P1 + P3, exact reference order) ------------
_C2_COLS = ("Downlink EARFCN", "LocalCell Id", "Downlink bandwidth")
_C3_COLS = ("eNodeB Name", "Cell Name")
_C4_COLS = ("Longitude", "Latitude")


def clean_cell_metrics(df: DataFrame) -> DataFrame:
    """The flagship CSV-feed cleaning chain, reference order preserved
    (mypy/preprocessproduce.py:48-65):

    1. C1  parse ``Time`` (MM-dd-yyyy HH:mm)
    2. C2  null→0 for Downlink EARFCN / LocalCell Id / Downlink bandwidth
    3. C3  null→"N/A" for eNodeB Name / Cell Name
    4. C4  null Longitude/Latitude → 999 sentinel
    5. C5  global numeric null→0 (runs AFTER the targeted fills — order is
       load-bearing: C4's 999 must win over C5's 0 for geo columns)
    6. P3  rename ``FT_UL.Interference`` → ``FT_UL_Interference``
    7. C6  "nil" (case/space-insensitive) → 0 in FT_UL_Interference
    8. P1  drop ``Integrity``

    One ``selectExpr``: each column nests the rules that touch it, in the
    order above, so values, column order and nullability are those of
    the step-by-step chain. Entirely narrow — at 100 TB this fuses into
    the scan stage.
    """
    exprs = []
    for f in df.schema.fields:
        name, dtype, e = f.name, f.dataType, _q(f.name)
        if name == "Integrity":
            continue
        if name == "Time":
            e, dtype = _parse_timestamp_sql(e, REFERENCE_TIME_FORMAT), T.TimestampType()
        if name in _C2_COLS:
            e = _fill_sql(e, dtype, 0) or e
        if name in _C3_COLS:
            e = _fill_sql(e, dtype, "N/A") or e
        if name in _C4_COLS:
            e = _sentinel_sql(e, 999.0)
            if isinstance(dtype, T.NumericType):
                dtype = T.DoubleType()  # CASE widens to the double sentinel
        e = _fill_sql(e, dtype, 0) or e
        if name == "FT_UL.Interference":
            name = "FT_UL_Interference"
            e = _string_sentinel_sql(e, dtype, "nil", 0)
        exprs.append(f"{e} AS {_q(name)}")
    return df.selectExpr(*exprs)


def clean_kpi_records(df: DataFrame, value_type: str = "int") -> DataFrame:
    """The EAV-feed cleaning step: C7 on ``kpiValue``.

    ``value_type="int"`` for the gzip feed (mypy/streaming.py:128),
    ``"double"`` for xmlonly/xmlhard (mypy/xmlonly.py:120,
    mypy/xmlhard.py:111).
    """
    return cast_with_sentinel(df, "kpiValue", value_type, ("NIL",), 0)
