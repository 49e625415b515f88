"""Canonical-string normalization as pure Column expressions.

The reference normalizes every value to a canonical string application-side
before comparison (behavior at ``/root/reference/src/xoverrr/utils.py:806-823``
``safe_remove_zeros`` + ``prepare_dataframe``, and the per-DB converter maps,
e.g. ``/root/reference/src/xoverrr/adapters/postgres.py:320-350``):

- NULL / NaN / NaT / empty-or-whitespace / literal ``None``/``nan``/``NaT``
  text (case-insensitive)                  -> ``'N/A'``
- integral floats (``5.0``)                -> ``'5'``
- trailing fractional zeros stripped, scientific notation lowercased
- dates -> ``YYYY-MM-DD``; timestamps -> ``YYYY-MM-DD HH:MM:SS`` with a
  midnight time component stripped
- booleans -> ``'1'`` / ``'0'``

Everything here is a JVM-side Column expression (whole-stage codegen) — no
Python UDFs. At 100 TB this stage is free: it fuses into the scan projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_REPLACEMENT = "N/A"

# Case-insensitive textual null forms (reference utils.py:821 regex
# r'(?i)^(None|nan|NaN|NaT|\s*)$').
_NULLISH_RE = r"(?i)^(None|nan|NaT|\s*)$"


def _blank_to_na(c: Column) -> Column:
    return F.regexp_replace(c, _NULLISH_RE, NULL_REPLACEMENT)


def canonical_column(c: Column, dtype: T.DataType) -> Column:
    """Canonical string form of one column, keyed by its Spark type.

    The textual-null regex (``_blank_to_na``) is applied only to dtypes
    whose canonical string can actually be blank/None/nan/NaT — strings,
    binary (``hex('')`` is ''), and the generic fallback. A bool renders
    '1'/'0', numerics render digits (NaN is guarded to NULL before cast),
    dates/timestamps render digit patterns — the regex can never match,
    so running it was a pure per-row regex scan per column (r6: dropped
    five of six regex passes from normalize_lineitem; values identical).
    """
    needs_blank_regex = True
    if isinstance(dtype, T.BooleanType):
        s = F.when(c.isNull(), F.lit(None)).otherwise(
            F.when(c, F.lit("1")).otherwise(F.lit("0"))
        )
        needs_blank_regex = False
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        # Integral floats collapse to int form (reference safe_remove_zeros,
        # utils.py:806-811); other floats keep repr with scientific notation
        # lowercased and trailing fractional zeros stripped
        # (adapters/postgres.py:339-347).
        is_integral = (c == F.floor(c)) & (F.abs(c) < F.lit(1e15))
        s = F.when(c.isNull() | F.isnan(c), F.lit(None)).otherwise(
            F.when(is_integral, c.cast(T.DecimalType(25, 0)).cast("string")).otherwise(
                F.regexp_replace(
                    F.regexp_replace(F.lower(c.cast("string")), r"(\.\d*?)0+($|e)", r"$1$2"),
                    r"\.($|e)", r"$1",
                )
            )
        )
        needs_blank_regex = False
    elif isinstance(dtype, T.DecimalType):
        s = F.regexp_replace(
            F.regexp_replace(c.cast("string"), r"(\.\d*?)0+$", r"$1"), r"\.$", ""
        )
        needs_blank_regex = False
    elif isinstance(dtype, T.DateType):
        s = F.date_format(c, "yyyy-MM-dd")
        needs_blank_regex = False
    elif isinstance(dtype, T.TimestampType) or isinstance(dtype, T.TimestampNTZType):
        # midnight time component stripped (adapters/postgres.py:320-324)
        s = F.regexp_replace(
            F.date_format(c, "yyyy-MM-dd HH:mm:ss"), r" 00:00:00$", ""
        )
        needs_blank_regex = False
    elif isinstance(dtype, T.NumericType):
        # remaining numerics are integral types — digit strings, never
        # nullish (Double/Float/Decimal were handled above)
        s = c.cast("string")
        needs_blank_regex = False
    elif isinstance(dtype, T.BinaryType):
        s = F.hex(c)
    elif isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        s = F.to_json(c)
    else:
        s = c.cast("string")
    out = F.coalesce(s, F.lit(NULL_REPLACEMENT))
    return _blank_to_na(out) if needs_blank_regex else out


def _canonical_view(df: DataFrame, exclude: set, built: dict) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        if f.name in exclude:
            cols.append(F.col(f.name))
            continue
        key = (f.name, f.dataType)
        if key not in built:
            built[key] = canonical_column(F.col(f.name), f.dataType).alias(f.name)
        cols.append(built[key])
    return df.select(*cols)


def canonicalize(df: DataFrame, exclude: list[str] | None = None) -> DataFrame:
    """All-string canonical view of ``df`` (reference ``prepare_dataframe``).

    Columns in ``exclude`` (e.g. binary image payloads that must pass through
    untouched) are kept as-is.
    """
    return _canonical_view(df, set(exclude or []), {})


def canonicalize_pair(src: DataFrame, trg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(canonicalize(src), canonicalize(trg))``, with each column's
    expression built once per (name, type) and shared by both sides.

    An expression holds only unresolved column references, so one built
    object serves both selects; a column typed differently on the two
    sides gets one expression per type. Every Column call made while
    building an expression is a py4j round trip, and those calls are most
    of a diff plan's driver-side build time.
    """
    built: dict = {}
    return _canonical_view(src, set(), built), _canonical_view(trg, set(), built)
