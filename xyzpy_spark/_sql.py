"""SQL-text rendering for driver-side plan builders.

Every Column-API call (``F.col``, ``F.lit``, ``&``, ``when``...) is a
py4j round trip, so a builder that makes one per value or per variable
pays driver time that grows with its input before any job runs.  The
sweep lifecycle's builders (grid coordinates, outer-merge, missing-point
and touched-partition predicates) instead render SQL text here and
hand Spark whole fragments: a constant number of round trips, and
fragments that parse to the expression trees the Column builders made.
"""

from __future__ import annotations

import datetime as _dt
import functools

import numpy as np
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, types as T


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for a SQL fragment (any name, dots,
    quotes and backticks included, refers to that exact column)."""
    return "`" + name.replace("`", "``") + "`"


#: left-deep bracketing costs the SQL parser one recursion level per
#: term and overflows its stack at a few hundred; past this many terms
#: the chain is written flat, which the parser balances (depth log n)
_MAX_NESTED = 64


def sql_chain(op: str, terms) -> str:
    """``t1 op t2 op ...`` bracketed left-deep: the tree a Column-API
    ``functools.reduce`` builds, so the plan is unchanged.  A chain of
    more than ``_MAX_NESTED`` terms is the same predicate reassociated
    into a balanced tree, which parses at any width (the left-deep
    Column tree itself overflowed the stack at a few thousand)."""
    terms = list(terms)
    if len(terms) > _MAX_NESTED:
        return "(" + f" {op} ".join(f"({t})" for t in terms) + ")"
    return functools.reduce(lambda a, b: f"({a} {op} {b})", terms)


def sql_string(text: str) -> str:
    """A SQL string literal that parses back to exactly ``text``."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: non-finite doubles have no SQL literal syntax, and a bare
#: ``CAST('NaN' AS DOUBLE)`` is nullable, which would flip the
#: nullability of every column built from it; the ``coalesce`` only
#: strips that nullability (the optimizer folds the whole thing to
#: the plain literal)
_NONFINITE = {
    "nan": "coalesce(CAST('NaN' AS DOUBLE), 0D)",
    "inf": "coalesce(CAST('Infinity' AS DOUBLE), 0D)",
    "-inf": "coalesce(CAST('-Infinity' AS DOUBLE), 0D)",
}


_RENDERED = (T.LongType, T.DoubleType, T.BooleanType, T.StringType, T.DateType)


def sql_literal(value, dtype: T.DataType) -> str:
    """Render ``value`` as a non-null SQL literal of type ``dtype``.

    The literal equals ``F.lit(value).cast(dtype)`` bit for bit: every
    double (``repr`` round-trips exactly; -0.0, subnormals, NaN and
    ±inf included), the full long range, booleans, arbitrary strings
    and dates.  ``None`` renders as a typed NULL.  Any other type
    raises ``TypeError``: callers keep a lookup path (or the Column
    builder) for those."""
    if isinstance(value, np.generic):
        value = value.item()
    if value is None and isinstance(dtype, _RENDERED):
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.LongType) and type(value) is int:
        if -(2**63) <= value < 2**63:
            return f"{value}L"
    elif isinstance(dtype, T.DoubleType) and type(value) in (int, float):
        text = repr(float(value))
        return _NONFINITE.get(text, text + "D")
    elif isinstance(dtype, T.BooleanType) and type(value) is bool:
        return "true" if value else "false"
    elif isinstance(dtype, T.StringType) and isinstance(value, str):
        return sql_string(value)
    elif isinstance(dtype, T.DateType) and type(value) is _dt.date:
        return f"DATE '{value.isoformat()}'"
    raise TypeError(f"no exact SQL literal for {value!r} as {dtype}")


def select_sql(df: DataFrame, exprs) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a constant number of py4j round
    trips (five).  py4j ships a Python list to the JVM one ``add`` per
    element, so the expressions travel as ONE string, split JVM-side
    on a private-use character none of them contains; the classes are
    addressed by name, skipping the package-by-package lookups of
    ``spark._jvm``."""
    exprs = list(exprs)
    text = "".join(exprs)
    sep = next(c for c in map(chr, range(0xE000, 0xF900)) if c not in text)
    client = df.sparkSession.sparkContext._gateway._gateway_client
    parts = (
        JavaClass("java.util.regex.Pattern", client)
        .compile(sep)
        .split(sep.join(exprs), -1)
    )
    jexprs = JavaClass(
        "scala.collection.immutable.ArraySeq", client
    ).unsafeWrapArray(parts)
    return DataFrame(df._jdf.selectExpr(jexprs), df.sparkSession)
