"""Exactness of the SQL-literal grid builder (hypothesis).

``combo_grid`` renders its coordinate arrays as SQL text
(:func:`xyzpy_spark._sql.sql_literal`) instead of one ``F.lit`` per
value.  The contract: every value comes back bit-identical to what the
per-value Column builder, ``F.lit(v).cast(dtype)``, produced, and the
grid's schema — types and nullability — is the one that builder gave.
The per-value builder lives on here as the reference.
"""

import datetime as dt
import math
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xyzpy_spark._sql import sql_literal, sql_string
from xyzpy_spark._types import infer_values_type
from xyzpy_spark.grid import LOC_COL, _strides, combo_grid
from xyzpy_spark.prepare import parse_combos

SETTINGS = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1

doubles = st.floats(width=64)  # finite, subnormal, ±0.0, NaN, ±inf
longs = st.integers(LONG_MIN, LONG_MAX)
texts = st.text(max_size=12) | st.sampled_from(
    ["'", "\\", "`", "\\'", "''", "é", "日本", "\U0001f600", "a\nb", "%_\\%"]
)
# the per-value builder ships dates through java.sql.Date.valueOf,
# which rejects years below 1000
dates = st.dates(min_value=dt.date(1000, 1, 1))

#: one coordinate list per renderable axis kind
axes = st.one_of(
    st.lists(doubles, min_size=1, max_size=6, unique_by=repr),
    st.lists(longs, min_size=1, max_size=6, unique=True),
    st.lists(st.booleans(), min_size=1, max_size=2, unique=True),
    st.lists(texts, min_size=1, max_size=6, unique=True),
    st.lists(dates, min_size=1, max_size=4, unique=True),
    # mixed int/float: promoted to double
    st.tuples(
        st.lists(st.integers(LONG_MIN, LONG_MAX), min_size=1, max_size=3),
        st.lists(st.floats(allow_nan=False), min_size=1, max_size=3),
    ).map(lambda t: t[0] + t[1]).filter(
        lambda vs: len({float(v) for v in vs}) == len(vs)
    ),
)


def _key(v):
    """Bit-exact identity of a collected value (NaN payloads, -0.0 and
    bool-vs-int included)."""
    if isinstance(v, float):
        return ("f", struct.pack(">d", v))
    return (type(v).__name__, v)


def _old_array(values, dtype):
    return F.array(*[F.lit(v).cast(dtype) for v in values])


def _old_grid(spark, combos):
    """The per-value Column builder the SQL rendering replaced."""
    combos = parse_combos(combos)
    n = math.prod(len(v) for _, v in combos)
    df = spark.range(0, n, 1, 2).withColumnRenamed("id", LOC_COL)
    for (arg, values), stride in zip(combos, _strides(combos)):
        vidx = F.expr(f"(`{LOC_COL}` div {stride}) % {len(values)}")
        arr = _old_array(values, infer_values_type(values))
        df = df.withColumn(arg, F.element_at(arr, (vidx + 1).cast("int")))
    return df.select(LOC_COL, *[a for a, _ in combos])


@SETTINGS
@given(axes)
@example([0.0, -0.0, 5e-324, -2.2250738585072014e-308, float("nan"),
          float("inf"), float("-inf"), 1.7976931348623157e308])
@example([LONG_MIN, LONG_MAX, 0, -1])
@example([True, False])
@example(["'", "\\", "`", "x'`\\y", "é\U0001f600", ""])
@example([1, 2.5, LONG_MAX, -0.5])
@example([dt.date(1000, 1, 1), dt.date(9999, 12, 31), dt.date(1582, 10, 15)])
def test_sql_literal_bit_identical_to_column_lit(spark, values):
    dtype = infer_values_type(values)
    new = F.expr(f"array({', '.join(sql_literal(v, dtype) for v in values)})")
    df = spark.range(1).select(
        _old_array(values, dtype).alias("old"), new.alias("new")
    )
    old_f, new_f = df.schema.fields
    assert new_f.dataType == old_f.dataType
    assert new_f.dataType.containsNull == old_f.dataType.containsNull is False
    row = df.collect()[0]
    assert [_key(v) for v in row["new"]] == [_key(v) for v in row["old"]]


@SETTINGS
@given(st.dictionaries(
    st.sampled_from(["a", "b", "e'f", "é x"]), axes, min_size=1, max_size=3
).filter(lambda c: math.prod(map(len, c.values())) <= 200))
def test_grid_from_sql_literals_matches_per_value_builder(spark, combos):
    new, old = combo_grid(spark, combos), _old_grid(spark, combos)
    assert new.schema == old.schema  # types AND nullability
    assert [f.nullable for f in new.schema.fields] == [False] * len(new.columns)

    def rows(df):
        return sorted(
            (r[LOC_COL], [_key(v) for v in r[1:]]) for r in df.collect()
        )

    assert rows(new) == rows(old)


def test_sql_literal_nullable_only_for_none(spark):
    """None renders as a typed NULL, the one case the array (and so the
    grid column) is nullable — as with the per-value builder."""
    df = combo_grid(spark, {"x": [None, 1.5]})
    old = _old_grid(spark, {"x": [None, 1.5]})
    assert df.schema == old.schema
    assert df.schema["x"].nullable
    assert sorted(r["x"] or 0.0 for r in df.collect()) == [0.0, 1.5]


def test_sql_literal_rejects_unrenderable():
    """Only exactly-renderable values get a literal; the grid sends the
    rest (timestamps, out-of-range longs, ...) to its lookup join."""
    from pyspark.sql import types as T

    for value, dtype in [
        (dt.datetime(2020, 1, 1), T.TimestampType()),
        (b"ab", T.BinaryType()),
        (2**63, T.LongType()),
        (1.5, T.LongType()),
        (dt.datetime(2020, 1, 1), T.DateType()),
        ("x", T.DoubleType()),
    ]:
        with pytest.raises(TypeError):
            sql_literal(value, dtype)


def test_timestamp_axis_keeps_type_and_nullability(spark):
    when = [dt.datetime(2020, 1, 2, 3, 4, 5), dt.datetime(1999, 12, 31, 23, 59)]
    df = combo_grid(spark, {"t": when, "b": [1, 2]})
    old = _old_grid(spark, {"t": when, "b": [1, 2]})
    assert df.schema == old.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, old.collect()))


@given(texts)
def test_sql_string_escapes_only_quote_and_backslash(text):
    lit = sql_string(text)
    assert lit[0] == lit[-1] == "'"
    body = lit[1:-1]
    # undo the two escapes: the body must read back as the text
    out, i = [], 0
    while i < len(body):
        if body[i] == "\\":
            assert body[i + 1] in "\\'"
            out.append(body[i + 1])
            i += 2
        else:
            assert body[i] != "'"
            out.append(body[i])
            i += 1
    assert "".join(out) == text


def test_wide_predicates_parse(spark):
    """Predicates over many variables or touched partitions stay
    parseable: past a few dozen terms the chain is balanced, not
    nested, and selects exactly the rows the narrow form would."""
    from xyzpy_spark._sql import sql_chain
    from xyzpy_spark.farming import _touched_predicate
    from xyzpy_spark.missing import _any_var_not_null

    k = 400
    df = spark.range(6).selectExpr(
        "id AS a",
        *[f"IF(id = {i % 5}, CAST(id AS DOUBLE), NULL) AS v{i}" for i in range(k)],
    )
    vs = [f"v{i}" for i in range(k)]
    got = df.where(_any_var_not_null(vs, dict(df.dtypes))).select("a")
    assert sorted(r[0] for r in got.collect()) == [0, 1, 2, 3, 4]
    touched = [(i,) for i in range(0, 4000, 2)]
    cond = _touched_predicate(["a"], touched, df.schema)
    assert sorted(r[0] for r in df.where(cond).select("a").collect()) == [0, 2, 4]
    assert sql_chain("AND", ["x", "y", "z"]) == "((x AND y) AND z)"
