"""Distributed cartesian-grid construction.

The reference enumerates the grid driver-side into ``locs``/``settings``
lists (``xyzpy/gen/combo_runner.py:201-218``).  That caps out at
millions of points.  Here the grid is *never* materialized on the
driver: ``spark.range(N)`` generates the linear index distributed, and
each parameter column is derived by stride arithmetic

    value_index(arg_i) = (loc // stride_i) % n_i,
    stride_i = prod(n_j for j > i)            (row-major, last arg fastest)

so a billion-point grid costs one narrow ``range`` scan — no shuffle,
no crossJoin cascade, perfect parallelism.  The ``_loc`` column is the
deterministic identity of each grid point (SURVEY §7 risk #4: never
rely on row order; always carry explicit keys).

Values are looked up either via ``element_at`` on an array *literal*
(primitive coords — stays entirely in whole-stage codegen) or via a
broadcast join against a tiny index->value table (arbitrary coords).

The array literals are rendered driver-side as SQL text
(:func:`~xyzpy_spark._sql.sql_literal`) and every axis lands in one
projection (:func:`~xyzpy_spark._sql.select_sql`): building the grid
costs a constant number of py4j round trips, where a ``F.lit`` per
coordinate value cost ~21 each.
Exactness contract: long, double, boolean, string and date axes render
to non-null literals equal to ``F.lit(v).cast(dtype)`` bit for bit
(-0.0, subnormals, NaN, ±inf and the full long range included), so the
grid's values, column types, nullability and optimized plan are those
of the per-value builder.  Every other axis (timestamps, binary, mixed
types) takes the lookup join, which keeps a single-typed axis's type
and nullability.
"""

from __future__ import annotations

from functools import reduce
from operator import mul

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ._sql import select_sql, sql_ident, sql_literal
from ._types import infer_values_type
from .prepare import check_combo_case_disjoint, parse_cases, parse_combos

LOC_COL = "_loc"


def grid_size(combos) -> int:
    combos = parse_combos(combos)
    return reduce(mul, (len(vals) for _, vals in combos), 1)


def _strides(combos: tuple[tuple[str, tuple], ...]) -> list[int]:
    sizes = [len(vals) for _, vals in combos]
    strides = []
    acc = 1
    for n in reversed(sizes):
        strides.append(acc)
        acc *= n
    return list(reversed(strides))


def _attach_combo_columns(df: DataFrame, combos, idx_col) -> DataFrame:
    """Derive one column per combo arg from the linear index column.

    Every literal-renderable axis is one ``element_at`` over one SQL
    array literal, and all axes go into ONE projection, so the
    build costs a constant number of py4j round trips however many
    coordinate values or axes there are."""
    spark = df.sparkSession
    exprs, lookups = ["*"], []
    for (arg, values), stride in zip(combos, _strides(combos)):
        # integer `div`, NOT `/`: float division round-trips through
        # double and corrupts locs beyond 2^53 — grids that large are
        # exactly what the range-based builder exists for.
        vidx = f"({sql_ident(idx_col)} div {stride}) % {len(values)}"
        try:
            dtype = infer_values_type(values)
        except TypeError:
            dtype = None
        try:
            arr = ", ".join(sql_literal(v, dtype) for v in values)
        except TypeError:
            lookups.append((arg, values, dtype))
            exprs.append(f"{vidx} AS {sql_ident(f'__{arg}_idx')}")
            continue
        exprs.append(
            f"element_at(array({arr}), CAST({vidx} + 1 AS INT)) "
            f"AS {sql_ident(arg)}"
        )
    df = select_sql(df, exprs)
    for arg, values, dtype in lookups:
        # arbitrary / mixed values: broadcast-join a tiny lookup.  A
        # single-typed axis (timestamps, binary) keeps that type and
        # the nullability an array literal would have given it.
        schema = [f"__{arg}_idx", arg]
        if dtype is not None:
            schema = T.StructType([
                T.StructField(schema[0], T.LongType(), False),
                T.StructField(arg, dtype, any(v is None for v in values)),
            ])
        lookup = spark.createDataFrame(list(enumerate(values)), schema)
        df = df.join(F.broadcast(lookup), f"__{arg}_idx").drop(f"__{arg}_idx")
    return df


def combo_grid(
    spark: SparkSession,
    combos,
    *,
    loc_col: str = LOC_COL,
    num_partitions: int | None = None,
    shuffle: bool | int = False,
) -> DataFrame:
    """Build the full cartesian grid as a DataFrame.

    Columns: one per combo arg (reference order, last arg fastest) plus
    ``loc_col`` — the 0-based row-major linear index, the stable key
    every downstream op (result pairing, reap order, merges) joins on.

    ``shuffle`` — seeded redistribution of points across partitions for
    load balancing when cost correlates with grid position (reference
    semantics: ``gen/combo_runner.py:220-224``; order is never lost
    because ``loc_col`` is carried).
    """
    combos = parse_combos(combos)
    if not combos:
        raise ValueError("combo_grid requires at least one combo arg")
    n = grid_size(combos)
    if num_partitions is None:
        num_partitions = max(1, min(n, spark.sparkContext.defaultParallelism))
    df = spark.range(0, n, 1, num_partitions).withColumnRenamed("id", loc_col)
    df = _attach_combo_columns(df, combos, loc_col)
    if shuffle is not False and shuffle is not None:
        seed = 42 if shuffle is True else int(shuffle)
        df = df.repartition(
            num_partitions, F.xxhash64(F.col(loc_col), F.lit(seed))
        )
    return df.select(loc_col, *[arg for arg, _ in combos])


def case_grid(
    spark: SparkSession,
    cases,
    combos=None,
    *,
    fn_args=None,
    loc_col: str = LOC_COL,
    num_partitions: int | None = None,
    shuffle: bool | int = False,
) -> DataFrame:
    """Grid for explicit cases, optionally crossed with combos.

    Each case is one parameter point; when combos are also given, every
    case runs the full sub-grid of combo values (reference:
    ``gen/combo_runner.py:183-218``).  ``loc = case_idx * n_combo +
    combo_loc`` keeps the linear key deterministic.

    The case table is broadcast (it is driver-declared and small by
    construction); the combo sub-grid stays distributed.
    """
    cases = parse_cases(cases, fn_args)
    combos = parse_combos(combos)
    check_combo_case_disjoint(combos, cases)
    if not cases:
        return combo_grid(
            spark,
            combos,
            loc_col=loc_col,
            num_partitions=num_partitions,
            shuffle=shuffle,
        )

    n_combo = grid_size(combos) if combos else 1
    n_total = len(cases) * n_combo
    if num_partitions is None:
        num_partitions = max(
            1, min(n_total, spark.sparkContext.defaultParallelism)
        )

    case_cols = list(cases[0])
    # let Spark infer case column types from the literal rows; None-only
    # columns fail inference, so build them as typed-null doubles instead
    none_cols = [
        k for k in case_cols if all(c[k] is None for c in cases)
    ]
    typed_cols = [k for k in case_cols if k not in none_cols]
    schema_rows = [
        tuple([i] + [c[k] for k in typed_cols]) for i, c in enumerate(cases)
    ]
    case_df = spark.createDataFrame(schema_rows, ["__case_idx"] + typed_cols)
    for k in none_cols:
        case_df = case_df.withColumn(k, F.lit(None).cast("double"))

    df = spark.range(0, n_total, 1, num_partitions).withColumnRenamed("id", loc_col)
    df = df.withColumn(
        "__case_idx", F.expr(f"`{loc_col}` div {n_combo}")
    )
    if combos:
        df = df.withColumn("__combo_loc", F.col(loc_col) % F.lit(n_combo))
        df = _attach_combo_columns(df, combos, "__combo_loc")
    df = df.join(F.broadcast(case_df), "__case_idx").drop(
        "__case_idx", "__combo_loc"
    )
    if shuffle is not False and shuffle is not None:
        seed = 42 if shuffle is True else int(shuffle)
        df = df.repartition(
            num_partitions, F.xxhash64(F.col(loc_col), F.lit(seed))
        )
    return df.select(
        loc_col, *case_cols, *[arg for arg, _ in combos]
    )
