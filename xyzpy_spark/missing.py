"""Missing-point detection: set-based anti-joins.

Reference semantics (``xyzpy/gen/case_runner.py:217-344``): a grid
point is *missing* iff **all** output variables are null there; a
requested grid is filtered down to missing-only points before running.
The reference scans point-by-point on the driver
(``gen/case_runner.py:291-299``); here each operation is ONE set-based
join, which is both the idiomatic and the 100-TB-safe expression
(Catalyst pushes the null-filter into the parquet scan and anti-joins
broadcast when the requested grid is small).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ._sql import sql_chain, sql_ident
from .grid import LOC_COL, case_grid
from .prepare import parse_cases, parse_combos


def _any_var_not_null(var_names, dtypes: dict | None = None) -> str:
    """Any output variable is SET: non-null, and for float columns
    also non-NaN — the reference stores missing numeric points as NaN
    (xarray has no NULL), so a NaN cell must count as missing or
    migrated stores' failed points would never be re-run.

    One SQL predicate (a single py4j round trip to parse, whatever the
    number of variables), bracketed left-deep like the Column-API
    ``reduce`` it replaces so the plan is unchanged."""

    def set_(v):
        c = f"{sql_ident(v)} IS NOT NULL"
        if dtypes and dtypes.get(v) in ("double", "float"):
            c = f"({c} AND NOT isnan({sql_ident(v)}))"
        return c

    return sql_chain("OR", map(set_, var_names))


def non_null_points(df: DataFrame, dims, var_names) -> DataFrame:
    """Distinct dim-points of ``df`` where any output variable is set
    (non-null and, for float variables, non-NaN)."""
    return df.where(
        _any_var_not_null(var_names, dict(df.dtypes))
    ).select(*dims).distinct()


def is_case_missing(df: DataFrame, setting: dict, var_names) -> bool:
    """True iff all output variables are null (or absent) at ``setting``.

    Reference: ``is_case_missing`` (``gen/case_runner.py:217-259``).
    Driver-side single-point probe — for bulk use, call
    :func:`find_missing_cases` (one join, not N probes).
    """
    cond = reduce(
        lambda a, b: a & b,
        (F.col(k) == F.lit(v) for k, v in setting.items()),
    )
    present = (
        df.where(cond)
        .where(_any_var_not_null(var_names, dict(df.dtypes)))
        .limit(1)
        .count()
    )
    return present == 0


def full_coord_grid(df: DataFrame, dims) -> DataFrame:
    """Dense cartesian grid of the distinct coordinate values seen per dim.

    The reference's output dataset always covers this union grid
    (``gen/combo_runner.py:257-266``).  Distinct per-dim value sets are
    tiny (they are parameter coordinates), so the crossJoin chain is a
    cascade of broadcast nested-loop joins — no shuffle.
    """
    parts = [df.select(d).distinct() for d in dims]
    return reduce(lambda a, b: a.crossJoin(b), parts)


def find_missing_cases(
    df: DataFrame, dims, var_names, *, ignore_dims=()
) -> DataFrame:
    """All dense-grid points where every output variable is null.

    Reference: ``find_missing_cases`` (``gen/case_runner.py:262-301``).
    ``ignore_dims`` — internal dims to project away first (a point is
    present if any internal coordinate carries data).
    """
    keep = [d for d in dims if d not in set(ignore_dims)]
    grid = full_coord_grid(df, keep)
    present = non_null_points(df, keep, var_names)
    return grid.join(present, keep, "left_anti")


def parse_into_cases(
    spark: SparkSession,
    combos=None,
    cases=None,
    *,
    df: DataFrame | None = None,
    var_names=None,
    fn_args=None,
) -> DataFrame:
    """Requested grid (combos x cases) minus already-computed points.

    Reference: ``parse_into_cases`` (``gen/case_runner.py:304-344``) —
    the *incremental top-up* primitive.  Returns the missing parameter
    points as a DataFrame (one row per case to run).
    """
    combos = parse_combos(combos)
    cases = parse_cases(cases, fn_args)
    requested = case_grid(spark, cases, combos).drop(LOC_COL)
    if df is None:
        return requested
    dims = requested.columns
    if var_names:
        present = non_null_points(df, dims, var_names)
    else:
        # no output variables declared: any stored row counts as present
        present = df.select(*dims).distinct()
    return requested.join(present, dims, "left_anti")


def union_grid_view(df: DataFrame, dims, var_names) -> DataFrame:
    """Dense union-grid presentation: every coordinate combination,
    with null holes at non-run points.

    Reference semantics: union grid + NaN-filled placeholders
    (``gen/combo_runner.py:257-283``; test
    ``tests/test_gen/test_case_runner.py:63-74``).  Storage stays
    sparse; this view is derived on demand.
    """
    grid = full_coord_grid(df, dims)
    return grid.join(df.select(*dims, *var_names), list(dims), "left_outer")
