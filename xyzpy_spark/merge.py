"""Outer-merge of result tables with conflict policies.

Reference semantics (``xyzpy/gen/farming.py:602-670`` and
``manage.py:172-208``):

- ``overwrite=None`` — merge with *no conflicts allowed*: error if any
  cell is non-null on both sides with different values
  (``xr.merge(compat="no_conflicts")``).
- ``overwrite=True``  — new data wins where both present
  (``new.combine_first(old)``).
- ``overwrite=False`` — old data wins (``old.combine_first(new)``).

Spark expression: ONE full-outer join on the dim columns +
per-variable ``coalesce``.  The no-conflicts check does not cost a
second job: conflicting cells route through ``raise_error`` inside the
same projection, so the merge job itself fails on first conflict
(SURVEY §7 risk #3 — "make it one job").

Single-fragment rendering: every per-variable expression is SQL text,
and the whole merge (and :func:`count_conflicts`) is one projection per
side plus one shared projection over the join
(:func:`~xyzpy_spark._sql.select_sql`), typed from the old side's
schema, read once.  The build costs a constant number of py4j round
trips whatever the number of variables, where the Column-API
``when``/``concat`` chain cost ~370 per variable.  Exactness contract:
names are backtick-quoted and the message prefix is an exact string
literal, and the fragments are bracketed to parse to the expression
trees the Column builders made, so plans, conflict messages and
results are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ._sql import select_sql, sql_chain, sql_ident, sql_string


class MergeConflictError(ValueError):
    """Both sides define different non-null values for the same cell."""


def _neq(a: str, b: str, is_num: bool) -> str:
    """Both cells set and unequal.  NaN counts as MISSING for numeric
    merges — the reference stores missing points as NaN (xarray has no
    NULL), so xr.merge's no-conflicts rule never flags NaN-vs-value; a
    conflict needs two SET (non-null, non-NaN) unequal values."""
    nan = [f"NOT isnan({a})", f"NOT isnan({b})"] if is_num else []
    return sql_chain(
        "AND", [f"{a} IS NOT NULL", f"{b} IS NOT NULL", *nan, f"NOT ({a} <=> {b})"]
    )


def _nan_as_null(c: str) -> str:
    # numeric combine_first: a NaN cell must LOSE to a set value (and
    # two NaNs merge to null — the engine's canonical missing marker)
    return f"CASE WHEN isnan({c}) THEN NULL ELSE {c} END"


def _join_sides(old, new, dims, old_vars, new_vars, how):
    """Full/inner join of the two sides, variables prefixed per side."""
    o = select_sql(old, [
        *map(sql_ident, dims),
        *[f"{sql_ident(v)} AS {sql_ident('__old_' + v)}" for v in old_vars],
    ])
    n = select_sql(new, [
        *map(sql_ident, dims),
        *[f"{sql_ident(v)} AS {sql_ident('__new_' + v)}" for v in new_vars],
    ])
    return o.join(n, dims, how)


def _sides(v):
    return sql_ident(f"__old_{v}"), sql_ident(f"__new_{v}")


def merge_datasets(
    old: DataFrame,
    new: DataFrame,
    dims,
    *,
    overwrite: bool | None = None,
    var_names=None,
) -> DataFrame:
    """Merge two long-format result tables on their dim columns.

    Variables present on only one side pass through (schema grows, as
    with ``xr.merge`` / ``Harvester.expand_dims``).  Returns the merged
    table; under ``overwrite=None`` the returned plan *raises*
    ``org.apache.spark.SparkRuntimeException`` (message prefixed
    ``MERGE CONFLICT``) at execution time if a conflicting cell exists.
    """
    dims = list(dims)
    old_types = dict(old.dtypes)
    old_vars = [c for c in old_types if c not in dims]
    new_vars = [c for c in new.columns if c not in dims]
    if var_names is not None:
        old_vars = [v for v in old_vars if v in var_names]
        new_vars = [v for v in new_vars if v in var_names]
    shared = [v for v in old_vars if v in new_vars]
    only_old = [v for v in old_vars if v not in new_vars]
    only_new = [v for v in new_vars if v not in old_vars]

    joined = _join_sides(old, new, dims, old_vars, new_vars, "full_outer")
    at = ", ".join(
        [sql_string(", ")]
        + [
            f"concat({sql_string(d + '=')}, CAST({sql_ident(d)} AS STRING))"
            for d in dims
        ]
    )
    cols = [sql_ident(d) for d in dims]
    for v in shared:
        ov, nv = _sides(v)
        is_num = old_types[v] in ("double", "float")
        neq = _neq(ov, nv, is_num)
        if is_num:
            ov, nv = _nan_as_null(ov), _nan_as_null(nv)
        if overwrite is None:
            # conflict -> fail inside this very job (no second pass).
            msg = sql_string(f"MERGE CONFLICT in variable '{v}' at ")
            merged = (
                f"CASE WHEN {neq} THEN raise_error(concat({msg}, "
                f"concat_ws({at}))) ELSE coalesce({nv}, {ov}) END"
            )
        elif overwrite:
            merged = f"coalesce({nv}, {ov})"
        else:
            merged = f"coalesce({ov}, {nv})"
        cols.append(f"{merged} AS {sql_ident(v)}")
    for v in only_old:
        cols.append(f"{_sides(v)[0]} AS {sql_ident(v)}")
    for v in only_new:
        cols.append(f"{_sides(v)[1]} AS {sql_ident(v)}")
    return select_sql(joined, cols)


def count_conflicts(old: DataFrame, new: DataFrame, dims, var_names=None) -> int:
    """Eagerly count conflicting cells (diagnostic companion to the
    in-job raise of :func:`merge_datasets`)."""
    dims = list(dims)
    old_types = dict(old.dtypes)
    new_cols = set(new.columns)
    shared = [
        v
        for v in old_types
        if v not in dims
        and v in new_cols
        and (var_names is None or v in var_names)
    ]
    if not shared:
        return 0
    joined = _join_sides(old, new, dims, shared, shared, "inner")
    row = select_sql(joined, [
        f"sum(CAST({_neq(*_sides(v), old_types[v] in ('double', 'float'))}"
        f" AS BIGINT)) AS {sql_ident(v)}"
        for v in shared
    ]).collect()[0]
    return int(sum(x or 0 for x in row))
