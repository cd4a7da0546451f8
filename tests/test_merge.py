import pytest
from pyspark.sql import Row

from xyzpy_spark.merge import MergeConflictError, count_conflicts, merge_datasets


def _mk(spark, rows, cols):
    return spark.createDataFrame([Row(**dict(zip(cols, r))) for r in rows])


def test_disjoint_outer_merge(spark):
    """Disjoint coords outer-merge (reference tests/test_manage.py ds1+ds2)."""
    old = _mk(spark, [(1, 10.0), (2, 20.0)], ["a", "x"])
    new = _mk(spark, [(3, 30.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"])
    assert {(r["a"], r["x"]) for r in out.collect()} == {
        (1, 10.0),
        (2, 20.0),
        (3, 30.0),
    }


def test_overlap_identical_values_ok(spark):
    old = _mk(spark, [(1, 10.0), (2, 20.0)], ["a", "x"])
    new = _mk(spark, [(2, 20.0), (3, 30.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"])
    assert out.count() == 3


def test_conflict_raises_in_job(spark):
    """overwrite=None must fail on conflicting non-null cells
    (reference gen/farming.py:648-661, tests/test_manage.py:133-142)."""
    old = _mk(spark, [(1, 10.0)], ["a", "x"])
    new = _mk(spark, [(1, 99.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"])
    with pytest.raises(Exception, match="MERGE CONFLICT"):
        out.collect()
    assert count_conflicts(old, new, ["a"]) == 1


def test_overwrite_true_new_wins(spark):
    old = _mk(spark, [(1, 10.0), (2, 20.0)], ["a", "x"])
    new = _mk(spark, [(1, 99.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"], overwrite=True)
    rows = {r["a"]: r["x"] for r in out.collect()}
    assert rows == {1: 99.0, 2: 20.0}


def test_overwrite_false_old_wins(spark):
    old = _mk(spark, [(1, 10.0)], ["a", "x"])
    new = _mk(spark, [(1, 99.0), (2, 22.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"], overwrite=False)
    rows = {r["a"]: r["x"] for r in out.collect()}
    assert rows == {1: 10.0, 2: 22.0}


def test_null_fill_is_not_conflict(spark):
    """Nulls merge freely under no_conflicts (xr.merge semantics)."""
    old = _mk(spark, [(1, 10.0), (2, None)], ["a", "x"])
    new = _mk(spark, [(2, 22.0)], ["a", "x"])
    out = merge_datasets(old, new, ["a"])
    rows = {r["a"]: r["x"] for r in out.collect()}
    assert rows == {1: 10.0, 2: 22.0}


def test_schema_growth_new_variable(spark):
    """A variable present on only one side passes through (xr.merge)."""
    old = _mk(spark, [(1, 10.0)], ["a", "x"])
    new = _mk(spark, [(2, 5.0)], ["a", "y"])
    out = merge_datasets(old, new, ["a"])
    rows = {r["a"]: (r["x"], r["y"]) for r in out.collect()}
    assert rows == {1: (10.0, None), 2: (None, 5.0)}


def test_multi_dim_merge(spark):
    old = _mk(spark, [(1, "l1", 1.0), (2, "l2", 2.0)], ["a", "b", "x"])
    new = _mk(spark, [(1, "l2", 3.0)], ["a", "b", "x"])
    out = merge_datasets(old, new, ["a", "b"])
    assert out.count() == 3


def test_merge_nan_counts_as_missing(spark):
    """Reference stores missing numeric cells as NaN (xarray has no
    NULL): NaN-vs-value must not conflict, the set value wins under
    every policy, and two NaNs merge to null (review finding)."""
    import math

    from xyzpy_spark.merge import merge_datasets

    old = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, float("nan"))], ["a", "y"]
    )
    new = spark.createDataFrame(
        [(1, 7.0), (2, float("nan")), (3, float("nan"))], ["a", "y"]
    )
    for ow in (None, True, False):
        rows = {
            r["a"]: r["y"]
            for r in merge_datasets(old, new, ["a"], overwrite=ow).collect()
        }
        assert rows[1] == 7.0, ow   # value beats old NaN
        assert rows[2] == 5.0, ow   # value beats new NaN
        assert rows[3] is None, ow  # both missing -> canonical null


def test_merge_quoted_and_backticked_names(spark):
    """Variable and dim names holding a quote and a backtick survive
    the SQL-fragment rendering: the conflict text names them exactly,
    and every policy (plus NaN-as-missing) behaves as for plain names."""
    v, d = "it's `v`", "d`'im"
    old = spark.createDataFrame(
        [(1, 10.0), (2, float("nan")), (3, 5.0)], [d, v]
    )
    new = spark.createDataFrame(
        [(1, 99.0), (2, 7.0), (4, 8.0)], [d, v]
    )
    out = merge_datasets(old, new, [d])
    assert out.columns == [d, v]
    with pytest.raises(Exception) as ei:
        out.collect()
    assert f"MERGE CONFLICT in variable '{v}' at {d}=1" in str(ei.value)
    assert count_conflicts(old, new, [d]) == 1
    expect = {
        True: {1: 99.0, 2: 7.0, 3: 5.0, 4: 8.0},
        False: {1: 10.0, 2: 7.0, 3: 5.0, 4: 8.0},
    }
    for ow, rows in expect.items():
        got = merge_datasets(old, new, [d], overwrite=ow).collect()
        assert {r[d]: r[v] for r in got} == rows, ow
    # no conflict once the clashing cell is gone: NaN never conflicts
    ok = merge_datasets(old.where(f"`{d.replace('`', '``')}` != 1"), new, [d])
    assert {r[d]: r[v] for r in ok.collect()} == {1: 99.0, 2: 7.0, 3: 5.0, 4: 8.0}


def test_merge_conflict_message_multi_dim(spark):
    """The raise names every dim, in order, with its cast value."""
    old = spark.createDataFrame([(1, "x", 0.5, 1.0)], ["a", "b", "c", "y"])
    new = spark.createDataFrame([(1, "x", 0.5, 2.0)], ["a", "b", "c", "y"])
    with pytest.raises(Exception) as ei:
        merge_datasets(old, new, ["a", "b", "c"]).collect()
    assert "MERGE CONFLICT in variable 'y' at a=1, b=x, c=0.5" in str(ei.value)
