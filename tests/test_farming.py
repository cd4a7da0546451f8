import os

import numpy as np
import pytest

from conftest import fn3_fba
from xyzpy_spark.farming import Harvester, Runner, Sampler, label


@pytest.fixture
def fba_runner(spark):
    return Runner(
        fn3_fba,
        var_names=["sum", "even", "array"],
        var_dims={"array": ["time"]},
        var_coords={"time": np.linspace(0, 1, 3)},
        constants={"c": 100},
        attrs={"fruit": "apples"},
        spark=spark,
    )


def _expected_golden():
    out = {}
    for a in (1, 2):
        for b in (3, 4):
            for t in np.linspace(0, 1, 3):
                out[(a, b, round(t, 6))] = (
                    a + b + 100,
                    a % 2 == 0,
                    a * (b * t + 100),
                )
    return out


def _check_golden(df):
    rows = df.collect()
    expect = _expected_golden()
    assert len(rows) == len(expect)
    for r in rows:
        e = expect[(r["a"], r["b"], round(r["time"], 6))]
        assert r["sum"] == e[0]
        assert r["even"] == e[1]
        assert r["array"] == pytest.approx(e[2])


def test_runner_run_combos_golden(fba_runner):
    df = fba_runner.run_combos({"a": [1, 2], "b": [3, 4]})
    _check_golden(df)
    assert fba_runner.last_df is df


def test_runner_run_cases(fba_runner):
    df = fba_runner.run_cases([{"a": 1, "b": 3}, {"a": 2, "b": 4}])
    assert df.count() == 6
    for r in df.collect():
        assert r["sum"] == r["a"] + r["b"] + 100


def test_harvester_merge_accumulation(fba_runner, tmp_path):
    """Two half-grid harvests == one full run (reference
    tests/test_gen/test_farming.py:317-326)."""
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1], "b": [3, 4]})
    h.harvest_combos({"a": [2], "b": [3, 4]})
    _check_golden(h.full_df)


def test_harvester_dense_views(fba_runner, tmp_path):
    """h.to_dense_pandas() infers the store dims (sweep args +
    internal output dims) and matches the long table."""
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    dense = h.to_dense_pandas()
    assert list(dense.index.names) == ["a", "b", "time"]
    assert dense.shape[0] == 2 * 2 * 3
    e = _expected_golden()[(1, 3, 0.5)]
    assert dense.loc[(1, 3, 0.5), "array"] == pytest.approx(e[2])
    try:
        import xarray  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="xarray"):
            h.to_xarray()
    else:
        ds = h.to_xarray()
        assert set(ds.dims) == {"a", "b", "time"}


def test_harvester_missing_only_skips_done(fba_runner, tmp_path, monkeypatch):
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})

    calls = []
    orig = fba_runner.run_grid_df

    def counting_run_grid(grid_df, **kw):
        calls.append(sorted((r["a"], r["b"]) for r in grid_df.collect()))
        return orig(grid_df, **kw)

    monkeypatch.setattr(fba_runner, "run_grid_df", counting_run_grid)
    # everything already computed -> no work
    h.harvest_combos({"a": [1, 2], "b": [3, 4]}, missing_only=True)
    assert calls == []
    # one new point -> only that one runs (and stays a DataFrame)
    h.harvest_combos({"a": [1, 2, 3], "b": [3, 4]}, missing_only=True)
    assert calls == [[(3, 3), (3, 4)]]
    assert h.full_df.count() == 18


def test_harvester_conflict_policies(fba_runner, tmp_path):
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1], "b": [3]})

    # identical re-run under no_conflicts is fine
    h.harvest_combos({"a": [1], "b": [3]}, missing_only=False)
    assert h.full_df.count() == 3


def test_harvester_expand_dims_and_drop_sel(fba_runner, tmp_path):
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    h.expand_dims("c", 100)
    df = h.full_df
    assert "c" in df.columns
    assert df.where("c != 100").count() == 0
    h.drop_sel(a=2)
    assert h.full_df.where("a = 2").count() == 0
    assert h.full_df.count() == 6


def test_harvester_partitioned_store_parity(fba_runner, tmp_path):
    """The partition_by= store layout (r8 verdict ask #1) must be
    semantically invisible: the same harvest sequence through a
    partitioned and a full-publish store yields identical tables —
    golden values, accumulation, and the on-disk dim=value layout."""
    full = Harvester(fba_runner, str(tmp_path / "full.parquet"))
    part = Harvester(
        fba_runner, str(tmp_path / "part.parquet"), partition_by="a"
    )
    for combos in ({"a": [1], "b": [3, 4]}, {"a": [2], "b": [3, 4]}):
        full.harvest_combos(combos)
        part.harvest_combos(combos)
    _check_golden(part.full_df)
    cols = sorted(full.full_df.columns)
    assert sorted(part.full_df.columns) == cols
    a = sorted(map(tuple, full.full_df.select(*cols).collect()))
    b = sorted(map(tuple, part.full_df.select(*cols).collect()))
    assert a == b
    assert (tmp_path / "part.parquet" / "a=1").is_dir()
    assert (tmp_path / "part.parquet" / "a=2").is_dir()


def test_harvester_partitioned_topup_touches_only_new_partitions(
    fba_runner, tmp_path
):
    """The point of the layout: an incremental harvest must republish
    ONLY partitions containing touched coordinates — the untouched
    dim=value dirs keep their exact files (same names, same bytes,
    same mtimes), so top-up cost is O(touched), not O(store)."""
    store = tmp_path / "part.parquet"
    h = Harvester(fba_runner, str(store), partition_by="a")
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})

    def snap(d):
        return {
            f: (d / f).stat().st_mtime_ns
            for f in os.listdir(d)
            if not f.startswith(".")
        }

    before = {v: snap(store / f"a={v}") for v in (1, 2)}
    h.harvest_combos({"a": [1, 2, 3], "b": [3, 4]}, missing_only=True)
    assert (store / "a=3").is_dir()
    assert {v: snap(store / f"a={v}") for v in (1, 2)} == before
    assert h.full_df.count() == 18
    # a conflicting re-harvest under the raise policy fails inside the
    # job and leaves the store intact (reference merge semantics)
    import pyspark.sql.functions as F

    clash = fba_runner.run_combos({"a": [2], "b": [3]}).withColumn(
        "sum", F.col("sum") + 1
    )
    with pytest.raises(Exception, match="MERGE CONFLICT"):
        h.add_df(clash, ["a", "b", "time"])
    assert h.full_df.count() == 18
    # overwrite=True: new wins, and only a=2 republished
    a1_before = snap(store / "a=1")
    h.add_df(clash, ["a", "b", "time"], overwrite=True)
    got = h.full_df.where("a = 2 AND b = 3").select("sum").distinct()
    assert [r[0] for r in got.collect()] == [2 + 3 + 100 + 1]
    assert snap(store / "a=1") == a1_before


def test_harvester_partitioned_schema_evolution_and_validation(
    fba_runner, tmp_path
):
    """A top-up that introduces a new variable column must surface it
    as NULL holes on untouched partitions (the outer-merge
    semantics), via the _layout.json schema sidecar — never a
    mergeSchema footer sweep.  Plus the layout's guard rails."""
    import pyspark.sql.functions as F

    store = tmp_path / "part.parquet"
    h = Harvester(fba_runner, str(store), partition_by="a")
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    new = fba_runner.run_combos({"a": [3], "b": [3, 4]}).withColumn(
        "extra", F.lit(7.5)
    )
    h.add_df(new, ["a", "b", "time"])
    df = h.full_df
    assert "extra" in df.columns
    assert df.where("a = 3 AND extra IS NULL").count() == 0
    assert df.where("a < 3 AND extra IS NOT NULL").count() == 0
    # partition dim missing from the merge dims -> actionable error
    with pytest.raises(ValueError, match="partition dim"):
        h.add_df(new.drop("a"), ["b", "time"])
    # NULL partition coordinates cannot round-trip dim=value dirs
    with pytest.raises(ValueError, match="NULL"):
        h.add_df(
            new.withColumn(
                "a", F.lit(None).cast("bigint")
            ),
            ["a", "b", "time"],
        )
    with pytest.raises(ValueError, match="duplicate"):
        Harvester(fba_runner, str(store), partition_by=["a", "a"])
    with pytest.raises(ValueError, match="non-empty"):
        Harvester(fba_runner, str(store), partition_by=[])
    # dense views and expand_dims keep working on the partitioned
    # layout (expand_dims republishes in full, preserving partitions)
    h.expand_dims("d", 5)
    assert (store / "a=1").is_dir()
    assert h.full_df.where("d != 5").count() == 0


def test_harvester_attrs_sidecar(fba_runner, tmp_path):
    from xyzpy_spark.farming import load_attrs

    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1], "b": [3]})
    attrs = load_attrs(store)
    assert attrs["fruit"] == "apples"
    assert attrs["c"] == 100


def test_sampler(spark, tmp_path):
    def sumdiff(a, b, c):
        return a + b, a - b, a % b == 0, c

    runner = Runner(
        sumdiff,
        var_names=["sum", "diff", "div", "c_out"],
        constants={"c": 7},
        spark=spark,
    )
    store = str(tmp_path / "samples.parquet")
    s = Sampler(runner, store, seed=0)
    full = s.sample_combos(5, {"a": [1, 2, 3], "b": [4, 5]})
    assert full.count() == 5
    full = s.sample_combos(3, {"a": [1, 2, 3], "b": [4, 5]})
    assert full.count() == 8  # append-only
    row = full.collect()[0]
    assert row["sum"] == row["a"] + row["b"]
    assert row["c"] == 7  # constant recorded as column


def test_sampler_callable_distribution(spark, tmp_path):
    def f(a):
        return a * 2

    runner = Runner(f, var_names="x", spark=spark)
    s = Sampler(runner, str(tmp_path / "s.parquet"), seed=1)
    cases = s.gen_cases(4, {"a": [lambda: 42]})
    assert all(c["a"] == 42 for c in cases)


def test_label_decorator(spark):
    @label(var_names=["sum", "diff"], spark=spark)
    def sumdiff(a, b):
        return a + b, a - b

    assert isinstance(sumdiff, Runner)
    df = sumdiff.run_combos({"a": range(1, 10), "b": range(23, 27)})
    assert df.count() == 36
    # runner stays callable as the bare function
    assert sumdiff(2, 1) == (3, 1)


def test_publish_is_atomic_leaves_bak(fba_runner, tmp_path):
    store = str(tmp_path / "fba.parquet")
    h = Harvester(fba_runner, store)
    h.harvest_combos({"a": [1], "b": [3]})
    h.harvest_combos({"a": [2], "b": [3]})
    assert os.path.exists(store + ".bak")  # previous version retained


def test_harvest_kwargs_survive_missing_only_topup(fba_runner, tmp_path):
    """Execution kwargs accepted on the first harvest must not crash
    the second, missing-only harvest (review regression)."""
    h = fba_runner.harvester(str(tmp_path / "kw_store.parquet"))
    h.harvest_combos({"a": [1, 2], "b": [10]}, num_partitions=2)
    out = h.harvest_combos({"a": [1, 2, 3], "b": [10]}, num_partitions=2)
    # explode mode: 3 points x 3 internal time coords
    assert out.select("a").distinct().count() == 3


def test_publish_bak_restored_after_crash_window(fba_runner, tmp_path):
    """If only the .bak survives (crash between the two publish
    renames), load_full_df restores it instead of starting empty."""
    import os
    import shutil

    path = str(tmp_path / "bak_store.parquet")
    h = fba_runner.harvester(path)
    h.harvest_combos({"a": [1, 2], "b": [10]})
    # simulate the crash window: store renamed to .bak, new never landed
    shutil.move(path, path + ".bak")
    assert h.load_full_df().select("a").distinct().count() == 2
    assert os.path.exists(path)


def test_publish_bak_restored_into_empty_store_dir(fba_runner, tmp_path):
    """An EMPTY store dir beside the .bak (the dir recreated before the
    crash, or by a tool) must not swallow the backup: a rename onto an
    existing dir would move the .bak INSIDE it, nesting the store."""
    import shutil

    path = str(tmp_path / "bak_empty.parquet")
    h = fba_runner.harvester(path)
    h.harvest_combos({"a": [1, 2], "b": [10]})
    expected = sorted(map(tuple, h.load_full_df().collect()))
    shutil.move(path, path + ".bak")
    os.mkdir(path)
    assert sorted(map(tuple, h.load_full_df().collect())) == expected
    assert not os.path.exists(path + ".bak")
    children = os.listdir(path)
    assert "bak_empty.parquet.bak" not in children
    assert any(n.endswith(".parquet") for n in children)


def test_to_xarray_attrs_roundtrip(spark, tmp_path, monkeypatch):
    """Runner constants + attrs written to the _attrs.json sidecar on
    harvest must surface as Dataset.attrs in Harvester.to_xarray
    (reference constants->attrs semantics, gen/combo_runner.py:514-535).
    xarray isn't installed here, so a capturing stub stands in for the
    Dataset constructor — the plumbing under test is ours."""
    import sys
    import types

    from xyzpy_spark.farming import Runner, load_attrs

    def kern(a, b, scale):
        return (a + b) * scale

    r = Runner(
        kern,
        var_names="y",
        constants={"scale": 2},
        attrs={"units": "ms", "version": 3},
    )
    h = r.harvester(str(tmp_path / "store.parquet"))
    h.harvest_combos({"a": [1, 2], "b": [10, 20]})

    # sidecar got constants + attrs (repr-serialized values load back)
    side = load_attrs(str(tmp_path / "store.parquet"))
    assert side["scale"] == 2
    assert side["units"] == "ms"

    captured = {}

    class _FakeDataset:
        def __init__(self, data_vars, coords=None, attrs=None):
            captured["attrs"] = attrs
            captured["vars"] = set(data_vars)

    fake_xr = types.ModuleType("xarray")
    fake_xr.Dataset = _FakeDataset
    monkeypatch.setitem(sys.modules, "xarray", fake_xr)

    h.to_xarray()
    assert captured["vars"] == {"y"}
    assert captured["attrs"]["scale"] == 2
    assert captured["attrs"]["units"] == "ms"
    assert captured["attrs"]["version"] == 3

    # explicit attrs= overrides the sidecar
    h.to_xarray(attrs={"only": 1})
    assert captured["attrs"] == {"only": 1}


def test_to_xarray_constants_override_attrs(spark, tmp_path, monkeypatch):
    """When a key appears in BOTH constants and attrs, constants win —
    the reference applies constants ON TOP of attrs
    (gen/combo_runner.py:514-535) and add_df's sidecar does the same;
    to_xarray must agree with both (review r3)."""
    import sys
    import types

    from xyzpy_spark.farming import Runner, load_attrs

    def kern(a, scale):
        return a * scale

    r = Runner(
        kern,
        var_names="y",
        constants={"scale": 2},
        attrs={"scale": "two", "units": "ms"},
    )
    h = r.harvester(str(tmp_path / "store.parquet"))
    h.harvest_combos({"a": [1, 2]})

    side = load_attrs(str(tmp_path / "store.parquet"))
    assert side["scale"] == 2  # constant wins in the sidecar

    captured = {}

    class _FakeDataset:
        def __init__(self, data_vars, coords=None, attrs=None):
            captured["attrs"] = attrs

    fake_xr = types.ModuleType("xarray")
    fake_xr.Dataset = _FakeDataset
    monkeypatch.setitem(sys.modules, "xarray", fake_xr)

    h.to_xarray()
    assert captured["attrs"]["scale"] == 2  # agrees with the sidecar
    assert captured["attrs"]["units"] == "ms"


def test_partitioned_topup_evaluates_kernel_once(spark, tmp_path):
    """The partitioned add_df path collects the touched coordinates
    from `new` BEFORE writing it; without the r9 persist the sweep
    kernel (mapInPandas — never column-prunable) would run once for
    the collect and AGAIN for the publish, doubling the cost the
    layout exists to avoid (review catch).  The kernel appends one
    line per evaluated point to a shared file; local-mode python
    workers share the filesystem, so the line count IS the
    evaluation count."""
    marker = str(tmp_path / "calls.log")

    def counting_kernel(a, b):
        with open(marker, "a") as fh:
            fh.write("x\n")
        return a + b

    r = Runner(counting_kernel, var_names=["s"], spark=spark)
    h = Harvester(
        r, str(tmp_path / "store.parquet"), partition_by="a"
    )
    h.harvest_combos({"a": [1, 2], "b": [10, 20, 30]})
    n_first = sum(1 for _ in open(marker))
    # each grid point evaluates once; the runner additionally makes
    # ONE driver-side schema-sample call per run (G11) — measure it
    # instead of hard-coding, so the assert pins only the
    # per-point-once property
    overhead = n_first - 6
    assert 0 <= overhead <= 1, n_first
    h.harvest_combos(
        {"a": [1, 2, 3], "b": [10, 20, 30]}, missing_only=True
    )
    n_topup = sum(1 for _ in open(marker)) - n_first
    # only a=3's three points run, each exactly ONCE (the unpersisted
    # pre-fix path ran them twice: coordinate collect + publish)
    assert n_topup == 3 + overhead, n_topup
    assert h.full_df.count() == 9


def test_harvester_partitioned_compact(fba_runner, tmp_path):
    """A publish writes each touched dim=value dir with one file per
    task holding its rows — a wide harvest fragments partitions.
    compact(min_files=...) must rewrite ONLY the partitions over the
    threshold: same rows after, untouched partitions' files
    bit-identical."""
    store = tmp_path / "part.parquet"
    h = Harvester(fba_runner, str(store), partition_by="a")
    # a wide first write fragments a=1 across tasks; a=2 arrives in a
    # later narrow top-up (single file)
    h.harvest_combos({"a": [1], "b": [3, 4, 5]}, num_partitions=6)
    h.harvest_combos(
        {"a": [1, 2], "b": [3, 4, 5]}, missing_only=True
    )

    def files(v):
        return sorted(
            f for f in os.listdir(store / f"a={v}")
            if f.endswith(".parquet")
        )

    assert len(files(1)) >= 2
    before_rows = sorted(map(tuple, h.full_df.collect()))
    a2_before = files(2)
    compacted = h.compact(min_files=1)
    assert compacted == ["1"], compacted
    assert len(files(1)) == 1
    assert files(2) == a2_before  # untouched partition keeps its files
    assert sorted(map(tuple, h.full_df.collect())) == before_rows
    # below-threshold store: no-op
    assert h.compact(min_files=8) == []
    # unpartitioned stores route to manage.compact_table instead
    h2 = Harvester(fba_runner, str(tmp_path / "flat.parquet"))
    with pytest.raises(ValueError, match="compact_table"):
        h2.compact()


def _snap_files(d):
    return {
        f: (d / f).stat().st_mtime_ns
        for f in os.listdir(d)
        if not f.startswith(".")
    }


def test_harvester_partitioned_two_dims_parity(fba_runner, tmp_path):
    """partition_by=("a","b") nests dim dirs (r9 verdict ask #3): the
    same harvest sequence through a 2-dim-partitioned and a
    full-publish store yields identical tables, and a top-up
    republishes only the touched LEAF dirs."""
    full = Harvester(fba_runner, str(tmp_path / "full.parquet"))
    store = tmp_path / "part.parquet"
    part = Harvester(fba_runner, str(store), partition_by=("a", "b"))
    for combos in ({"a": [1], "b": [3, 4]}, {"a": [2], "b": [3, 4]}):
        full.harvest_combos(combos)
        part.harvest_combos(combos)
    _check_golden(part.full_df)
    cols = sorted(full.full_df.columns)
    assert sorted(part.full_df.columns) == cols
    a = sorted(map(tuple, full.full_df.select(*cols).collect()))
    b = sorted(map(tuple, part.full_df.select(*cols).collect()))
    assert a == b
    assert (store / "a=1" / "b=3").is_dir()
    assert (store / "a=2" / "b=4").is_dir()
    before = {
        (av, bv): _snap_files(store / f"a={av}" / f"b={bv}")
        for av in (1, 2)
        for bv in (3, 4)
    }
    part.harvest_combos(
        {"a": [1, 2], "b": [3, 4, 5]}, missing_only=True
    )
    assert (store / "a=1" / "b=5").is_dir()
    after = {
        (av, bv): _snap_files(store / f"a={av}" / f"b={bv}")
        for av in (1, 2)
        for bv in (3, 4)
    }
    assert after == before  # only the b=5 leaves were written
    assert part.full_df.count() == 18
    # both partition dims must be merge dims
    import pyspark.sql.functions as F

    new = fba_runner.run_combos({"a": [1], "b": [9]})
    with pytest.raises(ValueError, match="partition dim"):
        part.add_df(new.drop("b"), ["a", "time"])


def test_harvester_partitioned_compact_two_dims(fba_runner, tmp_path):
    """compact() walks the nested dim1=/dim2= tree and rewrites only
    over-threshold LEAF partitions, reading them back through
    basePath so Spark itself parses the partition values (r9
    ADVICE: no driver-side cast-to-string reconstruction)."""
    store = tmp_path / "p2.parquet"
    h = Harvester(fba_runner, str(store), partition_by=("a", "b"))
    # round-robin the 3 time rows of the (1,3) point across tasks so
    # its leaf dir lands fragmented (>1 file)
    frag = fba_runner.run_combos({"a": [1], "b": [3]}).repartition(6)
    h.add_df(frag, ["a", "b", "time"])
    h.harvest_combos({"a": [1, 2], "b": [3, 4]}, missing_only=True)

    def files(av, bv):
        return sorted(
            f
            for f in os.listdir(store / f"a={av}" / f"b={bv}")
            if f.endswith(".parquet")
        )

    assert len(files(1, 3)) >= 2
    before_rows = sorted(map(tuple, h.full_df.collect()))
    others_before = {
        (av, bv): files(av, bv) for av, bv in [(1, 4), (2, 3), (2, 4)]
    }
    compacted = h.compact(min_files=1)
    assert compacted == ["1/3"], compacted
    assert len(files(1, 3)) == 1
    assert {
        (av, bv): files(av, bv) for av, bv in [(1, 4), (2, 3), (2, 4)]
    } == others_before
    assert sorted(map(tuple, h.full_df.collect())) == before_rows


def test_harvester_repartition_store_migration(fba_runner, tmp_path):
    """repartition_store() migrates an EXISTING store between layouts
    in one audited atomic publish (r9 verdict ask #3): rows
    identical after flat->partitioned, later top-ups become
    O(touched), and flattening back restores the single-dir
    layout."""
    store = tmp_path / "mig.parquet"
    h = Harvester(fba_runner, str(store))
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    cols = sorted(h.full_df.columns)
    before = sorted(map(tuple, h.full_df.select(*cols).collect()))
    with pytest.raises(ValueError, match="not in store"):
        h.repartition_store("zzz")
    h.repartition_store("a")
    assert h.partition_by == ("a",)
    assert (store / "a=1").is_dir()
    assert sorted(map(tuple, h.full_df.select(*cols).collect())) == before
    # the migrated store now has partition-granular top-ups
    a1_before = _snap_files(store / "a=1")
    h.harvest_combos({"a": [1, 2, 3], "b": [3, 4]}, missing_only=True)
    assert (store / "a=3").is_dir()
    assert _snap_files(store / "a=1") == a1_before
    assert h.full_df.count() == 18
    # and flattening back removes the dim dirs and the layout sidecar
    h.repartition_store(None)
    assert h.partition_by is None
    assert not (store / "a=1").exists()
    assert not (store / "_layout.json").exists()
    assert h.full_df.count() == 18


def test_partitioned_add_df_sync_false_returns_full_view(
    fba_runner, tmp_path
):
    """add_df(sync=False) on a partitioned store must return the FULL
    merged view — untouched partitions included (r9 ADVICE): the
    publish-side table holds only touched partitions, but a caller
    consuming the return (or last_merged) expects the logical
    table, exactly like the unpartitioned path."""
    import pyspark.sql.functions as F

    store = tmp_path / "p.parquet"
    h = Harvester(fba_runner, str(store), partition_by="a")
    h.harvest_combos({"a": [1, 2], "b": [3, 4]})
    new = fba_runner.run_combos({"a": [3], "b": [3, 4]}).withColumn(
        "extra", F.lit(7.5)
    )
    out = h.add_df(new, ["a", "b", "time"], sync=False)
    assert out.count() == 18  # 12 untouched + 6 new
    assert out.where("a = 1").count() == 6
    assert h.last_merged is out
    # a new variable column surfaces as NULL holes on the untouched
    # partitions (outer-merge semantics), values on the touched one
    assert out.where("a < 3 AND extra IS NOT NULL").count() == 0
    assert out.where("a = 3 AND extra IS NULL").count() == 0
    # nothing was published
    assert h.full_df.count() == 12
