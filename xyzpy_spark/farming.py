"""Labelled sweep functions and persistent result stores.

Spark analogs of the reference's farming layer
(``xyzpy/gen/farming.py``):

- :class:`Runner`    — binds fn + output schema + constants; runs
  combos/cases to a long DataFrame (``farming.py:33-307``).
- :class:`Harvester` — grows an on-disk parquet table across runs via
  outer-merge with conflict policies, atomic publish, missing-only
  top-up (``farming.py:413-855``).
- :class:`Sampler`   — append-only random-point sampling into a
  parquet table (``farming.py:857-1054``).
- :func:`label`      — decorator turning a function into a Runner /
  Harvester / Sampler (``farming.py:310-410``).

Persistence is a parquet directory + ``_attrs.json`` sidecar (files
starting with ``_`` are invisible to Spark's reader, so the sidecar
rides inside the table directory).  Publishing is write-audit-publish:
write to a temp dir, then swap via rename with a ``.bak`` safety copy
(reference's atomic ``.bak`` dance: ``farming.py:549-580``) — plain
``mode("overwrite")`` is not crash-safe on a filesystem.
"""

from __future__ import annotations

import functools
import json
import uuid

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import fsutil
from ._sql import sql_chain, sql_ident, sql_literal
from .grid import LOC_COL
from .merge import merge_datasets
from .missing import non_null_points
from .prepare import (
    parse_cases,
    parse_combos,
    parse_constants,
    parse_fn_args,
    parse_var_names,
)
from .runner import combo_runner_to_df

# internal "not passed" marker: None is a meaningful value (no store
# on disk) for the metadata threaded through one top-up (r14)
_UNSET = object()


class Runner:
    """A function labelled with its sweep/output schema.

    Reference: ``xyzpy.Runner`` (``gen/farming.py:33-307``).
    """

    def __init__(
        self,
        fn,
        var_names,
        *,
        fn_args=None,
        var_dims=None,
        var_coords=None,
        var_types=None,
        constants=None,
        resources=None,
        attrs=None,
        explode: bool = True,
        spark: SparkSession | None = None,
    ):
        self.fn = fn
        self.var_names = parse_var_names(var_names)
        self.fn_args = parse_fn_args(fn, fn_args)
        self.var_dims = var_dims
        self.var_coords = var_coords
        self.var_types = var_types
        self.constants = parse_constants(constants)
        self.resources = dict(resources or {})
        self.attrs = dict(attrs or {})
        self.explode = explode
        self._spark = spark
        self.last_df: DataFrame | None = None

    # -- infra -----------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = SparkSession.builder.getOrCreate()
        return self._spark

    def _dim_names(self, combos=None, cases=None) -> list[str]:
        dims = []
        if cases:
            dims += [c for c in parse_cases(cases, self.fn_args)[0]]
        if combos:
            dims += [arg for arg, _ in parse_combos(combos)]
        return dims

    # -- execution -------------------------------------------------------
    def run_combos(self, combos, *, constants=None, **kwargs) -> DataFrame:
        """Sweep the full cartesian grid; returns + remembers the result."""
        merged_consts = {**self.constants, **parse_constants(constants)}
        self.last_df = combo_runner_to_df(
            self.spark,
            self.fn,
            combos,
            var_names=self.var_names,
            var_dims=self.var_dims,
            var_coords=self.var_coords,
            var_types=self.var_types,
            constants=merged_consts,
            resources=self.resources,
            explode=self.explode,
            **kwargs,
        )
        return self.last_df

    def run_grid_df(
        self,
        grid_df: DataFrame,
        *,
        constants=None,
        num_partitions: int | None = None,
        shuffle: bool | int = False,
        keep_loc: bool = False,
        sample_point: dict | None = None,
        **kwargs,
    ) -> DataFrame:
        """Evaluate the labelled fn over an ALREADY-BUILT grid DataFrame.

        The scale path for incremental top-ups: the missing-point set
        stays distributed end to end (no driver collect).  ``grid_df``
        columns are the parameter dims; a job-local ``_loc`` key is
        attached for result pairing.  Accepts the same execution
        kwargs as ``run_combos`` (``num_partitions``/``shuffle``/
        ``keep_loc``) so a kwarg that worked on the first harvest
        does not crash the missing-only top-up.

        ``sample_point`` — one grid row as a dict, used only to
        resolve var specs (the kernel's output schema).  Callers that
        already probed the grid (the harvest emptiness check) pass it
        to skip this method's own ``limit(1)`` sample job (r14: one
        fewer driver job per missing-only top-up).
        """
        from pyspark.sql import functions as F

        from .runner import evaluate_grid, resolve_var_specs

        merged_consts = {**self.constants, **parse_constants(constants)}
        if sample_point is None:
            first = grid_df.limit(1).collect()
            if not first:
                raise ValueError("empty grid")
            sample_point = first[0].asDict()
        cases = (sample_point,)
        specs, coords = resolve_var_specs(
            self.fn, (), cases, merged_consts, self.resources,
            self.var_names, self.var_dims, self.var_coords, self.var_types,
        )
        grid = grid_df.withColumn(LOC_COL, F.monotonically_increasing_id())
        if shuffle:
            seed = 42 if shuffle is True else int(shuffle)
            n = num_partitions or grid.sparkSession.sparkContext.defaultParallelism
            grid = grid.repartition(
                n, F.xxhash64(F.col(LOC_COL), F.lit(seed))
            )
        elif num_partitions:
            grid = grid.repartition(num_partitions)
        out = evaluate_grid(
            grid, self.fn, specs, coords,
            constants=merged_consts, resources=self.resources,
            explode=self.explode, **kwargs,
        )
        self.last_df = out if keep_loc else out.drop(LOC_COL)
        return self.last_df

    def run_cases(self, cases, *, combos=None, constants=None, **kwargs) -> DataFrame:
        """Evaluate explicit parameter points (optionally x combos)."""
        merged_consts = {**self.constants, **parse_constants(constants)}
        self.last_df = combo_runner_to_df(
            self.spark,
            self.fn,
            combos,
            cases=cases,
            fn_args=self.fn_args,
            var_names=self.var_names,
            var_dims=self.var_dims,
            var_coords=self.var_coords,
            var_types=self.var_types,
            constants=merged_consts,
            resources=self.resources,
            explode=self.explode,
            **kwargs,
        )
        return self.last_df

    def __call__(self, *args, **kwargs):
        return self.fn(*args, **kwargs)

    def harvester(self, data_name: str, **kwargs) -> "Harvester":
        return Harvester(self, data_name, **kwargs)

    def sampler(self, data_name: str, **kwargs) -> "Sampler":
        return Sampler(self, data_name, **kwargs)


# -- atomic parquet publish ---------------------------------------------


def _normalize_partition_by(partition_by) -> tuple[str, ...] | None:
    """Canonicalize a ``partition_by=`` argument to a tuple of dim
    names (or None).  Accepts a single name or a sequence — sweeps are
    routinely 2-3 dims and the natural store layout is nested
    ``dim1=v1/dim2=v2`` dirs (r9 verdict ask #3)."""
    if partition_by is None:
        return None
    if isinstance(partition_by, str):
        partition_by = (partition_by,)
    try:
        pby = tuple(partition_by)
    except TypeError:
        raise ValueError(
            f"partition_by must be a dim name or a sequence of dim "
            f"names, got {partition_by!r}"
        )
    if not pby or not all(isinstance(p, str) and p for p in pby):
        raise ValueError(
            f"partition_by must be non-empty dim-column names, "
            f"got {partition_by!r}"
        )
    if len(set(pby)) != len(pby):
        raise ValueError(f"partition_by has duplicate dims: {pby!r}")
    return pby


def _write_layout(spark, dirpath: str, partition_by, schema) -> None:
    """Persist the store's physical layout next to the data: the
    partition dim and the UNIFIED logical schema.  The schema sidecar
    is what lets a partitioned store read as one table at 100 TB —
    a plain read would need ``mergeSchema`` (a footer read of every
    file) the first time a top-up adds a variable column; with the
    sidecar the read is ``spark.read.schema(...)`` and files that
    predate a column simply surface NULLs (exactly the outer-merge
    hole semantics).  Underscore-prefixed so partition discovery
    ignores it (the ``_attrs.json`` convention)."""
    pby = _normalize_partition_by(partition_by)
    fsutil.write_text(
        spark,
        fsutil.join(dirpath, "_layout.json"),
        json.dumps(
            {"partition_by": list(pby), "schema": schema.jsonValue()}
        ),
    )


def _touched_predicate(pby, touched, schema) -> Column:
    """OR-of-ANDs over literals: every conjunct compares a partition
    column to a constant, so the store scan partition-prunes to exactly
    the touched dirs.  Rendered as ONE SQL predicate (bracketed
    left-deep, the tree the Column-API ``reduce`` built); coordinates
    with no exact SQL literal (timestamps, int32 columns) take the
    Column builder."""
    types = [schema[d].dataType for d in pby]
    try:
        return F.expr(sql_chain("OR", (
            sql_chain("AND", (
                f"({sql_ident(d)} = {sql_literal(v, dt)})"
                for d, v, dt in zip(pby, t, types)
            ))
            for t in touched
        )))
    except TypeError:
        return functools.reduce(
            Column.__or__,
            (
                functools.reduce(
                    Column.__and__,
                    (F.col(d) == F.lit(v) for d, v in zip(pby, t)),
                )
                for t in touched
            ),
        )


def _read_layout(spark, path: str) -> dict | None:
    txt = fsutil.read_text_or_none(
        spark, fsutil.join(path, "_layout.json")
    )
    return None if txt is None else json.loads(txt)


def _publish_parquet(
    df: DataFrame,
    path: str,
    attrs: dict | None = None,
    partition_by=None,
) -> None:
    """Write-audit-publish: stage to a temp dir, audit, swap with .bak.

    ``partition_by`` stages the store in the PARTITIONED layout
    (``dim=value`` dirs + ``_layout.json`` schema sidecar) — the full
    atomic swap is still used here (first write / schema surgery);
    incremental top-ups go through ``Harvester._publish_partitions``
    which rewrites only touched partitions."""
    spark = df.sparkSession
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    partition_by = _normalize_partition_by(partition_by)
    if partition_by is not None:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
        _write_layout(spark, tmp, partition_by, df.schema)
    else:
        df.write.mode("overwrite").parquet(tmp)
    if attrs:
        fsutil.write_text(
            spark,
            fsutil.join(tmp, "_attrs.json"),
            json.dumps(attrs, default=repr),
        )
    bak = path + ".bak"
    try:
        if fsutil.exists(spark, path):
            fsutil.delete(spark, bak)
            fsutil.rename(spark, path, bak)
        fsutil.rename(spark, tmp, path)
    except Exception:
        # restore on failure (reference: farming.py:569-580).  Broad
        # catch on purpose (r13 review): JVM filesystem failures
        # surface as Py4JJavaError, not OSError — on exactly the
        # hdfs://s3a:// paths this layer exists for, a narrow except
        # would skip the restore and the finally would then delete
        # the staged data
        if fsutil.exists(spark, bak) and not fsutil.exists(spark, path):
            fsutil.rename(spark, bak, path)
        raise
    finally:
        fsutil.delete(spark, tmp)


def load_attrs(path: str, spark: SparkSession | None = None) -> dict:
    """The store's ``_attrs.json`` sidecar as a dict (empty if none).
    ``spark`` may be omitted from driver-side user code (the active
    session resolves); internal callers pass it explicitly."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "load_attrs: no active SparkSession — pass spark= "
                "explicitly (sidecar IO is scheme-aware and needs the "
                "session's Hadoop configuration)"
            )
    txt = fsutil.read_text_or_none(spark, fsutil.join(path, "_attrs.json"))
    return {} if txt is None else json.loads(txt)


class Harvester:
    """Incrementally grown on-disk result table.

    Reference: ``xyzpy.Harvester`` (``gen/farming.py:413-855``).  The
    full dataset is a parquet table keyed by the dim columns; each
    harvest run outer-merges new results under a conflict policy and
    republishes atomically.
    """

    def __init__(
        self,
        runner: Runner,
        data_name: str,
        *,
        overwrite: bool | None = None,
        partition_by=None,
    ):
        """``partition_by`` opts the store into the PARTITIONED layout
        (one ``dim1=v1[/dim2=v2...]`` parquet partition per coordinate
        of those sweep dims — a name or a sequence of names):
        incremental harvests then merge and republish ONLY the
        partitions containing touched coordinates — O(touched)
        write cost per top-up instead of O(store), the property that
        makes a 100-TB result store harvestable.  Every partition dim
        must be among the merge dims of every ``add_df`` (validated).
        Without it the store is a single dir and every top-up
        republishes in full (the reference's file-granularity
        semantics, gen/farming.py:520-580)."""
        self.runner = runner
        self.data_name = data_name
        self.overwrite = overwrite
        self.partition_by = _normalize_partition_by(partition_by)
        self.last_merged: DataFrame | None = None

    @property
    def spark(self) -> SparkSession:
        return self.runner.spark

    @property
    def full_df(self) -> DataFrame | None:
        return self.load_full_df()

    def load_full_df(self) -> DataFrame | None:
        return self._load_store()[0]

    def _load_store(
        self,
    ) -> tuple[DataFrame | None, dict | None, list[str]]:
        """(full store DataFrame, layout sidecar, child names) in the
        minimum driver metadata round trips (r14, guide §5): ONE
        ``listStatus`` answers both "does the store exist" and "which
        sidecars are present", so only sidecars that exist are then
        opened — no exists-probe per sidecar, no exception round trip
        for missing ones.  Callers that need the layout or the attrs
        (``add_df``) stop re-reading them; the public
        ``load_full_df`` keeps its contract.  An empty child list
        means no store: every publish path materializes files
        (parquet part files + _SUCCESS) before the store path
        appears."""
        children = fsutil.listdir(self.spark, self.data_name)
        if not children:
            bak = self.data_name + ".bak"
            if fsutil.exists(self.spark, bak):
                # a crash between _publish_parquet's two renames leaves
                # only the .bak — restore it instead of silently
                # starting an empty store.  An EMPTY store dir must go
                # first: a rename onto an existing dir moves the .bak
                # inside it, nesting the backup
                fsutil.delete(self.spark, self.data_name)
                fsutil.rename(self.spark, bak, self.data_name)
                children = fsutil.listdir(self.spark, self.data_name)
            if not children:
                return None, None, []
        layout = None
        if "_layout.json" in children:
            layout = json.loads(
                fsutil.read_text(
                    self.spark,
                    fsutil.join(self.data_name, "_layout.json"),
                )
            )
        return self._store_reader(layout), layout, children

    def _store_reader(self, layout: dict | None) -> DataFrame:
        if layout is not None and layout.get("partition_by"):
            from pyspark.sql.types import StructType

            # read through the sidecar schema: no mergeSchema footer
            # sweep, and partitions written before a later top-up
            # added a variable column surface NULLs (the outer-merge
            # hole semantics)
            return self.spark.read.schema(
                StructType.fromJson(layout["schema"])
            ).parquet(self.data_name)
        return self.spark.read.parquet(self.data_name)

    def delete_ds(self) -> None:
        fsutil.delete(self.spark, self.data_name)
        # the publish swap's safety copy goes too: leaving it would
        # make load_full_df "crash-restore" the store a caller just
        # deliberately deleted (surfaced by the r13 scheme contract)
        fsutil.delete(self.spark, self.data_name + ".bak")

    def _store_dims(self, dims=None) -> list[str]:
        """Dim columns of the store: the runner's declared sweep args
        plus any internal output dims present in the table."""
        if dims is not None:
            return list(dims)
        df = self.load_full_df()
        cols = set(df.columns) if df is not None else set()
        # constants are passed but never dimensioned — only fn args
        # that actually materialized as columns are dims
        out = [a for a in self.runner.fn_args if a in cols]
        for d in (self.runner.var_dims or {}).values():
            for dd in d if isinstance(d, (list, tuple)) else [d]:
                if dd in cols and dd not in out:
                    out.append(dd)
        return out

    def to_dense_pandas(self, dims=None):
        """Dense MultiIndex view of the full store (driver-sized;
        reference ``Harvester.full_ds`` analog)."""
        from .runner import to_dense_pandas

        df = self.load_full_df()
        if df is None:
            raise ValueError("no stored dataset")
        return to_dense_pandas(df, self._store_dims(dims))

    def to_xarray(self, dims=None, **kw):
        """Dense ``xr.Dataset`` of the full store — what an existing
        xyzpy user expects ``h.full_ds`` to be (xarray on the driver
        required; reference gen/farming.py:476-500).

        The store's ``_attrs.json`` sidecar (runner constants + attrs,
        written on every sync) surfaces as ``Dataset.attrs`` — the
        reference's constants→attrs semantics
        (gen/combo_runner.py:514-535).  Pass ``attrs=`` to override."""
        from .runner import to_xarray

        df = self.load_full_df()
        if df is None:
            raise ValueError("no stored dataset")
        if "attrs" not in kw:
            # constants LAST — the reference applies constants on top
            # of attrs (gen/combo_runner.py:514-535: ds.attrs = attrs,
            # then ds.attrs[k] = constant) — and the same order keeps
            # this consistent with the sidecar add_df writes
            kw["attrs"] = {
                **load_attrs(self.data_name, self.spark),
                **self.runner.attrs,
                **self.runner.constants,
            }
        return to_xarray(df, self._store_dims(dims), **kw)

    # -- merging ---------------------------------------------------------
    def add_df(
        self, new: DataFrame, dims, *, overwrite: bool | None = None,
        sync: bool = True, _store=_UNSET,
    ) -> DataFrame:
        """Merge a new result table into the store (reference
        ``add_ds``, ``farming.py:602-670``).

        With ``partition_by`` set and a store on disk, the merge and
        the publish touch ONLY the partitions whose ``partition_by``
        coordinate appears in ``new``: the store read prunes to those
        partitions, the outer-merge + conflict policy runs on that
        subset (conflicts can only live at matching coordinates, which
        are by definition in touched partitions), and the write is a
        dynamic-partition overwrite that replaces exactly those
        ``dim=value`` dirs — top-up cost tracks touched coordinates,
        not store size."""
        if overwrite is None:
            overwrite = self.overwrite
        pby = self.partition_by
        # _store is the internal (df, layout, children) pass-through
        # from harvest_combos, which has already read the store
        # metadata this top-up (r14, guide §5: one listStatus + one
        # sidecar read per top-up, not one per helper)
        if _store is _UNSET:
            old, layout, children = self._load_store()
        else:
            old, layout, children = _store
        persisted = None
        if pby is not None:
            # validations run for FIRST writes too: a NULL coordinate
            # written as __HIVE_DEFAULT_PARTITION__ would be invisible
            # to every later touched-coordinate merge — conflicts at
            # NULL coordinates would silently never be detected
            lacking = [p for p in pby if p not in dims]
            if lacking:
                raise ValueError(
                    f"partitioned store {self.data_name!r} requires its "
                    f"partition dim(s) {lacking} among the merge dims "
                    f"(got {list(dims)}) — merging without them could "
                    "move rows across partitions, which a partition-"
                    "level publish cannot express"
                )
        touched_cond = None
        try:
            if pby is not None:
                # persist BEFORE the coordinate collect: the sweep
                # kernel (mapInPandas) cannot be column-pruned away,
                # so an unpersisted `new` would run the user's
                # (expensive by definition) kernel once for this
                # collect and again for the publish (review catch);
                # inside the try so a kernel failure mid-collect
                # cannot leak the cache entry (second review catch)
                persisted = new = new.persist()
                # the touched coordinate set is bounded by the sweep
                # dims' cardinality (a handful of tuples per top-up),
                # so the collect is driver-safe by construction
                touched = [
                    tuple(r) for r in new.select(*pby).distinct().collect()
                ]
                if any(v is None for t in touched for v in t):
                    raise ValueError(
                        f"partition dim(s) {pby!r} hold NULL coordinates "
                        "— NULL partition values do not round-trip "
                        "through the dim=value layout; use an "
                        "unpartitioned store for nullable dims"
                    )
                touched_cond = _touched_predicate(pby, touched, new.schema)
            if old is None:
                merged = new
            elif pby is not None:
                old_touched = old.where(touched_cond)
                merged = merge_datasets(
                    old_touched, new, dims, overwrite=overwrite
                )
            else:
                merged = merge_datasets(
                    old, new, dims, overwrite=overwrite
                )
            # the children listing already says whether an attrs
            # sidecar exists — read it only then (no probe, no
            # exception round trip on first writes / attrs-less runs)
            sidecar_attrs = {}
            if "_attrs.json" in children:
                sidecar_attrs = json.loads(
                    fsutil.read_text(
                        self.spark,
                        fsutil.join(self.data_name, "_attrs.json"),
                    )
                )
            attrs = {**sidecar_attrs, **self.runner.attrs,
                     **self.runner.constants}
            if sync:
                if pby is not None and old is not None:
                    out_layout = self._publish_partitions(
                        merged, attrs, layout=layout
                    )
                else:
                    _publish_parquet(
                        merged, self.data_name, attrs, partition_by=pby
                    )
                    out_layout = (
                        None if pby is None else
                        {"partition_by": list(pby),
                         "schema": merged.schema.jsonValue()}
                    )
                # the publish just wrote the store and its layout
                # sidecar — rebuild the read view from the layout in
                # hand instead of a fresh exists + sidecar round trip
                merged = self._store_reader(out_layout)
            elif pby is not None and old is not None:
                # sync=False must still return the FULL store view —
                # the publish-side `merged` holds only touched
                # partitions, and a caller consuming the return (or
                # last_merged) would silently lose every untouched row
                # (r9 ADVICE).  Union the untouched partitions back;
                # allowMissingColumns surfaces a new variable column
                # as NULL holes there, the outer-merge semantics.
                merged = old.where(~touched_cond).unionByName(
                    merged, allowMissingColumns=True
                )
            self.last_merged = merged
            return merged
        finally:
            if persisted is not None:
                # with sync=True the publish action has consumed the
                # cache; with sync=False a later action on the lazy
                # merge recomputes (the harvest_combos todo discipline)
                persisted.unpersist()

    def _publish_partitions(
        self, merged: DataFrame, attrs: dict, layout=_UNSET
    ) -> dict:
        """Incremental publish for the partitioned layout: a DYNAMIC
        partition overwrite replaces only the ``dim=value`` dirs
        present in ``merged``, then the attrs sidecar refreshes.

        Crash contract (weaker than the full path's .bak swap, by
        design — that atomicity costs an O(store) rewrite, which is
        the thing this layout exists to avoid): a failure BEFORE the
        write job's commit leaves the store untouched (Spark stages
        dynamic-overwrite files and deletes/moves at commit); a crash
        DURING the commit can leave a mix of old and new touched
        partitions.  Recovery is to re-run the same harvest: the
        merge is idempotent, and every touched partition converges to
        the merged content.  The UNIONED schema sidecar is written
        BEFORE the data job so a mid-publish crash can never make
        ``load_full_df`` silently drop a column the new files carry —
        a sidecar column with no data yet reads as all-NULL, which is
        exactly the outer-merge hole semantics (review catch).

        ``layout`` is the store's current layout sidecar when the
        caller already read it this top-up (r14 round-trip dedup);
        left unset, it is read here.  Returns the layout dict as
        written, so the caller's post-publish read needs no fresh
        sidecar round trip."""
        from pyspark.sql.types import StructType

        if layout is _UNSET:
            layout = _read_layout(self.spark, self.data_name)
        schema = merged.schema
        if layout is not None:
            old_schema = StructType.fromJson(layout["schema"])
            extra = [
                f for f in old_schema.fields if f.name not in schema.names
            ]
            for f in extra:
                schema = schema.add(f)
        _write_layout(self.spark, self.data_name, self.partition_by, schema)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_by)
            .parquet(self.data_name)
        )
        if attrs:
            fsutil.write_text(
                self.spark,
                fsutil.join(self.data_name, "_attrs.json"),
                json.dumps(attrs, default=repr),
            )
        return {
            "partition_by": list(self.partition_by),
            "schema": schema.jsonValue(),
        }

    def compact(self, min_files: int = 8) -> list[str]:
        """Per-partition compaction for the partitioned layout: a
        publish writes each touched ``dim=value`` dir with as many
        files as tasks held its rows (a wide top-up can leave 32+
        small files per partition), and at cluster scale per-file
        open/footer overhead eventually dominates the scan.  This
        reads ONLY the partitions holding more than ``min_files``
        data files and
        republishes them — one file per partition — via the same
        dynamic partition overwrite as a top-up; untouched partitions
        keep their exact files (the O(touched) discipline;
        ``manage.compact_table`` remains the full-rewrite pass for
        unpartitioned stores).  Returns the compacted coordinate
        strings, ``/``-joined across partition dims (empty = nothing
        exceeded the threshold)."""
        from urllib.parse import unquote

        if self.partition_by is None:
            raise ValueError(
                "compact() is the partitioned-layout maintenance pass;"
                " use manage.compact_table for unpartitioned stores"
            )
        if min_files < 1:
            raise ValueError("compact: min_files must be >= 1")
        if not fsutil.exists(self.spark, self.data_name):
            return []
        pby = self.partition_by
        # walk the nested dim1=v1/dim2=v2 tree to the leaf dirs (one
        # scheme-aware listStatus per dir — names only, so the
        # relpath-based coordinate rendering below is unchanged)
        leaves = [self.data_name]
        for dim in pby:
            prefix = f"{dim}="
            leaves = [
                fsutil.join(parent, d)
                for parent in leaves
                for d in sorted(
                    fsutil.listdir(self.spark, parent, dirs_only=True)
                )
                if d.startswith(prefix)
            ]
        flagged = [
            leaf
            for leaf in leaves
            if sum(
                1
                for f in fsutil.listdir(self.spark, leaf)
                if f.endswith(".parquet")
            ) > min_files
        ]
        if not flagged:
            return []
        # read ONLY the flagged leaves, through basePath so SPARK
        # parses the dim=value dir names back into typed partition
        # columns — the exact inverse of how the writer rendered them.
        # (Reconstructing the values driver-side via cast('string')
        # breaks for types whose rendering differs — decimals,
        # timestamps — and would silently no-op or overwrite a flagged
        # dir with an empty selection: r9 ADVICE.)
        from pyspark.sql.types import StructType

        reader = self.spark.read.option("basePath", self.data_name)
        layout = _read_layout(self.spark, self.data_name)
        if layout is not None:
            reader = reader.schema(StructType.fromJson(layout["schema"]))
        sub = reader.parquet(*flagged)
        (
            sub.repartition(len(flagged), *[F.col(d) for d in pby])
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*pby)
            .parquet(self.data_name)
        )
        return [
            "/".join(
                unquote(part.split("=", 1)[1])
                for part in leaf[len(self.data_name):].strip("/").split("/")
            )
            for leaf in flagged
        ]

    def repartition_store(self, partition_by) -> None:
        """Migrate an existing store to a different physical layout in
        ONE audited atomic publish (r9 verdict ask #3): pass dim
        name(s) to convert an unpartitioned store to the partitioned
        ``dim=value`` layout (or re-partition on different dims), or
        ``None`` to flatten back to a single directory.  The logical
        table is unchanged — this is the read→re-save the layout docs
        used to prescribe, made safe: staged to a temp dir, swapped
        with a ``.bak``, crash-recoverable via ``load_full_df``.

        One full-store rewrite by definition — run it once to adopt
        the layout, then every later top-up is O(touched)."""
        pby = _normalize_partition_by(partition_by)
        old, _, children = self._load_store()
        if old is None:
            raise ValueError("no stored dataset to repartition")
        if pby is not None:
            lacking = [p for p in pby if p not in old.columns]
            if lacking:
                raise ValueError(
                    f"partition dim(s) {lacking} not in store columns "
                    f"{old.columns}"
                )
            null_cond = functools.reduce(
                Column.__or__, (F.col(p).isNull() for p in pby)
            )
            if old.where(null_cond).limit(1).count():
                raise ValueError(
                    f"partition dim(s) {pby!r} hold NULL coordinates "
                    "— NULL partition values do not round-trip "
                    "through the dim=value layout"
                )
        # the publish stages a fresh dir and swaps it in whole, so a
        # pre-migration _layout.json cannot survive a flattening.
        # attrs come from the children listing already in hand — no
        # probe round trip for a store that never wrote the sidecar
        attrs = (
            load_attrs(self.data_name, self.spark)
            if "_attrs.json" in children else {}
        )
        _publish_parquet(
            old, self.data_name, attrs, partition_by=pby,
        )
        self.partition_by = pby

    def _missing_filter(self, cases_df: DataFrame, dims, old=_UNSET) -> DataFrame:
        if old is _UNSET:
            old = self.load_full_df()
        if old is None:
            return cases_df
        present_dims = [d for d in dims if d in old.columns]
        if len(present_dims) < len(dims):
            # the downstream merge would fail with UNRESOLVED_COLUMN —
            # fail here with the actionable instruction instead
            lacking = [d for d in dims if d not in old.columns]
            raise ValueError(
                f"store {self.data_name!r} lacks dim column(s) {lacking}; "
                "call expand_dims() to promote them before harvesting "
                "over the new dim"
            )
        # output variables only: internal var-dim coordinate columns
        # and _error are never null, so counting them as variables
        # would mark all-failed points as present forever
        result_dims = set(self._result_dims(dims))
        var_names = [
            c for c in old.columns
            if c not in result_dims and c != "_error"
        ]
        if var_names:
            present = non_null_points(old, present_dims, var_names)
        else:
            present = old.select(*present_dims).distinct()
        return cases_df.join(present, present_dims, "left_anti")

    def harvest_combos(
        self, combos, *, missing_only: bool = True, overwrite: bool | None = None,
        sync: bool = True, **kwargs,
    ) -> DataFrame:
        """Run a combo sweep (optionally only not-yet-computed points)
        and merge into the store (reference ``farming.py:710-778``)."""
        combos = parse_combos(combos)
        dims = self.runner._dim_names(combos=combos)
        # ONE store-metadata read serves the whole top-up: the
        # missing-filter's anti-join, add_df's merge and the publish
        # all receive this (df, layout, children) triple instead of
        # re-reading the sidecars (r14, guide §5 driver round-trips)
        store = self._load_store() if missing_only else (None, None, [])
        old, layout = store[0], store[1]
        if missing_only and old is not None:
            from .grid import combo_grid

            grid = combo_grid(self.spark, combos).drop(LOC_COL)
            # persist: the missing set feeds three consumers (emptiness
            # probe, the schema sample row, the evaluation job) — each
            # would otherwise rescan the store for the anti-join
            todo = self._missing_filter(grid, dims, old=old).persist()
            # the missing set stays a DataFrame end to end — no driver
            # materialization, so million-point top-ups are fine.
            # ONE limit(1) probe serves both the emptiness check and
            # run_grid_df's var-spec sample row (r14: these were two
            # separate driver jobs over the anti-join per top-up)
            try:
                first = todo.limit(1).collect()
                if not first:
                    self.last_merged = old
                    return old
                new = self.runner.run_grid_df(
                    todo, sample_point=first[0].asDict(), **kwargs
                )
                return self.add_df(
                    new, self._result_dims(dims), overwrite=overwrite,
                    sync=sync, _store=store,
                )
            finally:
                # with sync=True (default) add_df's publish is an
                # action, so the cached missing set is fully consumed
                # by the time we get here.  With sync=False the merge
                # is returned lazy: the persist still served this
                # call's own actions (emptiness probe, run_grid_df's
                # schema sample), and we unpersist anyway — a later
                # action on the lazy result recomputes the anti-join
                # (cheap: one store scan) rather than holding cached
                # partitions hostage for an unknowable lifetime
                todo.unpersist()
        new = self.runner.run_combos(combos, **kwargs)
        if missing_only:
            # the store was probed absent above (old is None after a
            # .bak restore check) — skip add_df's re-probe
            return self.add_df(
                new, self._result_dims(dims), overwrite=overwrite,
                sync=sync, _store=store,
            )
        return self.add_df(new, self._result_dims(dims), overwrite=overwrite, sync=sync)

    def harvest_cases(
        self, cases, *, overwrite: bool | None = None, sync: bool = True, **kwargs
    ) -> DataFrame:
        """Run explicit cases and merge (reference ``farming.py:780-819``)."""
        cases = parse_cases(cases, self.runner.fn_args)
        dims = self.runner._dim_names(cases=cases)
        new = self.runner.run_cases(cases, **kwargs)
        return self.add_df(new, self._result_dims(dims), overwrite=overwrite, sync=sync)

    def _result_dims(self, dims) -> list[str]:
        # internal var dims become real key columns in explode mode
        extra = []
        if self.runner.explode and self.runner.var_dims:
            for ds in dict(self.runner.var_dims).values():
                for d in (ds,) if isinstance(ds, str) else ds:
                    if d not in extra:
                        extra.append(d)
        return list(dims) + extra

    # -- schema evolution ------------------------------------------------
    def expand_dims(self, name: str, value) -> None:
        """Promote a former constant to a real dimension with ``value``
        on all existing rows (reference ``farming.py:672-688``)."""
        from pyspark.sql import functions as F

        old = self.load_full_df()
        if old is None:
            raise ValueError("no stored dataset to expand")
        _publish_parquet(
            old.withColumn(name, F.lit(value)), self.data_name,
            load_attrs(self.data_name, self.spark), partition_by=self.partition_by,
        )

    def drop_sel(self, **dim_values) -> None:
        """Delete rows at specific coordinate values (reference
        ``farming.py:690-708``)."""
        from pyspark.sql import functions as F

        old = self.load_full_df()
        if old is None:
            raise ValueError("no stored dataset")
        df = old
        for dim, vals in dim_values.items():
            if not isinstance(vals, (list, tuple)):
                vals = [vals]
            df = df.where(~F.col(dim).isin(list(vals)))
        _publish_parquet(
            df, self.data_name, load_attrs(self.data_name, self.spark),
            partition_by=self.partition_by,
        )


class Sampler:
    """Append-only random sampling of the parameter space.

    Reference: ``xyzpy.Sampler`` (``gen/farming.py:857-1054``) — draw n
    random cases (uniform choice per arg, or a callable distribution),
    evaluate, append to a row table.
    """

    def __init__(self, runner: Runner, data_name: str, *, seed: int | None = None):
        self.runner = runner
        self.data_name = data_name
        self.rng = np.random.default_rng(seed)
        self.last_df: DataFrame | None = None

    @property
    def spark(self) -> SparkSession:
        return self.runner.spark

    @property
    def full_df(self) -> DataFrame | None:
        if not fsutil.exists(self.spark, self.data_name):
            return None
        return self.spark.read.parquet(self.data_name)

    def gen_cases(self, n: int, combos) -> list[dict]:
        """n random parameter points: per-arg uniform choice over the
        given values, or call a user distribution (reference
        ``gen_cases_fnargs``, ``farming.py:1010-1021``)."""
        combos = dict(parse_combos(combos))
        cases = []
        for _ in range(n):
            case = {}
            for arg, values in combos.items():
                if len(values) == 1 and callable(values[0]):
                    case[arg] = values[0]()
                else:
                    case[arg] = values[int(self.rng.integers(len(values)))]
            cases.append(case)
        return cases

    def sample_combos(self, n: int, combos, **kwargs) -> DataFrame:
        """Sample n points, evaluate, append to the store (reference
        ``sample_combos``, ``farming.py:1023-1054``)."""
        cases = self.gen_cases(n, combos)
        new = self.runner.run_cases(cases, **kwargs)
        # constants LAST, same precedence as add_df's sidecar and
        # to_xarray (reference: constants applied on top of attrs)
        for k, v in {**self.runner.attrs, **self.runner.constants}.items():
            from pyspark.sql import functions as F

            if k not in new.columns:
                new = new.withColumn(k, F.lit(v))
        new.write.mode("append").parquet(self.data_name)
        self.last_df = new
        return self.spark.read.parquet(self.data_name)


def label(
    var_names,
    *,
    fn_args=None,
    var_dims=None,
    var_coords=None,
    var_types=None,
    constants=None,
    resources=None,
    attrs=None,
    harvester: str | bool = False,
    sampler: str | bool = False,
    **kwargs,
):
    """Decorator: attach a sweep schema to a function.

    Reference: ``xyzpy.label`` (``gen/farming.py:310-410``).

    >>> @label(var_names=["sum", "diff"])
    ... def sumdiff(a, b):
    ...     return a + b, a - b
    """

    def decorate(fn):
        runner = Runner(
            fn,
            var_names,
            fn_args=fn_args,
            var_dims=var_dims,
            var_coords=var_coords,
            var_types=var_types,
            constants=constants,
            resources=resources,
            attrs=attrs,
            **kwargs,
        )
        if harvester:
            return Harvester(
                runner, harvester if isinstance(harvester, str) else fn.__name__ + ".parquet"
            )
        if sampler:
            return Sampler(
                runner, sampler if isinstance(sampler, str) else fn.__name__ + ".parquet"
            )
        return runner

    return decorate
