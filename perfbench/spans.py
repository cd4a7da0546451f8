"""Span tracing for the benchmark's traced runs.

Everything here lives outside the library: the tracer wraps the public
entry points of each layer module (and rebinds the names other modules
imported from it), so a span opens whenever a call crosses INTO a
layer.  A call from a layer into itself opens no new span, so
``<layer>.calls`` counts entries from outside the layer.

While a span is open its jobs carry ``spark.job.description =
perfbench:<span id>``.  After the timed phase the tracer reads jobs,
stages and SQL executions back from the in-process status stores
(which work with the UI server off) and attributes each job to the
span that labelled it; a job with no label (streaming engine jobs,
pool threads) goes to the innermost span open when it was submitted.

py4j round trips are counted by wrapping the gateway client's
``send_command``; the tracer's own calls, the streaming listener's
event conversions and py4j's asynchronous object releases (sent from
its finalizer thread whenever Python collects a proxy) are excluded,
so the count repeats run to run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import statistics
import sys
import threading
import time

#: the layers the benchmark attributes time to, one per library module
LAYERS = (
    "grid", "runner", "cropping", "missing", "merge", "farming",
    "fsutil", "reductions", "curate", "dedup", "streaming",
)

#: module functions wrapped per layer; ``sources`` (save_df/load_df)
#: is traced too so the jobs those calls fire are not left unattributed
FUNCTIONS = {
    "grid": ("xyzpy_spark.grid", ["combo_grid", "case_grid"]),
    "runner": (
        "xyzpy_spark.runner",
        ["combo_runner_to_df", "case_runner_to_df", "evaluate_grid"],
    ),
    "missing": (
        "xyzpy_spark.missing",
        ["find_missing_cases", "non_null_points", "full_coord_grid"],
    ),
    "merge": ("xyzpy_spark.merge", ["merge_datasets"]),
    "fsutil": (
        "xyzpy_spark.fsutil",
        [
            "exists", "is_dir", "listdir", "glob_paths", "mkdirs",
            "create_new", "delete", "rename", "replace", "read_bytes",
            "write_bytes", "read_text", "read_text_or_none", "write_text",
            "content_size",
        ],
    ),
    "reductions": (
        "xyzpy_spark.operators.reductions",
        ["aggregate_over", "heatmap_table"],
    ),
    "curate": ("xyzpy_spark.pipeline.curate", ["curate_corpus"]),
    "dedup": (
        "xyzpy_spark.pipeline.dedup",
        [
            "ngram_jaccard_pairs", "dedup_clusters", "build_dedup_index",
            "band_dedup_index", "save_dedup_index", "load_dedup_index",
            "extend_dedup_index", "dedup_against_index",
        ],
    ),
    "streaming": ("xyzpy_spark.streaming.ops", ["dedup_ingest_stream"]),
    "sources": ("xyzpy_spark.sources.tables", ["save_df", "load_df"]),
}

#: class methods wrapped per layer
METHODS = {
    "cropping": ("xyzpy_spark.cropping", "Crop", ["sow_combos", "grow", "reap"]),
    "farming": (
        "xyzpy_spark.farming",
        "Harvester",
        ["harvest_combos", "add_df", "load_full_df"],
    ),
}

#: per-layer counters the count-diff compares (box-independent)
COUNT_FIELDS = ("calls", "jobs", "tasks", "py4j", "shuffle_mb")

LABEL = "perfbench:"


class Span:
    __slots__ = (
        "id", "parent", "layer", "name", "thread", "t0", "t1", "failed",
        "py4j",
    )

    def __init__(self, sid, parent, layer, name, thread, t0):
        self.id = sid
        self.parent = parent
        self.layer = layer
        self.name = name
        self.thread = thread
        self.t0 = t0
        self.t1 = None
        self.failed = 0
        self.py4j = 0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Spans, py4j counts and the status-store read-back of one run.

    ``active`` switches recording on for the traced cycles and off for
    set-up and the checks.
    ``cost_s`` sums the time the span bookkeeping itself took."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.windows: list[tuple[float, float]] = []
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._py4j = 0
        #: time spent in span bookkeeping (the tracer's own overhead)
        self.cost_s = 0.0
        self._stacks: dict[int, list[Span]] = {}
        self._driver = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []
        self._install_py4j_counter()
        self._install_wrappers()

    # -- py4j ----------------------------------------------------------
    def _install_py4j_counter(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tl = self._tl

        def send_command(command, *a, **kw):
            if not getattr(tl, "quiet", False) and not command.startswith("m\n"):
                with self._lock:
                    self._py4j += 1
            return orig(command, *a, **kw)

        client.send_command = send_command
        self._restore.append((client, "send_command", None))

    @property
    def py4j_calls(self) -> int:
        return self._py4j

    @contextlib.contextmanager
    def quiet(self):
        """py4j calls made inside are not counted (the tracer's own)."""
        prev = getattr(self._tl, "quiet", False)
        self._tl.quiet = True
        try:
            yield
        finally:
            self._tl.quiet = prev

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active or tracer._innermost_layer() == layer:
                return fn(*a, **kw)
            with tracer.span(layer, name):
                return fn(*a, **kw)

        return traced

    def _install_wrappers(self) -> None:
        for layer, (modname, names) in FUNCTIONS.items():
            mod = importlib.import_module(modname)
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(orig, layer, f"{modname.rsplit('.', 1)[-1]}.{name}")
                self._rebind(orig, wrapped)
        for layer, (modname, cls_name, names) in METHODS.items():
            cls = getattr(importlib.import_module(modname), cls_name)
            for name in names:
                orig = cls.__dict__[name]
                setattr(cls, name, self._wrap(orig, layer, f"{cls_name}.{name}"))
                self._restore.append((cls, name, orig))

    def _rebind(self, orig, wrapped) -> None:
        """Replace ``orig`` in every loaded library module that bound
        it — its home module and every ``from .x import name`` site
        (farming and cropping import several entry points directly)."""
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("xyzpy_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)
                    self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._restore.clear()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        tid = threading.get_ident()
        st = self._stacks.get(tid)
        if st is None:
            st = self._stacks[tid] = []
        return st

    def _innermost_layer(self) -> str | None:
        st = self._stack()
        return st[-1].layer if st else None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        c0 = time.perf_counter()
        st = self._stack()
        if st:
            parent = st[-1].id
        else:
            # a span opened on a pool or callback thread hangs under
            # whatever the driver thread is blocked in
            dst = self._stacks.get(self._driver) or []
            parent = dst[-1].id if dst else None
        with self._lock:
            sp = Span(
                len(self.spans), parent, layer, name,
                threading.get_ident(), time.time(),
            )
            self.spans.append(sp)
        with self.quiet():
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"{LABEL}{sp.id}")
        p0 = self._py4j
        st.append(sp)
        self._charge(time.perf_counter() - c0)
        try:
            yield sp
        except BaseException:
            sp.failed = 1
            raise
        finally:
            c1 = time.perf_counter()
            st.pop()
            sp.py4j = self._py4j - p0
            with self.quiet():
                self.sc.setJobDescription(prev)
            sp.t1 = time.time()
            self._charge(time.perf_counter() - c1)

    def _charge(self, secs: float) -> None:
        with self._lock:
            self.cost_s += secs

    @contextlib.contextmanager
    def window(self):
        """One traced cycle: recording on inside."""
        t0 = time.time()
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self.windows.append((t0, time.time()))

    # -- status-store read-back -------------------------------------------
    def read_status(self) -> tuple[list[dict], dict, list[dict]]:
        """(jobs, stages by id, runner/writer SQL node metrics) for every
        job submitted inside a traced window."""
        with self.quiet():
            return self._read_status()

    def _in_window(self, t_ms: float) -> bool:
        return any(w0 * 1000 - 1 <= t_ms <= w1 * 1000 + 1 for w0, w1 in self.windows)

    def _read_status(self):
        store = self.sc._jsc.sc().statusStore()
        jl = store.jobsList(None)
        jobs = []
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t_sub = sub.get().getTime()
            if not self._in_window(t_sub):
                continue
            comp = j.completionTime()
            desc = j.description()
            sids = j.stageIds()
            jobs.append({
                "id": int(j.jobId()),
                "desc": str(desc.get()) if desc.isDefined() else "",
                "t0": t_sub / 1000.0,
                "t1": (comp.get().getTime() if comp.isDefined() else t_sub)
                / 1000.0,
                "stages": [int(sids.apply(k)) for k in range(sids.size())],
                "failed_tasks": int(j.numFailedTasks()),
            })
        jobs.sort(key=lambda r: r["id"])
        wanted = {s for j in jobs for s in j["stages"]}
        jvm = self.sc._jvm
        defaults = [
            getattr(store, f"stageList$default${k}")() for k in range(2, 6)
        ]
        sl = store.stageList(jvm.java.util.ArrayList(), *defaults)
        stages = {}
        for i in range(sl.size()):
            s = sl.apply(i)
            sid = int(s.stageId())
            if sid not in wanted or str(s.status()) == "SKIPPED":
                continue
            row = stages.setdefault(sid, {
                "tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_b": 0,
                "spill_b": 0, "failed": 0, "out_rows": 0,
            })
            row["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            row["run_s"] += int(s.executorRunTime()) / 1000.0
            row["gc_s"] += int(s.jvmGcTime()) / 1000.0
            row["shuffle_b"] += int(s.shuffleReadBytes()) + int(
                s.shuffleWriteBytes()
            )
            row["spill_b"] += int(s.memoryBytesSpilled()) + int(
                s.diskBytesSpilled()
            )
            row["failed"] += int(s.numFailedTasks())
            row["out_rows"] += int(s.outputRecords())
        return jobs, stages, self._read_sql()

    def _read_sql(self) -> list[dict]:
        """Metrics of the runner's MapInPandas nodes (the ``evaluate``
        mappers) and of file-write commands, per SQL execution."""
        ss = self.spark._jsparkSession.sharedState().statusStore()
        el = ss.executionsList()
        out = []
        for i in range(el.size()):
            e = el.apply(i)
            if not self._in_window(int(e.submissionTime())):
                continue
            eid = e.executionId()
            nodes = ss.planGraph(eid).allNodes()
            vals = None
            for k in range(nodes.size()):
                n = nodes.apply(k)
                name = str(n.name())
                if name == "MapInPandas":
                    if "evaluate(" not in str(n.desc()):
                        continue
                    kind = "runner"
                elif "InsertIntoHadoopFsRelation" in name or name == "WriteFiles":
                    kind = "write"
                else:
                    continue
                if vals is None:
                    vals = ss.executionMetrics(eid)
                row = {"kind": kind, "desc": str(e.description()),
                       "t0": int(e.submissionTime()) / 1000.0}
                ms = n.metrics()
                for m in range(ms.size()):
                    mm = ms.apply(m)
                    v = vals.get(mm.accumulatorId())
                    if v.isDefined():
                        row[str(mm.name())] = parse_metric(str(v.get()))
                out.append(row)
        return out


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1, "KiB": 1024,
    "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric: ``'5,000'`` or
    ``'total (min, med, max ...)\\n9.3 s (2.2 s, ...)'``."""
    line = text.strip().splitlines()[-1] if text.strip() else "0"
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, ())
        )
        covered, end = 0.0, s.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s.id] = max(0.0, (s.t1 - s.t0) - covered)
    return out


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def attribute_jobs(jobs: list[dict], spans: list[Span]) -> dict[int, int | None]:
    """job id -> span id.

    A job belongs to the span that labelled it, else to the innermost
    (latest-started) span open at its submission.  A job the benchmark
    op itself fired (a ``collect``/``count`` on a DataFrame a layer
    returned) belongs to the op's last layer call to return before it:
    the call that built the plan the action runs."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for j in jobs:
        sid = None
        if j["desc"].startswith(LABEL):
            try:
                sid = int(j["desc"][len(LABEL):])
            except ValueError:
                sid = None
        if sid is None:
            best = None
            for s in spans:
                if s.t0 <= j["t0"] <= s.t1 and (best is None or s.t0 >= best.t0):
                    best = s
            sid = best.id if best is not None else None
        op = by_id.get(sid)
        if op is not None and op.layer == "bench":
            done = [c for c in kids.get(op.id, ()) if c.t1 <= j["t0"]]
            if done:
                sid = max(done, key=lambda c: c.t1).id
        out[j["id"]] = sid
    return out


def layer_table(tracer: Tracer, n_cycles: int) -> dict:
    """Per-layer totals over the traced cycles, divided per cycle, plus
    the engine-wide counts and the raw pieces later metrics need."""
    spans = [s for s in tracer.spans if s.t1 is not None]
    jobs, stages, sql = tracer.read_status()
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    owner = attribute_jobs(jobs, spans)
    layers = {}
    for s in spans:
        row = layers.setdefault(s.layer, zero_row())
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
        row["failed"] += s.failed
        row["py4j"] += s.py4j
    # py4j self counts: subtract each child's inclusive count from its
    # parent's layer row
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            layers[by_id[s.parent].layer]["py4j"] -= s.py4j
    job_layer = {}
    claimed: set[int] = set()
    for j in jobs:
        sid = owner[j["id"]]
        layer = by_id[sid].layer if sid in by_id else "unlabelled"
        job_layer[j["id"]] = layer
        row = layers.setdefault(layer, zero_row())
        row["jobs"] += 1
        row["failed"] += j["failed_tasks"]
        for st in j["stages"]:
            if st in claimed or st not in stages:
                continue
            claimed.add(st)
            sd = stages[st]
            row["tasks"] += sd["tasks"]
            row["task_s"] += sd["run_s"]
            row["shuffle_mb"] += sd["shuffle_b"] / 1e6
            row["spill_mb"] += sd["spill_b"] / 1e6
    n = max(1, n_cycles)
    for row in layers.values():
        for k in row:
            row[k] /= n
    job_ivs = [
        (max(j["t0"], w0), min(j["t1"], w1))
        for j in jobs for (w0, w1) in tracer.windows
        if j["t1"] > w0 and j["t0"] < w1
    ]
    wall = sum(w1 - w0 for w0, w1 in tracer.windows)
    busy = union_length(job_ivs)
    used = [stages[s] for s in claimed]
    engine = {
        "spark.jobs": len(jobs) / n,
        "spark.tasks": sum(s["tasks"] for s in used) / n,
        "spark.task_s": sum(s["run_s"] for s in used) / n,
        "spark.gc_s": sum(s["gc_s"] for s in used) / n,
        "spark.shuffle_mb": sum(s["shuffle_b"] for s in used) / 1e6 / n,
        "spark.driver_only_s": (wall - busy) / n,
        "spark.exec_s": busy / n,
    }
    return {
        "layers": layers,
        "engine": engine,
        "spans": spans,
        "selfs": selfs,
        "jobs": jobs,
        "job_layer": job_layer,
        "stages": stages,
        "sql": sql,
        "by_id": by_id,
    }


def zero_row() -> dict:
    return {
        "calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0, "task_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0, "py4j": 0, "failed": 0,
    }


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class EpochListener:
    """Collects per-epoch ``StreamingQueryProgress`` of file-stream
    ingests (the batchDuration / durationMs breakdown)."""

    def __init__(self, spark, tracer: Tracer | None = None):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self._tracer = tracer

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                # listener events arrive on the listener bus's own
                # callback thread: keep its event conversions out of
                # the py4j count from here on
                if outer._tracer is not None:
                    outer._tracer._tl.quiet = True

            def onQueryProgress(self, event):
                p = event.progress
                outer.progress.append({
                    "batch": int(p.batchId),
                    "rows": int(p.numInputRows),
                    "batch_s": int(p.batchDuration) / 1000.0,
                    "duration_ms": dict(p.durationMs),
                    "t": time.time(),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def wait_for(self, n_epochs: int, since: int, timeout: float = 10.0) -> list[dict]:
        """The data-carrying progress events after index ``since``; the
        listener bus delivers asynchronously, so wait for ``n_epochs``."""
        deadline = time.time() + timeout
        while True:
            got = [p for p in self.progress[since:] if p["rows"] > 0]
            if len(got) >= n_epochs or time.time() > deadline:
                return got
            time.sleep(0.02)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
