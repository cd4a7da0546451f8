"""Layered sweep / harvest / ingest benchmark for xyzpy_spark.

Run one workload (from the root of a checkout)::

    python3 perfbench/run.py --workload sweep_harvest --seed 1 --seconds 15 --trace 0

``--trace 0`` measures with tracing off and reports the end-to-end
metrics; ``--trace 1`` traces the same cycles and reports the
per-layer metrics (see README.md).  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
full record (environment stamp, every named metric with its unit and
sample count, per-layer tables) goes to ``.perfbench_work/results/``.

Other modes::

    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --diff OLD.json NEW.json
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text()) if (
    ROOT / "BENCHMARK.json").exists() else None

#: set-up staging repetitions; setup_s counts their median
STAGE_REPEATS = 3
#: a run is contended when other processes used more than this share
#: of the box's CPU during the timed phase
CONTENDED_CPU_FRAC = 0.25


# -- process tree ------------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks, rss pages) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        fields = stat.rsplit(")", 1)[1].split()
        # utime + stime + the reaped children's cutime + cstime
        ticks = sum(int(x) for x in fields[11:15])
        out[int(d)] = (int(fields[1]), ticks, rss)
    return out


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_busy_ticks() -> int:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)


class TreeMonitor:
    """Peak RSS of this process and its descendants (driver, JVM,
    Python workers), sampled every ``period`` seconds while armed."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.armed = False
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        if not self.armed:
            return
        table = _proc_table()
        rss = sum(table[p][2] for p in _tree(table, os.getpid()) if p in table)
        with self._lock:
            self.peak = max(self.peak, rss * self._page)

    def arm(self, on: bool) -> None:
        """Sample only while on: the timed cycles, not set-up or checks."""
        if not on:
            self.sample()
        self.armed = on
        if on:
            self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


def _our_ticks() -> int:
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid()) if p in table)


def _stop_descendants(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to exit; kill what is left."""
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in _tree(_proc_table(), me) if p != me]
        if not left:
            return []
        if time.time() > deadline:
            break
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline:
        left = [p for p in _tree(_proc_table(), me) if p != me]
        if not left:
            break
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    return left


# -- environment stamp ---------------------------------------------------------
def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "xyzpy_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() or None if r.returncode == 0 else None


def _stamp(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "load1_start": round(os.getloadavg()[0], 2),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "git_rev": _git_rev(),
        "source_digest": _source_digest(),
        "seed": seed,
        "master": spark.sparkContext.master,
    }


# -- session -------------------------------------------------------------------
def _prepare_env(run_dir: Path) -> None:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH", "")
    # Python workers unpickle library closures, so they import the
    # checkout's package too
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # and perf-data files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = str(tmp)


def _session(run_dir: Path):
    from xyzpy_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # C1 only, so the driver JVM's JIT settles within the
            # warm-up (with C2 each of the first cycles ran ~10 % faster
            # than the one before, and a short run measured wherever
            # compilation had got to); the heap is committed and
            # touched in full at start, so the peak RSS does not depend
            # on when the collector grew it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData "
                f"-XX:TieredStopAtLevel=1 -Xms2g -XX:+AlwaysPreTouch "
                f"-Dderby.system.home={run_dir / 'tmp'}"
            ),
            # keep every job/stage/execution of a run in the status
            # store so the traced run can read them all back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _shutdown(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- metrics -------------------------------------------------------------------
def _num(v) -> float | None:
    if v is None or (isinstance(v, float) and not math.isfinite(v)):
        return None
    return float(v)


def _end_to_end(wl, ops, cycles, setup_s, peak_b) -> dict:
    walls = [c["op_s"] for c in cycles]
    m = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (statistics.median(walls) if walls else None, "s", len(walls)),
        "peak_rss_mb": (peak_b / 1e6, "MB", 1),
    }
    m.update(wl.metrics(ops))
    return {k: {"value": _num(v), "unit": u, "samples": n}
            for k, (v, u, n) in m.items()}


def _per_layer(tracer, wl, ops, cycles, listener) -> dict:
    import spans as sp

    traced = [c for c in cycles if c["traced"]]
    n = len(traced)
    t = sp.layer_table(tracer, n)
    out: dict[str, tuple[float, str]] = {}
    units = {"calls": "count", "self_s": "s", "jobs": "count",
             "tasks": "count", "task_s": "s", "shuffle_mb": "MB",
             "spill_mb": "MB", "py4j": "count", "failed": "count"}
    for layer in sp.LAYERS:
        row = t["layers"].get(layer, sp.zero_row())
        for f, u in units.items():
            out[f"{layer}.{f}"] = (row[f], u)
    src = t["layers"].get("sources", sp.zero_row())
    out["sources.self_s"] = (src["self_s"], "s")
    out["sources.task_s"] = (src["task_s"], "s")

    tops = [o for o in ops if o["traced"] and o["kind"].startswith("topup_")]
    evals = [o for o in ops if o["traced"] and (
        o["kind"] in ("point", "vector", "crop") or o["kind"].startswith("topup_"))]
    out["runner.points"] = (sum(o["items"] for o in evals) / max(n, 1), "count")
    runner_sql = [r for r in t["sql"] if r["kind"] == "runner"]
    out["runner.python_s"] = (
        sum(r.get("time to run Python workers", 0.0) for r in runner_sql) / max(n, 1), "s")
    out["runner.python_boot_s"] = (
        sum(r.get("time to start Python workers", 0.0) for r in runner_sql) / max(n, 1), "s")
    out["runner.python_rows"] = (
        sum(r.get("number of output rows", 0.0) for r in runner_sql) / max(n, 1), "count")

    probed = sum(o.get("probed", 0) for o in tops)
    out["missing.useful_ratio"] = (
        sum(o["items"] for o in tops) / probed if probed else 0.0, "ratio")
    farm_ids = {s.id for s in t["spans"] if s.layer == "farming"}
    writes = [r for r in t["sql"] if r["kind"] == "write"
              and r["desc"].startswith(sp.LABEL)
              and _under(int(r["desc"][len(sp.LABEL):]), farm_ids, t["by_id"])]
    rows_written = sum(r.get("number of output rows", 0.0) for r in writes)
    new_rows = sum(o["items"] for o in tops)
    out["farming.rewrite_ratio"] = (
        new_rows / rows_written if rows_written else 0.0, "ratio")
    out["farming.files_written"] = (
        sum(r.get("number of written files", 0.0) for r in writes) / max(n, 1), "count")
    top_ids = {s.id for s in t["spans"] if s.layer == "bench"
               and s.name.startswith("topup_")}
    fs_calls = sum(1 for s in t["spans"] if s.layer == "fsutil"
                   and _under(s.id, top_ids, t["by_id"]))
    out["fsutil.ops_per_topup"] = (fs_calls / len(tops) if tops else 0.0, "count")

    def span_p50(name):
        return sp.median_or_zero(
            s.t1 - s.t0 for s in t["spans"] if s.name == name)

    out["cropping.sow_s"] = (span_p50("Crop.sow_combos"), "s")
    out["cropping.grow_s"] = (span_p50("Crop.grow"), "s")
    out["cropping.reap_s"] = (span_p50("Crop.reap"), "s")
    out["dedup.extend_s"] = (span_p50("dedup.extend_dedup_index"), "s")

    prog = [p for p in listener.progress if p["rows"] > 0 and any(
        w0 <= p["t"] <= w1 + 1.0 for w0, w1 in tracer.windows)]

    def dur(key):
        return sp.median_or_zero(p["duration_ms"].get(key, 0) / 1000.0 for p in prog)

    out["streaming.add_batch_s"] = (dur("addBatch"), "s")
    out["streaming.planning_s"] = (dur("queryPlanning"), "s")
    out["streaming.wal_commit_s"] = (dur("walCommit"), "s")
    out["streaming.fixed_s"] = (sp.median_or_zero(
        (p["duration_ms"].get("triggerExecution", 0)
         - p["duration_ms"].get("addBatch", 0)) / 1000.0 for p in prog), "s")

    for k, v in t["engine"].items():
        out[k] = (v, "s" if k.endswith("_s") else (
            "MB" if k.endswith("_mb") else "count"))
    out["py4j.calls"] = (sum(c["py4j"] for c in traced) / max(n, 1), "count")
    cost = sum(c["trace_cost_s"] for c in traced)
    wall = sum(c["window_s"] for c in traced)
    out["trace.overhead_frac"] = (cost / (wall - cost), "ratio")
    window = sum(c["window_s"] for c in traced) / max(n, 1)
    layered = sum(r["self_s"] for k, r in t["layers"].items() if k != "bench")
    out["trace.wall_s"] = (window, "s")
    out["trace.unattributed_s"] = (window - layered, "s")

    detail = {
        "layers": t["layers"],
        "engine": t["engine"],
        "spans": [s.as_dict() for s in t["spans"]],
        "jobs": [dict(j, layer=t["job_layer"][j["id"]]) for j in t["jobs"]],
        "sql": t["sql"],
        "epochs": prog,
        "traced_cycles": n,
    }
    return {k: {"value": _num(v), "unit": u} for k, (v, u) in out.items()}, detail


def _under(sid, ids, by_id) -> bool:
    while sid is not None:
        if sid in ids:
            return True
        s = by_id.get(sid)
        sid = s.parent if s is not None else None
    return False


# -- one run -------------------------------------------------------------------
def run(args) -> int:
    if not (ROOT / "xyzpy_spark" / "__init__.py").is_file():
        print(f"perfbench: no xyzpy_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    _prepare_env(run_dir)
    sys.path.insert(0, str(ROOT))
    import xyzpy_spark

    if Path(xyzpy_spark.__file__).resolve().parent != ROOT / "xyzpy_spark":
        print("perfbench: imported xyzpy_spark from outside the checkout",
              file=sys.stderr)
        return 2
    from pyspark import cloudpickle

    import spans as sp
    import workloads as wlmod

    cloudpickle.register_pickle_by_value(wlmod)
    cls = wlmod.WORKLOADS[args.workload]
    # a terminated run still stops Spark and its processes (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    monitor = TreeMonitor()
    monitor.start()
    t0 = time.perf_counter()
    spark = _session(run_dir)
    session_s = time.perf_counter() - t0
    try:
        return _run_session(args, spark, session_s, monitor, run_dir, cls, sp, wlmod)
    finally:
        monitor.stop()
        _shutdown(spark)
        _stop_descendants()
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)


def _run_session(args, spark, session_s, monitor, run_dir, cls, sp, wlmod) -> int:
    stamp = _stamp(spark, args.seed)
    tracer = sp.Tracer(spark) if args.trace else None
    listener = sp.EpochListener(spark, tracer)
    rec = wlmod.Recorder(tracer)
    kw = {"listener": listener} if cls is wlmod.CorpusIngest else {}
    wl = cls(spark, str(run_dir / "data"), args.seed, args.scale, rec, **kw)

    stage_s = []
    for _ in range(STAGE_REPEATS):
        t = time.perf_counter()
        wl.stage()
        stage_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    warm_ops = [{"kind": o["kind"], "s": o["s"]} for o in rec.ops]
    rec.ops.clear()
    setup_s = session_s + statistics.median(stage_s) + warm_s

    load_start = os.getloadavg()[0]
    busy0, ours0, wall0 = _cpu_busy_ticks(), _our_ticks(), time.time()
    cycles = []
    measured = 0.0
    failures: list[str] = []
    while True:
        i = len(cycles)
        traced = tracer is not None
        wl.reset(i)
        _collect_garbage(spark)
        rec.cycle = i
        first = len(rec.ops)
        p0 = tracer.py4j_calls if tracer is not None else 0
        c0 = tracer.cost_s if tracer is not None else 0.0
        w0 = time.perf_counter()
        checks = []
        ctx = tracer.window() if traced else contextlib.nullcontext()
        monitor.arm(True)
        with ctx:
            try:
                checks = wl.cycle(i)
            except wlmod.OpFailed as exc:
                failures.append(f"cycle {i}: {exc}: {rec.ops[-1].get('error')}")
        window_s = time.perf_counter() - w0
        monitor.arm(False)
        cops = rec.ops[first:]
        for o in cops:
            o["traced"] = traced
        c1 = tracer.cost_s if tracer is not None else 0.0
        cycles.append({
            "traced": traced,
            "trace_cost_s": c1 - c0,
            "op_s": sum(o["s"] for o in cops if not o.get("sub")),
            "window_s": window_s,
            "py4j": (tracer.py4j_calls - p0) if tracer is not None else 0,
        })
        measured += cycles[-1]["op_s"]
        v0 = time.perf_counter()
        for r, check in checks:
            c0 = time.perf_counter()
            try:
                err = check()
            except Exception as exc:  # noqa: BLE001 — a crashed check is a failed op
                err = f"check raised {type(exc).__name__}: {exc}"
            r["check_s"] = r.get("check_s", 0.0) + time.perf_counter() - c0
            if err:
                rec.fail(r, err)
                failures.append(f"cycle {i} {r['kind']}: {err}")
        cycles[-1]["verify_s"] = time.perf_counter() - v0
        # stop where the timed phase ends nearest ``--seconds``: one
        # more cycle only if less than half of it would run past
        if measured + cycles[-1]["op_s"] / 2 >= args.seconds:
            break
    wall1, busy1, ours1 = time.time(), _cpu_busy_ticks(), _our_ticks()

    ncpu = os.cpu_count() or 1
    other = ((busy1 - busy0) - (ours1 - ours0)) / max(
        1e-9, (wall1 - wall0) * os.sysconf("SC_CLK_TCK") * ncpu)
    stamp.update({
        "load1_end": round(os.getloadavg()[0], 2),
        "load1_start_measure": round(load_start, 2),
        "other_cpu_frac": round(other, 4),
        "contended": other > CONTENDED_CPU_FRAC,
    })
    ops = rec.ops
    attempted = sum(1 for o in ops if not o.get("sub"))
    failed = sum(1 for o in ops if not o.get("sub") and not o["ok"])
    e2e = _end_to_end(wl, ops, cycles, setup_s, monitor.peak)
    e2e["fail_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio",
                        "samples": attempted}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "stamp": stamp,
        "setup": {"session_s": session_s, "stage_s": stage_s, "warm_s": warm_s,
                  "warm_ops": warm_ops},
        "cycles": cycles,
        "ops": ops,
        "end_to_end": e2e,
        "failures": failures,
    }
    if tracer is not None:
        per_layer, detail = _per_layer(tracer, wl, ops, cycles, listener)
        record["per_layer"] = per_layer
        record["trace_detail"] = detail
        tracer.uninstall()
    listener.close()

    out = Path(args.out) if args.out else (
        WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))

    wanted = _contract_names(args.trace)
    source = record["per_layer"] if args.trace else e2e
    metrics = {}
    for name in wanted:
        m = source.get(name)
        metrics[name] = {"value": m["value"] if m else None,
                         "unit": m["unit"] if m else None}
    correct = failed == 0 and not failures and all(
        m["value"] is not None for m in metrics.values())
    print(f"# record: {out}")
    for name, m in sorted(e2e.items()):
        print(f"# {args.workload} {name} = {m['value']} {m['unit']}"
              f" (n={m['samples']})")
    if stamp["contended"]:
        print(f"# CONTENDED: other processes used {other:.0%} of the CPU")
    for f in failures:
        print(f"# FAILED {f}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _collect_garbage(spark) -> None:
    """Start every cycle from a collected heap in the driver and the JVM,
    so one cycle's garbage is not collected on the next one's clock."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _contract_names(trace: int) -> list[str]:
    if BENCHMARK is None:
        return []
    key = "per_layer" if trace else "end_to_end"
    return [m["name"] for m in BENCHMARK[key]]


# -- count diff --------------------------------------------------------------------
def diff(a_path: str, b_path: str) -> int:
    """Compare the box-independent counts of two traced records."""
    import spans as sp

    a = json.loads(Path(a_path).read_text())
    b = json.loads(Path(b_path).read_text())
    ra, rb = _records(a), _records(b)
    changed = 0
    for wl in sorted(set(ra) ^ set(rb)):
        print(f"== {wl}: traced record on one side only")
    for wl in sorted(set(ra) & set(rb)):
        la = ra.get(wl, {}).get("trace_detail", {}).get("layers", {})
        lb = rb.get(wl, {}).get("trace_detail", {}).get("layers", {})
        ea = ra.get(wl, {}).get("per_layer", {})
        eb = rb.get(wl, {}).get("per_layer", {})
        print(f"== {wl}")
        for layer in sorted(set(la) | set(lb)):
            for f in sp.COUNT_FIELDS:
                va = la.get(layer, {}).get(f, 0)
                vb = lb.get(layer, {}).get(f, 0)
                if not _same_count(va, vb, f):
                    changed += 1
                    name = "fsutil.calls" if (layer, f) == ("fsutil", "calls") else f"{layer}.{f}"
                    print(f"  {name:28s} {va:12.2f} -> {vb:12.2f}")
        for k in ("spark.jobs", "spark.tasks", "spark.shuffle_mb", "py4j.calls"):
            va = (ea.get(k) or {}).get("value") or 0
            vb = (eb.get(k) or {}).get("value") or 0
            if not _same_count(va, vb, k):
                changed += 1
                print(f"  {k:28s} {va:12.2f} -> {vb:12.2f}")
    print(f"{changed} counts changed")
    return 0


def _same_count(a, b, field) -> bool:
    if "shuffle_mb" in field:
        return abs(a - b) <= 0.02 * max(abs(a), abs(b), 0.05)
    return abs(a - b) < 1e-6


def _records(doc) -> dict:
    """A result file holds one record, or a list/dict of records."""
    if isinstance(doc, dict) and "workload" in doc:
        return {doc["workload"]: doc}
    items = doc.values() if isinstance(doc, dict) else doc
    out = {}
    for r in items:
        if isinstance(r, dict) and "workload" in r and r.get("trace"):
            out[r["workload"]] = r
    return out


# -- all workloads ------------------------------------------------------------------
def run_all(args) -> int:
    """Each workload in its own process; prints every metric by name."""
    rc = 0
    for name in ("sweep_harvest", "corpus_ingest"):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        for ln in lines:
            if ln.startswith("# ") and not ln.startswith("# record"):
                print(ln)
        if p.returncode != 0 or not lines:
            print(f"# {name}: exit {p.returncode}\n{p.stderr[-2000:]}")
            rc = 1
        else:
            print(f"# {name}: {lines[-1]}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["sweep_harvest", "corpus_ingest", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs < 1)")
    ap.add_argument("--out", help="record path (default under .perfbench_work/results)")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"),
                    help="compare the counts of two traced records")
    args = ap.parse_args(argv)
    if args.diff:
        return diff(*args.diff)
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
