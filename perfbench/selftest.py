"""Smoke-size self-test of the benchmark.

Runs every workload at tiny input sizes, untraced and traced, and
checks that

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- verification passed (``correct`` true, nothing failed);
- every metric BENCHMARK.json names for that mode is present, with
  its unit and a numeric value;
- the full record carries every named end-to-end metric of the
  workload, with its unit.

Usage (from the root of a checkout)::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: every end-to-end metric a workload's record must carry
NAMED = {
    "sweep_harvest": [
        ("points_per_s", "1/s"), ("vec_points_per_s", "1/s"),
        ("query_p50_s", "s"), ("topup_narrow_p50_s", "s"),
        ("topup_wide_p50_s", "s"),
    ],
    "corpus_ingest": [
        ("docs_per_s", "1/s"), ("epoch_p50_s", "s"), ("query_p50_s", "s"),
    ],
}
COMMON = [("setup_s", "s"), ("wall_s", "s"), ("peak_rss_mb", "MB"),
          ("fail_frac", "ratio")]


def check_run(workload: str, trace: int, spec: dict, out: Path) -> list[str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.1", "--out", str(out)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    errs = []
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"exit {p.returncode}: {p.stderr[-1500:]}"]
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errs.append(f"verification: {[ln for ln in lines if 'FAILED' in ln]}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append(f"attempted = {res.get('attempted')}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res.get("metrics", {})
    if sorted(got) != sorted(m["name"] for m in want):
        errs.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        g = got.get(m["name"])
        if not g or g.get("unit") != m["unit"] or not isinstance(
                g.get("value"), (int, float)):
            errs.append(f"{m['name']}: {g}")
    record = json.loads(out.read_text())
    e2e = record["end_to_end"]
    for name, unit in COMMON + NAMED[workload]:
        m = e2e.get(name)
        if not m or m["unit"] != unit or m["value"] is None:
            errs.append(f"record {name}: {m}")
    return errs


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failed = 0
    work = ROOT / ".perfbench_work"
    work.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        for workload in NAMED:
            for trace in (0, 1):
                errs = check_run(workload, trace, spec,
                                 Path(tmp) / f"{workload}-{trace}.json")
                status = "ok" if not errs else "FAIL"
                print(f"{workload} trace={trace}: {status}")
                for e in errs:
                    print(f"  {e}")
                failed += bool(errs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
