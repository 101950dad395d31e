"""Smoke-sized self-test of the benchmark itself.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json:

- a small untraced run must be correct, with no failed call, and print
  every end-to-end metric with its unit and a numeric value;
- a small traced run with one landed row dropped (``--corrupt``) must
  print every per-layer metric with its unit, and the correctness check
  must catch the dropped row.

Then the benchmark must exit non-zero, printing no result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, workload: str, trace: int, corrupt: bool) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    return subprocess.run(cmd + (["--corrupt"] if corrupt else []), cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(r: subprocess.CompletedProcess) -> dict | None:
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad: list[str] = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, corrupt, kind in ((0, False, "end_to_end"), (1, True, "per_layer")):
            n_bad = len(bad)
            r = _run(ROOT, w, trace, corrupt)
            res = _result(r)
            what = f"{w} trace={trace} corrupt={corrupt}"
            if res is None:
                bad.append(f"{what}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{what}: metrics/units {got} != {want}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                bad.append(f"{what}: non-numeric metric value")
            if res["attempted"] < 1:
                bad.append(f"{what}: nothing attempted")
            if not corrupt and (res["correct"] is not True or res["failed"] != 0):
                bad.append(f"{what}: clean run reported incorrect\n{r.stderr[-2000:]}")
            if corrupt and (res["correct"] is not False or res["failed"] < 1):
                bad.append(f"{what}: the dropped row went unnoticed")
            print(f"{what}: {'ok' if len(bad) == n_bad else 'FAIL'}", flush=True)

    # without the engine beside it the benchmark must fail, not report
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(bare, spec["workloads"][0]["name"], 0, False)
    shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or r.stdout.strip():
        bad.append(f"bare directory: exit {r.returncode}, stdout {r.stdout[-300:]!r}")
    print(f"bare directory: exit {r.returncode}")

    for b in bad:
        print("FAIL", b, file=sys.stderr)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
