"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload corpus_ingest --seeds 1-10 --out a.jsonl
    python3 perfbench/spread.py --compare a.jsonl b.jsonl

The first form runs the benchmark once per seed, one run at a time,
appends each run's result line to ``--out``, and prints per metric the
median, the quartiles (``statistics.quantiles(values, n=4)``) and their
distance as a share of the median, beside the metric's bound in
BENCHMARK.json. The second form prints, per workload and metric, how far
the second file's median moved from the first's, as a share of the
first, signed so that positive is worse.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _load(path: str) -> dict[str, list[dict]]:
    by_w: dict[str, list[dict]] = {}
    with open(path) as f:
        for ln in f:
            rec = json.loads(ln)
            by_w.setdefault(rec["workload"], []).append(rec)
    return by_w


def report(recs: list[dict], spec: dict) -> bool:
    """Print the spread table; True when every spread stays below a
    third of its bound and every run was correct."""
    ok = all(r["result"]["correct"] for r in recs)
    print(f"{len(recs)} runs, all correct: {ok}")
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in recs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        steady = spread < m["bound"] / 3
        ok &= steady
        print(f"  {m['name']:28s} median {med:12.4f} {m['unit']:5s} q1 {q1:12.4f} q3 {q3:12.4f}"
              f"  spread {spread:6.3f}  bound {m['bound']:.2f}  {'ok' if steady else 'WIDE'}")
    return ok


def compare(a: str, b: str, spec: dict) -> None:
    ra, rb = _load(a), _load(b)
    for w in sorted(set(ra) & set(rb)):
        print(w)
        for m in spec["end_to_end"]:
            ma = statistics.median(r["result"]["metrics"][m["name"]]["value"] for r in ra[w])
            mb = statistics.median(r["result"]["metrics"][m["name"]]["value"] for r in rb[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            print(f"  {m['name']:28s} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f}"
                  f"  bound {m['bound']:.2f}  {'ok' if worse <= m['bound'] else 'REGRESSED'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    spec = _spec()
    if a.compare:
        compare(*a.compare, spec)
        return 0
    if not a.workload or not a.out:
        ap.error("--workload and --out are required to run")
    recs = []
    for seed in _seeds(a.seeds):
        cmd = [sys.executable, *spec["command"][1:], "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = r.stdout.strip().splitlines()
        rec = {"workload": a.workload, "seed": seed, "result": json.loads(lines[-1]),
               "conditions": json.loads(lines[-2].split(" ", 1)[1])}
        recs.append(rec)
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        vals = {k: round(v["value"], 4) for k, v in rec["result"]["metrics"].items()}
        print(f"seed {seed}: correct={rec['result']['correct']} {vals}", flush=True)
    return 0 if report(recs, spec) else 1


if __name__ == "__main__":
    sys.exit(main())
