"""End-to-end benchmark of the engine: the RGD variant-load chain and the
corpus-ingest path, driven in one process through the public entry
points at ``local[<nproc>]``.

    python3 perfbench/run.py --workload variant_chain --seed 1 --seconds 60 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
(``gen.py``), launches the engine's SparkSession in a fresh JVM, as a
per-batch cron job pays it, then runs one pass of the workload
(``workloads.py``) and checks its outputs without the engine
(``check.py``). Passes are closed-loop: another pass, again in a fresh
JVM, starts only if it is expected to end within ``--seconds``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: median over passes of the cold session launch (JVM,
  SparkSession, package shipping) before the pass;
- ``run_s``: median pass wall time; ``rows_per_s``: input rows (genotype
  calls or documents) per second of pass;
- ``batch_p50_s``: median latency from a batch's arrival to its landed
  outputs, over the steady-state batches (the incremental batches, or
  every corpus shard); the lower median, as a pass has two or three;
- ``disk_bytes_per_input_byte``: store plus whatever the pass left under
  the temp dirs, after Spark stopped, per input byte.

``--trace 1`` reports the per-layer metrics (``trace.py``) and writes
the spans to ``.perfbench/traces/``. A ``conditions`` line before the
result records nproc, Spark cores, seed, commit, a host-speed canary,
per-batch latencies, peak RSS and the landed tables' content hashes.

Everything the run writes stays under ``.perfbench/`` in the checkout:
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's temp dir point there,
and what the run leaves behind is measured, then removed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("variant_chain", "corpus_ingest")
APP = "perfbench"


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    if not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                b += os.path.getsize(os.path.join(d, f))
                n += 1
            except FileNotFoundError:
                pass
    return b, n


def _canary() -> float:
    """Seconds for a fixed pure-Python loop: host speed at run time."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _content_key(workload: str, work: str, scale: float) -> str:
    """Identifies the generated inputs of a run: every run with the same
    key must land identical tables, whatever engine version ran it. A
    change that alters landed output on purpose clears
    ``.perfbench/hashes``."""
    h = hashlib.sha256(f"{workload} {scale}".encode())
    for d, dirs, files in os.walk(work):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            rel = os.path.relpath(path, work)
            if rel == "truth.json" or rel == "truth_keys.csv" or rel.startswith("inputs" + os.sep):
                with open(path, "rb") as fh:
                    h.update(rel.encode() + fh.read())
    return h.hexdigest()[:24]


def _check_across_runs(key: str, passes: list) -> None:
    """Compare each pass's landed-table hashes with the first correct run
    that had the same key (kept under ``.perfbench/hashes``); a mismatch
    fails the pass."""
    path = os.path.join(ROOT, ".perfbench", "hashes", f"{key}.json")
    for p in passes:
        got = p.counters.get("hashes")
        if not got:
            continue
        if not os.path.exists(path):
            if p.failed:
                continue  # never record a failed pass's tables as the reference
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(got, f, sort_keys=True)
            continue
        with open(path) as f:
            want = json.load(f)
        if got != want:
            p.fail("landed tables", f"content hashes {got} differ from an earlier run's {want}")


def _rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident MB of (this Python process, the JVM)."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    jvm_kb = int(ln.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


class Session:
    """The engine's SparkSession. Each ``start`` after ``close`` launches
    a fresh JVM, so every pass starts cold, as a per-batch cron job
    would."""

    def __init__(self):
        self.spark = None

    def start(self) -> tuple[float, float]:
        """Launch the JVM and the session, then ship the package; returns
        the seconds each of the two took."""
        from rat_strain_loader_pipeline_spark.session import get_spark
        from rat_strain_loader_pipeline_spark.ship import ensure_shipped

        t0 = time.perf_counter()
        self.spark = get_spark(APP)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ensure_shipped(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit; the next ``start`` launches a new one."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _stage_dirs(tmp: str) -> list[str]:
    out = []
    for d in os.listdir(tmp):
        if "-stage-" in d and os.path.isdir(os.path.join(tmp, d)):
            root = os.path.join(tmp, d)
            out += [os.path.join(root, x) for x in os.listdir(root)]
    return out


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench",
                        f"run-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": cores,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    })
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)
    try:
        import rat_strain_loader_pipeline_spark.cli  # noqa: F401  the program under test
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 3
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import gen

    _log("engine imported")
    canary = _canary()
    truth = gen.generate(work, args.seed, scale=args.scale, parts=(
        ("variant",) if args.workload == "variant_chain" else ("corpus",)))

    sess = Session()
    try:
        result = _measure(args, sess, work, truth, cores, canary)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    conditions, trace_doc, attempted, failed, metrics = result
    if trace_doc is not None:
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"conditions": conditions, **trace_doc}, f)

    _log("done")
    print("conditions " + json.dumps(conditions, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _measure(args, sess: Session, work: str, truth: dict, cores: str, canary: float):
    """Set up, run the passes, and derive the metrics; returns
    (conditions, trace document or None, attempted, failed, metrics)."""
    from perfbench import trace, workloads

    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    inp = os.path.join(work, "inputs")
    keys_csv = os.path.join(work, "truth_keys.csv")
    key = _content_key(args.workload, work, args.scale)
    starts: list[float] = []
    ships: list[float] = []
    passes: list = []
    disk: list[dict] = []
    charged: dict = {}
    gate_batches: list[dict] = []
    rss: list[tuple[float, float]] = []
    first_python: list[float] = []
    harvest_s = 0.0
    tracer = trace.Tracer(f"{args.workload}-s{args.seed}")
    t_loop = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        _log("inputs ready; launching the JVM")
        start_s, ship_s = sess.start()
        starts.append(start_s)
        ships.append(ship_s)
        _log("session set up; pass starts")
        spark = sess.spark
        harvest = listener = None
        if args.trace:
            harvest = trace.SparkHarvest(spark)
            harvest.mark()
            if args.workload == "corpus_ingest":
                listener = trace.make_gate_listener()
                spark.streams.addListener(listener)

        out = os.path.join(work, f"pass{len(passes)}")
        with tracer.span(f"pass{len(passes)}", "pass"):
            if args.workload == "variant_chain":
                p = workloads.variant_chain(spark, tracer, inp, truth, keys_csv, out,
                                            args.corrupt)
            else:
                p = workloads.corpus_ingest(spark, tracer, inp, truth, out, args.corrupt)
        passes.append(p)
        _log(f"pass done in {p.wall_s:.1f}s, checked")
        if args.trace:
            while listener is not None and len(listener.batches) < len(p.batches):
                if time.perf_counter() - t_pass > args.seconds + 120:
                    break
                time.sleep(0.2)  # progress events arrive on the listener bus
            t_h = time.perf_counter()
            for k, v in harvest.collect(tracer).items():
                tgt = charged.setdefault(k, {})
                for kk, vv in v.items():
                    tgt[kk] = tgt.get(kk, 0.0) + vv
            harvest_s += time.perf_counter() - t_h
            first_python.append(harvest.first_python_s)
            if listener is not None:
                gate_batches += listener.batches
        rss.append(_rss_mb(sess.jvm_pid()))
        sess.close()
        # what the pass left behind once Spark has cleaned up after itself
        stages = _stage_dirs(tmp)
        store = os.path.join(out, "store" if args.workload == "variant_chain" else "gate")
        arrivals = _size(os.path.join(out, "arrivals"))[0]
        disk.append({
            "store": _size(store),
            "left": _size(out)[0] - arrivals + _size(tmp)[0] + _size(local)[0],
            "staging": (sum(_size(s)[0] for s in stages), len(stages)),
        })
        shutil.rmtree(out, ignore_errors=True)
        for s in stages:
            shutil.rmtree(s, ignore_errors=True)
        last = time.perf_counter() - t_pass
        if p.failed or time.perf_counter() - t_loop + last > args.seconds:
            break

    _check_across_runs(key, passes)
    input_bytes = truth["input_bytes"]
    in_bytes = (input_bytes["corpus"] if args.workload == "corpus_ingest" else
                input_bytes["initial"] + input_bytes["incremental"] + input_bytes["shared"])
    run_s = statistics.median(p.wall_s for p in passes)
    steady = [b for p in passes for b in (p.batches if args.workload == "corpus_ingest"
                                          else p.batches[1:])]
    attempted = sum(p.attempted for p in passes)
    failed = min(attempted, sum(len(p.failed) for p in passes))

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(a + b for a, b in zip(starts, ships)), "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (sum(p.rows for p in passes) / sum(p.wall_s for p in passes), "1/s"),
            "batch_p50_s": (statistics.median_low(steady), "s"),
            "disk_bytes_per_input_byte": (
                statistics.median(d["left"] for d in disk) / in_bytes, "B/B"),
        }
        trace_doc = None
    else:
        metrics = _per_layer(tracer, charged, passes, disk, gate_batches, starts, ships,
                             int(cores), run_s, harvest_s, steady, first_python, rss)
        trace_doc = {"spans": tracer.to_json(),
                     "charged": {str(k): v for k, v in charged.items()},
                     "gate_batches": gate_batches}

    conditions = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "spark_cores": int(cores), "git_commit": _git_commit(),
        "host_canary_s": round(canary, 4),
        "setup_s": [round(a + b, 3) for a, b in zip(starts, ships)],
        "rss_mb": {"python": round(max(a for a, _ in rss), 1),
                   "jvm": round(max(b for _, b in rss), 1)},
        "passes": len(passes), "batch_latencies_s": [[round(b, 3) for b in p.batches]
                                                     for p in passes],
        "input_bytes": in_bytes, "content_hashes": passes[-1].counters.get("hashes"),
        "failed_calls": sorted(c for p in passes for c in p.failed),
    }
    return conditions, trace_doc, attempted, failed, metrics



def _per_layer(tracer, charged, passes, disk, gate, starts, ships, cores, run_s,
               harvest_s, steady, first_python, rss):
    """The per-layer metrics of BENCHMARK.json, each a mean over passes."""
    n = len(passes)
    by_layer: dict[str, dict] = {}
    total: dict[str, float] = {}
    for idx, d in charged.items():
        layer = tracer.spans[idx].layer if idx is not None else "other"
        tgt = by_layer.setdefault(layer, {})
        for k, v in d.items():
            tgt[k] = tgt.get(k, 0.0) + v
            total[k] = total.get(k, 0.0) + v

    def h(layer: str, key: str) -> float:
        return by_layer.get(layer, {}).get(key, 0.0) / n

    def cnt(key: str) -> float:
        return sum(p.counters.get(key, 0) for p in passes) / n

    def span_sum(layer: str, name: str | None = None) -> float:
        return sum(s.dur for s in tracer.spans
                   if s.layer == layer and (name is None or s.name == name)) / n

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    wall = sum(p.wall_s for p in passes)
    verify_in = h("curate", "verify_in") + h("gate", "verify_in")
    verify_out = h("curate", "verify_out") + h("gate", "verify_out")
    m = {
        "convert.s": (span_sum("convert"), "s"),
        "convert.rows_out": (cnt("convert_rows"), "count"),
        "load.s": (span_sum("load"), "s"),
        "load.rows_in": (cnt("load_rows_in"), "count"),
        "load.new_frac": (ratio(cnt("load_new"), cnt("load_rows_in")), "frac"),
        "load.shuffle_bytes": (h("load", "shuffle_bytes"), "B"),
        "postprocess.s": (span_sum("postprocess"), "s"),
        "postprocess.vt_rows": (cnt("vt_rows"), "count"),
        "postprocess.python_boot_s": (h("postprocess", "python_boot_s"), "s"),
        "postprocess.python_init_s": (h("postprocess", "python_init_s"), "s"),
        "postprocess.python_total_s": (h("postprocess", "python_total_s"), "s"),
        "postprocess.arrow_bytes": (h("postprocess", "arrow_sent_bytes")
                                    + h("postprocess", "arrow_recv_bytes"), "B"),
        "polyphen.s": (span_sum("polyphen"), "s"),
        "polyphen.candidates": (cnt("candidates"), "count"),
        "fixups.s": (span_sum("fixups"), "s"),
        "fixups.fixed_frac": (ratio(cnt("fix_fixed"), cnt("fix_total")), "frac"),
        "store.bytes": (statistics.mean(d["store"][0] for d in disk), "B"),
        "store.files": (statistics.mean(d["store"][1] for d in disk), "count"),
        "staging.bytes_left": (statistics.mean(d["staging"][0] for d in disk), "B"),
        "staging.dirs_left": (statistics.mean(d["staging"][1] for d in disk), "count"),
        "spark.sql_executions": (total.get("sql_executions", 0.0) / n, "count"),
        "spark.jobs": (total.get("jobs", 0.0) / n, "count"),
        "spark.task_s": (total.get("task_s", 0.0) / n, "s"),
        "spark.busy_frac": (ratio(total.get("task_s", 0.0), wall * cores), "frac"),
        "spark.gc_s": (total.get("gc_s", 0.0) / n, "s"),
        "spark.shuffle_bytes": (total.get("shuffle_bytes", 0.0) / n, "B"),
        "gate.s": (span_sum("gate"), "s"),
        "gate.add_batch_ms": (sum(b.get("addBatch", 0.0) for b in gate) / n, "ms"),
        "gate.planning_ms": (sum(b.get("queryPlanning", 0.0) for b in gate) / n, "ms"),
        "gate.admitted_frac": (ratio(cnt("gate_admitted"), cnt("gate_decisions")), "frac"),
        "curate.build_s": (span_sum("curate", "curate_build"), "s"),
        "curate.action_s": (span_sum("curate", "curate_action"), "s"),
        "curate.eager_jobs": (sum(d.get("jobs", 0.0) for i, d in charged.items()
                                  if i is not None and tracer.spans[i].name == "curate_build")
                              / n, "count"),
        "dedup.verified_frac": (ratio(verify_out, verify_in), "frac"),
        "session.start_s": (statistics.median(starts), "s"),
        "session.ship_s": (statistics.median(ships), "s"),
        "session.worker_warm_s": (statistics.mean(first_python), "s"),
        "batch.max_s": (max(steady), "s"),
        "memory.peak_rss_mb": (max(a + b for a, b in rss), "MB"),
        "trace.run_s": (run_s, "s"),
        "trace.harvest_s": (harvest_s, "s"),
    }
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only (selftest.py): smaller inputs, and one landed row
    # dropped before the checks run
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
