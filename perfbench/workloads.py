"""The benchmark's workloads: one pass of each, driven through the
engine's public entry points, with a span around every call.

A pass is closed-loop with one client: each batch is submitted when the
previous one has landed, like the reference's per-strain cron job.

- ``variant_chain``: an empty store receives one multi-strain VCF
  through the whole chain (``VcfConverter2``, one ``VariantLoad3`` with
  every ``-s/-i`` pair, ``VariantPostProcessing``, ``Polyphen``,
  ``VariantTypeFixUp``, ``GenicStatusFixUp``, ``FrameShiftFixUp``);
  then single-strain batches, each with most of its sites already in
  the store, run ``VcfConverter2`` → ``VariantLoad3`` →
  ``VariantPostProcessing --sampleId --verifyIfInRgd`` →
  ``Polyphen --sample``. The first batch is the insert path, the later
  ones the probe-heavy steady state. At the sizes in ``gen.py`` both are
  still bound by per-call fixed cost; per-row work is a minor share
  of the first batch.
- ``corpus_ingest``: S corpus shards arrive one by one through
  ``dedup_gate_available_now`` (one call per shard, one persistent
  checkpoint), then one curation pass runs the engine's own
  ``corpus_curation`` query over the arrived shards: exact dedup,
  MinHash-LSH plus connected components, n-gram contamination, span
  dedup, quality/lang gates, deterministic split plus stats.

Every tool or function call counts as attempted; a call fails if it
raises or if its output fails an engine-free check (``check.py``).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import check

MAP_KEY = "360"
INIT_SAMPLE0 = 101
BATCH_SAMPLE0 = 201


@dataclass
class Pass:
    """What one pass did: batch latencies (arrival to landed outputs),
    input rows, and the calls attempted and failed."""

    wall_s: float = 0.0
    batches: list[float] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failed: set[str] = field(default_factory=set)  # labels of failed calls
    counters: dict = field(default_factory=dict)

    def fail(self, call: str, why: str) -> None:
        self.failed.add(call)
        print(f"FAILED {call}: {why}", file=sys.stderr)


class Calls:
    """Runs one call inside a span; counts it attempted, and failed if it
    raises. Exceptions stop at this boundary so the run still reports."""

    def __init__(self, tracer, p: Pass):
        self.tracer = tracer
        self.p = p

    def run(self, name: str, layer: str, fn, *args, **kwargs):
        self.p.attempted += 1
        with self.tracer.span(name, layer) as sp:
            try:
                out = fn(*args, **kwargs)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                sp.attrs["ok"] = False
                self.p.fail(f"{name} #{self.p.attempted}", "raised")
                return None
            sp.attrs["ok"] = True
            if isinstance(out, dict):
                sp.attrs.update(out)
            return out

    def tool(self, layer: str, argv: list[str]) -> dict | None:
        """``cli.main(["--tool", ...])`` with its stdout parsed into the
        ``key=value`` counters the tools print."""
        from rat_strain_loader_pipeline_spark import cli

        def call():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(["--tool", *argv])
            if rc != 0:
                raise RuntimeError(f"{argv[0]} exited {rc}")
            counters = {}
            for tok in buf.getvalue().split():
                k, sep, v = tok.partition("=")
                if sep and v.lstrip("-").isdigit():
                    counters[k] = counters.get(k, 0) + int(v)
            return counters

        return self.run(argv[0], layer, call)


def corrupt_one_row(table_dir: str) -> None:
    """Drop the first row of the largest landed parquet file: the
    self-test's deliberately wrong output, which the checks must catch."""
    import glob

    import pyarrow.parquet as pq

    path = max(glob.glob(f"{table_dir}/**/*.parquet", recursive=True), key=os.path.getsize)
    t = pq.read_table(path, partitioning=None)
    pq.write_table(t.slice(1), path)


def _check(p: Pass, call: str, bad: list[str]) -> None:
    """Charge every failed check to the call whose output it checked."""
    for b in bad:
        p.fail(call, b)


def checked(pass_fn):
    """Run a pass; an exception while checking its outputs (a missing or
    unreadable landed table) fails the pass instead of the run."""

    def run(*args) -> Pass:
        p = Pass()
        try:
            pass_fn(p, *args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            p.fail("output check", "raised")
        return p

    return run


# ----------------------------------------------------------- variant chain

@checked
def variant_chain(p: Pass, spark, tracer, inp: str, truth: dict, keys_csv: str, out: str,
                  corrupt: bool = False):
    c = Calls(tracer, p)
    dims, fasta, store = f"{inp}/dims", f"{inp}/genome.fa", f"{out}/store"
    init = truth["initial"]
    init_ids = [INIT_SAMPLE0 + i for i in range(len(init["strains"]))]
    results: list[tuple[str, dict | None, dict]] = []
    t_pass = time.perf_counter()

    # first batch: a multi-strain VCF into the empty store, whole chain
    t0 = time.perf_counter()
    with tracer.span("initial_load", "batch"):
        conv = c.tool("convert", ["VcfConverter2", "--vcfFile", f"{inp}/initial.vcf",
                                  "--outDir", f"{out}/cf2_init", "--mapKey", MAP_KEY])
        pairs = []
        for sid, strain in zip(init_ids, init["strains"]):
            pairs += ["-s", str(sid), "-i", f"{out}/cf2_init/strain={strain}"]
        load = c.tool("load", ["VariantLoad3", *pairs, "--store", store, "--dims", dims,
                               "--mapKey", MAP_KEY])
        post = c.tool("postprocess", ["VariantPostProcessing", "--fastaFile", fasta,
                                      "--store", store, "--dims", dims, "--mapKey", MAP_KEY])
        pp = c.tool("polyphen", ["Polyphen", "--outDir", f"{out}/pp_init",
                                 "--store", store, "--dims", dims])
        vtf = c.tool("fixups", ["VariantTypeFixUp", "--store", store])
        gsf = c.tool("fixups", ["GenicStatusFixUp", "--store", store, "--dims", dims])
        fsf = c.tool("fixups", ["FrameShiftFixUp", "--store", store])
    p.batches.append(time.perf_counter() - t0)
    p.rows += init["rows_in"]
    results.append(("initial", load, {"conv": conv, "post": post, "pp": pp,
                                      "fix": [vtf, gsf, fsf]}))

    # later batches: one strain each, mostly already in the store
    for k, b in enumerate(truth["batches"]):
        sid = BATCH_SAMPLE0 + k
        t0 = time.perf_counter()
        with tracer.span(f"batch_{k}", "batch"):
            bconv = c.tool("convert", ["VcfConverter2", "--vcfFile", f"{inp}/batch_{k}.vcf",
                                       "--outDir", f"{out}/cf2_{k}", "--mapKey", MAP_KEY])
            bload = c.tool("load", ["VariantLoad3", "-s", str(sid),
                                    "-i", f"{out}/cf2_{k}/strain=NEW{k}", "--store", store,
                                    "--dims", dims, "--mapKey", MAP_KEY])
            bpost = c.tool("postprocess", ["VariantPostProcessing", "--sampleId", str(sid),
                                           "--verifyIfInRgd", "--fastaFile", fasta,
                                           "--store", store, "--dims", dims,
                                           "--mapKey", MAP_KEY])
            bpp = c.tool("polyphen", ["Polyphen", "--sample", str(sid), "--outDir",
                                      f"{out}/pp_{k}", "--store", store, "--dims", dims])
        p.batches.append(time.perf_counter() - t0)
        p.rows += b["rows_in"]
        results.append((f"batch_{k}", bload, {"conv": bconv, "post": bpost, "pp": bpp}))
    p.wall_s = time.perf_counter() - t_pass

    # engine-free checks, after the timed pass; a call that raised is
    # already counted failed and leaves nothing to check
    if p.failed:
        return
    if corrupt:
        corrupt_one_row(f"{store}/variant_transcript")
    _check(p, "VcfConverter2 initial",
           check.equal("rows", results[0][2]["conv"].get("rows"), init["rows_in"]))
    _check(p, "VariantLoad3 initial", check.load_counters(results[0][1], init, "initial"))
    sets = ["initial"]
    for k, b in enumerate(truth["batches"]):
        _, bload, r = results[k + 1]
        _check(p, f"VcfConverter2 batch_{k}",
               check.equal("rows", r["conv"].get("rows"), b["rows_in"]))
        _check(p, f"VariantLoad3 batch_{k}", check.load_counters(bload, b, f"batch_{k}"))
        want = check.expected_vt_pairs(store, dims, keys_csv, [f"batch_{k}"])
        _check(p, f"VariantPostProcessing batch_{k}",
               check.equal("variant_transcript_rows", r["post"].get("variant_transcript_rows"), want))
        _check(p, f"Polyphen batch_{k}",
               check.polyphen_lines(store, dims, f"{out}/pp_{k}", [BATCH_SAMPLE0 + k]))
        sets.append(f"batch_{k}")
    r = results[0][2]
    n_vt = check.expected_vt_pairs(store, dims, keys_csv, ["initial"])
    _check(p, "VariantPostProcessing initial",
           check.equal("variant_transcript_rows", r["post"].get("variant_transcript_rows"), n_vt))
    _check(p, "Polyphen initial", check.polyphen_lines(store, dims, f"{out}/pp_init", init_ids))
    vtf, gsf, fsf = r["fix"]
    n_var = init["rows_new_variants"]
    for name, fix in (("VariantTypeFixUp", vtf), ("GenicStatusFixUp", gsf)):
        _check(p, name, check.equal("rows_total/fixed",
                                    (fix.get("rows_total"), fix.get("rows_fixed")), (n_var, 0)))
    _check(p, "FrameShiftFixUp", check.equal("rows_total", fsf.get("rows_total"), n_vt))
    calls = {INIT_SAMPLE0 + i: init["calls_per_strain"][s] for i, s in enumerate(init["strains"])}
    calls.update({BATCH_SAMPLE0 + k: b["rows_in"] for k, b in enumerate(truth["batches"])})
    _check(p, "VariantLoad3 initial", check.store_keys(store, dims, keys_csv, sets, calls))
    _check(p, "VariantPostProcessing initial", check.store_vt(store, dims, keys_csv, sets))
    p.counters = {
        "convert_rows": sum(x[2]["conv"].get("rows", 0) for x in results),
        "load_rows_in": sum(x[1].get("rows_in", 0) for x in results),
        "load_new": sum(x[1].get("rows_new_variants", 0) for x in results),
        "vt_rows": sum(x[2]["post"].get("variant_transcript_rows", 0) for x in results),
        "candidates": sum(x[2]["pp"].get("candidates", 0) for x in results),
        "fix_total": sum(f.get("rows_total", 0) for f in r["fix"]),
        "fix_fixed": sum(f.get("rows_fixed", 0) for f in r["fix"]),
        "hashes": {t: check.table_hash(store, t) for t in
                   ("variant", "variant_map_data", "variant_sample_detail",
                    "variant_transcript")},
    }


# ------------------------------------------------------------------ corpus

@checked
def corpus_ingest(p: Pass, spark, tracer, inp: str, truth: dict, out: str,
                  corrupt: bool = False):
    from __spark_entry__ import q_corpus_curation
    from rat_strain_loader_pipeline_spark.streaming import stream_partition_scope
    from rat_strain_loader_pipeline_spark.streaming.dedup_gate import (
        dedup_gate_available_now,
    )

    c = Calls(tracer, p)
    ct = truth["corpus"]
    src, work, curated = f"{out}/arrivals", f"{out}/gate", f"{out}/curated"
    # the curation query reads {sf_dir}/documents.parquet; every arrived
    # shard is also one file of that table
    sf_dir = f"{src}/sf"
    os.makedirs(f"{sf_dir}/documents.parquet")
    shards = sorted(os.listdir(f"{inp}/corpus"))
    per = -(-ct["docs"] // len(shards))

    def gate():
        with stream_partition_scope(spark):
            return dedup_gate_available_now(spark, f"{src}/shard_*", work,
                                            jaccard_threshold=0.5, max_files_per_trigger=1)

    t_pass = time.perf_counter()
    bounds = []
    for s, name in enumerate(shards):
        # arrival: the shard lands in the watched directory, then the
        # gate runs until its decisions are written
        shutil.copytree(f"{inp}/corpus/{name}", f"{src}/{name}")
        shutil.copyfile(f"{inp}/corpus/{name}/part.parquet",
                        f"{sf_dir}/documents.parquet/{name}.parquet")
        t0 = time.perf_counter()
        with tracer.span(f"shard_{s}", "batch"):
            c.run("dedup_gate_available_now", "gate", gate)
        p.batches.append(time.perf_counter() - t0)
        bounds.append((s * per, min(ct["docs"], (s + 1) * per)))
    p.rows = ct["docs"]

    with tracer.span("curation", "batch"):
        stats = c.run("curate_build", "curate", q_corpus_curation, spark, sf_dir)
        if stats is not None:
            c.run("curate_action", "curate",
                  lambda: stats.coalesce(1).write.mode("overwrite").parquet(curated))
    p.wall_s = time.perf_counter() - t_pass

    if p.failed:
        return
    if corrupt:
        corrupt_one_row(f"{work}/out")
    for s, b in enumerate(bounds):
        _check(p, f"dedup gate shard_{s}",
               check.gate_batch(f"{work}/out", b, ct["gate_admitted_per_shard"][s]))
    _check(p, "curate_action", check.curated_stats(curated, ct["curated_docs"], ct["curated_tokens"]))
    decisions, admitted = check.gate_counts(f"{work}/out")
    p.counters = {"gate_decisions": decisions, "gate_admitted": admitted,
                  "hashes": {"curated": check.table_hash(out, "curated")}}


WORKLOADS = {"variant_chain": variant_chain, "corpus_ingest": corpus_ingest}
