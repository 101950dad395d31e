"""Seeded input generator for the benchmark.

Everything the engine reads is produced here from ``random.Random(seed)``:
the same seed gives byte-identical files. The engine sees only the files
under ``inputs/``; the ground truth the generator planted goes to
``truth.json`` and ``truth_keys.csv`` beside them, which only the
benchmark's own correctness check reads.

Variant side (``variant_chain``):

- ``genome.fa``: one FASTA record per chromosome;
- ``dims/{genes,transcripts,features}.parquet``: genes on both strands
  (some withdrawn), one or two transcripts per gene (some non-coding),
  2-4 exons plus optional UTRs per transcript;
- ``initial.vcf``: a multi-strain VCF with SNVs, insertions, deletions,
  multi-ALT lines (skipped by the converter), no-calls, hom-ref calls
  and ``chr``-prefixed chromosome names;
- ``batch_<k>.vcf``: single-strain batches that arrive after the
  initial load, each with ``OVERLAP`` of its sites already in the store
  (drawn from the initial load's variants) and the rest new.

Corpus side (``corpus_ingest``): ``corpus/shard_<s>/part.parquet`` with
(doc_id, text), ids increasing shard by shard, and planted exact
duplicates, near duplicates (a few words edited), benchmark
contamination (8+ word passages copied from a ``doc_id % 17 == 0`` doc)
and junk documents that the language gate drops.
"""

from __future__ import annotations

import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

MAP_KEY = 360
CHROMS = ("1", "2", "X")
BASES = "ACGT"
OVERLAP = 0.9  # share of an incremental batch's sites already in the store

# word lists for the corpus: English function words (the only stopword
# language present, so every good document is identified as English)
EN_STOP = ("the", "and", "of", "to", "in", "is", "it", "you", "that")
ALL_STOP = {
    "the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
    "der", "die", "das", "und", "ist", "ich", "nicht", "ein", "zu", "mit",
    "le", "la", "les", "et", "est", "je", "ne", "un", "une", "de",
    "el", "los", "y", "es", "yo", "no", "una", "que",
}
BENCH_MOD = 17  # the curation pass's benchmark subset: doc_id % 17 == 0
SHINGLE_N = 3
NEAR_DUP_J = 0.5
CONTAM_N = 8

# workload sizes; ``scale`` multiplies the row counts in SCALED (the
# self-test runs at a fraction of the benchmark's size). They are not
# taken from production traffic (a rat strain brings millions of
# variants): one run, a cold pass plus its checks, has to end within
# about a minute on a 4-core host, also when the host is slow. Measured
# there, one seed, JVM launch excluded: the variant chain takes ~40 s at
# 2.4k sites, ~48 s at 20k and ~57 s at 50k, so per-call fixed cost
# dominates it and 20k already ran past the minute on a slow host; the
# corpus pass takes ~36 s at 1.5k docs and ~48 s at 3k, so per-document
# work is about a third of it.
SCALED = ("initial_sites", "batch_sites", "docs")
SIZES = {
    "chrom_len": 400_000,
    "genes_per_chrom": 40,
    "initial_sites": 10_000,
    "initial_strains": 4,
    "batches": 1,
    "batch_sites": 2_000,
    "docs": 1_500,
    "shards": 4,
}


class _Rng(random.Random):
    def seq(self, n: int) -> str:
        return "".join(self.choice(BASES) for _ in range(n))


# ------------------------------------------------------------------ genome

def _genome(rng: _Rng, chrom_len: int) -> dict[str, str]:
    return {c: rng.seq(chrom_len) for c in CHROMS}


def _dims(rng: _Rng, genome: dict[str, str], genes_per_chrom: int):
    genes, transcripts, features = [], [], []
    gid, tid, acc = 1000, 50_000, 1
    for c, seq in genome.items():
        n = len(seq)
        slot = n // genes_per_chrom
        for g in range(genes_per_chrom):
            lo = g * slot + rng.randint(200, 600)
            hi = lo + rng.randint(slot // 3, slot - 1200)
            strand = rng.choice("+-")
            status = "WITHDRAWN" if rng.random() < 0.1 else "ACTIVE"
            genes.append((gid, c, lo, hi, strand, status, MAP_KEY))
            for _ in range(rng.choice((1, 1, 2))):
                coding = rng.random() >= 0.1
                transcripts.append(
                    (tid, gid, "N" if coding else "Y", f"NP_{acc:06d}" if coding else None)
                )
                acc += 1
                n_ex = rng.randint(2, 4)
                cuts = sorted(rng.sample(range(lo + 20, hi - 20), 2 * n_ex))
                for i in range(n_ex):
                    features.append((tid, "EXONS", strand, c, cuts[2 * i], cuts[2 * i + 1], MAP_KEY))
                if rng.random() < 0.7:
                    head = min(cuts[0] + rng.randint(5, 60), cuts[1])
                    tail = max(cuts[-1] - rng.randint(5, 60), cuts[-2])
                    five, three = ("5UTRS", "3UTRS") if strand == "+" else ("3UTRS", "5UTRS")
                    features.append((tid, five, strand, c, cuts[0], head, MAP_KEY))
                    features.append((tid, three, strand, c, tail, cuts[-1], MAP_KEY))
                tid += 1
            gid += 1
    return genes, transcripts, features


def _write_dims(root: str, genes, transcripts, features) -> None:
    os.makedirs(root, exist_ok=True)
    gs = pa.schema([
        ("gene_rgd_id", pa.int32()), ("chromosome", pa.string()),
        ("start_pos", pa.int64()), ("stop_pos", pa.int64()),
        ("strand", pa.string()), ("object_status", pa.string()),
        ("map_key", pa.int32()),
    ])
    ts = pa.schema([
        ("transcript_rgd_id", pa.int32()), ("gene_rgd_id", pa.int32()),
        ("is_non_coding_ind", pa.string()), ("protein_acc_id", pa.string()),
    ])
    fs = pa.schema([
        ("transcript_rgd_id", pa.int32()), ("object_name", pa.string()),
        ("strand", pa.string()), ("chromosome", pa.string()),
        ("start_pos", pa.int64()), ("stop_pos", pa.int64()),
        ("map_key", pa.int32()),
    ])
    for name, rows, schema in (
        ("genes", genes, gs), ("transcripts", transcripts, ts), ("features", features, fs)
    ):
        cols = list(zip(*rows))
        table = pa.table({f.name: pa.array(col, f.type) for f, col in zip(schema, cols)})
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


# -------------------------------------------------------------------- sites

def _site(rng: _Rng, genome: dict[str, str], c: str, pos: int, kind: str) -> dict:
    """One VCF site at 1-based ``pos``; ``key`` is the natural key the
    loader derives (chromosome, start, end, ref, var, type), None for
    multi-ALT lines, which the converter skips."""
    seq = genome[c]
    ref1 = seq[pos - 1]
    if kind == "snv":
        alt = rng.choice([b for b in BASES if b != ref1])
        return {"chrom": c, "pos": pos, "ref": ref1, "alt": alt,
                "key": (c, pos, pos + 1, ref1, alt, "snv")}
    if kind == "ins":
        ins = rng.seq(rng.randint(1, 3))
        return {"chrom": c, "pos": pos, "ref": ref1, "alt": ref1 + ins,
                "key": (c, pos + 1, pos + 1, None, ins, "ins")}
    if kind == "del":
        gone = seq[pos : pos + rng.randint(1, 3)]
        return {"chrom": c, "pos": pos, "ref": ref1 + gone, "alt": ref1,
                "key": (c, pos + 1, pos + 1 + len(gone), gone, None, "del")}
    alts = [b for b in BASES if b != ref1]
    rng.shuffle(alts)
    return {"chrom": c, "pos": pos, "ref": ref1, "alt": ",".join(alts[:2]), "key": None}


def _positions(rng: _Rng, chrom_len: int, n: int, taken: set) -> list[tuple[str, int]]:
    """``n`` distinct sites, spaced so no two sites' derived keys or
    deletion spans touch."""
    out = []
    while len(out) < n:
        c = rng.choice(CHROMS)
        p = rng.randrange(10, chrom_len - 10) // 8 * 8 + 2
        if (c, p) not in taken:
            taken.add((c, p))
            out.append((c, p))
    return out


def _kind(rng: _Rng) -> str:
    r = rng.random()
    return "snv" if r < 0.80 else "ins" if r < 0.88 else "del" if r < 0.96 else "multi"


def _call(rng: _Rng, called: bool, multi: bool) -> str:
    if not called:
        return "./." if rng.random() < 0.4 else "0/0:{0},0:{0}".format(rng.randint(8, 30))
    r, a = rng.randint(4, 30), rng.randint(4, 30)
    if multi:
        return f"1/2:0,{a},{r}:{a + r}"
    if rng.random() < 0.35:
        return f"1/1:0,{a}:{a}"
    return f"0/1:{r},{a}:{r + a}"


def _vcf_line(rng: _Rng, s: dict, calls: list[str]) -> str:
    chrom = f"chr{s['chrom']}" if rng.random() < 0.25 else s["chrom"]
    vid = f"rs{rng.randint(1, 10**7)}" if rng.random() < 0.3 else "."
    return "\t".join([
        chrom, str(s["pos"]), vid, s["ref"], s["alt"], "99", "PASS",
        f"DP={rng.randint(10, 90)}", "GT:AD:DP", *calls,
    ])


def _write_vcf(path: str, strains: list[str], lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("##fileformat=VCFv4.2\n##source=perfbench\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + "\t".join(strains) + "\n")
        for ln in lines:
            f.write(ln + "\n")


def _multi_strain_vcf(rng, genome, path, strains, n_sites, chrom_len, taken):
    """Returns (calls per loaded key, loaded sites, calls per strain)."""
    calls: dict[tuple, int] = {}
    per_strain = dict.fromkeys(strains, 0)
    sites_out: list[dict] = []
    lines = []
    for c, p in sorted(_positions(rng, chrom_len, n_sites, taken), key=lambda x: (x[0], x[1])):
        s = _site(rng, genome, c, p, _kind(rng))
        called = [rng.random() < 0.5 for _ in strains]
        lines.append(_vcf_line(rng, s, [_call(rng, x, s["key"] is None) for x in called]))
        if s["key"] is not None and any(called):
            calls[s["key"]] = sum(called)
            sites_out.append(s)
            for name, x in zip(strains, called):
                per_strain[name] += x
    _write_vcf(path, strains, lines)
    return calls, sites_out, per_strain


# ------------------------------------------------------------------- corpus

def _shingles(text: str) -> set[str]:
    toks = [t for t in re.split(r"[ \t\n\r\f]+", text.lower()) if t]
    if len(toks) < SHINGLE_N:
        return {"_".join(toks)} if toks else set()
    return {"_".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def _ngrams(text: str, n: int) -> set[str]:
    toks = [t for t in re.split(r"[ \t\n\r\f]+", text.strip()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _good_doc(rng: _Rng, vocab: list[str]) -> str:
    words = [
        rng.choice(EN_STOP) if rng.random() < 0.3 else rng.choice(vocab)
        for _ in range(rng.randint(90, 160))
    ]
    return " ".join(words)


def _junk_doc(rng: _Rng) -> str:
    alphabet = "qxzjkvw#$%&*+=@~"
    return " ".join(
        "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 9)))
        for _ in range(rng.randint(15, 40))
    )


def _corpus(rng: _Rng, n_docs: int) -> list[str]:
    vocab = set()
    while len(vocab) < 4000:
        w = "".join(rng.choice("abcdefghijklmnoprstuvy") for _ in range(rng.randint(4, 9)))
        if w not in ALL_STOP:
            vocab.add(w)
    vocab = sorted(vocab)
    docs: list[str] = []
    # near duplicates copy long documents only: one or two words edited in
    # 90+ tokens keeps their Jaccard with the source above 0.8, where
    # MinHash-LSH (16 bands x 4 rows) misses a pair with p < 1e-5, so the
    # exact truth below is what the LSH-based engine must report
    long_ids: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.06:  # exact duplicate, case and whitespace varied
            src = docs[rng.randrange(i)]
            docs.append("  " + src.upper() + " ")
        elif long_ids and r < 0.14:  # near duplicate: a few words replaced
            words = docs[rng.choice(long_ids)].split()
            for _ in range(max(1, len(words) // 60)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            docs.append(" ".join(words))
        elif i > BENCH_MOD and r < 0.18:  # contamination from a benchmark doc
            src = docs[rng.randrange(0, i, BENCH_MOD)].split()
            start = rng.randrange(max(1, len(src) - 12))
            passage = src[start : start + 12]
            own = _good_doc(rng, vocab).split()
            cut = rng.randrange(len(own))
            docs.append(" ".join(own[:cut] + passage + own[cut:]))
        elif r < 0.23:
            docs.append(_junk_doc(rng))
        else:
            docs.append(_good_doc(rng, vocab))
        if len(docs[-1].split()) >= 90:
            long_ids.append(i)
    return docs


def _corpus_truth(docs: list[str], per_shard: int) -> dict:
    """Planted-structure counts, recomputed exactly from the texts with
    the documented rules (word 3-shingle Jaccard >= 0.5, word 8-grams,
    whitespace tokens) — no engine code involved."""
    n = len(docs)
    norm = [re.sub(r"\s+", " ", d.strip()).lower() for d in docs]
    first_of: dict[str, int] = {}
    for i, t in enumerate(norm):
        first_of.setdefault(t, i)
    exact_survivors = {first_of[t] for t in norm}

    sh = [_shingles(d) for d in docs]
    index: dict[str, list[int]] = {}
    for i, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(i)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    near_dup_of_earlier = [False] * n
    in_pair = [False] * n
    for j in range(n):
        shared: dict[int, int] = {}
        for g in sh[j]:
            for i in index[g]:
                if i < j:
                    shared[i] = shared.get(i, 0) + 1
        for i, inter in shared.items():
            union = len(sh[i]) + len(sh[j]) - inter
            if union and inter * 1_000_000 // union >= int(NEAR_DUP_J * 1_000_000):
                near_dup_of_earlier[j] = True
                in_pair[i] = in_pair[j] = True
                ri, rj = find(i), find(j)
                parent[max(ri, rj)] = min(ri, rj)
    nd_losers = {i for i in range(n) if in_pair[i] and find(i) != i}

    bench_grams = set()
    for i in range(0, n, BENCH_MOD):
        bench_grams |= _ngrams(docs[i], CONTAM_N)
    contaminated = {i for i in range(n) if _ngrams(docs[i], CONTAM_N) & bench_grams}

    def lang_en(d: str) -> bool:
        toks = d.lower().split()
        return any(t in EN_STOP for t in toks)

    kept = [
        i for i in range(n)
        if i in exact_survivors and i not in nd_losers and i not in contaminated
        and i % BENCH_MOD != 0 and lang_en(docs[i])
    ]
    return {
        "docs": n,
        "exact_groups": len(exact_survivors),
        "near_dup_losers": len(nd_losers),
        "contaminated": len(contaminated),
        "gate_admitted": n - sum(near_dup_of_earlier),
        "gate_admitted_per_shard": [
            sum(not near_dup_of_earlier[i] for i in range(lo, min(n, lo + per_shard)))
            for lo in range(0, n, per_shard)
        ],
        "curated_docs": len(kept),
        "curated_tokens": sum(len(docs[i].split()) for i in kept),
    }


# --------------------------------------------------------------------- main

def generate(out_dir: str, seed: int, scale: float = 1.0,
             parts: tuple[str, ...] = ("variant", "corpus")) -> dict:
    """Write the inputs of ``parts`` under ``out_dir/inputs`` and the
    planted truth beside them; returns the truth dict. Each part draws
    from its own seeded stream, so one part's files do not depend on
    whether the other is generated."""
    sz = {k: max(2, int(v * scale)) if k in SCALED else v for k, v in SIZES.items()}
    inp = os.path.join(out_dir, "inputs")
    os.makedirs(inp, exist_ok=True)
    truth: dict = {"seed": seed, "sizes": sz, "input_bytes": {}}
    if "variant" in parts:
        truth.update(_variant_inputs(_Rng(f"variant-{seed}"), inp, out_dir, sz))
        truth["input_bytes"].update({
            "initial": _size(os.path.join(inp, "initial.vcf")),
            "incremental": sum(_size(os.path.join(inp, f"batch_{k}.vcf"))
                               for k in range(sz["batches"])),
            "shared": _size(os.path.join(inp, "genome.fa")) + _size(os.path.join(inp, "dims")),
        })
    if "corpus" in parts:
        truth["corpus"] = _corpus_inputs(_Rng(f"corpus-{seed}"), inp, sz)
        truth["input_bytes"]["corpus"] = _size(os.path.join(inp, "corpus"))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def _variant_inputs(rng: _Rng, inp: str, out_dir: str, sz: dict) -> dict:
    genome = _genome(rng, sz["chrom_len"])
    with open(os.path.join(inp, "genome.fa"), "w") as f:
        for c, s in genome.items():
            f.write(f">chr{c}\n")
            for i in range(0, len(s), 60):
                f.write(s[i : i + 60] + "\n")
    genes, transcripts, features = _dims(rng, genome, sz["genes_per_chrom"])
    _write_dims(os.path.join(inp, "dims"), genes, transcripts, features)

    # the initial load: one multi-strain VCF into an empty store
    init_strains = [f"INIT{i}" for i in range(sz["initial_strains"])]
    taken: set = set()
    init_calls, init_sites, per_strain = _multi_strain_vcf(
        rng, genome, os.path.join(inp, "initial.vcf"), init_strains,
        sz["initial_sites"], sz["chrom_len"], taken,
    )

    # incremental batches against the now non-empty store
    batches = []
    for k in range(sz["batches"]):
        n_old = int(round(sz["batch_sites"] * OVERLAP))
        old = rng.sample(init_sites, n_old)
        new = [
            _site(rng, genome, c, p, rng.choice(("snv",) * 8 + ("ins", "del")))
            for c, p in _positions(rng, sz["chrom_len"], sz["batch_sites"] - n_old, taken)
        ]
        noise = [
            _site(rng, genome, c, p, "multi")
            for c, p in _positions(rng, sz["chrom_len"], 5, taken)
        ]
        lines = [_vcf_line(rng, s, [_call(rng, True, False)]) for s in old + new]
        lines += [_vcf_line(rng, s, [_call(rng, False, True)]) for s in noise]
        lines.sort(key=lambda ln: (ln.split("\t")[0].removeprefix("chr"), int(ln.split("\t")[1])))
        _write_vcf(os.path.join(inp, f"batch_{k}.vcf"), [f"NEW{k}"], lines)
        batches.append({"rows_in": len(old) + len(new), "rows_new_variants": len(new),
                        "rows_already_in_rgd": len(old), "new_keys": [s["key"] for s in new]})

    # truth: counts as the loader reports them, plus the distinct keys
    # (for the DuckDB variant_transcript count over the same dims files)
    with open(os.path.join(out_dir, "truth_keys.csv"), "w") as f:
        f.write("set,chromosome,start_pos,end_pos,ref_nuc,var_nuc,variant_type\n")
        for key in init_calls:
            f.write(_key_csv("initial", key))
        for k, b in enumerate(batches):
            for key in b["new_keys"]:
                f.write(_key_csv(f"batch_{k}", key))
    return {
        "initial": {"strains": init_strains, "rows_in": sum(init_calls.values()),
                    "rows_new_variants": len(init_calls), "rows_already_in_rgd": 0,
                    "calls_per_strain": per_strain},
        "batches": [{k: v for k, v in b.items() if k != "new_keys"} for b in batches],
    }


def _corpus_inputs(rng: _Rng, inp: str, sz: dict) -> dict:
    docs = _corpus(rng, sz["docs"])
    per = -(-len(docs) // sz["shards"])
    for s in range(sz["shards"]):
        ids = list(range(s * per, min(len(docs), (s + 1) * per)))
        d = os.path.join(inp, "corpus", f"shard_{s}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array([docs[i] for i in ids], pa.string())}),
            os.path.join(d, "part.parquet"),
        )
    return _corpus_truth(docs, per)


def _key_csv(name: str, key: tuple) -> str:
    return ",".join([name] + ["" if v is None else str(v) for v in key]) + "\n"


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="write the benchmark's seeded inputs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.scale)["corpus"]))
