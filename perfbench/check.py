"""Engine-free correctness checks.

Every check compares what the engine reported or landed against the
generator's planted truth, or against DuckDB reading the same files the
engine read and wrote. Nothing here imports the engine or pyspark.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import glob
import os

import duckdb

# partition columns of the hive-partitioned store tables, typed
# explicitly: chromosome "1" would otherwise be read as an integer
_PARTITIONS = {
    "variant_map_data": {"map_key": "INTEGER", "chromosome": "VARCHAR"},
    "variant_sample_detail": {"sample_id": "INTEGER"},
    "variant_transcript": {"map_key": "INTEGER"},
}


def _scan(path: str) -> str:
    types = _PARTITIONS.get(os.path.basename(path))
    hive = (f"hive_partitioning = true, hive_types = {types}" if types
            else "hive_partitioning = false")
    return f"read_parquet('{path}/**/*.parquet', {hive}, union_by_name = true)"


def _duck() -> duckdb.DuckDBPyConnection:
    """An in-process DuckDB with a bounded share of the host."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _con(store: str, dims: str, keys_csv: str | None = None) -> duckdb.DuckDBPyConnection:
    con = _duck()
    for t in ("variant", "variant_map_data", "variant_sample_detail", "variant_transcript"):
        if glob.glob(f"{store}/{t}/**/*.parquet", recursive=True):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(f'{store}/{t}')}")
    for t in ("genes", "transcripts", "features"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dims}/{t}.parquet')")
    if keys_csv:
        con.execute(
            f"CREATE VIEW truth_keys AS SELECT * FROM read_csv('{keys_csv}', header = true, "
            "columns = {'set': 'VARCHAR', 'chromosome': 'VARCHAR', 'start_pos': 'BIGINT', "
            "'end_pos': 'BIGINT', 'ref_nuc': 'VARCHAR', 'var_nuc': 'VARCHAR', "
            "'variant_type': 'VARCHAR'})"
        )
    return con


def equal(what: str, got, want) -> list[str]:
    """One check: a failure message unless ``got == want``."""
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


# ------------------------------------------------------------ variant chain

def load_counters(got: dict, want: dict, what: str) -> list[str]:
    bad = []
    for k in ("rows_in", "rows_new_variants", "rows_already_in_rgd"):
        bad += equal(f"{what} {k}", int(got.get(k, -1)), want[k])
    return bad


def expected_vt_pairs(store: str, dims: str, keys_csv: str, sets: list[str]) -> int:
    """(variant, transcript) pairs the consequence step owes for the keys
    of ``sets``."""
    con = _con(store, dims, keys_csv)
    return con.execute(f"SELECT count(*) FROM ({_owed_sql(sets)})").fetchone()[0]


def _owed_sql(sets: list[str]) -> str:
    """The owed (natural key, transcript) pairs of the keys of ``sets``:
    variant start inside an ACTIVE gene, one row per transcript of that
    gene that has features."""
    return f"""
        SELECT DISTINCT k.chromosome, k.start_pos, k.end_pos, k.ref_nuc, k.var_nuc,
               k.variant_type, t.transcript_rgd_id
        FROM ({_truth_sql(sets)}) k
        JOIN genes g ON g.chromosome = k.chromosome AND g.object_status = 'ACTIVE'
             AND k.start_pos BETWEEN g.start_pos AND g.stop_pos
        JOIN transcripts t ON t.gene_rgd_id = g.gene_rgd_id
        WHERE t.transcript_rgd_id IN
              (SELECT transcript_rgd_id FROM features WHERE chromosome IS NOT NULL)"""


def _truth_sql(sets: list[str]) -> str:
    in_sets = ", ".join(f"'{s}'" for s in sets)
    return f"""SELECT chromosome, start_pos, end_pos, ref_nuc, var_nuc, variant_type
               FROM truth_keys WHERE set IN ({in_sets})"""


def store_keys(store: str, dims: str, keys_csv: str, sets: list[str],
               sample_calls: dict[int, int]) -> list[str]:
    """The loader's landed tables against the truth: the natural keys of
    variant ⋈ variant_map_data are exactly the planted keys, ids are
    unique, and every sample has its planted number of detail rows."""
    con = _con(store, dims, keys_csv)
    keyed = """SELECT md.chromosome, md.start_pos, md.end_pos, v.ref_nuc, v.var_nuc,
                      v.variant_type FROM variant v JOIN variant_map_data md USING (rgd_id)"""
    truth = _truth_sql(sets)
    extra = con.execute(f"SELECT count(*) FROM ({keyed} EXCEPT ALL {truth})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({truth} EXCEPT ALL {keyed})").fetchone()[0]
    bad = equal("store keys not planted", extra, 0) + equal("planted keys not in store", missing, 0)
    n, ids = con.execute("SELECT count(*), count(DISTINCT rgd_id) FROM variant").fetchone()
    bad += equal("variant ids unique", ids, n)
    got = dict(con.execute(
        "SELECT sample_id, count(*) FROM variant_sample_detail GROUP BY sample_id").fetchall())
    return bad + equal("sample detail rows per sample", got, sample_calls)


def store_vt(store: str, dims: str, keys_csv: str, sets: list[str]) -> list[str]:
    """variant_transcript holds exactly the owed (variant, transcript)
    pairs. The landed keys and the owed pairs are built first, so the
    final join is on the whole natural key: a join on variant_type
    alone would be near a cross product."""
    con = _con(store, dims, keys_csv)
    con.execute("""CREATE TEMP TABLE landed_keys AS
        SELECT md.rgd_id, md.chromosome, md.start_pos, md.end_pos, v.ref_nuc, v.var_nuc,
               v.variant_type
        FROM variant v JOIN variant_map_data md ON md.rgd_id = v.rgd_id""")
    con.execute(f"CREATE TEMP TABLE owed AS {_owed_sql(sets)}")
    want = """
        SELECT DISTINCT lk.rgd_id AS variant_rgd_id, o.transcript_rgd_id
        FROM owed o JOIN landed_keys lk ON lk.chromosome = o.chromosome
             AND lk.start_pos = o.start_pos AND lk.end_pos = o.end_pos
             AND lk.variant_type = o.variant_type
             AND lk.ref_nuc IS NOT DISTINCT FROM o.ref_nuc
             AND lk.var_nuc IS NOT DISTINCT FROM o.var_nuc"""
    landed = "SELECT variant_rgd_id, transcript_rgd_id FROM variant_transcript"
    extra = con.execute(f"SELECT count(*) FROM ({landed} EXCEPT ALL ({want}))").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL {landed})").fetchone()[0]
    return (equal("variant_transcript rows not owed", extra, 0)
            + equal("owed variant_transcript rows missing", missing, 0))


def polyphen_lines(store: str, dims: str, out_dir: str, samples: list[int]) -> list[str]:
    """The exported PolyPhen input lines against the candidate rule
    (nonsynonymous, both AAs present, var AA not stop, single-base
    ACGT alleles) evaluated by DuckDB over the landed store, for the
    variants of ``samples``."""
    con = _con(store, dims)
    sample_filter = (
        "AND v.rgd_id IN (SELECT rgd_id FROM variant_sample_detail WHERE sample_id IN "
        f"({', '.join(map(str, samples))}))"
    )
    want = con.execute(f"""
        SELECT concat_ws(' ', t.protein_acc_id, CAST(vt.full_ref_aa_pos AS VARCHAR),
                         vt.ref_aa, vt.var_aa) AS line
        FROM variant_transcript vt
        JOIN variant v ON vt.variant_rgd_id = v.rgd_id
        JOIN variant_map_data md ON md.rgd_id = vt.variant_rgd_id AND md.map_key = vt.map_key
        JOIN transcripts t ON t.transcript_rgd_id = vt.transcript_rgd_id
        JOIN genes g ON g.gene_rgd_id = t.gene_rgd_id
        WHERE vt.ref_aa <> vt.var_aa AND vt.var_aa <> '*'
          AND v.ref_nuc IN ('A', 'C', 'G', 'T') AND v.var_nuc IN ('A', 'C', 'G', 'T')
          AND vt.ref_aa IS NOT NULL AND vt.var_aa IS NOT NULL {sample_filter}
    """).fetchall()
    got = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f) as fh:
            got += [ln for ln in fh.read().splitlines()]
    return equal(f"polyphen lines (samples {samples})", sorted(got), sorted(r[0] for r in want))


def table_hash(store: str, table: str) -> str:
    """Order-insensitive content hash of one landed table: count plus
    the sum of per-row md5 numbers (low 64 bits) over every column, by
    column name."""
    con = _duck()
    rel = con.sql(f"SELECT * FROM {_scan(f'{store}/{table}')}")
    cols = sorted(rel.columns)
    expr = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), sum(md5_number_lower(concat_ws('|', {expr}))) "
        f"FROM {_scan(f'{store}/{table}')}"
    ).fetchone()
    return f"{n}:{h}"


# -------------------------------------------------------------------- corpus

def gate_batch(out_dir: str, shard_ids: tuple[int, int], want_admitted: int) -> list[str]:
    """Admissions the gate landed for the docs of one shard."""
    con = _duck()
    got = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE admitted) "
        f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true) "
        f"WHERE doc_id BETWEEN {shard_ids[0]} AND {shard_ids[1] - 1}"
    ).fetchone()
    return (equal("gate decisions per shard", got[0], shard_ids[1] - shard_ids[0])
            + equal("gate admitted per shard", got[1], want_admitted))


def gate_counts(out_dir: str) -> tuple[int, int]:
    """(decisions, admissions) the gate landed over every shard."""
    con = _duck()
    return con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE admitted) "
        f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"
    ).fetchone()


def curated_stats(out_dir: str, want_docs: int, want_tokens: int) -> list[str]:
    con = _duck()
    rows = con.execute(
        f"SELECT split, lang_pred, n_docs, sum_tokens, sum_tokens_clean "
        f"FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchall()
    bad = equal("curated docs", sum(r[2] for r in rows), want_docs)
    bad += equal("curated tokens", sum(r[3] for r in rows), want_tokens)
    bad += equal("curated splits", {r[0] for r in rows} <= {"train", "val", "test"}, True)
    bad += equal("curated langs", {r[1] for r in rows}, {"en"})
    bad += equal("span-cleaned tokens within raw", all(0 <= r[4] <= r[3] for r in rows), True)
    return bad
