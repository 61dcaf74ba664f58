#!/usr/bin/env python3
"""Sliced DuckDB replay for the heavy-tier dedup oracles (r13 verdict
item 1): make the 100x replays feasible BY CONSTRUCTION instead of
"resume on a bigger box".

The one-shot replays of q_dedup_minhash / q_dedup_simhash /
q_dedup_canonical die on out-of-core temp: DuckDB's grace-hash join
spills the ENTIRE quadratic pair space (band-bucket candidates x
inverted-index verification) at once — >72 GB at the 100x corpus
against ~70 GB free (two documented r13 attempts). This tool gives the
oracle the same treatment the engine's own stagedPairs rule applies to
the Spark side:

 1. Materialize the LINEAR intermediates ONCE into a persistent DuckDB
    database (sig/bands/idx/sizes for the MinHash family, chunks for
    SimHash) — O(corpus) rows, spill-friendly.
 2. Run the PAIR space as N sequential slices, slice s owning the pairs
    whose SMALLER member satisfies doc_a % N == s. Every unordered pair
    (a < b) lands in exactly one slice with ALL its verification rows,
    so the N thresholded slice outputs PARTITION the one-shot result
    exactly, and peak temp is ~1/N of the one-shot join.
 3. For the pair-output oracles (minhash/simhash), compare each slice
    directly against the Spark parquet restricted by the same predicate
    (both sides ordered by (doc_a, doc_b) — the slice predicate is a
    pure function of doc_a, so per-slice order = global order
    restricted). For canonical, whose output is GLOBAL (connected
    components), accumulate the verified-pair slices into a table and
    run the label propagation + keeper once over it — pairs are linear
    in near-dup docs, orders below the pre-aggregation volume.

Equivalence proof protocol: on a corpus where the one-shot replay also
fits (the 30x leg), run BOTH and require identical PASS row counts —
the dry run recorded in bench/NOTES.md r14.

Usage:
  python3 tools/check_oracle_sliced.py <sfDir> <outDir>
      --query q_dedup_minhash|q_dedup_simhash|q_dedup_canonical
      [--slices 16] [--db /tmp/heavy_slice.db] [--keep-db]

The db is per-query and deleted at the end unless --keep-db (the
MinHash family tables are shared between minhash and canonical, so
--keep-db + --db lets canonical reuse minhash's materialization).
"""
import gc
import json
import sys
import time
from pathlib import Path

import duckdb

# The gate's own normalization and memory limit: the values compared must
# be the values the driver's gate compares.
from check_oracle import duck_mem_limit, norm


# ---------------------------------------------------------------------------
# Materialization DDL (mirrors the oracle CTE text in graft.llm.Dedup —
# the 30x dry run proves the mirror equivalent to the one-shot oracle).
# ---------------------------------------------------------------------------

TOKS_CTE = """t AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents)"""

MINHASH_MATERIALIZE = [
    ("m_sig", f"""
WITH {TOKS_CTE},
sh AS (
  SELECT doc_id, md5(s) AS d FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= 3 THEN
        list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      ELSE [] END) AS s
    FROM t)),
hp AS (
  SELECT doc_id,
    CAST(('0x' || substr(d, 1, 7)) AS BIGINT) AS h1,
    CAST(('0x' || substr(d, 8, 7)) AS BIGINT) AS h2
  FROM sh),
hl AS (
  SELECT doc_id, list(h1 * 268435456 + h2) AS cs FROM hp GROUP BY doc_id)
SELECT doc_id, j, list_min(list_transform(cs,
  c -> (c // 268435456 + j * (c % 268435456)) % 268435456)) AS mh
FROM hl CROSS JOIN (SELECT unnest(range(0, 32)) AS j)"""),
    ("m_bands", """
SELECT doc_id, j // 8 AS band_id, string_agg(mh, ',' ORDER BY j) AS bkey
FROM m_sig GROUP BY doc_id, j // 8"""),
    ("m_idx", f"""
WITH {TOKS_CTE}
SELECT doc_id, unnest(list_distinct(
  CASE WHEN len(toks) >= 3 THEN
    list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
  ELSE [] END)) AS shingle
FROM t"""),
    ("m_sizes", """
SELECT doc_id, count(*) AS n_sh FROM m_idx GROUP BY doc_id"""),
]

SIMHASH_MATERIALIZE = [
    ("m_chunks", f"""
WITH {TOKS_CTE},
tl AS (
  SELECT doc_id, list_transform(toks, x -> md5_number_lower(x)) AS hs
  FROM t WHERE len(toks) > 0),
votes AS (
  SELECT doc_id, b, list_sum(list_transform(hs,
    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS v
  FROM tl CROSS JOIN (SELECT unnest(range(0, 64)) AS b))
SELECT doc_id, b // 16 AS chunk_id,
  CAST(sum(CASE WHEN v > 0 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS chunk
FROM votes GROUP BY doc_id, b // 16"""),
]


def minhash_slice_sql(n, s, select):
    """Pair-space slice s of n for the MinHash family. `select` is the
    final projection: the q_dedup_minhash output row, or the bare
    verified-pair ids for the canonical accumulator."""
    return f"""
WITH cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM m_bands a JOIN m_bands b
    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE a.doc_id % {n} = {s}),
est AS (
  SELECT c.doc_a, c.doc_b,
    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
  FROM cand c
  JOIN m_sig sa ON sa.doc_id = c.doc_a
  JOIN m_sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
  GROUP BY c.doc_a, c.doc_b),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c
  JOIN m_idx ia ON ia.doc_id = c.doc_a
  JOIN m_idx ib ON ib.doc_id = c.doc_b AND ib.shingle = ia.shingle
  GROUP BY 1, 2)
{select}"""


MINHASH_SELECT = """SELECT e.doc_a, e.doc_b, e.est_jaccard,
  CAST(sh.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - sh.shared) AS jaccard
FROM est e
JOIN shared sh ON sh.doc_a = e.doc_a AND sh.doc_b = e.doc_b
JOIN m_sizes sa ON sa.doc_id = e.doc_a
JOIN m_sizes sb ON sb.doc_id = e.doc_b
WHERE CAST(sh.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - sh.shared) >= 0.2
ORDER BY e.doc_a, e.doc_b"""

# canonical only needs the verified pair IDS (est is skipped entirely —
# the cluster oracle's vp has no est column either).
CANONICAL_SELECT = """SELECT sh.doc_a, sh.doc_b
FROM shared sh
JOIN m_sizes sa ON sa.doc_id = sh.doc_a
JOIN m_sizes sb ON sb.doc_id = sh.doc_b
WHERE CAST(sh.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - sh.shared) >= 0.2"""


def simhash_slice_sql(n, s):
    return f"""
WITH pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM m_chunks a JOIN m_chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
  WHERE a.doc_id % {n} = {s}),
ham AS (
  SELECT p.doc_a, p.doc_b,
    CAST(sum(bit_count(xor(ca.chunk, cb.chunk))) AS INT) AS hamming
  FROM pairs p
  JOIN m_chunks ca ON ca.doc_id = p.doc_a
  JOIN m_chunks cb ON cb.doc_id = p.doc_b AND cb.chunk_id = ca.chunk_id
  GROUP BY p.doc_a, p.doc_b)
SELECT doc_a, doc_b, hamming FROM ham
WHERE hamming <= 3 ORDER BY doc_a, doc_b"""


def canonical_final_sql(rounds=6):
    """LP + quality keeper over the accumulated m_vp — the
    dedupClusterOracleSql/dedupCanonicalOracleSql tail verbatim, with vp
    read from the materialized table."""
    sb = ["""WITH clusters AS (
WITH vp AS (SELECT doc_a, doc_b FROM m_vp),
ce AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM vp
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM vp),
cl0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM ce)"""]
    for i in range(1, rounds + 1):
        sb.append(f""",
cl{i} AS MATERIALIZED (
  SELECT l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
  FROM cl{i - 1} l LEFT JOIN ce ON ce.src = l.id
  LEFT JOIN cl{i - 1} n ON n.id = ce.dst
  GROUP BY l.id, l.lbl)""")
    sb.append(f""",
guard AS (
  SELECT CASE WHEN (SELECT count(*) FROM cl{rounds} a
                    JOIN cl{rounds - 1} b ON b.id = a.id AND b.lbl <> a.lbl) > 0
    THEN error('sliced canonical oracle: label propagation not converged in {rounds} rounds')
    ELSE 0 END AS ok)
SELECT l.id AS doc_id, l.lbl AS cluster_rep
FROM cl{rounds} l, guard g WHERE g.ok = 0
),
qt AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
  FROM documents),
qm AS (
  SELECT doc_id,
    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      / length(text) AS punct_ratio,
    CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
      / len(toks) AS stop_ratio,
    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_score
  FROM qt),
qual AS (
  SELECT doc_id,
    length_score * 0.5 + (1.0 - punct_ratio) * 0.25 + stop_ratio * 0.25 AS quality
  FROM qm),
ranked AS (
  SELECT c.cluster_rep, c.doc_id, q.quality,
    row_number() OVER (PARTITION BY c.cluster_rep
      ORDER BY q.quality DESC, c.doc_id) AS rn,
    count(*) OVER (PARTITION BY c.cluster_rep) AS n_members
  FROM clusters c JOIN qual q USING (doc_id))
SELECT cluster_rep, doc_id AS keep_id, quality AS keep_quality,
  CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1 ORDER BY cluster_rep""")
    return "".join(sb)


def compare_streamed(con, oracle_sql, spark_sql, label):
    """Chunked row-by-row compare (the check_oracle.py protocol). Returns
    (n_rows, ok)."""
    CHUNK = 262144
    cur_o = con.cursor()
    cur_s = con.cursor()
    try:
        ro = cur_o.execute(oracle_sql)
        ora_cols = [d[0] for d in ro.description]
        rs = cur_s.execute(spark_sql)
        sp_cols = [d[0] for d in rs.description]
        if sorted(c.lower() for c in ora_cols) != sorted(c.lower() for c in sp_cols):
            print(f"FAIL   {label}: column mismatch spark={sorted(sp_cols)}"
                  f" oracle={sorted(ora_cols)}", flush=True)
            return 0, False
        o_ix = sorted(range(len(ora_cols)), key=lambda i: ora_cols[i].lower())
        s_ix = sorted(range(len(sp_cols)), key=lambda i: sp_cols[i].lower())
        n_rows = 0
        while True:
            o_chunk = ro.fetchmany(CHUNK)
            s_chunk = rs.fetchmany(CHUNK)
            if len(o_chunk) != len(s_chunk):
                print(f"FAIL   {label}: rowcount spark>={n_rows + len(s_chunk)}"
                      f" oracle>={n_rows + len(o_chunk)}", flush=True)
                return n_rows, False
            if not o_chunk:
                break
            for orow, srow in zip(o_chunk, s_chunk):
                a = tuple(norm(srow[i]) for i in s_ix)
                b = tuple(norm(orow[i]) for i in o_ix)
                if a != b:
                    print(f"FAIL   {label}: row {n_rows} differs "
                          f"spark={a} oracle={b}", flush=True)
                    return n_rows, False
                n_rows += 1
            del o_chunk, s_chunk
        return n_rows, True
    finally:
        cur_o.close()
        cur_s.close()
        gc.collect()


def main():
    argv = list(sys.argv[1:])
    def opt(name, default=None):
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i:i + 2]
            return v
        return default
    keep_db = "--keep-db" in argv
    if keep_db:
        argv.remove("--keep-db")
    query = opt("--query")
    n_slices = int(opt("--slices", "16"))
    db_path = opt("--db", "/tmp/heavy_slice.db")
    assert query in ("q_dedup_minhash", "q_dedup_simhash", "q_dedup_canonical"), \
        f"unsupported query {query}"
    sf_dir, out_dir = argv[0], Path(argv[1])
    res_dir = out_dir / query
    assert res_dir.exists(), f"no spark result at {res_dir}"

    t_start = time.time()
    con = duckdb.connect(db_path)
    con.execute(f"SET memory_limit='{duck_mem_limit()}'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    con.execute(f"CREATE VIEW IF NOT EXISTS documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet'")

    mat = SIMHASH_MATERIALIZE if query == "q_dedup_simhash" else MINHASH_MATERIALIZE
    for name, sql in mat:
        t0 = time.time()
        exists = con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
            [name]).fetchone()[0]
        if exists:
            print(f"[mat]  {name}: reused from {db_path}", flush=True)
            continue
        con.execute(f"CREATE TABLE {name} AS {sql}")
        rows = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"[mat]  {name}: {rows} rows ({time.time() - t0:.1f}s)", flush=True)

    spark_total = con.execute(
        f"SELECT count(*) FROM '{res_dir}/*.parquet'").fetchone()[0]

    if query == "q_dedup_canonical":
        con.execute("DROP TABLE IF EXISTS m_vp")
        con.execute("CREATE TABLE m_vp (doc_a BIGINT, doc_b BIGINT)")
        for s in range(n_slices):
            t0 = time.time()
            con.execute("INSERT INTO m_vp " +
                        minhash_slice_sql(n_slices, s, CANONICAL_SELECT))
            n = con.execute("SELECT count(*) FROM m_vp").fetchone()[0]
            print(f"[slice] vp {s + 1}/{n_slices}: cumulative {n} pairs "
                  f"({time.time() - t0:.1f}s)", flush=True)
        t0 = time.time()
        n_rows, ok = compare_streamed(
            con, canonical_final_sql(),
            f"SELECT * FROM '{res_dir}/*.parquet'", query)
        verdict = "PASS" if ok and n_rows == spark_total else "FAIL"
        print(f"{verdict}   {query}: {n_rows}/{spark_total} rows, "
              f"{n_slices} vp slices, total {time.time() - t_start:.1f}s",
              flush=True)
    else:
        total = 0
        ok_all = True
        for s in range(n_slices):
            t0 = time.time()
            if query == "q_dedup_minhash":
                o_sql = minhash_slice_sql(n_slices, s, MINHASH_SELECT)
            else:
                o_sql = simhash_slice_sql(n_slices, s)
            s_sql = (f"SELECT * FROM '{res_dir}/*.parquet' "
                     f"WHERE doc_a % {n_slices} = {s} ORDER BY doc_a, doc_b")
            n_rows, ok = compare_streamed(con, o_sql, s_sql,
                                          f"{query}[{s}/{n_slices}]")
            total += n_rows
            ok_all = ok_all and ok
            print(f"[slice] {s + 1}/{n_slices}: {n_rows} rows "
                  f"({time.time() - t0:.1f}s){'' if ok else '  FAILED'}",
                  flush=True)
            if not ok:
                break
        verdict = "PASS" if ok_all and total == spark_total else "FAIL"
        print(f"{verdict}   {query}: {total}/{spark_total} rows across "
              f"{n_slices} slices, total {time.time() - t_start:.1f}s",
              flush=True)
        ok = ok_all and total == spark_total
    con.close()
    if not keep_db:
        Path(db_path).unlink(missing_ok=True)
    sys.exit(0 if verdict == "PASS" else 1)


if __name__ == "__main__":
    main()
