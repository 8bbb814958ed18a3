"""Output checks of the last warm-up pass against independent references.

Every step's collected output is reduced to a row count plus an
order-independent hash and compared with a reference computed outside the
engine: DuckDB running the repository's oracle SQL (``plans/oracle.py``
builders and the ``__spark_entry__.oracle_sql()`` templates) over the same
generated files, or the generator's own record of what it wrote.  The
approximate LSH top-k is checked by recomputing every returned score exactly
and by its recall against the exact top-k.

A failed check is reported, never retried or loosened.
"""

from __future__ import annotations

import time
import traceback

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datafusion_bio_functions_spark.plans import oracle as osql

#: SAM flags the depth step drops by default: unmapped, secondary, QC fail,
#: duplicate (the samtools/mosdepth convention).
FLAG_MASK = 1796
#: Nearest is checked on every 5th probe (target) row: the brute-force
#: oracle ranks every same-contig read for each probe it is given.
NEAREST_PROBE_SAMPLE = "pos_start % 5 = 0"
#: Top-k queries checked exactly against the brute-force oracle.
TOPK_CHECK_QUERIES = 50
#: Lowest recall@k accepted from the approximate LSH top-k.  The clustered
#: corpus puts nearly every true neighbour in the query's own cluster; the
#: operator measures above 0.98 on it.
TOPK_MIN_RECALL = 0.8


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Type-neutral text form of every cell: integral numbers print as
    integers (a Spark long and a DuckDB double agree), others with 9
    significant digits; booleans as 0/1; NULL as a marker."""
    out = {}
    for i, c in enumerate(df.columns):
        col = df[c]
        if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
            arr = col.to_numpy(dtype=np.float64, na_value=np.nan)
            null = np.isnan(arr)
            integral = ~null & (arr == np.round(arr))
            txt = np.where(
                integral, np.where(integral, arr, 0).astype(np.int64).astype(str),
                np.char.mod("%.9g", np.where(null, 0, arr)),
            ).astype(object)
            txt[null] = "<null>"
        else:
            txt = col.astype(object).where(col.notna(), "<null>").astype(str).to_numpy()
        out[f"c{i}"] = txt
    return pd.DataFrame(out)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-independent 64-bit hash) of a frame."""
    if len(df) == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(_canon(df), index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def _compare(step, got: pd.DataFrame, ref: pd.DataFrame) -> dict:
    if set(got.columns) == set(ref.columns):
        got = got[list(ref.columns)]
    elif len(got.columns) != len(ref.columns):
        return _result(step, False, f"columns {list(got.columns)} vs reference {list(ref.columns)}")
    g, r = digest(got), digest(ref)
    return _result(step, g == r, f"rows={g[0]} hash={g[1]:016x} reference rows={r[0]} hash={r[1]:016x}")


def _result(step, ok, detail) -> dict:
    return {"step": step, "ok": bool(ok), "detail": detail}


def _pq(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}')"


# Each group's check is ``check(group, db, out, shard)``: it yields
# ``(step, got, reference)`` items, the reference being SQL text for DuckDB,
# a frame, or a callable ``(db, step, got) -> result``.

def _files(group, shard) -> dict:
    return {**shard.files, **(group.reference.files if group.reference else {})}


# ------------------------------------------------------------------ ranges

def ranges(group, db, out, shard):
    files = _files(group, shard)
    reads, targets = _pq(files["reads"]), _pq(files["targets"])
    db.execute(f"CREATE VIEW reads AS {reads}")
    db.execute(f"CREATE VIEW targets AS {targets}")
    sampled = f"SELECT * FROM targets WHERE {NEAREST_PROBE_SAMPLE}"
    near = out["operators.intervals.nearest"].to_pandas()
    near = near[near["right_pos_start"] % 5 == 0]
    yield "sql_surface.bio_sql", out["sql_surface.bio_sql"].to_pandas(), group.sql
    # A probe with no read on its contig has NULL left columns and a NULL
    # distance (the library's contract, pinned in tests/test_intervals.py and
    # tests/test_reference_pinned.py).  The oracle's greatest() skips the
    # NULL operands and reports 0 there, so its distance is nulled likewise.
    nearest_ref = (
        "SELECT * REPLACE (CASE WHEN left_contig IS NULL THEN NULL ELSE distance END "
        f"AS distance) FROM ({osql.nearest_sql('SELECT * FROM reads', sampled, k=1)})"
    )
    yield "operators.intervals.nearest", near, nearest_ref


# ------------------------------------------------------------------ pileup

def _segments(truth: pa.Table) -> pa.Table:
    """Reference blocks of every alignment the depth step keeps: M/=/X runs
    count, D/N advance the reference, I/S do not."""
    t = truth.to_pandas()
    t = t[(t["flags"] & FLAG_MASK) == 0]
    chrom, start, length = [], [], []
    for c, s, cig in zip(t["chrom"], t["start"], t["cigar"]):
        pos, num = int(s), 0
        for ch in cig:
            if ch.isdigit():
                num = num * 10 + ord(ch) - 48
                continue
            if ch in "M=X":
                chrom.append(c); start.append(pos); length.append(num)
            if ch in "M=XDN":
                pos += num
            num = 0
    return pa.table({"chrom": chrom, "start": pa.array(start, pa.int64()),
                     "ref_len": pa.array(length, pa.int64())})


def pileup(group, db, out, shard):
    truth = pq.read_table(shard.truth)
    db.register("segs", _segments(truth))
    blocks = osql.depth_blocks_sql("SELECT * FROM segs")
    yield "sources.bam.read_bam", out["sources.bam.read_bam"].to_pandas(), truth.to_pandas()
    yield "operators.pileup.depth", out["operators.pileup.depth"].to_pandas(), blocks


# --------------------------------------------------------------------- vep

def _vcf_sql(path):
    """VCF body lines split into the eight fixed columns, positions typed."""
    return f"""
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS line FROM read_text('{path}')
), p AS (
  SELECT string_split(line, chr(9)) AS p FROM lines
  WHERE line <> '' AND NOT starts_with(line, '#')
)
SELECT p[1] AS chrom, CAST(p[2] AS BIGINT) AS start,
       CAST(p[2] AS BIGINT) + length(p[4]) - 1 AS "end", p[3] AS id, p[4] AS ref,
       p[5] AS alt, p[6] AS qual, p[7] AS filter, p[8] AS info
FROM p"""


#: Known-variant match of ANNOTATE_VEP_ORACLE_TMPL's ``look`` CTE, on
#: VEP-normalized coordinates (indels drop their shared anchor base).
LOOK_SQL = """
WITH v AS (
  SELECT *,
    CASE WHEN length(ref) = 1 AND length(alt) = 1 THEN start ELSE start + 1 END AS nstart,
    CASE WHEN length(ref) = 1 AND length(alt) = 1 THEN start
         ELSE start + length(ref) - 1 END AS nend,
    CASE WHEN length(ref) = 1 AND length(alt) = 1 THEN ref || '/' || alt
         ELSE coalesce(nullif(substr(ref, 2), ''), '-') || '/'
              || coalesce(nullif(substr(alt, 2), ''), '-') END AS nallele
  FROM vcf)
SELECT v.chrom, v.start, v."end", v.ref, v.alt, c.variation_name, c.clin_sig,
       (c.variation_name IS NOT NULL) AS matched
FROM v LEFT JOIN cache c
  ON v.chrom = c.chrom AND v.nstart = c.start AND v.nend = c."end"
 AND c.allele_string = v.nallele"""


#: Columns of the annotate_vep output the oracle template reproduces.
LOOK_COLS = ["chrom", "start", "end", "ref", "alt", "variation_name", "clin_sig", "matched"]
TEMPLATE_COLS = LOOK_COLS + ["existing_variation", "most_severe_consequence", "impact"]


def _annotate_vep_check(db, step, got: pd.DataFrame) -> dict:
    """Every row's lookup columns against LOOK_SQL, and the SNV rows'
    consequence columns against ``__spark_entry__``'s annotate_vep oracle
    template (its severity cascade is written for SNVs on the transcript
    geometry the generator uses)."""
    from __spark_entry__ import ANNOTATE_VEP_ORACLE_TMPL

    look = _compare(step, got[LOOK_COLS], db.execute(LOOK_SQL).df())
    snv = got[(got["ref"].str.len() == 1) & (got["alt"].str.len() == 1)]
    ref = db.execute(ANNOTATE_VEP_ORACLE_TMPL.format(
        vcf="SELECT * FROM vcf WHERE length(ref) = 1 AND length(alt) = 1",
        cache="SELECT * FROM cache", tx="SELECT * FROM transcripts",
    )).df()
    csq = _compare(step, snv[TEMPLATE_COLS], ref)
    return _result(step, look["ok"] and csq["ok"],
                   f"all rows, lookup: {look['detail']}; SNV rows, consequence: {csq['detail']}")


def vep(group, db, out, shard):
    files = _files(group, shard)
    db.execute(f"CREATE VIEW vcf AS {_vcf_sql(files['vcf'])}")
    db.execute(f"CREATE VIEW cache AS {_pq(files['cache'])}")
    db.execute(f"CREATE VIEW transcripts AS {_pq(files['transcripts'])}")
    yield ("sources.readers.read_vcf", out["sources.readers.read_vcf"].to_pandas(),
           "SELECT * FROM vcf")
    step = "operators.vep.annotate_vep"
    yield step, out[step].to_pandas(), _annotate_vep_check


# ------------------------------------------------------------------- dedup

def _topk_check(db, step, got: pd.DataFrame, k: int = 10) -> dict:
    got = got[got["query_id"] < TOPK_CHECK_QUERIES]
    db.register("got", got[["query_id", "neighbor_id", "cosine_sim"]])
    exact = osql.cosine_topk_sql(
        f"SELECT * FROM vectors WHERE vec_id < {TOPK_CHECK_QUERIES}", "SELECT * FROM vectors", k=k
    )
    truth = db.execute(exact).df()
    # every returned score recomputed exactly
    rescored = db.execute(
        "SELECT count(*) FROM got g JOIN vectors q ON q.vec_id = g.query_id "
        "JOIN vectors c ON c.vec_id = g.neighbor_id "
        "WHERE abs(g.cosine_sim - list_cosine_similarity(q.embedding, c.embedding)) < 1e-9"
    ).fetchone()[0]
    hits = len(set(zip(got["query_id"], got["neighbor_id"]))
               & set(zip(truth["query_id"], truth["neighbor_id"])))
    recall = hits / max(len(truth), 1)
    ok = rescored == len(got) and recall >= TOPK_MIN_RECALL
    db.unregister("got")
    return _result(step, ok, f"rows={len(got)} exact_scores={rescored} "
                   f"recall@{k}={recall:.4f} (min {TOPK_MIN_RECALL}) over {TOPK_CHECK_QUERIES} queries")


def dedup(group, db, out, shard):
    files = _files(group, shard)
    db.execute(f"CREATE VIEW docs AS {_pq(files['docs'])}")
    db.execute(f"CREATE VIEW vectors AS {_pq(files['vectors'])}")
    kept = out["operators.dedup.exact_dedup"].to_pandas()[["doc_id"]]
    yield ("operators.dedup.exact_dedup", kept,
           f"SELECT keep_id FROM ({osql.exact_dedup_groups_sql('SELECT * FROM docs')})")
    step = "operators.similarity.lsh_cosine_topk"
    yield step, out[step].to_pandas(), _topk_check


def _guarded(items, group):
    """Yield the check items; an error while building them ends the group
    with one failed result that carries the traceback."""
    try:
        yield from items
    except Exception:
        yield f"{group}: reference setup", None, traceback.format_exc(limit=3)


def run_checks(warm: dict, groups) -> list[dict]:
    """Check every step of the last warm-up pass; one result per step."""
    results = []
    out = warm["outputs"]
    for g, shard in zip(groups, warm["shards"]):
        db = duckdb.connect()
        try:
            items = g.check(db, out, shard)
            for step, got, ref in _guarded(items, g.name):
                t0 = time.perf_counter()
                try:
                    if got is None:
                        results.append(_result(step, False, ref))
                    elif callable(ref):
                        results.append(ref(db, step, got))
                    else:
                        ref_df = ref if isinstance(ref, pd.DataFrame) else db.execute(ref).df()
                        results.append(_compare(step, got, ref_df))
                except Exception:  # one broken check must not hide the others
                    results.append(_result(step, False, traceback.format_exc(limit=2)))
                results[-1]["detail"] += f" [{time.perf_counter() - t0:.2f}s]"
        finally:
            db.close()
    checked = {r["step"] for r in results}
    for g in groups:
        for s in g.steps:
            if s.name not in checked:
                results.append(_result(s.name, False, "no check ran"))
    return results
