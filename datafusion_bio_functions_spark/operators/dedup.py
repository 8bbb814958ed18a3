"""Document deduplication operators for training-data pipelines.

Four families, all shuffle-parallel DataFrame plans (no driver-side loops):

* ``exact_dedup``          — hash-groupBy on a normalized fingerprint.
* ``minhash_lsh_*``        — char-shingles → minhash signature → banded LSH
  bucket join → exact Jaccard verification.  The banding join reuses the
  same equi-join-on-derived-key skeleton as the genomic binned interval
  join: explode to (band, band_hash) keys, self-join, verify exactly.
* ``simhash_dedup``        — 64-bit simhash + chunked-bands Hamming join.
* ``embedding near-dups``  — see ``operators/similarity.py`` (cosine > t).

Everything up to verification is built-in JVM expressions (xxhash64,
transform/aggregate higher-order functions); no Python in the hot path.
"""

from __future__ import annotations

import random
import weakref
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint
from ._probe_memo import ProbeMemo, plan_key

def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a compute-heavy
    per-row stage.  A small parquet table arrives as one or two file
    partitions — without this, the signature/shingling stage runs on one
    core regardless of cluster size (sf1 probe: the whole minhash signature
    pass sat in a single task).  No-op when the input is already as
    parallel as the cluster."""
    if df.isStreaming:
        return df  # micro-batch parallelism is the source's concern
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


#: Mersenne prime 2^31-1: universal-hash modulus.  Coefficients and reduced
#: hash values stay below 2^31 so ``a*h + b`` peaks at ~2^62 — inside the
#: positive Long range even with Spark's ANSI overflow checking.  31-bit
#: minhash space is ample (collision odds ~n²/2^32 per permutation).
_MERSENNE = (1 << 31) - 1


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    output: str = "kept",
) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint.

    ``output='kept'``   → original rows, one representative (min id) per group.
    ``output='groups'`` → ``(fingerprint, keep_id, n_dups)`` summary.

    NULL texts dedup among THEMSELVES (missing content is byte-identical
    to missing content — the null fingerprint forms one group) but never
    against the empty string, whose fingerprint is a real hash.
    """
    # spread first: a few-row-group parquet arrives as 1-5 scan partitions,
    # which would serialize the md5+regexp fingerprint pass (sf10 probe:
    # 2-partition scan ran the whole corpus on 2 cores)
    fp = _ensure_parallelism(df).withColumn("fingerprint", doc_fingerprint(text_col))
    if output == "groups":
        return fp.groupBy("fingerprint").agg(
            F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
        )
    if output == "kept":
        w = Window.partitionBy("fingerprint").orderBy(id_col)
        return (
            fp.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "fingerprint")
        )
    raise ValueError(f"unknown output mode {output!r}")


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    stride: int = 10,
    output: str = "doc_stats",
) -> DataFrame:
    """Span-level EXACT substring duplication over a document corpus — the
    windowed re-expression of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): slide a
    ``window``-char window with ``stride`` over the normalized text, and a
    window whose exact content appears in ≥2 DISTINCT documents is a
    duplicated span.  Complements the doc-level family (exact/minhash/
    simhash/ngram): it catches shared boilerplate headers, quoted blocks,
    and template fragments inside otherwise-unique documents.

    ``output='doc_stats'`` → one row per windowable doc:
    ``(doc_id, total_windows, dup_windows, dup_ratio)``.
    ``output='spans'`` → the flagged ``(doc_id, win_pos, win_hash)`` rows.

    Scale shape: window hashing is a JVM higher-order-function expression
    (no Python), the cross-doc test is ONE hash shuffle
    (groupBy(win_hash) with map-side partial countDistinct), and docs get
    flags back via a left-semi hash join keyed on the same column — no
    all-pairs stage anywhere.  Within-doc repeats do not count as
    duplication (countDistinct(doc) ≥ 2), matching the training-data
    definition.
    """
    if window < 2 or stride < 1:
        raise ValueError(f"window must be ≥2 and stride ≥1, got {window}/{stride}")
    if output not in ("doc_stats", "spans"):
        raise ValueError(f"unknown output mode {output!r}")
    norm = (
        _ensure_parallelism(df)
        .select(F.col(id_col), _norm_text(text_col).alias("__norm"))
        .filter(F.length("__norm") >= window)
    )
    if output == "spans":
        wins = norm.select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.length("__norm") - (window - 1), F.lit(stride)
                    ),
                    lambda i: F.struct(
                        i.alias("win_pos"),
                        F.xxhash64(F.col("__norm").substr(i, F.lit(window))).alias(
                            "win_hash"
                        ),
                    ),
                )
            ).alias("__w"),
        ).select(id_col, F.col("__w.win_pos"), F.col("__w.win_hash"))
        dup_hashes = (
            wins.groupBy("win_hash")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .filter(F.col("__nd") >= 2)
            .select("win_hash")
        )
        return wins.join(dup_hashes, "win_hash", "left_semi").select(
            id_col, "win_pos", "win_hash"
        )
    # doc_stats: positions are never emitted, so the explode can carry bare
    # hashes and — the big one — run ONCE.  The old shape computed the
    # exploded-window subtree three times (countDistinct aggregate, the
    # semi-join probe, and the per-doc totals); total_windows is a pure
    # function of the normalized length (the sequence arithmetic), and the
    # dup test folds into groupBy(hash, doc) + per-hash count + groupBy(doc)
    # — partial map-side aggregation collapses within-doc repeats before
    # the first exchange (guide §2.3/§2.4).
    wins = norm.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.length("__norm") - (window - 1), F.lit(stride)
                ),
                lambda i: F.xxhash64(F.col("__norm").substr(i, F.lit(window))),
            )
        ).alias("win_hash"),
    )
    grp = wins.groupBy("win_hash", id_col).agg(F.count(F.lit(1)).alias("__c"))
    # rows are distinct (hash, doc) pairs, so count(*) per hash == the old
    # countDistinct(doc); a window keeps hot boilerplate hashes spillable
    # instead of materializing per-hash doc lists
    wnd = Window.partitionBy("win_hash")
    dups = (
        grp.withColumn("__nd", F.count(F.lit(1)).over(wnd))
        .filter(F.col("__nd") >= 2)
        .groupBy(id_col)
        .agg(F.sum("__c").alias("dup_windows"))
    )
    totals = norm.select(
        F.col(id_col),
        (
            F.floor((F.length("__norm") - F.lit(window)) / F.lit(stride)) + 1
        ).cast("long").alias("total_windows"),
    )
    return (
        totals.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col("total_windows"),
            F.coalesce(F.col("dup_windows"), F.lit(0)).alias("dup_windows"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("dup_windows") / F.col("total_windows"), 6),
        )
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


#: surrogate content for NULL texts in the near-dup generators: keeps the
#: null≡null grouping while never colliding with the empty string (real
#: text cannot contain NUL bytes after normalization)
_NULL_TEXT_SENTINEL = "\x00__null_text__\x00"


def _norm_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def _perm_coeffs(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(num_perm)]


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    gram: str = "char",
) -> DataFrame:
    """Append ``shingles`` (array<long>, distinct gram hashes) and
    ``signature`` (array<long>, ``num_perm`` minimums of universal hashes
    ``a*h+b mod 2^31-1``).

    ``gram='char'``: k-char shingles of the normalized text.
    ``gram='word'``: word ``shingle_k``-grams — on single-space-normalized
    text every word n-gram is a contiguous substring, so the arrow path
    hashes variable-length windows with ONE pass of wrap-around polynomial
    prefix sums (base is odd → invertible mod 2^64, so a segment hash is
    ``(csum[e] - csum[s-1]) * base^-s``) — no per-token Python loop.

    Shingling + signature run in ONE vectorized numpy pandas UDF.  Catalyst
    higher-order functions (``transform`` / ``aggregate``) are
    *interpreted*, not codegen'd — evaluating num_perm × n_shingles lambda
    calls per document row-at-a-time is ~20× slower than the Arrow batch
    path at sf0.1 (48 s → ~2 s)."""
    if gram not in ("char", "word"):
        raise ValueError(f"gram must be 'char' or 'word', got {gram!r}")

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    coeffs = _perm_coeffs(num_perm, seed)
    a_flat = np.array([a for a, _ in coeffs], dtype=np.uint64)
    b_flat = np.array([b for _, b in coeffs], dtype=np.uint64)
    m_np = np.uint64(_MERSENNE)
    base = np.uint64(1099511628211)  # FNV-1a prime as polynomial base
    inv_base = np.uint64(pow(1099511628211, -1, 1 << 64))  # base is odd
    pows = base ** np.arange(shingle_k, dtype=np.uint64)  # mod-2^64 wrap is fine
    k = shingle_k
    gram_mode = gram

    res_type = T.StructType(
        [
            T.StructField("shingles", T.ArrayType(T.LongType()), False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )

    @F.pandas_udf(res_type, F.PandasUDFType.SCALAR)
    def _shingle_sig(texts):
        # batch-vectorized: one concatenated byte buffer, polynomial prefix
        # sums for the gram hashes, per-permutation minimum.reduceat for the
        # signatures, one global lexsort for the distinct shingle sets — no
        # per-document (or per-token) numpy round-trips.
        bufs = []
        for txt in texts:
            b = " ".join(str(txt or "").lower().split()).encode("utf-8")
            if gram_mode == "char" and len(b) < k:
                b = b + b"\x00" * (k - len(b))
            elif not b:
                b = b"\x00"
            bufs.append(b)
        n_docs = len(bufs)
        lens = np.array([len(b) for b in bufs], dtype=np.int64)
        dstarts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        raw = np.frombuffer(b"".join(bufs), dtype=np.uint8)

        if gram_mode == "char":
            # fixed-width windows: k accumulation passes
            nw = len(raw) - (k - 1)  # windows incl. doc-crossing ones
            gv = np.zeros(nw, dtype=np.uint64)
            for j in range(k):
                gv += raw[j : j + nw].astype(np.uint64) * pows[j]
            gdoc = np.searchsorted(dstarts, np.arange(nw), "right") - 1
            # windows starting in doc i are valid iff offset <= end-k
            valid = np.arange(nw) <= (dstarts + lens - k)[gdoc]
            seg = dstarts[dstarts < nw]  # reduceat segment starts (per doc)
        else:
            # word n-grams = variable-length substrings of the normalized
            # text; segment hash via invertible-base prefix sums:
            # poly(s..e) = (csum[e] - csum[s-1]) * base^-s  (mod 2^64)
            n_bytes = len(raw)
            powg = np.full(n_bytes, base, dtype=np.uint64)
            powg[0] = 1
            powg = powg.cumprod()
            invpow = np.full(n_bytes, inv_base, dtype=np.uint64)
            invpow[0] = 1
            invpow = invpow.cumprod()
            cs = np.cumsum(raw.astype(np.uint64) * powg, dtype=np.uint64)
            sp = np.nonzero(raw == 32)[0]  # spaces never end a doc
            ts = np.unique(np.concatenate((dstarts, sp + 1)))  # token starts
            tdoc = np.searchsorted(dstarts, ts, "right") - 1
            next_ts = np.concatenate((ts[1:], [n_bytes]))
            same_doc = np.concatenate((tdoc[1:] == tdoc[:-1], [False]))
            te = np.where(same_doc, next_ts - 2, (dstarts + lens)[tdoc] - 1)
            tok_off = np.searchsorted(tdoc, np.arange(n_docs + 1))
            m = tok_off[1:] - tok_off[:-1]  # tokens per doc
            mg = np.maximum(m - (k - 1), 1)  # grams per doc (short doc → 1)
            seg = np.concatenate(([0], np.cumsum(mg)))[:-1]
            total = int(mg.sum())
            gdoc = np.repeat(np.arange(n_docs), mg)
            local = np.arange(total) - np.repeat(seg, mg)
            t0 = np.repeat(tok_off[:-1], mg) + local
            t1 = np.minimum(t0 + (k - 1), np.repeat(tok_off[1:], mg) - 1)
            s = ts[t0]
            e = te[t1]
            seg_sum = cs[e] - np.where(
                s > 0, cs[np.maximum(s - 1, 0)], np.uint64(0)
            )
            gv = seg_sum * invpow[s]
            valid = np.ones(total, dtype=bool)

        gm = gv % m_np
        big_ = np.uint64(np.iinfo(np.int64).max)
        sig = np.empty((len(a_flat), n_docs), dtype=np.uint64)
        for p in range(len(a_flat)):
            hp = (a_flat[p] * gm + b_flat[p]) % m_np
            if not valid.all():
                hp = np.where(valid, hp, big_)
            sig[p, : len(seg)] = np.minimum.reduceat(hp, seg)
        # distinct shingles per doc: one global stable sort + dedupe
        vi = np.nonzero(valid)[0]
        vdoc = gdoc[vi]
        vg = gv[vi]
        order = np.lexsort((vg, vdoc))
        sd, sg = vdoc[order], vg[order]
        keep = np.ones(len(sd), dtype=bool)
        keep[1:] = (sd[1:] != sd[:-1]) | (sg[1:] != sg[:-1])
        sd, sg = sd[keep], sg[keep]
        bounds = np.searchsorted(sd, np.arange(n_docs + 1))
        sh_out = [
            sg[bounds[i] : bounds[i + 1]].view(np.int64) for i in range(n_docs)
        ]
        sig_out = [sig[:, i].astype(np.int64) for i in range(n_docs)]
        return pd.DataFrame({"shingles": sh_out, "signature": sig_out})

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return (
        _ensure_parallelism(df).withColumn("__ss", _shingle_sig(c))
        .withColumn("shingles", F.col("__ss.shingles"))
        .withColumn("signature", F.col("__ss.signature"))
        .drop("__ss")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (already distinct).

    Equal-array shortcut: near-dup corpora are dominated by EXACT
    duplicates whose shingle arrays are byte-identical — array equality is
    a cheap ordered comparison, while ``array_intersect`` hashes every
    element per pair (interpreted).  ``a == b`` implies identical sets ⇒
    J = 1 regardless of element order, and unequal arrays fall through to
    the exact intersect, so the shortcut never changes a value (measured:
    59 % of sf1 LSH candidates shortcut; verify stage 4.6 s → 2.4 s)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return (
        F.when((F.size(a) > 0) & (a == b), F.lit(1.0))
        .when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 8,
) -> DataFrame:
    """Candidate pairs via banded LSH: signature sliced into ``bands`` bands
    of ``r = num_perm / bands`` rows; pairs sharing any band bucket,
    ``id_a < id_b``, distinct.  Output: (id_a, id_b) ONLY — shingle arrays
    are joined back later so the (possibly huge) candidate shuffle carries
    two longs per row, not two multi-KB arrays.  Pick ``bands`` for the
    target threshold: the banding S-curve midpoint is ``(1/bands)^(1/r)``
    (r=8, b=8 → ≈0.77 — right for near-dup thresholds ≥0.8)."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows = num_perm // bands
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice(F.col("signature"), b * rows + 1, rows)),
            )
        ).alias("band", "band_hash"),
    )
    left = banded.select(F.col("id").alias("id_a"), "band", "band_hash")
    right = banded.select(F.col("id").alias("id_b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


#: bounded dup-rate probe for collapse_exact='auto': sample size and the
#: sampled duplicate fraction above which the collapse pays for itself.
#: The collapse costs ~two extra corpus shuffles (group + member map) and
#: saves dup_rate x (signature+banding+verify), so it only clearly wins
#: when duplicates DOMINATE: measured at sf0.1 (0.16-25 % dups)
#: minhash_pairs regressed 2.7 -> 3.8 s under an unconditional collapse,
#: vs 4-7x wins at sf1/sf10 (90-99 % dups).
_COLLAPSE_PROBE_ROWS = 100_000
_COLLAPSE_MIN_DUP = 0.50
_COLLAPSE_MEMO = ProbeMemo()


def _should_collapse(df: DataFrame, text_col: str) -> bool:
    """Bounded duplicate-rate probe (``limit(100k)`` + exact distinct count
    over md5 fingerprints — one O(sample) job regardless of table size),
    memoized by semantic plan + file fingerprint like the interval-join
    probes.  Collapse only when the sampled duplicate fraction clears
    ``_COLLAPSE_MIN_DUP``."""

    def probe() -> bool:
        samp = df.select(
            F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit(""))).alias("__fp")
        ).limit(_COLLAPSE_PROBE_ROWS)
        row = samp.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("__fp").alias("u")
        ).collect()[0]
        dup = 1.0 - row["u"] / row["n"] if row["n"] else 0.0
        return dup >= _COLLAPSE_MIN_DUP

    return _COLLAPSE_MEMO.get_or_probe(lambda: (plan_key(df), text_col), probe)


def _exact_collapse(df: DataFrame, text_col: str, id_col: str):
    """Group byte-identical texts ahead of a near-dup pipeline: returns
    ``(groups, reps, member_map)`` where ``reps`` carries one
    (min-id, text) row per distinct text and ``member_map`` maps every
    original id to its group representative.  The groupBy is the same
    hash-aggregate shape as ``exact_dedup`` — one shuffle of the corpus,
    repaid whenever the duplication factor exceeds ~1 because the
    signature/banding/verify stages then run on distinct texts only."""
    txt = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    members = _ensure_parallelism(df).select(
        F.col(id_col).alias("__mid"), txt.alias("__txt")
    )
    groups = (
        members.groupBy("__txt")
        .agg(F.min("__mid").alias(id_col), F.count(F.lit(1)).alias("__gn"))
        .persist()
    )
    reps = groups.select(id_col, F.col("__txt").alias(text_col))
    # persist: the expansion consumes the map up to four times (both sides
    # of the cross join + both sides of the within self-join); without the
    # cache each use re-scans the corpus and re-runs the text join.  Two
    # longs per row — far smaller than the corpus it replaces.
    member_map = (
        members.join(groups.select("__txt", F.col(id_col).alias("__rep")), "__txt")
        .select(F.col("__mid").alias("__id"), "__rep")
        .persist()
    )
    return groups, reps, member_map


def _expand_collapsed_pairs(
    verified: DataFrame,
    member_map: DataFrame,
    score_col: str,
    within_value: Column | None,
) -> DataFrame:
    """Expand representative-level verified pairs back to all member ids.
    Cross-group pairs inherit the representatives' score (identical texts
    ⇒ identical shingle sets / signatures); within-group pairs — exact
    duplicates — get ``within_value`` (J=1 / hamming=0), or are omitted
    when ``within_value`` is None (threshold excludes even exact dups).
    Output is re-canonicalized to id_a < id_b: group rep order need not
    match member id order."""
    vp = verified.select(
        F.col("id_a").alias("__ra"), F.col("id_b").alias("__rb"), score_col
    )
    cross = (
        vp.join(
            member_map.select(F.col("__rep").alias("__ra"), F.col("__id").alias("__ia")),
            "__ra",
        )
        .join(
            member_map.select(F.col("__rep").alias("__rb"), F.col("__id").alias("__ib")),
            "__rb",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            score_col,
        )
    )
    if within_value is None:
        return cross
    m1 = member_map.select("__rep", F.col("__id").alias("id_a"))
    m2 = member_map.select("__rep", F.col("__id").alias("id_b"))
    within = (
        m1.join(m2, "__rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", within_value.alias(score_col))
    )
    return cross.unionByName(within)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    output: str = "pairs",
    gram: str = "char",
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """MinHash-LSH near-duplicate detection with exact Jaccard verification.
    ``gram='word'`` shingles on word ``shingle_k``-grams instead of char
    k-grams (the engine behind :func:`ngram_jaccard_dedup`).

    ``output='pairs'`` → verified ``(id_a, id_b, jaccard)`` pairs ≥ threshold.
    ``output='kept'``  → rows whose id is not dominated by a smaller-id
    near-duplicate (single-pass representative: min neighbor id; documented
    approximation of full connected components — transitive chains collapse
    to their minimum via the dominance rule applied once).
    ``output='components'`` → ``(id, component)`` connected components of
    the near-dup graph, FUSED with the exact-duplicate collapse: CC runs on
    representative-level edges and members are assigned through one
    member_map join — identical to
    ``connected_components(minhash_dedup(output='pairs'))`` but linear in
    members where the expanded within-group pairs are quadratic.

    ``collapse_exact``: byte-identical texts are grouped and only one
    representative per group enters the shingle/signature/LSH/verify
    pipeline; results are expanded back to all member ids afterwards.
    Lossless — identical texts have identical shingle SETS, so
    within-group pairs are exactly J=1 and any cross-group pair has the
    same jaccard as its representatives, and identical signatures mean
    LSH candidate recall is unchanged.  Web-scale corpora are dominated by
    exact duplicates (sf1 testdata: 90 %), so this cuts the expensive
    stages by the duplication factor while the collapse itself is one
    hash-groupBy on the text — the same shape ``exact_dedup`` already
    runs.  ``'auto'`` (default) decides by a memoized bounded dup-rate
    probe (``_should_collapse``): on when duplicates dominate the
    sample (≥50 %), off below (the extra stages outweigh the savings
    unless the representative set is much smaller than the corpus).
    """
    # NULL texts dedup among THEMSELVES but never against genuinely EMPTY
    # documents: the Arrow shingle kernel coerces None to "", so without a
    # sentinel every malformed (null-text) row would near-dup-pair with
    # every empty document.  The sentinel keeps null≡null (exact_dedup's
    # null-fingerprint group) while separating it from "".
    content = df.withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(_NULL_TEXT_SENTINEL))
    )
    if collapse_exact == "auto":
        collapse_exact = _should_collapse(content, text_col)
    if collapse_exact:
        groups, reps, member_map = _exact_collapse(content, text_col, id_col)
    else:
        groups = None
        reps = content
    # shingling + signatures are the expensive stage and feed three
    # consumers (band join + two shingle joins).  A lazy .persist() does
    # NOT deduplicate that work: AQE submits the three consumer stages
    # CONCURRENTLY, and each computes the signature UDF before any cache
    # block is published (measured r11: three parallel 2.2 s
    # ArrowEvalPython stages over the same corpus in one run).  An eager
    # localCheckpoint is the real barrier — the kernel runs exactly once
    # and every consumer reads the materialized blocks (MEMORY_AND_DISK,
    # freed when the returned plan is GC'd); this is also the 100 TB
    # shape: signature passes are write-once/read-many in any minhash
    # pipeline, and computing the dominant per-doc kernel 3x is 3x the
    # cluster bill.
    sigs = minhash_signature(
        reps, text_col, num_perm, shingle_k, seed, gram=gram
    ).localCheckpoint(eager=True)
    cand = minhash_lsh_candidates(sigs, id_col, num_perm, bands)
    shingle_side = sigs.select(F.col(id_col), F.col("shingles"))
    verified = (
        cand.join(
            shingle_side.select(
                F.col(id_col).alias("id_a"), F.col("shingles").alias("shingles_a")
            ),
            "id_a",
        )
        .join(
            shingle_side.select(
                F.col(id_col).alias("id_b"), F.col("shingles").alias("shingles_b")
            ),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("shingles_a"), F.col("shingles_b")))
        .filter(F.col("jaccard") >= threshold)
    )
    if output == "pairs":
        if collapse_exact:
            verified = _expand_collapsed_pairs(
                verified, member_map, "jaccard",
                within_value=F.lit(1.0) if threshold <= 1.0 else None,
            )
        out = verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    elif output == "components":
        # fused near-dup components: run CC on REPRESENTATIVE-level edges
        # and assign members through one member_map join — identical output
        # to connected_components(minhash_dedup(output='pairs')) but linear
        # in members where the expanded within-group pairs are quadratic (a
        # text duplicated g times emits g²/2 pairs; at web scale a viral
        # boilerplate duplicated millions of times makes the pair output
        # itself the bottleneck).  Semantics: members of a multi-member
        # exact-dup group unify with their representative (their expanded
        # pairs all carry J=1, admitted whenever threshold ≤ 1), and cross
        # pairs unify representative groups; component = min member id
        # (representatives are group minima, so the rep-level minimum IS
        # the member-level minimum).
        if collapse_exact:
            rep_cc = connected_components(
                verified.select("id_a", "id_b")
            ).select(
                F.col("id").alias("__rep"), F.col("component").alias("__comp")
            )
            gsz = groups.select(F.col(id_col).alias("__rep"), "__gn")
            in_graph = F.col("__comp").isNotNull()
            if threshold <= 1.0:
                in_graph = in_graph | (F.col("__gn") > 1)
            out = (
                member_map.join(rep_cc, "__rep", "left")
                .join(gsz, "__rep")
                .filter(in_graph)
                .select(
                    F.col("__id").alias("id"),
                    F.coalesce("__comp", F.col("__rep")).alias("component"),
                )
            )
        else:
            out = connected_components(verified.select("id_a", "id_b"))
    elif output == "kept":
        if collapse_exact:
            # dominance without the (quadratic) pair expansion: a non-rep
            # member is dominated by its group rep (their J=1 pair, when
            # threshold admits it), and for a verified rep pair (ra < rb)
            # every member of rb's group is dominated by ra (each pairs
            # with ra, and ra < rb <= member id).  Equivalent to the
            # expanded-pairs rule, but linear in group size — a viral
            # text duplicated millions of times stays O(members).
            dom_cross = verified.select(F.col("id_b").alias("__rep")).distinct().join(
                member_map, "__rep"
            ).select(F.col("__id").alias(id_col))
            if threshold <= 1.0:
                dom_within = member_map.filter(F.col("__id") > F.col("__rep")).select(
                    F.col("__id").alias(id_col)
                )
                dominated = dom_cross.unionByName(dom_within).distinct()
            else:
                dominated = dom_cross.distinct()
        else:
            dominated = verified.select(F.col("id_b").alias(id_col)).distinct()
        out = df.join(dominated, id_col, "left_anti")
    else:
        raise ValueError(f"unknown output mode {output!r}")
    weakref.finalize(out, _unpersist_quietly, sigs)
    if groups is not None:
        weakref.finalize(out, _unpersist_quietly, groups)
        weakref.finalize(out, _unpersist_quietly, member_map)
    return out


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist(False)
    except Exception:  # session already stopped — nothing to release
        pass


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def _simhash_bit_sum(hashes: Column, i: int) -> Column:
    """Sum of ±1 over token hashes for bit position ``i`` (python literal —
    shiftright requires a literal shift amount)."""

    def step(acc: Column, h: Column) -> Column:
        return acc + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    return F.aggregate(hashes, F.lit(0), step)


def md5_token_hash64(t: Column) -> Column:
    """First 8 bytes of md5(token) as a signed-64 bit pattern, assembled from
    two 32-bit hex halves (``conv`` of 8 hex chars fits a long; ``shiftleft``
    wraps bits, matching the unsigned layout).  Engine-neutral: a SQL oracle
    parses the same 16 hex chars (DuckDB ``('0x' || substr(md5(t),1,16))
    ::UBIGINT``) to the identical bit pattern."""
    hx = F.md5(t)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64(col: Column | str, hash_method: str = "xxhash64") -> Column:
    """64-bit SimHash of the token multiset, entirely in JVM expressions:
    per-token hash, then for each of the 64 bit positions the sign of
    the ±1 token vote sum (positions unrolled Python-side into one
    expression tree; bit 63 is Long's sign bit).

    ``hash_method='xxhash64'`` (fastest) or ``'md5'`` (engine-neutral token
    hash reproducible by a DuckDB/ANSI-SQL oracle).  Interpreted expression
    tree — :func:`simhash_dedup` scores in bulk with an Arrow kernel."""
    if hash_method not in ("xxhash64", "md5"):
        raise ValueError(f"hash_method must be 'xxhash64' or 'md5', got {hash_method!r}")
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), " ")
    if hash_method == "md5":
        hashes = F.transform(toks, md5_token_hash64)
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    out = F.lit(0).cast("long")
    for i in range(64):
        mask = (1 << i) if i < 63 else -(1 << 63)  # signed-long top bit
        out = out.bitwiseOR(
            F.when(_simhash_bit_sum(hashes, i) > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def _simhash64_arrow_udf():
    """Arrow-batched simhash (md5 token hashes): one numpy bit-vote matrix
    per document instead of 64 interpreted ``aggregate`` passes per row
    (~10× less expression-walk overhead at sf0.1).  Bit-identical to
    ``simhash64(hash_method='md5')``: same single-space tokenization, same
    big-endian first-8-md5-bytes hash, same strict ``votes > 0`` bit rule."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    shifts = np.arange(64, dtype=np.uint64)[None, :]

    # no type hints: string hints fail to resolve against local imports
    @F.pandas_udf(T.LongType(), F.PandasUDFType.SCALAR)
    def _sim(texts):
        out = []
        # natural-language batches repeat the same tokens across documents:
        # hash each distinct token once per batch (vocab ≪ token count)
        hcache: dict[str, int] = {}
        md5 = hashlib.md5
        for txt in texts:
            toks = str("" if txt is None else txt).strip(" ").lower().split(" ")
            hs = np.empty(len(toks), dtype=np.uint64)
            for j, t in enumerate(toks):
                h = hcache.get(t)
                if h is None:
                    h = int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
                    hcache[t] = h
                hs[j] = h
            bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            val = 0
            for i in range(64):
                if votes[i] > 0:
                    val |= 1 << i
            if val >= 1 << 63:
                val -= 1 << 64  # two's-complement into signed long
            out.append(val)
        return pd.Series(out, dtype="int64")

    return _sim


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int | None = None,
    collapse_exact: bool | str = "auto",
) -> DataFrame:
    """Near-dup pairs by SimHash: pairs agreeing on ≥1 of ``chunks`` equal
    bit-chunks (pigeonhole-complete for hamming ≤ chunks-1) verified by
    exact Hamming distance.  Output: (id_a, id_b, hamming).

    ``chunks=None`` (default) picks the smallest power-of-two divisor of 64
    strictly greater than ``max_hamming``, so the candidate stage is always
    recall-complete; passing ``chunks <= max_hamming`` explicitly trades
    recall for a cheaper join.

    Signatures come from a vectorized Arrow kernel over md5 token hashes,
    bit-identical to ``simhash64(hash_method='md5')`` (oracle-reproducible).

    ``collapse_exact``: identical texts are scored once and pairs
    expanded afterwards — lossless (identical text ⇒ identical simhash ⇒
    within-group hamming 0, always ≤ max_hamming); ``'auto'`` (default)
    probes the duplicate rate first — see :func:`minhash_dedup`."""
    if chunks is None:
        chunks = next(c for c in (1, 2, 4, 8, 16, 32, 64) if c > max_hamming)
    if 64 % chunks:
        raise ValueError(f"chunks must divide 64, got {chunks}")
    width = 64 // chunks
    sim = _simhash64_arrow_udf()(F.col(text_col))
    # same null-text sentinel as minhash_dedup: null≡null, never null≡""
    df = df.withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(_NULL_TEXT_SENTINEL))
    )
    if collapse_exact == "auto":
        collapse_exact = _should_collapse(df, text_col)
    if collapse_exact:
        groups, src, member_map = _exact_collapse(df, text_col, id_col)
    else:
        groups, src = None, df
    # persist: the self-join consumes the banded frame twice and Spark does
    # not reuse the exchange across the two sides, so without the cache the
    # signature UDF would score the whole corpus twice (same rationale and
    # lifecycle as minhash_dedup's signature cache above)
    sh = (
        _ensure_parallelism(src)
        .select(F.col(id_col).alias("id"), sim.alias("simhash"))
        .persist()
    )
    banded = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    l = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "chunk_val")
    r = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "chunk_val")
    pairs = (
        l.join(r, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.first("sh_a").alias("sh_a"), F.first("sh_b").alias("sh_b"))
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
    )
    out = pairs.select("id_a", "id_b", "hamming")
    if collapse_exact:
        out = _expand_collapsed_pairs(
            out, member_map, "hamming", within_value=F.lit(0)
        )
    weakref.finalize(out, _unpersist_quietly, sh)
    if groups is not None:
        weakref.finalize(out, _unpersist_quietly, groups)
        weakref.finalize(out, _unpersist_quietly, member_map)
    return out


# ---------------------------------------------------------------------------
# word n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs, LSH-accelerated: same band join +
    exact verification as :func:`minhash_dedup`, shingling on word n-grams
    with the vectorized word-gram signature engine.  Output: (id_a, id_b,
    jaccard)."""
    return minhash_dedup(
        df, text_col, id_col, threshold, num_perm, bands,
        shingle_k=n, seed=seed, output="pairs", gram="word",
    )


# ---------------------------------------------------------------------------
# duplicate-cluster assignment (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


#: connected_components algorithm='auto' switches from label propagation
#: to star contraction when a bounded probe finds at least this many
#: pairs: label propagation re-joins the FULL edge multiset every round,
#: star contraction shrinks the edge set toward one star per component
#: after the first round, so the crossover is where edge volume (not
#: round count) dominates.
_CC_STAR_THRESHOLD = 2_000_000
#: Canonical edge sets at or below this size short-circuit to a driver-side
#: union-find under ``algorithm='auto'`` (two long columns — a few MB
#: collected, the same bounded-collect budget as the CollectLeft interval
#: guards).  Every distributed CC round costs a join + aggregate + eager
#: checkpoint + count (~7 scheduler jobs); on a small graph the loop is
#: pure per-job latency — measured r11: the sf0.1 components gate row spent
#: ~25 of its 35 jobs in the loop for a graph that union-finds in
#: microseconds.  Above the guard the shuffle-parallel loops run unchanged.
_CC_DRIVER_MAX_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components of the near-duplicate pair graph: every node
    reachable through pairs gets ``component`` = the minimum id in its
    component (deterministic canonical label).  Output: (id, component).

    The training-data dedup step after any pair generator
    (``minhash_dedup`` / ``simhash_dedup`` / ``cosine_near_dup_*``): keep
    one document per component, drop the rest.

    ``algorithm='label'``: iterative min-label propagation — each round
    every node takes the minimum label in its closed neighborhood (one
    shuffle-join + one groupBy per round), converging in O(component
    diameter) rounds.  Near-dup clusters are dense (diameter ~2-4), so a
    handful of rounds suffices; each round re-joins the full edge set.
    ``algorithm='star'``: alternating large-star/small-star contraction
    (:func:`_cc_star`) — the edge set SHRINKS toward one star per
    component, so later rounds touch ~nodes edges instead of ~input
    edges; the right choice when the pair multiset is much larger than
    the node set (duplicate-heavy corpora).  ``'auto'`` (default) picks
    by a bounded pair-count probe at ``_CC_STAR_THRESHOLD``.

    Both are shuffle-parallel DataFrame loops — no driver-side graph;
    lineage is truncated every round with ``localCheckpoint`` so plans
    stay bounded.  Raises after ``max_iter`` rounds without convergence.
    Degenerate self-pairs (``id_a == id_b``) are ignored: a node only
    enters the output through at least one real edge (no pair generator
    in this package emits self-pairs).
    """
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"algorithm must be 'auto', 'label' or 'star', got {algorithm!r}")
    a, b = F.col(id_a).cast("long"), F.col(id_b).cast("long")
    # canonical child > parent edge set, materialized ONCE and shared by
    # both algorithms — the auto decision then reads an exact edge count
    # off the checkpoint instead of re-running the (possibly expensive)
    # upstream pair pipeline for a probe
    canon = (
        pairs.select(F.greatest(a, b).alias("child"), F.least(a, b).alias("parent"))
        .filter(F.col("child") != F.col("parent"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if algorithm == "auto":
        n_edges = canon.count()
        if n_edges <= _CC_DRIVER_MAX_EDGES:
            return _cc_driver(canon)
        algorithm = "star" if n_edges > _CC_STAR_THRESHOLD else "label"
    if algorithm == "star":
        return _cc_star(canon, max_iter)
    edges = canon.select(
        F.col("child").alias("src"), F.col("parent").alias("dst")
    ).unionByName(
        canon.select(F.col("parent").alias("src"), F.col("child").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nb = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("__nc")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("__nc").alias("__min_nb"))
            .select(F.col("src").alias("id"), "__min_nb")
        )
        # change flag computed in the same pass: the count over the
        # checkpointed result is then a cheap scan, not a second join
        new_labels = (
            labels.join(nb, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__min_nb"), F.col("component"))
                ).alias("component"),
                (
                    F.col("__min_nb").isNotNull()
                    & (F.col("__min_nb") < F.col("component"))
                ).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds the cap — raise max_iter)"
    )


def _cc_driver(canon: DataFrame) -> DataFrame:
    """Union-find over a guard-bounded canonical edge set, collected to the
    driver.  Output contract identical to the distributed paths: one
    ``(id, component)`` row per node touched by a real edge, component =
    minimum id of its component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in canon.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min root so the root IS the component minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    from ..session import local_frame

    return local_frame(canon.sparkSession, rows, "id long, component long")


def _cc_star(canon: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm).  ``canon`` is the materialized child > parent edge set.
    Each round: large-star rewires every strictly-larger neighbor of u to
    the minimum of u's closed neighborhood, then small-star rewires u's
    (smaller) parents to their minimum.  The edge set contracts toward
    one flat star per component rooted at the component minimum, at which
    point it is a fixed point; convergence is detected EXACTLY — equal
    edge counts plus an empty anti-join of the new edge set against the
    previous one (both are distinct sets, so subset + equal cardinality =
    equality).  O(log^2 n) rounds worst case,
    2-3 in practice on near-dup graphs — and unlike label propagation the
    per-round volume SHRINKS after round one."""
    e = canon
    prev_n = None
    for _ in range(max_iter):
        sym = e.select(F.col("child").alias("u"), F.col("parent").alias("v")).unionByName(
            e.select(F.col("parent").alias("u"), F.col("child").alias("v"))
        )
        # m(u) = min of u's closed neighborhood
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        # large-star: (v, m(u)) for every neighbor v > u
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
            .filter(F.col("child") != F.col("parent"))
            .distinct()
        )
        # small-star: parents are strictly smaller by construction; rewire
        # them (and u itself) to the minimum parent
        pm = large.groupBy("child").agg(F.min("parent").alias("m"))
        small = (
            large.join(pm, "child")
            .select(F.col("parent").alias("c2"), F.col("m").alias("p2"))
            .filter(F.col("c2") != F.col("p2"))
            .unionByName(pm.select(F.col("child").alias("c2"), F.col("m").alias("p2")))
            .select(F.col("c2").alias("child"), F.col("p2").alias("parent"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # exact fixed-point test: equal counts AND empty anti-join vs the
        # previous (distinct) edge set — subset + equal cardinality means
        # set equality, with no hash-collision failure mode.  The
        # anti-join probe only runs when counts match, so the common
        # still-contracting rounds pay a single count action.
        n = small.count()
        prev_e = e
        e = small
        same = False
        if prev_n is not None and n == prev_n:
            same = (
                small.join(prev_e, ["child", "parent"], "left_anti")
                .limit(1)
                .count()
                == 0
            )
        if same:
            kids = e.select(F.col("child").alias("id"), F.col("parent").alias("component"))
            roots = (
                e.select(F.col("parent").alias("id"))
                .distinct()
                .join(kids.select("id"), "id", "left_anti")
                .withColumn("component", F.col("id"))
            )
            return kids.unionByName(roots)
        prev_n = n
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document duplicate-cluster assignment: all of ``df``'s rows with
    a ``component`` column (the minimum doc id of the near-dup component;
    singletons label themselves) and ``is_canonical`` (true for the one
    row to keep per component).  Composes any pair generator into the
    keep/drop decision of a dedup pipeline."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b).select(
        F.col("id").alias(id_col), "component"
    )
    out = df.join(comp, id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col).cast("long"))
    )
    return out.withColumn(
        "is_canonical", F.col(id_col).cast("long") == F.col("component")
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_words: int = 1,
    join_sep: str = "\n",
    lines_col: str | None = None,
) -> DataFrame:
    """Corpus-level LINE deduplication, the C4 recipe (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span occurring
    more than once", applied here at line granularity like most open
    reimplementations): split every document into lines on ``sep`` (a
    regex), keep only the FIRST occurrence of each line across the whole
    corpus (ordered by ``(id, line_no)``), and reassemble the survivors in
    original order.  Lines shorter than ``min_words`` whitespace-words (or
    blank) bypass the dedup and are always kept — they carry no signal and
    would otherwise form giant skew groups.

    Plan: ONE projection (the split runs once) → ONE explode → two hash
    aggregates, no join.  Eligible lines group on the line VALUE (first
    occurrence = ``min(struct(id, line_no))``, so the partial aggregate
    combines map-side and duplicate-heavy corpora SHRINK before the
    shuffle — a window would sort-shuffle every line instance); bypass
    lines fold into the SAME aggregate under a per-instance unique key
    ``(id, line_no)``, so each instance is its own group and survives.
    Every document additionally emits one SENTINEL row (line_no −1,
    NULL line) that is bypass-unique and carries the document's
    ``n_lines``, so fully-deduplicated documents survive (empty text)
    without re-scanning the input for a doc-level frame — round 8
    consumed the upstream twice (exploded lines + a doc-side n_lines
    branch), re-running the split and any expensive upstream projection
    over the corpus twice.  Survivors are rejoined with ``join_sep``
    (``sep`` is a regex and can't be inverted — set ``join_sep`` when
    splitting on a custom pattern).  Output: ``(id, text, n_lines,
    n_kept)``.

    ``lines_col``: callers that already hold the line ARRAY (e.g. a view
    that assembled lines and would otherwise ``array_join`` them only for
    this function to re-``split``) can pass it directly and skip one
    full join+regex-split pass over the corpus.  The caller asserts the
    array equals ``split(array_join(arr, join_sep), sep)`` — i.e. no
    element matches ``sep`` — exactly as ``text_col`` input implies.
    """
    docs = _ensure_parallelism(docs)
    if lines_col is not None:
        arr = F.col(lines_col)
    else:
        arr = F.split(F.col(text_col), sep, -1)
    sentinel = F.struct(
        F.lit(-1).alias("__ln"), F.lit(None).cast("string").alias("__line")
    )
    lines = (
        docs.select(
            F.col(id_col),
            # NULL text → NULL size (docs still surface via the sentinel,
            # n_lines NULL — the pre-round-9 left-join contract)
            F.size(arr).cast("long").alias("__nl"),
            F.explode(
                F.concat(
                    F.array(sentinel),
                    F.transform(
                        F.coalesce(arr, F.array()),
                        lambda x, i: F.struct(
                            i.alias("__ln"), x.alias("__line")
                        ),
                    ),
                )
            ).alias("__e"),
        )
        .select(
            id_col,
            "__nl",
            F.col("__e.__ln").alias("__ln"),
            F.col("__e.__line").alias("__line"),
        )
        .withColumn(
            "__el",
            F.coalesce(
                # min_words <= 1 short-circuit: a non-blank trimmed line
                # always has >= 1 whitespace-word, so the per-line regex
                # split (a full pass over every character of the corpus)
                # is provably redundant and skipped
                (F.length(F.trim(F.col("__line"))) > 0)
                if min_words <= 1
                else (F.length(F.trim(F.col("__line"))) > 0)
                & (
                    F.size(F.split(F.trim(F.col("__line")), r"\s+", -1))
                    >= min_words
                ),
                F.lit(False),  # sentinel's NULL line must key per-instance
            ),
        )
    )
    # bypass (ineligible) instances and sentinels get a per-instance unique
    # key so the min-struct aggregate returns them verbatim; eligible lines
    # share the (NULL, NULL, value) key and collapse to their first
    # occurrence.  __nl rides along: the winning instance's doc is the one
    # the rollup groups it under, so the value is always the right doc's.
    kept = (
        lines.groupBy(
            F.when(~F.col("__el"), F.col(id_col)).alias("__ki"),
            F.when(~F.col("__el"), F.col("__ln")).alias("__kl"),
            "__line",
        )
        .agg(
            F.min(
                F.struct(F.col(id_col), F.col("__ln"), F.col("__nl"))
            ).alias("__f")
        )
        .select(
            F.col("__f")[id_col].alias(id_col),
            F.col("__f.__ln").alias("__ln"),
            F.col("__f.__nl").alias("__nl"),
            "__line",
        )
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__ln"), F.col("__line")))
                    ),
                    lambda x: x["__ln"] >= 0,
                ),
                lambda x: x["__line"],
            ),
            join_sep,
        ).alias(text_col),
        F.max("__nl").alias("n_lines"),
        F.sum(F.when(F.col("__ln") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    ).select(id_col, text_col, "n_lines", "n_kept")
