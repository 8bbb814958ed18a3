"""Depth-of-coverage (pileup) from alignment tables.

Re-expresses the reference's ``datafusion-bio-function-pileup`` crate
(``/root/reference/datafusion/bio-function-pileup/src/``) with the event
algebra it itself ports from SeQuiLa (reference ``README.md:670-680``) — so
this is the algorithm returning to its original Spark formulation:

* event generation — every CIGAR M/=/X run contributes ``+1`` at its
  reference start and ``-1`` one past its end; D/N consume reference
  silently; I/S/H/P consume none (reference ``events.rs:175-232``,
  ``cigar.rs:78-133``).
* accumulation — ``groupBy(chrom, pos).sum(delta)`` then a per-contig
  running sum gives the coverage between consecutive breakpoints; RLE
  blocks fall out of ``lead(pos)`` (reference dense/sparse merge,
  ``physical_exec.rs:367-470``, block emission ``coverage.rs:93-360``).

The CIGAR walk for string CIGARs runs **JVM-side** as a SQL ``aggregate``
over ``regexp_extract_all`` — no Python in the hot path; binary packed
CIGARs (4-byte LE ops, reference ``cigar.rs:177-260``) decode in a
vectorized pandas UDF (``np.frombuffer`` bit ops).

Alignment input contract (reference ``schema.rs:6-11``):
``chrom string, start int, flags int, cigar string|binary,
mapping_quality int``.  SAM-flag filter default 1796 =
UNMAP|SECONDARY|QCFAIL|DUP (reference ``filter.rs:1-34``).

Scale: the only per-contig serial step is the running-sum window — the
same shape as the reference's single-emit-partition merge
(``physical_exec.rs:159-185``) but here the heavy work (event gen + partial
aggregation) is fully shuffle-parallel and map-side combined; the window
sees one row per breakpoint, not per read.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._probe_memo import ProbeMemo, plan_key

#: SAM flag filter: UNMAP(4) | SECONDARY(256) | QCFAIL(512) | DUP(1024)
DEFAULT_FLAG_MASK = 1796
DEFAULT_ALN_COLS = ("chrom", "start", "flags", "cigar", "mapping_quality")

_SEG_TYPE = "ARRAY<STRUCT<s: BIGINT, e: BIGINT>>"
#: BAM binary CIGAR opcode order (SAM spec; reference cigar.rs:177-260)
_BAM_OPS = "MIDNSHP=X"


def _cigar_segments_sql(start_1based: str, cigar: str) -> str:
    """SQL expression: walk a CIGAR string, returning the array of 1-based
    closed reference segments consumed by M/=/X runs."""
    num = "CAST(substring(x, 1, length(x) - 1) AS BIGINT)"
    op = "right(x, 1)"
    return f"""
    aggregate(
      regexp_extract_all({cigar}, '(\\\\d+)([MIDNSHP=X])', 0),
      named_struct('pos', CAST({start_1based} AS BIGINT),
                   'segs', CAST(array() AS {_SEG_TYPE})),
      (acc, x) -> CASE
        WHEN {op} IN ('M', '=', 'X') THEN named_struct(
          'pos', acc.pos + {num},
          'segs', array_append(acc.segs,
                               named_struct('s', acc.pos, 'e', acc.pos + {num} - 1)))
        WHEN {op} IN ('D', 'N') THEN named_struct('pos', acc.pos + {num}, 'segs', acc.segs)
        ELSE acc
      END,
      acc -> acc.segs
    )"""


def _binary_cigar_segments_udf():
    """Vectorized decode of packed binary CIGARs: little-endian u32 per op,
    ``len = v >> 4``, ``op = _BAM_OPS[v & 0xF]`` (reference cigar.rs:177-260)."""
    import numpy as np

    @F.pandas_udf(_SEG_TYPE.replace("STRUCT<s: BIGINT, e: BIGINT>", "STRUCT<s: LONG, e: LONG>"))
    def decode(start: pd.Series, cigar: pd.Series) -> pd.Series:
        out = []
        for pos, raw in zip(start, cigar):
            if raw is None or pos is None:
                out.append(None)
                continue
            ops = np.frombuffer(raw, dtype="<u4")
            lens = (ops >> 4).astype(np.int64)
            codes = ops & 0xF
            segs = []
            p = int(pos)
            for ln, code in zip(lens, codes):
                ch = _BAM_OPS[code]
                if ch in ("M", "=", "X"):
                    segs.append({"s": p, "e": p + int(ln) - 1})
                    p += int(ln)
                elif ch in ("D", "N"):
                    p += int(ln)
            out.append(segs)
        return pd.Series(out)

    return decode


def _explode_segs(contig: str, segsrc: DataFrame) -> DataFrame:
    """``(contig, s, e)`` rows, one per reference segment of ``segsrc``'s
    ``__segs`` array (its ``contig`` column renamed ``contig``)."""
    # explode_outer, not explode: for a plain explode Catalyst infers a
    # ``size(__segs) > 0 AND __segs IS NOT NULL`` filter below the Generate
    # and predicate pushdown substitutes the alias into it — the whole
    # CIGAR-walk expression then runs three times per alignment (twice in
    # the filter, once in the projection).  The outer form skips that rule;
    # the cheap null-check on the exploded struct drops segment-free reads.
    return (
        segsrc.select(F.col(contig).alias("contig"), F.explode_outer("__segs").alias("__seg"))
        .filter(F.col("__seg").isNotNull())
        .select("contig", F.col("__seg.s").alias("s"), F.col("__seg.e").alias("e"))
    )


def _depth_events(segments: DataFrame) -> DataFrame:
    """Closed ``(contig, s, e)`` segments → ``(contig, pos, delta)`` coverage
    events: ``+1`` at each start, ``-1`` one past each end."""
    return segments.select(
        "contig",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("pos"), F.lit(1).alias("delta")),
                F.struct((F.col("e") + 1).alias("pos"), F.lit(-1).alias("delta")),
            )
        ).alias("ev"),
    ).select("contig", F.col("ev.pos").alias("pos"), F.col("ev.delta").alias("delta"))


def depth(
    alignments: DataFrame,
    zero_based: bool = False,
    per_base: bool = False,
    flag_mask: int = DEFAULT_FLAG_MASK,
    min_mapq: int = 0,
    cols: Sequence[str] | None = None,
    algorithm: str = "auto",
    chunk_width: int = 10_000_000,
    contig_lengths: DataFrame | None = None,
) -> DataFrame:
    """Pileup depth — the reference ``depth()`` UDTF
    (``bio-function-pileup/src/table_function.rs:79-158``).

    Block mode (default): RLE runs ``(contig, pos_start, pos_end, coverage)``
    of equal coverage, zero-coverage gaps omitted (reference
    ``schema.rs:28-41``).  ``per_base=True``: one row per position
    ``(contig, pos, coverage)`` (``schema.rs:48-60``) — expanded from blocks
    via ``sequence()``.  Without ``contig_lengths`` only covered positions
    are emitted; with ``contig_lengths`` (a ``(contig, length)`` frame, e.g.
    from ``sources.bam.bam_contig_lengths``) the reference's DENSE mode is
    reproduced: every position of every listed contig including zeros —
    ``[0..len)`` 0-based / ``[1..len]`` 1-based (``coverage.rs:291-293``,
    header lengths ``events.rs:219-229``).

    ``zero_based``: input ``start`` is 0-based (BAM convention); output
    coordinates are then 0-based too.  Blocks keep INCLUSIVE ends in both
    modes — the reference convention (``coverage.rs:51`` sets ``pos_end =
    pos - 1``; ``mosdepth_compat.rs:140`` expects ``(0,5,1)``).  Default:
    1-based closed in and out.

    ``algorithm='auto'`` (default): size-aware — a bounded memoized probe
    routes to ``grouped`` below ``spark.bio.depth.groupedMaxSegments``
    (default 8 M); above the guard it picks ``window`` when the sampled
    contig count alone saturates ``defaultParallelism`` and ``chunked``
    otherwise (few-contig inputs starve a per-contig window; measured
    sf10 genome-shape: window 21.5 s vs chunked 9.2 s on 4 contigs /
    local[32]).  ``'grouped'``: per-contig
    numpy kernel in ``applyInPandas`` — one shuffle, events sorted/summed
    vectorized (sf1 same-day: 1.0 s vs 1.9 s window).  ``'window'``: one
    running-sum window per contig — one row per breakpoint, one task per
    contig at the window.  ``'chunked'``: two-phase parallel prefix sum —
    local running sums per ``(contig, pos / chunk_width)`` genome chunk,
    bucket offsets from a prefix sum over the per-chunk totals (rows =
    #chunks), coverage = local + offset.  Removes the per-contig
    serialization for hundreds-of-millions-of-breakpoints chromosomes;
    cross-algorithm equality is property-tested.
    """
    if algorithm not in ("window", "chunked", "grouped", "auto"):
        raise ValueError(
            f"depth algorithm must be 'auto', 'window', 'chunked' or 'grouped', got {algorithm!r}"
        )
    c, s, fl, cg, mq = cols or DEFAULT_ALN_COLS
    # unmapped-shaped rows never produce events: null chrom/start are
    # skipped up front (reference events.rs test_null_chroms_skipped; the
    # '*' unavailable CIGAR already yields zero segments downstream) — a
    # plain predicate, so it pushes into the scan
    df = alignments.filter(
        F.col(c).isNotNull()
        & F.col(s).isNotNull()
        & (F.col(fl).cast("int").bitwiseAND(F.lit(flag_mask)) == 0)
        & (F.col(mq).cast("int") >= min_mapq)
    )
    start_1b = f"{s} + 1" if zero_based else s

    # common intermediate: one row per M/=/X reference segment, closed
    # coordinates ``(contig, s, e)`` — every algorithm derives from it
    cigar_type = dict(df.dtypes).get(cg, "string")
    if cigar_type == "binary":
        one_based = (F.col(s) + 1) if zero_based else F.col(s)
        segments = _explode_segs(
            c,
            df.withColumn(
                "__segs",
                _binary_cigar_segments_udf()(one_based.cast("long"), F.col(cg)),
            )
        )
    else:
        # split fast path: a single-run '<n>M' CIGAR (the overwhelming
        # majority of short-read alignments) needs no walk — its segment is
        # a plain codegen projection (no segs array, no explode at all).
        # The general aggregate() walk is a CodegenFallback (interpreted
        # per row, sf1: 0.98 s vs 0.34 s); a CASE mixing the two would
        # de-codegen the whole expression, so the frame is split and the
        # branches reunite at the segment level.
        one_based = ((F.col(s) + 1) if zero_based else F.col(s)).cast("long")
        simple = F.col(cg).rlike("^[0-9]+M$")
        n_m = F.substring(F.col(cg), 1, F.length(cg) - 1).cast("long")
        fast_segments = df.filter(simple).select(
            F.col(c).alias("contig"),
            one_based.alias("s"),
            (one_based + n_m - 1).alias("e"),
        )
        all_simple = False
        if algorithm == "auto":
            fits, all_simple, n_contigs = _probe_alignments(df, simple, c)
            algorithm = "grouped" if fits else _over_cap_algorithm(df, n_contigs)
        if all_simple:
            # every CIGAR in the (bounded-probed, fully seen) input is a
            # single '<n>M' run — drop the slow branch and its second
            # source scan from the plan entirely
            segments = fast_segments
        else:
            segments = fast_segments.unionByName(
                _explode_segs(
                    c,
                    df.filter(~simple).withColumn(
                        "__segs", F.expr(_cigar_segments_sql(start_1b, cg))
                    ),
                )
            )

    if algorithm == "auto":
        # binary-CIGAR branch: size probe only (no simple/slow split)
        fits, _, n_contigs = _probe_alignments(df, None, c)
        algorithm = "grouped" if fits else _over_cap_algorithm(df, n_contigs)

    if algorithm == "grouped":
        blocks = _grouped_blocks(segments)
        return _finalize_blocks(
            blocks, zero_based, per_base, contig_lengths
        )

    events = _depth_events(segments)

    # partial aggregation is map-side combined by Catalyst; the running sum
    # then sees one row per breakpoint per contig
    # net-zero breakpoints (e.g. two abutting M runs) would split an RLE run
    # of equal coverage — drop them so blocks are maximal runs
    agg = (
        events.groupBy("contig", "pos")
        .agg(F.sum("delta").alias("delta"))
        .filter(F.col("delta") != 0)
    )
    if algorithm == "window":
        w = Window.partitionBy("contig").orderBy("pos")
        cum = agg.withColumn(
            "coverage", F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).withColumn("next_pos", F.lead("pos").over(w))
    else:
        # two-phase parallel prefix sum over genome chunks
        a2 = agg.withColumn("__b", (F.col("pos") / chunk_width).cast("long"))
        wloc = Window.partitionBy("contig", "__b").orderBy("pos")
        a2 = a2.withColumn(
            "__cum", F.sum("delta").over(wloc.rowsBetween(Window.unboundedPreceding, 0))
        ).withColumn("__next", F.lead("pos").over(wloc))
        # per-chunk totals + first breakpoint; the prefix window below runs
        # over #chunks rows (tiny), never over breakpoints
        summ = a2.groupBy("contig", "__b").agg(
            F.sum("delta").alias("__tot"), F.min("pos").alias("__first")
        )
        wsum = Window.partitionBy("contig").orderBy("__b")
        summ = summ.withColumn(
            "__off",
            F.coalesce(
                F.sum("__tot").over(wsum.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        ).withColumn("__next_first", F.lead("__first").over(wsum))
        cum = (
            a2.join(
                summ.select("contig", "__b", "__off", "__next_first"), ["contig", "__b"]
            )
            .withColumn("coverage", F.col("__cum") + F.col("__off"))
            .withColumn("next_pos", F.coalesce(F.col("__next"), F.col("__next_first")))
        )

    blocks = cum.filter((F.col("coverage") > 0) & F.col("next_pos").isNotNull()).select(
        "contig",
        F.col("pos").alias("pos_start"),
        (F.col("next_pos") - 1).alias("pos_end"),
        F.col("coverage").cast(T.IntegerType()).alias("coverage"),
    )
    return _finalize_blocks(blocks, zero_based, per_base, contig_lengths)


#: auto-selection guard: route to the grouped numpy kernel only while the
#: bounded row probe stays under this many alignments (worst case all on
#: one contig ≈ 100 bytes/segment of transient numpy arrays in a single
#: task — the same per-contig memory class as the reference's dense-mode
#: ``i32[contig_len]`` arrays, physical_exec.rs:27-41; complex CIGARs
#: multiply segments per read by a small factor).  Measured crossover:
#: grouped 1.2 s vs window 1.9 s at sf1 (1.5 M reads), but grouped 6.4 s
#: vs window ~2.7 s at sf10 (15 M reads) — Arrow transfer volume plus the
#: #contigs task ceiling overtake the JVM pipeline well before memory
#: does, so the guard is a PERFORMANCE crossover, not just a memory cap.
GROUPED_MAX_ROWS = 8_000_000
_GROUPED_FIT_MEMO = ProbeMemo()


def _over_cap_algorithm(df: DataFrame, n_contigs: int) -> str:
    """Above the grouped guard: the per-contig window keeps task count =
    #contigs, which starves a wide cluster on few-contig inputs (measured
    sf10 genome-shape: window 21.5 s vs chunked 9.2 s on 4 contigs /
    local[32]); the two-phase chunked prefix sum spreads every contig
    across genome chunks.  Window only when contigs alone saturate the
    cluster."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return "window" if n_contigs >= par else "chunked"


def _probe_alignments(df: DataFrame, simple, contig_col: str) -> tuple[bool, bool, int]:
    """One bounded job answering the auto-selection questions: does the
    (filtered) alignment count fit the grouped guard, when it does is
    every CIGAR a simple '<n>M' run (the probe saw ALL rows, so the slow
    branch is provably empty), and how many distinct contigs the sample
    carries (drives the window-vs-chunked choice above the guard: a
    per-contig window on few contigs starves the cluster).  Memoized by
    plan+input fingerprint (``plan_key``); never scans more than
    guard+1 rows."""
    return _GROUPED_FIT_MEMO.get_or_probe(
        lambda: (plan_key(df), simple is not None, "depth-grouped-v2"),
        lambda: _alignment_probe(df, simple, contig_col),
    )


def _alignment_probe(df: DataFrame, simple, contig_col: str) -> tuple[bool, bool, int]:
    conf = df.sparkSession.conf
    limit = int(conf.get("spark.bio.depth.groupedMaxSegments", str(GROUPED_MAX_ROWS)))
    probe_cols = [
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(contig_col).alias("n_contigs"),
    ]
    if simple is not None:
        probe_cols.append(
            F.sum(F.when(~simple, 1).otherwise(0)).alias("n_complex")
        )
    row = df.limit(limit + 1).agg(*probe_cols).collect()[0]
    fits = row["n"] <= limit
    all_simple = bool(fits and simple is not None and (row["n_complex"] or 0) == 0)
    n_contigs = int(row["n_contigs"] or 0)
    if not fits:
        # the bounded probe samples the HEAD of the frame, and alignment
        # inputs are typically contig-sorted — the prefix can see far fewer
        # contigs than exist and misroute a many-contig input to 'chunked'.
        # Over-cap inputs are about to pay a full multi-pass computation
        # anyway, so one column-pruned single-pass HLL sketch (map-side
        # partials, tiny shuffle) buys an unbiased count; memoized with the
        # rest of the probe so twins ride the memo.
        n_contigs = int(
            df.agg(F.approx_count_distinct(contig_col).alias("nc")).collect()[0]["nc"]
            or 0
        )
    return (fits, all_simple, n_contigs)


def _grouped_blocks(segments: DataFrame) -> DataFrame:
    """Per-contig RLE blocks in one vectorized numpy pass: sort both event
    arrays, sum deltas per breakpoint (np.add.reduceat), cumulative sum =
    coverage, lead(pos) = run end.  Same math as the window pipeline but a
    single shuffle (hash(contig)) and no per-row JVM window state — the
    same per-contig parallelism ceiling as the window path, guarded by
    ``_probe_alignments`` so event arrays stay task-memory-bounded."""
    import numpy as np

    def _kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["s"].to_numpy(dtype="int64", copy=False)
        e = pdf["e"].to_numpy(dtype="int64", copy=False)
        pos = np.concatenate([s, e + 1])
        delta = np.concatenate(
            [np.ones(len(s), np.int64), -np.ones(len(e), np.int64)]
        )
        order = np.argsort(pos, kind="stable")
        pos = pos[order]
        delta = delta[order]
        upos, idx = np.unique(pos, return_index=True)
        sums = np.add.reduceat(delta, idx)
        keep = sums != 0
        upos = upos[keep]
        cov = np.cumsum(sums[keep])
        if not len(upos):
            return pd.DataFrame(
                {
                    "contig": pd.Series([], dtype="object"),
                    "pos_start": pd.Series([], dtype="int64"),
                    "pos_end": pd.Series([], dtype="int64"),
                    "coverage": pd.Series([], dtype="int32"),
                }
            )
        nxt = np.empty_like(upos)
        nxt[:-1] = upos[1:]
        nxt[-1] = -1
        m = (cov > 0) & (nxt >= 0)
        return pd.DataFrame(
            {
                "contig": key[0],
                "pos_start": upos[m],
                "pos_end": nxt[m] - 1,
                "coverage": cov[m].astype("int32"),
            }
        )

    return segments.select(
        "contig", F.col("s").cast("long").alias("s"), F.col("e").cast("long").alias("e")
    ).groupBy("contig").applyInPandas(
        _kernel, "contig string, pos_start long, pos_end long, coverage int"
    )


def _finalize_blocks(
    blocks: DataFrame,
    zero_based: bool,
    per_base: bool,
    contig_lengths: DataFrame | None,
) -> DataFrame:
    if zero_based:
        # reference blocks are inclusive-end in BOTH modes (coverage.rs:51
        # ``pos_end = pos - 1``; mosdepth_compat.rs:140 expects (0,5,1)):
        # zero_based only shifts the origin, so subtract 1 from both bounds
        blocks = blocks.select(
            "contig",
            (F.col("pos_start") - 1).alias("pos_start"),
            (F.col("pos_end") - 1).alias("pos_end"),
            "coverage",
        )

    if not per_base:
        return blocks

    if contig_lengths is not None:
        # dense mode: fill zero-coverage gaps between blocks and contig
        # bounds with coverage-0 runs, then explode everything uniformly.
        # The gap window runs over #blocks rows per contig — small.
        lo = F.lit(0) if zero_based else F.lit(1)
        lens = contig_lengths.select(
            F.col(contig_lengths.columns[0]).alias("contig"),
            F.col(contig_lengths.columns[1]).cast("long").alias("__len"),
        )
        hi = (F.col("__len") - 1) if zero_based else F.col("__len")
        b = blocks.join(lens, "contig", "inner")
        w = Window.partitionBy("contig").orderBy("pos_start")
        b = b.withColumn("__prev_end", F.lag("pos_end").over(w)).withColumn(
            "__is_last", F.lead("pos_start").over(w).isNull()
        )
        # gap runs clamp to the declared bounds too: a block lying (partly
        # or wholly) past the contig end would otherwise leak out-of-bounds
        # zero positions through the gap arithmetic
        gap_before = b.select(
            "contig",
            F.greatest(
                F.coalesce(F.col("__prev_end") + 1, lo.cast("long")), lo.cast("long")
            ).alias("pos_start"),
            F.least(F.col("pos_start") - 1, hi.cast("long")).alias("pos_end"),
            F.lit(0).cast(T.IntegerType()).alias("coverage"),
        ).filter(F.col("pos_start") <= F.col("pos_end"))
        gap_tail = b.filter(F.col("__is_last")).select(
            "contig",
            F.greatest(F.col("pos_end") + 1, lo.cast("long")).alias("pos_start"),
            hi.cast("long").alias("pos_end"),
            F.lit(0).cast(T.IntegerType()).alias("coverage"),
        ).filter(F.col("pos_start") <= F.col("pos_end"))
        # contigs in the length table with no coverage at all: one zero run
        empty = lens.join(blocks.select("contig").distinct(), "contig", "left_anti").select(
            "contig",
            lo.cast("long").alias("pos_start"),
            hi.cast("long").alias("pos_end"),
            F.lit(0).cast(T.IntegerType()).alias("coverage"),
        ).filter(F.col("pos_start") <= F.col("pos_end"))
        # covered runs clip to the declared contig bounds — a read running
        # past the contig length writes only the in-bounds positions
        # (reference dense bounds check: out-of-array events are skipped)
        covered = (
            blocks.join(lens, "contig", "inner")
            .select(
                "contig",
                F.greatest(F.col("pos_start"), lo.cast("long")).alias("pos_start"),
                F.least(F.col("pos_end"), hi.cast("long")).alias("pos_end"),
                "coverage",
            )
            .filter(F.col("pos_start") <= F.col("pos_end"))
        )
        blocks = (
            covered
            .unionByName(gap_before)
            .unionByName(gap_tail)
            .unionByName(empty)
        )

    pos_seq = F.sequence(F.col("pos_start"), F.col("pos_end"))
    return blocks.select(
        "contig", F.explode(pos_seq).alias("pos"), F.col("coverage")
    )
