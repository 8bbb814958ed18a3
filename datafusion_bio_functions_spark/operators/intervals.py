"""Genomic interval algebra as Spark-native DataFrame operators.

Re-expresses the operator surface of the reference's
``datafusion-bio-function-ranges`` crate (see ``/root/reference/datafusion/
bio-function-ranges/src/``) in idiomatic PySpark:

* ``interval_join`` / ``overlap``  — reference ``IntervalJoinExec``
  (``physical_planner/joins/interval_join.rs:68-2001``) and the ``overlap``
  UDTF (``overlap.rs:154-226``).
* ``count_overlaps`` / ``coverage`` — ``count_overlaps.rs:60-263`` +
  ``interval_tree.rs:20-152`` (sorted-array binary-search math).
* ``merge`` / ``cluster`` — ``merge.rs:216-357``, ``cluster.rs:29-977``
  (per-contig sweep → here: gaps-and-islands window SQL, shuffle-parallel).
* ``complement`` — ``complement.rs:27-478``.
* ``subtract`` — ``subtract.rs:28-668``.
* ``nearest`` — ``nearest.rs:29-547`` + ``nearest_index.rs:24-291``
  (COITree + sorted arrays → here: one vectorized k-nearest kernel,
  :func:`_nearest_k`, over per-contig sorted arrays — from a broadcast
  index for small left sides, else from cogrouped Arrow groups; same
  binary-search math).

count_overlaps, coverage, subtract, nearest and the inner overlap join
share ONE CollectLeft index (:func:`_collect_index`, the reference's
collected build side, ``count_overlaps.rs:122-141`` /
``nearest_index.rs:24-120``, ``interval_join.rs:394-413``): the build side
gathered through Arrow, NULL rows dropped, per-contig (start, end)-sorted
int64 runs plus the other columns, broadcast once per input.  Each operator
derives its own per-contig structure from a run on the worker and answers
every probe batch in one ``mapInArrow`` or Arrow UDF
(:func:`_probe_batches`).  Arrow end to end, so a NULL coordinate never
matches — the join paths' rule — and a long column comes back exact, as it
does from the join paths.

Coordinate semantics (reference ``filter_op.rs:1-10``, applied at
``interval_tree.rs:184-188``): intervals are 1-based **closed** by default
(``filter_op="weak"``); ``filter_op="strict"`` shrinks the probe interval by
one on each side, i.e. turns ``<=`` comparisons into ``<`` — the encoding the
reference uses for 0-based half-open data.

Scale notes (local[32] tests, 1000-executor target):

* The join strategies: ``auto`` answers an inner join from the CollectLeft
  index when one side fits the broadcast bounds, else runs ``binned``.
  ``binned`` explodes intervals onto fixed-width genome
  bins and equi-joins on ``(contig, bin)`` — fully shuffle-parallel, no
  per-contig hotspot, survives 100 TB.  ``sql`` emits the plain range-join
  condition (Catalyst picks SMJ/BHJ on the contig equi-key); correct always,
  quadratic per contig in the worst case — it is also the DuckDB-oracle
  formulation.
* Sweep operators use ``Window.partitionBy(contig)`` which shuffles once on
  contig and streams (running-max frame) — the same data movement as the
  reference's per-contig grouped collectors (``grouped_stream.rs:24-124``)
  but without materializing whole contigs in one heap.
"""

from __future__ import annotations

import sys
from typing import Iterator, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._probe_memo import ProbeMemo, clear_probe_caches, plan_key  # noqa: F401

# The Arrow kernels call module-level helpers (the shared nearest
# kernel).  Ship them by value (see functions/alleles.py): by reference,
# every Python worker would import this package (~17 MB of RSS per worker)
# and the kernels would fail wherever the package is not importable.
try:
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - best effort
    pass

DEFAULT_COLS = ("contig", "pos_start", "pos_end")
#: Reference default for complement's implicit view bounds
#: (``complement.rs:398-400``): ``(0, i64::MAX)`` per observed contig.
I64_MAX = 9223372036854775807

_LEFT = "left_"
_RIGHT = "right_"

#: intervals wider than this many times their run's median width are
#: windowed apart from the rest (see :func:`_overlap_split`)
LONG_INTERVAL_FACTOR = 64


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _cols3(cols: Sequence[str] | None) -> tuple[str, str, str]:
    if cols is None:
        return DEFAULT_COLS
    if len(cols) != 3:
        raise ValueError(f"expected 3 interval column names, got {cols!r}")
    return tuple(cols)  # type: ignore[return-value]


def _check_filter_op(filter_op: str) -> str:
    if filter_op not in ("weak", "strict"):
        # reference accepts exactly 'weak' | 'strict' (table_function.rs:59-259)
        raise ValueError(f"filter_op must be 'weak' or 'strict', got {filter_op!r}")
    return filter_op


def _normalize(df: DataFrame, cols: Sequence[str] | None) -> tuple[DataFrame, tuple[str, str, str]]:
    """Cast position columns to LongType (reference coerces Int32/Int64/
    UInt32/UInt64, ``array_utils.rs:263-295``; nulls are an error there —
    here they propagate SQL-style and never match)."""
    c, s, e = _cols3(cols)
    for col in (c, s, e):
        if col not in df.columns:
            raise ValueError(f"column {col!r} not found in {df.columns}")
    casts = {
        x: F.col(x).cast(T.LongType())
        for x in (s, e)
        if not isinstance(df.schema[x].dataType, T.LongType)
    }
    if casts:  # a no-op projection would still cost an analysis round trip
        df = df.withColumns(casts)
    return df, (c, s, e)


def _prefixed(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def _overlap_cond(
    lc: str, ls: str, le: str, rc: str, rs: str, re_: str, filter_op: str
) -> Column:
    """Overlap predicate.  weak: ``l.start <= r.end AND l.end >= r.start``;
    strict: both comparisons strict (the reference's probe-shrink-by-one,
    ``interval_tree.rs:184-188`` + ``intervals.rs:63-65``)."""
    eq = F.col(lc) == F.col(rc)
    if filter_op == "weak":
        return eq & (F.col(ls) <= F.col(re_)) & (F.col(le) >= F.col(rs))
    return eq & (F.col(ls) < F.col(re_)) & (F.col(le) > F.col(rs))


def _saturating_add_const(col: Column, k: int) -> Column:
    """``col + k`` with i64 saturation (the reference's ``saturating_add``,
    ``merge.rs:291`` / ``cluster.rs:457``) — a ``min_dist`` of i64::MAX means
    "merge everything", and under Spark's ANSI arithmetic the plain add
    would instead throw ARITHMETIC_OVERFLOW.  ``k`` is a plan-time constant
    so the guard threshold folds to a literal."""
    if k == 0:
        return col
    if k > 0:
        return F.when(col > I64_MAX - k, F.lit(I64_MAX)).otherwise(col + F.lit(k))
    return F.when(col < -I64_MAX - 1 - k, F.lit(-I64_MAX - 1)).otherwise(col + F.lit(k))


def _coverage_len(ls: str, le: str, rs: str, re_: str, filter_op: str) -> Column:
    """Per-merged-interval coverage contribution for a probe (rs, re):
    the reference's ``max(1, min(q_end + 1, iv_end) - max(q_start - 1,
    iv_start))`` with the strict shrink applied to the query first
    (``interval_tree.rs:148,184-188``) — in strict mode this reduces to the
    exact half-open intersection, in weak mode it floors touching/point
    overlaps at 1 (test_coverage_udtf pins e.g. probe (10000,20000) over
    point (15000,15000) → 1 and probe (22100,22100) in (22000,22300) → 2)."""
    shrink = 0 if filter_op == "weak" else 1
    q_start = F.col(rs) + F.lit(shrink)
    q_end = F.col(re_) - F.lit(shrink)
    return F.greatest(
        F.lit(1),
        F.least(q_end + 1, F.col(le)) - F.greatest(q_start - 1, F.col(ls)),
    )


# ---------------------------------------------------------------------------
# interval join core
# ---------------------------------------------------------------------------


_BIN_WIDTH_MEMO = ProbeMemo()


def _quantile(col, q: float):
    """The ``q`` quantile of an Arrow column's non-NULL values (the lower
    of two neighbours, so always a value of the column), or None."""
    import pyarrow.compute as pc

    return pc.quantile(col, q=q, interpolation="lower")[0].as_py()


def _auto_bin_width(l: DataFrame, ls: str, le: str, r: DataFrame, rs: str, re_: str) -> int:
    """Derive the genome-bin width from a bounded interval-width sample:
    next power of two >= 2 * p95(width), clamped to [128, 2^20].  The
    sample is the first 100k widths of each side; a one-partition
    ``coalesce`` under each ``limit`` spares it the ``Exchange
    SinglePartition`` that adaptive execution runs as a job of its own, so
    the probe is one job over O(100k rows) regardless of table size.  The
    per-session memo (semantic plan hash) keeps repeated joins over the
    same frames from re-running it."""

    def probe() -> int:
        def widths(df: DataFrame, s: str, e: str) -> DataFrame:
            return df.select((F.col(e) - F.col(s)).alias("w")).coalesce(1).limit(100_000)

        samp = widths(l, ls, le).unionByName(widths(r, rs, re_)).toArrow()
        p95 = int(_quantile(samp.column("w"), 0.95) or 0)
        return max(128, min(1 << max(2 * p95 - 1, 1).bit_length(), 1 << 20))

    return _BIN_WIDTH_MEMO.get_or_probe(
        lambda: (plan_key(l), ls, le, plan_key(r), rs, re_), probe
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    how: str = "inner",
    algorithm: str = "auto",
    bin_width: int | None = None,
    long_interval_factor: int | None = LONG_INTERVAL_FACTOR,
) -> DataFrame:
    """All-pairs interval overlap join; output columns are ``left_*`` and
    ``right_*`` prefixed (reference join-mode schema, ``overlap.rs:105-130``).

    ``how``: ``inner`` | ``left`` (left outer: unmatched left rows with NULL
    right cols) | ``left_semi`` | ``left_anti``.  The reference's probe side
    is *right* with Inner/Right/RightSemi/RightAnti (``interval_join.rs:
    218-221``); we expose the symmetric left_* forms since DataFrame callers
    can swap arguments freely.

    ``algorithm='auto'`` (default) picks, in order:

    1. the CollectLeft index, for ``how='inner'`` with no ``bin_width``
       argument and neither ``spark.bio.intervalJoin.algorithm`` nor
       ``spark.bio.intervalJoin.binWidth`` set, when the side with the
       smaller plan size estimate is under both broadcast bounds (the
       estimate within ``spark.sql.autoBroadcastJoinThreshold``, its row
       count within ``BROADCAST_GUARD_ROWS``; a streaming side is never
       indexed).  That side is collected once through Arrow into the
       shared per-contig (start, end)-sorted index (:func:`_collect_index`,
       the one count_overlaps, coverage, subtract and nearest use) and the
       other side streams past it through one Arrow UDF — the reference's
       ``IntervalJoinExec`` shape, with no exchange, and a projection after
       the join still prunes the streamed side's scan.  On the worker each
       sorted run splits into short intervals (width at most
       ``long_interval_factor`` times the run's median width) and long
       ones; each part answers a probe from the window
       ``[searchsorted(prefix-max end, qs), searchsorted(starts, qe))``
       filtered on the end, so the short part's window holds little more
       than the true matches;
    2. otherwise ``binned``.

    ``algorithm``:
      * ``binned`` — explode each interval onto
        fixed-width genome bins, equi-join on ``(contig, bin)``, keep exact
        overlaps, and de-duplicate *without a distinct* by keeping only the
        pair whose overlap starts in the current bin.  Shuffle-parallel on
        (contig, bin): no per-contig skew, 100 TB-safe.  Intervals longer
        than ``long_interval_factor * bin_width`` are routed through a plain
        range join to bound the explosion (they are rare in genomic data).

    ``bin_width=None`` (default) sizes bins from the data: ~2× the p95
    interval width of a bounded sample, clamped to [128, 2^20].  A bin much
    wider than the intervals makes the per-bin cross product dominate on
    dense data (sf1 probe: 34 s at 10 000 vs 4.5 s at 256); much narrower
    multiplies replication.  The session conf key still overrides.
      * ``sql`` — emit the raw range-join condition and let Catalyst plan it
        (SMJ/BHJ keyed on contig + range post-filter).

    On every path a row with a NULL contig, start or end matches nothing,
    and every other column comes back exactly as it went in.
    """
    _check_filter_op(filter_op)
    left, (lc0, ls0, le0) = _normalize(left, cols_left)
    right, (rc0, rs0, re0) = _normalize(right, cols_right)
    if algorithm == "auto":
        # session-level override, mirror of the reference's
        # ``SET bio.interval_join_algorithm`` (session_context.rs:48-70)
        from ..session import INTERVAL_JOIN_ALGORITHM_KEY, INTERVAL_JOIN_BIN_WIDTH_KEY

        conf = left.sparkSession.conf
        configured = (conf.get(INTERVAL_JOIN_ALGORITHM_KEY, None) or "auto").lower()
        bw = conf.get(INTERVAL_JOIN_BIN_WIDTH_KEY, None)
        if how == "inner" and bin_width is None and not bw and configured == "auto":
            out = _overlap_collect_left(
                left, right, (lc0, ls0, le0), (rc0, rs0, re0), filter_op, long_interval_factor
            )
            if out is not None:
                return out
        if configured in ("nearest", "coitreesnearest"):
            # the nearest-join knob changes the semantics of *SQL range
            # joins* only (see plans/range_join.py); for the overlap
            # operator itself it is just an index choice in the reference
            # (interval_join.rs:745-901) — keep the default strategy
            configured = "binned"
        if configured != "auto":
            if configured not in ("binned", "sql"):
                raise ValueError(
                    f"{INTERVAL_JOIN_ALGORITHM_KEY} must be auto|binned|sql, got {configured!r}"
                )
            algorithm = configured
        else:
            algorithm = "binned"
        if bw:
            bin_width = int(bw)

    l = _prefixed(left, _LEFT)
    r = _prefixed(right, _RIGHT)
    lc, ls, le = _LEFT + lc0, _LEFT + ls0, _LEFT + le0
    rc, rs, re_ = _RIGHT + rc0, _RIGHT + rs0, _RIGHT + re0
    cond = _overlap_cond(lc, ls, le, rc, rs, re_, filter_op)

    if algorithm == "sql":
        return l.join(r, cond, how)  # semi/anti keep only the left_* columns

    if algorithm != "binned":
        raise ValueError(f"unknown interval join algorithm {algorithm!r}")

    if how != "inner":
        # non-inner forms via the binned INNER join + row-id indirection:
        # the SQL path sort-merges on the contig equi-key alone, which goes
        # quadratic within a skewed contig — at scale every how must ride
        # the same (contig, bin) shuffle as the inner join.
        if how not in ("left", "left_semi", "left_anti"):
            raise ValueError(f"unknown interval join how {how!r}")
        lw = left.withColumn("__sid", F.monotonically_increasing_id())
        pairs = interval_join(
            lw, right, (lc0, ls0, le0), (rc0, rs0, re0), filter_op,
            "inner", "binned", bin_width, long_interval_factor,
        )
        hit_ids = pairs.select(F.col(_LEFT + "__sid").alias("__sid")).distinct()
        if how in ("left_semi", "left_anti"):
            kept = lw.join(hit_ids, "__sid", how).drop("__sid")
            return _prefixed(kept, _LEFT)
        unmatched = _prefixed(lw.join(hit_ids, "__sid", "left_anti").drop("__sid"), _LEFT)
        for f in right.schema.fields:
            unmatched = unmatched.withColumn(
                _RIGHT + f.name, F.lit(None).cast(f.dataType)
            )
        return pairs.drop(_LEFT + "__sid").unionByName(
            unmatched.select(*[c for c in pairs.columns if c != _LEFT + "__sid"])
        )

    if bin_width is None:
        bin_width = _auto_bin_width(l, ls, le, r, rs, re_)

    def binned(df: DataFrame, s: str, e: str, bcol: str) -> DataFrame:
        return df.withColumn(
            bcol,
            F.explode(
                F.sequence(
                    (F.col(s) / bin_width).cast("long"), (F.col(e) / bin_width).cast("long")
                )
            ),
        )

    # equi-join key = (contig, bin) so the shuffle co-locates by genome
    # region; exact-overlap filter + dedupe: keep the pair only in the bin
    # where the intersection begins → each pair emitted exactly once, no
    # distinct needed.
    bin_eq = (F.col(lc) == F.col(rc)) & (F.col("__lbin") == F.col("__rbin"))
    dedupe = (F.greatest(F.col(ls), F.col(rs)) / bin_width).cast("long") == F.col("__lbin")
    exact = cond & dedupe

    if long_interval_factor:
        limit = bin_width * long_interval_factor
        l_short = l.filter(F.col(le) - F.col(ls) <= limit)
        l_long = l.filter(F.col(le) - F.col(ls) > limit)
        r_short = r.filter(F.col(re_) - F.col(rs) <= limit)
        r_long = r.filter(F.col(re_) - F.col(rs) > limit)
        lb = binned(l_short, ls, le, "__lbin")
        rb = binned(r_short, rs, re_, "__rbin")
        short = lb.join(rb, bin_eq, "inner").filter(exact).drop("__lbin", "__rbin")
        # long intervals are rare: pair them via plain (broadcast) range joins
        long_pairs = l_long.join(r, cond, "inner").unionByName(
            l_short.join(F.broadcast(r_long), cond, "inner")
        )
        return short.unionByName(long_pairs)

    lb = binned(l, ls, le, "__lbin")
    rb = binned(r, rs, re_, "__rbin")
    return lb.join(rb, bin_eq, "inner").filter(exact).drop("__lbin", "__rbin")


def overlap(
    left: DataFrame,
    right: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    output: str = "join",
    algorithm: str = "auto",
    bin_width: int | None = None,
) -> DataFrame:
    """Reference ``overlap`` UDTF (``overlap.rs:154-226``).

    ``output='join'``    → all overlapping pairs, left_*/right_* columns.
    ``output='left_all'`` / ``'left_multiple'`` → left rows, one copy per
    match (inner projected to left cols — reference ``left_query``,
    ``overlap.rs:183``).
    ``output='left'`` / ``'left_distinct'`` → left ROWS with at least one
    match, each emitted once — the reference's RIGHT SEMI join
    (``overlap.rs:205``; both SQL tokens map to it,
    ``table_function.rs:125-129``).  Row-level: value-duplicate left rows
    are preserved (test_overlap_udtf_left_output_preserves_left_rows),
    never collapsed by a value distinct.

    ``algorithm='auto'`` follows :func:`interval_join`'s order: the
    ``join`` and ``left_all`` outputs are inner joins and answer from the
    CollectLeft index when a side fits the broadcast bounds (else the
    binned plan); the ``left`` output is a left-semi join and runs binned.
    """
    if output == "join":
        return interval_join(
            left, right, cols_left, cols_right, filter_op, "inner", algorithm, bin_width
        )
    if output in ("left_all", "left_multiple"):
        pairs = interval_join(
            left, right, cols_left, cols_right, filter_op, "inner", algorithm, bin_width
        )
        return pairs.select(
            [F.col(_LEFT + c).alias(c) for c in left.columns]
        )
    if output in ("left", "left_distinct"):
        joined = interval_join(
            left, right, cols_left, cols_right, filter_op, "left_semi", algorithm, bin_width
        )
        return joined.select([F.col(_LEFT + c).alias(c) for c in left.columns])
    raise ValueError(f"unknown overlap output mode {output!r}")


# ---------------------------------------------------------------------------
# count_overlaps / coverage
# ---------------------------------------------------------------------------


def _with_rid(df: DataFrame) -> DataFrame:
    return df.withColumn("__rid", F.monotonically_increasing_id())


def count_overlaps(
    left: DataFrame,
    right: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    algorithm: str = "auto",
    bin_width: int | None = None,
) -> DataFrame:
    """For each *right* row, the number of *left* intervals overlapping it;
    appends ``count`` (reference ``count_overlaps.rs:60-263``; math:
    ``count = #(l.start <= r.end) - #(l.end < r.start)`` via two binary
    searches, ``interval_tree.rs:20-50``).

    ``algorithm='broadcast'`` (default via ``auto``) collects the left
    coordinates through Arrow into the shared per-contig sorted-array index
    (:func:`_collect_index`, the one nearest and coverage use too) and
    probes it with vectorized ``np.searchsorted`` in one Arrow UDF over the
    right coordinates — the exact reference algorithm (the reference
    *always* collects left eagerly: ``count_overlaps.rs:122-141``).  Size-guarded: a left side
    above ``BROADCAST_GUARD_ROWS`` silently falls back to the join plan
    instead of collecting data-scale rows onto the driver, so ``auto`` is
    the CollectLeft fast path with a shuffle-parallel escape hatch.
    ``algorithm='join'`` computes the same thing as a shuffle-parallel
    binned join + groupBy — no size limit on either side.  Either way a
    row with a NULL contig, start or end never matches (a right row
    counts 0) and every other column comes back exactly as it went in.
    """
    _check_filter_op(filter_op)
    left, (lc, ls, le) = _normalize(left, cols_left)
    right, (rc, rs, re_) = _normalize(right, cols_right)
    algorithm = _collect_left_algorithm("count_overlaps", algorithm)
    if algorithm == "broadcast":
        out = _count_or_cover_broadcast(
            left, right, (lc, ls, le), (rc, rs, re_), filter_op, mode="count"
        )
        if out is not None:
            return out

    r = _with_rid(right)
    pairs = interval_join(
        left.select(lc, ls, le),
        r.select(rc, rs, re_, "__rid"),
        (lc, ls, le),
        (rc, rs, re_),
        filter_op,
        "inner",
        "binned",
        bin_width,
    )
    counts = pairs.groupBy(F.col(_RIGHT + "__rid").alias("__rid")).agg(
        F.count(F.lit(1)).alias("count")
    )
    out = r.join(counts, "__rid", "left").withColumn(
        "count", F.coalesce(F.col("count"), F.lit(0)).cast(T.LongType())
    )
    return out.drop("__rid")


def coverage(
    left: DataFrame,
    right: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    algorithm: str = "auto",
    bin_width: int | None = None,
) -> DataFrame:
    """For each *right* row, the number of its bases covered by ≥1 left
    interval; left intervals are merged first (reference ``coverage`` flag of
    the count_overlaps provider, ``count_overlaps.rs:128-141`` +
    ``interval_tree.rs:52-73,145-152``).  Appends ``coverage``.

    ``auto`` = ``'broadcast'``: the guarded CollectLeft searchsorted path
    (the reference always collects left) over the same shared Arrow index
    as :func:`count_overlaps`, so both over one left frame collect it once.
    It falls back to ``'join'``, the shuffle-parallel merge+binned-join
    plan, when the left side exceeds the broadcast guard.  Either way a row
    with a NULL contig, start or end never matches (a right row covers 0)
    and every other column comes back exactly as it went in."""
    _check_filter_op(filter_op)
    left, (lc, ls, le) = _normalize(left, cols_left)
    right, (rc, rs, re_) = _normalize(right, cols_right)
    algorithm = _collect_left_algorithm("coverage", algorithm)
    if algorithm == "broadcast":
        out = _count_or_cover_broadcast(
            left, right, (lc, ls, le), (rc, rs, re_), filter_op, mode="coverage"
        )
        if out is not None:
            return out

    # the reference pre-merges with the touching (weak) condition regardless
    # of filter_op (merge_intervals, interval_tree.rs:52-73: first <= last);
    # NULL rows are dropped first, as they match nothing (inside merge's
    # sweep a NULL start would swallow its neighbours into one island)
    merged = merge(
        left.select(lc, ls, le).na.drop(), cols=(lc, ls, le), filter_op="weak"
    ).select(
        F.col("contig").alias(lc), F.col("pos_start").alias(ls), F.col("pos_end").alias(le)
    )
    r = _with_rid(right)
    pairs = interval_join(
        merged,
        r.select(rc, rs, re_, "__rid"),
        (lc, ls, le),
        (rc, rs, re_),
        filter_op,
        "inner",
        "binned",
        bin_width,
    )
    ov = _coverage_len(_LEFT + ls, _LEFT + le, _RIGHT + rs, _RIGHT + re_, filter_op)
    cov = pairs.groupBy(F.col(_RIGHT + "__rid").alias("__rid")).agg(
        F.sum(ov).alias("coverage")
    )
    out = r.join(cov, "__rid", "left").withColumn(
        "coverage", F.coalesce(F.col("coverage"), F.lit(0)).cast(T.LongType())
    )
    return out.drop("__rid")


def _collect_left_algorithm(op: str, algorithm: str) -> str:
    """Resolve the ``algorithm`` argument of the CollectLeft operators
    (count_overlaps, coverage, subtract): ``auto`` is ``broadcast``."""
    if algorithm not in ("auto", "broadcast", "join"):
        raise ValueError(f"{op} algorithm must be auto|broadcast|join, got {algorithm!r}")
    return "broadcast" if algorithm == "auto" else algorithm


#: row guard for driver-collect broadcast paths: three int64 columns per row
#: keep the collected index well under typical driver budgets at this bound.
BROADCAST_GUARD_ROWS = 8_000_000


_FITS_BROADCAST_MEMO = ProbeMemo()


def _fits_broadcast(left: DataFrame, guard: int | None = None) -> bool:
    """True when ``left`` is provably at or under ``guard`` rows (default
    ``BROADCAST_GUARD_ROWS``, read at call time).  Bounded probe —
    ``limit(guard+1)`` — so the check never scans a 100 TB table; an
    over-guard side makes the caller fall back to the shuffle-parallel join
    plan instead of collecting data-scale rows onto the driver (VERDICT r2
    scale-killer #4).  Memoized per semantic plan so repeated probes over
    the same frame skip the job.

    The probe is one Spark job whose generated code repeats, so a probe of
    a new file of the same shape compiles nothing: a top-level ``limit``
    collects through ``CollectLimit``.  A ``limit`` under a ``count`` plans
    an ``Exchange SinglePartition`` that adaptive execution runs as a second
    job, and its codegen'd limit names a counter from a JVM-wide sequence,
    so that source never hits the codegen cache.  The one-literal
    projection prunes the scan to no column; at the default guard the
    collected column is ~1 MB of Arrow."""
    if guard is None:
        guard = BROADCAST_GUARD_ROWS

    def probe() -> bool:
        return left.select(F.lit(True).alias("r")).limit(guard + 1).toArrow().num_rows <= guard

    return _FITS_BROADCAST_MEMO.get_or_probe(lambda: (plan_key(left), guard), probe)


def _plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes; runs no job.  An
    unknown size (a frame built from a Python list) is Long.MaxValue."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _collect_left_fits(df: DataFrame, size: int | None = None) -> bool:
    """The two gates of every CollectLeft path that collects a whole frame
    (nearest, the inner overlap join).  Spark's own broadcast rule first:
    the size estimate (``size``, else :func:`_plan_bytes`) within
    ``spark.sql.autoBroadcastJoinThreshold`` — no job, and it bounds the
    payload columns, which are collected too; then :func:`_fits_broadcast`.
    A streaming frame cannot be collected and never fits."""
    if df.isStreaming:
        return False
    threshold = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if size is None:
        size = _plan_bytes(df)
    return 0 <= size <= threshold and _fits_broadcast(df)


def _count_or_cover_broadcast(
    left: DataFrame,
    right: DataFrame,
    lcols: tuple[str, str, str],
    rcols: tuple[str, str, str],
    filter_op: str,
    mode: str,
) -> DataFrame | None:
    """CollectLeft path: the :func:`_collect_index` of the left coordinates,
    probed batch-wise with numpy searchsorted (reference
    ``interval_tree.rs:20-73,145-152``) in one Arrow UDF over the right
    coordinates (:func:`_probe_column`).  Returns None when the left side
    exceeds the broadcast guard (caller falls back to the join plan)."""
    import numpy as np
    import pyarrow as pa

    if not _fits_broadcast(left):
        return None
    bidx = _collect_index(left.select(*lcols), *lcols)
    shrink = 0 if filter_op == "weak" else 1
    out_col = "count" if mode == "count" else "coverage"

    def count_run(starts, ends):
        # the run is (start, end)-sorted: starts and the point starts already
        # are; pts feeds the strict-mode correction below
        return starts, np.sort(ends), starts[starts == ends]

    def cover_run(starts, ends):
        # touching merges are harmless for coverage sums; only true
        # overlap must collapse so lengths don't double-count.  The
        # reference per-interval contribution floors at 1 (point intervals
        # fully inside the probe still count one base).
        ms_a, me_a = _merge_islands(starts, ends, strict=False)
        return ms_a, me_a, np.maximum(me_a - ms_a, 1).cumsum()

    def count(run, rrs, rre):
        starts, ends, pts = run
        if not shrink:
            # weak: #(ls <= re) - #(le < rs); every le<rs interval has
            # ls <= le < rs <= re, so the subtraction identity is exact
            return np.searchsorted(starts, rre, "right") - np.searchsorted(ends, rrs, "left")
        # strict: #(ls < re) - #(le <= rs) is exact for re > rs, but POINT
        # queries (re == rs) wrongly subtract point intervals at exactly rs
        # (they have le <= rs but not ls < re) — add them back
        corr = np.where(
            rre == rrs,
            np.searchsorted(pts, rrs, "right") - np.searchsorted(pts, rrs, "left"),
            0,
        )
        return np.searchsorted(starts, rre, "left") - np.searchsorted(ends, rrs, "right") + corr

    def cover(run, rrs, rre):
        ms_a, me_a, lens = run
        cqs, cqe = rrs + shrink, rre - shrink
        lo = np.searchsorted(me_a, cqs, "left")  # first merged iv ending >= qs
        hi = np.searchsorted(ms_a, cqe, "right")  # first merged iv starting > qe
        # lo is clipped because np.where evaluates both branches eagerly: a
        # query right of every interval has lo == n (masked out by the
        # hi-lo>2 condition, but still indexed)
        inner = np.where(
            hi - lo > 2, lens[np.maximum(hi - 2, 0)] - lens[np.minimum(lo, len(lens) - 1)], 0
        )
        # clip first and last overlapping merged interval with the
        # reference formula on the (shrink-adjusted) query:
        # max(1, min(qe+1, me) - max(qs-1, ms)) per interval
        f = np.minimum(lo, len(ms_a) - 1)
        l_ = np.maximum(hi - 1, 0)
        first_len = np.maximum(np.minimum(me_a[f], cqe + 1) - np.maximum(ms_a[f], cqs - 1), 1)
        last_len = np.where(
            l_ != f,
            np.maximum(np.minimum(me_a[l_], cqe + 1) - np.maximum(ms_a[l_], cqs - 1), 1),
            0,
        )
        return np.where(hi > lo, inner + first_len + last_len, 0)

    derive, kernel = (count_run, count) if mode == "count" else (cover_run, cover)

    def probe(batches):
        for batch, qs, qe, _, groups in _probe_batches(bidx.value, batches, rcols, derive):
            res = np.zeros(batch.num_rows, np.int64)
            for m, run, _ in groups:
                res[m] = kernel(run, qs[m], qe[m])
            yield pa.array(res)

    return right.withColumn(out_col, _probe_column(probe, rcols, T.LongType()))


#: memoized CollectLeft index broadcasts, keyed (plan+files, cols)
_COLLECT_INDEX_MEMO = ProbeMemo()


def _collect_index(df: DataFrame, c: str, s: str, e: str):
    """The one CollectLeft index (reference ``count_overlaps.rs:122-141``,
    ``nearest_index.rs:24-120``), built once per input and broadcast:
    ``(bounds, starts, ends, payload)`` — per contig the ``[lo, hi)`` slice
    of the int64 ``starts``/``ends`` holding its (start, end)-sorted run,
    and every other column of ``df`` taken in that order.  Rows with a NULL
    contig, start or end are dropped: they never match.  Operators derive
    their own per-contig structures from a run on the worker (see
    :func:`_probe_batches`); shipping them would only grow every worker's
    copy of the broadcast.  Memoized per (plan+files, cols); small bound,
    since an entry holds up to ``BROADCAST_GUARD_ROWS`` rows."""

    def build():
        import numpy as np
        import pandas as pd
        import pyarrow.compute as pc

        # toArrow, not toPandas: pandas turns a nullable long column into
        # float64, which is not exact above 2^53 and casts NULL to garbage.
        # Arrow keeps every Spark type as a mapInArrow probe writes it back.
        tbl = df.toArrow()
        tbl = tbl.filter(
            pc.and_(
                pc.is_valid(tbl.column(c)),
                pc.and_(pc.is_valid(tbl.column(s)), pc.is_valid(tbl.column(e))),
            )
        )
        codes, contigs = pd.factorize(tbl.column(c).to_numpy(zero_copy_only=False))
        starts = tbl.column(s).to_numpy().astype(np.int64, copy=False)
        ends = tbl.column(e).to_numpy().astype(np.int64, copy=False)
        # one (contig, start, end)-sorted run per contig; lexsort is stable,
        # so equal intervals keep input order (nearest's last tie-break)
        order = np.lexsort((ends, starts, codes))
        cuts = np.searchsorted(codes[order], np.arange(len(contigs) + 1))
        bounds = {k: (int(cuts[j]), int(cuts[j + 1])) for j, k in enumerate(contigs)}
        payload = {
            n: tbl.column(n).take(order).combine_chunks()
            for n in tbl.column_names
            if n not in (s, e)
        }
        return df.sparkSession.sparkContext.broadcast((bounds, starts[order], ends[order], payload))

    return _COLLECT_INDEX_MEMO.get_or_probe(lambda: (plan_key(df), c, s, e), build, bound=4)


def _probe_column(probe, cols: tuple[str, str, str], return_type) -> Column:
    """One scalar-iterator Arrow UDF over the probe side's (contig, start,
    end) ``cols``: ``probe`` maps an iterator of Arrow batches of those
    columns to one result array per batch.  Unlike a ``mapInArrow`` over
    whole rows, the rest of the probe row stays in the JVM, so a projection
    after it still prunes the probe side's scan."""
    import pyarrow as pa

    names = list(cols)

    def run(arrays):
        return probe(pa.RecordBatch.from_arrays(list(a), names=names) for a in arrays)

    run.__name__ = probe.__name__  # the name plans show
    # real objects, not the strings this module's annotations would be:
    # Spark reads the hints to pick the scalar-iterator UDF type
    run.__annotations__ = {"arrays": Iterator[Tuple[pa.Array, ...]], "return": Iterator[pa.Array]}
    return F.arrow_udf(run, return_type)(*cols)


def _probe_batches(index, batches, rcols: tuple[str, str, str], derive):
    """The probe loop every :func:`_collect_index` user runs in its
    ``mapInArrow`` or Arrow UDF, over ``index``, the broadcast's value.
    Yields ``(batch, starts, ends, valid, groups)`` per Arrow batch: the
    probe coordinates as int64 (NULL read as 0), ``valid`` where both are
    non-NULL, and one ``(mask, run, lo)`` per contig the index holds — the
    valid batch rows on it, ``derive(starts, ends)`` over its sorted run
    (computed once per task) and the run's offset into the index.  A NULL
    or absent contig is in no group, so it matches nothing."""
    import pandas as pd
    import pyarrow.compute as pc

    bounds, starts, ends, _ = index
    rc, rs, re_ = rcols
    runs: dict = {}
    for batch in batches:
        contigs = batch.column(rc).to_numpy(zero_copy_only=False)
        s_col, e_col = batch.column(rs), batch.column(re_)
        valid = pc.and_(pc.is_valid(s_col), pc.is_valid(e_col)).to_numpy(zero_copy_only=False)
        groups = []
        codes, uniques = pd.factorize(contigs)  # NULL contigs get -1
        for j, contig in enumerate(uniques):
            b = bounds.get(contig)
            if b is None:
                continue
            run = runs.get(contig)
            if run is None:
                run = runs[contig] = derive(starts[b[0] : b[1]], ends[b[0] : b[1]])
            groups.append(((codes == j) & valid, run, b[0]))
        qs = pc.fill_null(s_col, 0).to_numpy()
        yield batch, qs, pc.fill_null(e_col, 0).to_numpy(), valid, groups


#: window entries (candidate pairs before the end filter) one overlap-join
#: probe chunk expands at once; bounds a Python worker's scratch arrays
_OVERLAP_CHUNK_PAIRS = 1 << 20


def _overlap_collect_left(
    left: DataFrame,
    right: DataFrame,
    lcols: tuple[str, str, str],
    rcols: tuple[str, str, str],
    filter_op: str,
    long_interval_factor: int | None,
) -> DataFrame | None:
    """CollectLeft path of the inner :func:`interval_join` — see its
    docstring.  Indexes the side with the smaller size estimate; returns
    None when that side is over a broadcast bound (or the contig columns
    differ in type), and the caller takes the binned plan.

    The other side streams past the index through :func:`_probe_column`,
    which returns, per probe row, the list of its matching indexed rows;
    ``inline`` flattens the lists, and a projection after the join still
    prunes the probe side's scan.  Output is ``left_*`` then ``right_*``
    whichever side is indexed."""
    if left.schema[lcols[0]].dataType != right.schema[rcols[0]].dataType:
        return None  # Spark would coerce; the index matches values exactly
    lsize, rsize = (I64_MAX if d.isStreaming else _plan_bytes(d) for d in (left, right))
    index_left = lsize <= rsize
    idf, icols, pdf, pcols = (
        (left, lcols, right, rcols) if index_left else (right, rcols, left, lcols)
    )
    if not _collect_left_fits(idf, min(lsize, rsize)):
        return None

    import numpy as np
    import pyarrow as pa

    bidx = _collect_index(idf, *icols)
    strict = filter_op != "weak"
    factor = long_interval_factor or 0
    ipre, ppre = (_LEFT, _RIGHT) if index_left else (_RIGHT, _LEFT)
    hit_fields = [T.StructField(ipre + f.name, f.dataType, f.nullable) for f in idf.schema.fields]
    hit_names, nullable = [f.name for f in hit_fields], [f.nullable for f in hit_fields]
    inames = list(idf.columns)

    def hits(batches):
        _, starts, ends, payload = bidx.value
        by_name = dict(payload, **{icols[1]: pa.array(starts), icols[2]: pa.array(ends)})
        icol = [by_name[n] for n in inames]
        for batch, qs, qe, _, groups in _probe_batches(
            bidx.value, batches, pcols, lambda s, e: _overlap_split(s, e, factor)
        ):
            prow, irow = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
            for m, parts, lo in groups:
                rows = np.flatnonzero(m)
                for part in parts:
                    for p, i in _overlap_pairs(part, qs[rows], qe[rows], strict):
                        prow.append(rows[p])
                        irow.append(i + lo)
            prow, irow = np.concatenate(prow), np.concatenate(irow)
            order = np.argsort(prow, kind="stable")
            offsets = np.zeros(batch.num_rows + 1, np.int32)
            np.cumsum(np.bincount(prow, minlength=batch.num_rows), out=offsets[1:])
            take = pa.array(irow[order])
            cols = [c.take(take) for c in icol]
            fields = [pa.field(f, c.type, n) for f, c, n in zip(hit_names, cols, nullable)]
            matched = pa.StructArray.from_arrays(cols, fields=fields)
            yield pa.ListArray.from_arrays(pa.array(offsets), matched)

    hit_type = T.ArrayType(T.StructType(hit_fields), False)
    out = pdf.select(
        *[F.col(c).alias(ppre + c) for c in pdf.columns],
        F.inline(_probe_column(hits, pcols, hit_type)),
    )
    if not index_left:
        return out  # already left_* (the probe side) then right_*
    return out.select(
        *[_LEFT + c for c in left.columns], *[_RIGHT + c for c in right.columns]
    )


def _overlap_split(starts, ends, factor: int) -> list:
    """Split one (start, end)-sorted run for the overlap join: intervals at
    most ``factor`` times the run's median width (short) and the rest
    (long); no split when ``factor`` is 0.  Each part is ``(run positions,
    starts, ends, prefix-max end)``, still sorted by start, and windows its
    probes separately: a long interval would otherwise hold the prefix-max
    end up and widen every later short window."""
    import numpy as np

    w = ends - starts
    if factor and len(w):
        short = w <= factor * max(float(np.median(w)), 1.0)
        parts = [np.flatnonzero(short), np.flatnonzero(~short)]
    else:
        parts = [np.arange(len(w))]
    return [(i, starts[i], ends[i], np.maximum.accumulate(ends[i])) for i in parts if len(i)]


def _overlap_pairs(part, qs, qe, strict: bool):
    """Every overlapping (probe position, run position) pair of one
    :func:`_overlap_split` part, yielded in chunks of about
    ``_OVERLAP_CHUNK_PAIRS`` window entries.  A probe's window is
    ``[first prefix-max end reaching qs, first start past qe)``: rows
    before it end before qs, rows after it start after qe; inside it only
    the end still needs checking.  Weak: ``start <= qe and end >= qs``;
    strict: both comparisons strict."""
    import numpy as np

    idx, starts, ends, pmax = part
    lo = np.searchsorted(pmax, qs, "right" if strict else "left")
    cnt = np.maximum(np.searchsorted(starts, qe, "left" if strict else "right") - lo, 0)
    csum = np.cumsum(cnt)
    if not len(csum) or not csum[-1]:
        return
    cuts = np.searchsorted(csum, np.arange(_OVERLAP_CHUNK_PAIRS, csum[-1], _OVERLAP_CHUNK_PAIRS))
    for a, b in zip([0, *cuts], [*cuts, len(qs)]):
        c = cnt[a:b]
        n = int(c.sum())
        if not n:
            continue
        rep = np.repeat(np.arange(a, b), c)
        j = lo[rep] + np.arange(n) - np.repeat(np.cumsum(c) - c, c)
        keep = (ends[j] > qs[rep]) if strict else (ends[j] >= qs[rep])
        yield rep[keep], idx[j[keep]]


def _merge_islands(starts, ends, strict: bool):
    """Merge one contig's (start, end)-sorted intervals into sorted disjoint
    islands: ``(island_starts, island_ends)``.  A row starts a new island
    iff its start exceeds (``strict``: reaches) the running max end of all
    previous rows — weak merges touching intervals, strict only true
    overlap (merge.rs:290-297)."""
    import numpy as np

    run_max = np.maximum.accumulate(ends)
    new_island = np.ones(len(starts), dtype=bool)
    if len(starts) > 1:
        new_island[1:] = (starts[1:] >= run_max[:-1]) if strict else (starts[1:] > run_max[:-1])
    # island ends are the running max at each island's last row
    last_of_island = np.ones(len(starts), dtype=bool)
    last_of_island[:-1] = new_island[1:]
    return starts[new_island], run_max[last_of_island]


# ---------------------------------------------------------------------------
# merge / cluster  (gaps-and-islands)
# ---------------------------------------------------------------------------


def _with_island(
    df: DataFrame, c: str, s: str, e: str, min_dist: int, filter_op: str
) -> DataFrame:
    """Assign a per-contig island id via the running-max-end sweep.

    Merge condition (reference ``merge.rs:290-297``): with
    ``boundary = cur_end + min_dist``, weak merges when ``start <= boundary``,
    strict when ``start < boundary``.
    """
    w = Window.partitionBy(c).orderBy(s, e)
    prev_max = F.max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    boundary = _saturating_add_const(prev_max, min_dist)
    merges = (F.col(s) <= boundary) if filter_op == "weak" else (F.col(s) < boundary)
    new_island = F.when(prev_max.isNull() | ~merges, 1).otherwise(0)
    island = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn("__island", island)


#: per-session memo of the density-derived chunk width (same semantic-plan
#: keying as the bin-width memo)
_CHUNK_WIDTH_MEMO = ProbeMemo()


def _auto_chunk_width(df: DataFrame, s: str, e: str) -> int:
    """Derive the chunked-sweep bucket width from the observed coordinate
    span: span / (4 * defaultParallelism) buckets in total, clamped to
    [1024, 10_000_000].  A fixed 10 Mb default is right for real genomes
    (~25 buckets per chromosome) but collapses to one bucket per contig on
    narrow coordinate spaces, serializing the sweep; sizing from a bounded
    sample keeps ~4 buckets per core regardless of the space.  The sample,
    the first 200k (start, end) rows, is collected in one Spark job (a
    top-level ``limit`` plans no exchange) and summarized on the driver.
    Memoized per semantic plan so repeated sweeps skip the job."""

    def probe() -> int:
        import pyarrow.compute as pc

        samp = df.select(F.col(s).alias("a"), F.col(e).alias("b")).limit(200_000).toArrow()
        lo, hi = pc.min(samp.column("a")).as_py(), _quantile(samp.column("b"), 0.99)
        if lo is None or hi is None:
            return 10_000_000
        par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        return max(1024, min(int(max(hi - lo, 1)) // (4 * par) or 1, 10_000_000))

    return _CHUNK_WIDTH_MEMO.get_or_probe(lambda: (plan_key(df), s, e, "cw"), probe)


#: auto-sweep size cutoff: below this the per-contig window sort is cheaper
#: than the chunked path's fixed overhead (stats job + checkpoint + extra
#: stages) — measured crossover ~1-2 M rows on local[32] (sf0.1 merge: 1.2 s
#: window vs 3.7 s chunked; sf1: 6.6 s window vs 2.6 s chunked).
SWEEP_WINDOW_MAX_ROWS = 2_000_000


def _resolve_sweep_algorithm(df: DataFrame, algorithm: str) -> str:
    """``auto`` resolves the merge/cluster sweep strategy from the
    ``spark.bio.sweep.algorithm`` session conf (window | chunked); when
    unconfigured, a memoized bounded row probe picks ``window`` for small
    inputs and ``chunked`` — the 100 TB path whose per-contig window sort
    becomes a chunk-parallel two-phase sweep — above
    ``SWEEP_WINDOW_MAX_ROWS`` (the probe reads at most that many rows, so
    a 100 TB table answers instantly and lands on chunked)."""
    if algorithm != "auto":
        return algorithm
    from ..session import SWEEP_ALGORITHM_KEY

    configured = (df.sparkSession.conf.get(SWEEP_ALGORITHM_KEY, None) or "auto").lower()
    if configured != "auto":
        if configured not in ("window", "chunked"):
            raise ValueError(
                f"{SWEEP_ALGORITHM_KEY} must be auto|window|chunked, got {configured!r}"
            )
        return configured
    return "window" if _fits_broadcast(df, SWEEP_WINDOW_MAX_ROWS) else "chunked"


def merge(
    df: DataFrame,
    min_dist: int = 0,
    cols: Sequence[str] | None = None,
    filter_op: str = "weak",
    algorithm: str = "auto",
    chunk_width: int | None = None,
) -> DataFrame:
    """Merge overlapping (and within ``min_dist``) intervals per contig.
    Output: ``contig, pos_start, pos_end, n_intervals`` (Int64), the
    reference's fixed schema (``merge.rs:43-48``).

    ``algorithm='auto'`` (default): a memoized bounded row probe picks
    ``window`` under ``SWEEP_WINDOW_MAX_ROWS`` and ``chunked`` above it —
    the probe never reads more than the cutoff, so any data-scale input
    resolves to chunked instantly.

    ``algorithm='chunked'``: the 100 TB path.
    Phase 1 merges locally within ``(contig, floor(start / chunk_width))``
    — shuffle-parallel across genome chunks, no per-contig task.  Phase 2
    decides finality from a bucket-level summary (prefix max end over
    *previous* buckets — rows = #buckets, not #intervals): a local merge is
    final iff it cannot extend past its right bucket edge and cannot be
    reached from any earlier bucket.  Only the boundary-crossing remainder
    — O(#buckets), not O(#intervals) — goes through the global per-contig
    window.  Equality with the window path is property-tested.
    ``chunk_width=None`` sizes buckets from the observed coordinate span
    (~4 buckets per core, memoized stats job).

    ``algorithm='window'``: pure gaps-and-islands window SQL — one shuffle
    on contig, streaming running-max frame; unlike the reference's
    collect-per-contig (``grouped_stream.rs:24-124``) nothing is
    materialized per group.  Caveat: the window sorts each contig in ONE
    task, so both a billion-interval chromosome at scale and a 32-core
    local run over 4 contigs serialize (sf1: 6.4 s window vs 2.8 s
    chunked) — which is why chunked is the default.
    """
    _check_filter_op(filter_op)
    df, (c, s, e) = _normalize(df, cols)
    algorithm = _resolve_sweep_algorithm(df, algorithm)
    if algorithm == "window":
        isl = _with_island(df.select(c, s, e), c, s, e, min_dist, filter_op)
        return (
            isl.groupBy(F.col(c).alias("contig"), F.col("__island"))
            .agg(
                F.min(s).cast(T.LongType()).alias("pos_start"),
                F.max(e).cast(T.LongType()).alias("pos_end"),
                F.count(F.lit(1)).alias("n_intervals"),
            )
            .drop("__island")
        )
    if algorithm != "chunked":
        raise ValueError(f"merge algorithm must be 'window' or 'chunked', got {algorithm!r}")

    if chunk_width is None:
        chunk_width = _auto_chunk_width(df, s, e)
    d = df.select(
        F.col(c).alias("contig"),
        F.col(s).cast(T.LongType()).alias("pos_start"),
        F.col(e).cast(T.LongType()).alias("pos_end"),
    )
    # phase 0 (weak mode): collapse duplicate (contig, start, end) triples
    # into a weight column BEFORE the sweep.  The hash aggregate combines
    # map-side, so its shuffle moves only per-partition-distinct rows, and
    # the phase-1 window then sorts #distinct rows instead of #input rows —
    # on duplicate-heavy inputs this is the difference between sorting 600 M
    # and 1.8 M rows (measured sf100: the saturated gate space carries a
    # 336x duplication factor and the sweep's wall time was ~90% duplicate
    # sorting).  Dedup-light inputs pay one extra exchange of ~input volume
    # — bounded, and the chunked path is the data-scale path where the
    # collapse is the safe default.  Strict mode keeps the raw rows: two
    # identical zero-length intervals do NOT merge under strict overlap
    # (s < e fails), so collapsing them would wrongly fuse their islands.
    if filter_op == "weak":
        d = d.groupBy("contig", "pos_start", "pos_end").agg(
            F.count(F.lit(1)).alias("__w")
        )
    else:
        d = d.withColumn("__w", F.lit(1).cast(T.LongType()))
    d = d.withColumn("__b", (F.col("pos_start") / chunk_width).cast("long"))
    # phase 1: local islands within (contig, bucket)
    wloc = Window.partitionBy("contig", "__b").orderBy("pos_start", "pos_end")
    prev_max = F.max("pos_end").over(wloc.rowsBetween(Window.unboundedPreceding, -1))
    boundary = _saturating_add_const(prev_max, min_dist)
    merges = (
        (F.col("pos_start") <= boundary)
        if filter_op == "weak"
        else (F.col("pos_start") < boundary)
    )
    isl = d.withColumn(
        "__island",
        F.sum(F.when(prev_max.isNull() | ~merges, 1).otherwise(0)).over(
            wloc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    local = isl.groupBy("contig", "__b", "__island").agg(
        F.min("pos_start").alias("pos_start"),
        F.max("pos_end").alias("pos_end"),
        F.sum("__w").alias("n_intervals"),
    )
    # lazy localCheckpoint: three consumers (bucket summary + final/nonfinal
    # branches) would otherwise each re-run the phase-1 sort+window —
    # exchange reuse does not cover the post-shuffle window stage (measured
    # 12 Window nodes in the executed plan, ~2.7x the single-window wall
    # time at sf1).  A checkpoint (not .persist()) so the materialized
    # islands stay referenced through DERIVED plans too — coverage/cluster/
    # subtract wrap this result and drop the Python-side reference, which
    # would un-pin a persist before execution.  Rows = #local islands <=
    # #input, MEMORY_AND_DISK, freed when the derived plans are GC'd.
    local = local.localCheckpoint(eager=False)
    # bucket summary: max end per bucket, prefix-max over previous buckets.
    # This window runs over #buckets rows — negligible at any scale.
    summ = local.groupBy("contig", "__b").agg(F.max("pos_end").alias("__bmax"))
    wsum = (
        Window.partitionBy("contig")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summ = summ.withColumn("__prev_max", F.max("__bmax").over(wsum)).select(
        "contig", "__b", "__prev_max"
    )
    # broadcast: summ is #buckets rows (genome span / chunk_width per
    # contig), never data-proportional — without the hint Catalyst can only
    # see "unknown size" and plans a sort-merge join, i.e. a full extra
    # shuffle of the phase-1 output, paid twice (final + nonfinal branches)
    cand = local.join(F.broadcast(summ), ["contig", "__b"], "left")
    # conservative (>=) finality test for both filter_ops: over-approximating
    # the non-final set is safe — phase 2 re-merges it exactly
    right_edge = (F.col("__b") + 1) * chunk_width
    can_extend_right = _saturating_add_const(F.col("pos_end"), min_dist) >= right_edge
    reachable_left = F.coalesce(
        _saturating_add_const(F.col("__prev_max"), min_dist) >= F.col("pos_start"),
        F.lit(False),
    )
    nonfinal = cand.filter(can_extend_right | reachable_left).drop(
        "__b", "__prev_max", "__island"
    )
    final = cand.filter(~(can_extend_right | reachable_left)).drop(
        "__b", "__prev_max", "__island"
    )
    # phase 2: exact global merge over the small boundary-crossing remainder
    isl2 = _with_island(nonfinal, "contig", "pos_start", "pos_end", min_dist, filter_op)
    merged2 = (
        isl2.groupBy("contig", "__island")
        .agg(
            F.min("pos_start").alias("pos_start"),
            F.max("pos_end").alias("pos_end"),
            F.sum("n_intervals").alias("n_intervals"),
        )
        .drop("__island")
    )
    return final.unionByName(merged2)


def _global_cluster_ids(ids: DataFrame, c: str, order_cols: Sequence[str]) -> DataFrame:
    """Add a globally-unique dense ``cluster`` Int64 id to *ids* (one row per
    cluster) ordered by ``(contig, *order_cols)`` — WITHOUT a global
    single-partition window.

    Two-level numbering (the scalable analogue of the reference's
    ``ClusterIdCoordinator``, ``cluster.rs:305-330``): a per-contig
    ``row_number`` (parallel across contigs) plus a cumulative contig offset
    computed over the tiny #contigs-row summary.
    """
    wct = Window.partitionBy(c).orderBy(*order_cols)
    ranked = ids.withColumn("__rank", F.row_number().over(wct))
    counts = ranked.groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
    # #contigs rows — a single-partition window here is negligible
    woff = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("__off", F.coalesce(F.sum("__n").over(woff), F.lit(0)))
    return (
        ranked.join(F.broadcast(offsets.select(c, "__off")), c)
        # ids start at 0 (reference test_cluster_udtf_basic: clusters 0, 1)
        .withColumn("cluster", (F.col("__off") + F.col("__rank") - 1).cast(T.LongType()))
        .drop("__rank", "__off")
    )


def cluster(
    df: DataFrame,
    min_dist: int = 0,
    cols: Sequence[str] | None = None,
    filter_op: str = "weak",
    algorithm: str = "auto",
    chunk_width: int | None = None,
) -> DataFrame:
    """Like merge but annotates every input row (all columns preserved) with
    ``cluster`` (globally unique Int64 id), ``cluster_start``, ``cluster_end``
    (reference ``cluster.rs:29-977``; output schema ``cluster.rs:49-69``).

    Global ids: the reference needs a cross-partition ``ClusterIdCoordinator``
    (``cluster.rs:305-330``); here ids come from :func:`_global_cluster_ids` —
    per-contig ranks plus a cumulative contig-offset table, so no global
    single-partition pass touches anything proportional to the data.

    ``algorithm='window'`` (default): per-contig island sweep; one window
    task per contig (fine up to ~100 M intervals/contig).

    ``algorithm='chunked'``: the 100 TB path — cluster extents come from
    ``merge(algorithm='chunked')`` (shuffle-parallel across genome chunks),
    ids from the two-level numbering, and rows are assigned to their cluster
    by a binned containment join; no per-contig serialization anywhere.
    """
    _check_filter_op(filter_op)
    df, (c, s, e) = _normalize(df, cols)
    algorithm = _resolve_sweep_algorithm(df, algorithm)

    if algorithm == "chunked":
        if chunk_width is None:
            chunk_width = _auto_chunk_width(df, s, e)
        extents = merge(
            df, min_dist=min_dist, cols=(c, s, e), filter_op=filter_op,
            algorithm="chunked", chunk_width=chunk_width,
        ).select(
            F.col("contig").alias(c),
            F.col("pos_start").alias("cluster_start"),
            F.col("pos_end").alias("cluster_end"),
        )
        # ── weak-mode broadcast fast path ── extents are disjoint and never
        # touch, so each row's start lies in exactly ONE extent; when the
        # extent table is broadcast-small AND thin per contig, a broadcast
        # hash join on contig + containment filter assigns clusters in pure
        # whole-stage codegen: NO shuffle of the (data-scale) input at all.
        # The per-contig cap matters because a BHJ probes every same-contig
        # extent per row — fine at ≤64, quadratic-ish at 10k.  Saturated
        # coordinate spaces (the adversarial density case) merge into a
        # handful of extents per contig, exactly where the binned join's
        # (contig, bin) shuffle loses all parallelism — measured sf100:
        # 315 s binned vs scan-bound with this path.  Wide real genomes
        # (many extents) keep the shuffle-parallel binned join below.
        if filter_op == "weak":
            # lazy localCheckpoint on the PRE-numbering extents: the stats
            # probe materializes the merge DAG once; the fast-path collect
            # (or the fallback numbering + assignment join) reads it back.
            # Checkpointing before the numbering subtree means the probe no
            # longer executes the rank-window/count/offset/join chain at
            # all — on the fast path that chain is replaced by a driver
            # sort (r11: ~5 scheduler jobs fewer per run).
            extents = extents.localCheckpoint(eager=False)
            # ONE stats job answers both fast-path gates (total extents ≤
            # broadcast guard, ≤64 extents/contig) — r11 probe-fusion
            stats = (
                extents.groupBy(c)
                .agg(F.count(F.lit(1)).alias("__n"))
                .agg(F.sum("__n").alias("t"), F.max("__n").alias("m"))
                .collect()[0]
            )
            if (
                (stats["t"] or 0) <= BROADCAST_GUARD_ROWS
                and (stats["m"] or 0) <= 64
            ):
                # driver-side numbering: the extent set is ≤ the bounded-
                # collect guard and already checkpoint-materialized, so
                # collect it and assign the global dense ids with a local
                # sort — identical ordering to _global_cluster_ids
                # ((contig, cluster_start, cluster_end); Python str
                # comparison is code-point order, which equals Spark's
                # UTF-8 binary order, and ASC NULLS FIRST is reproduced by
                # the (x is not None, x) key; extents are disjoint per
                # contig so there are no ties).
                rows = extents.collect()
                rows.sort(
                    key=lambda r: tuple((x is not None, x) for x in (r[0], r[1], r[2]))
                )
                from ..session import local_frame

                rid = local_frame(
                    df.sparkSession,
                    [(r[0], i, r[1], r[2]) for i, r in enumerate(rows)],
                    T.StructType(
                        [
                            T.StructField("__cc", extents.schema[0].dataType, True),
                            T.StructField("cluster", T.LongType(), False),
                            T.StructField("cluster_start", T.LongType(), True),
                            T.StructField("cluster_end", T.LongType(), True),
                        ]
                    ),
                )
                return (
                    df.join(
                        F.broadcast(rid),
                        (F.col(c) == F.col("__cc"))
                        & (F.col("cluster_start") <= F.col(s))
                        & (F.col(s) <= F.col("cluster_end")),
                        "inner",
                    )
                    .drop("__cc")
                    .select(*df.columns, "cluster", "cluster_start", "cluster_end")
                )
        ids = _global_cluster_ids(extents, c, ["cluster_start", "cluster_end"])
        # lazy localCheckpoint: in strict mode the extents are not
        # checkpointed above, and the assignment join below must not re-run
        # the whole merge+numbering DAG per consumer
        ids = ids.localCheckpoint(eager=False)
        # assignment join on the row's start point: cluster_start <= s <=
        # cluster_end.  In weak mode extents never touch, so each row hits
        # exactly one cluster and no dedupe is needed.  In strict mode two
        # extents can share a boundary point; the rank below reproduces the
        # sweep's assignment (prefer the cluster containing the row's end,
        # then the later cluster_start, then the earlier id) over the ≤2
        # candidates — a per-row-id shuffle paid only on that mode.
        did = df.withColumn("__rid", F.monotonically_increasing_id()).withColumn(
            "__ps", F.col(s)
        )
        cand = interval_join(
            did,
            ids,
            cols_left=(c, s, "__ps"),  # the row's start point as a point interval
            cols_right=(c, "cluster_start", "cluster_end"),
            filter_op="weak",
            how="inner",
            # explicit bin width: the auto sizer samples interval widths from
            # BOTH sides, and the right side here is the whole merge+numbering
            # DAG — the stats job would execute the merge pipeline once just
            # to look at it, then execution runs it again.  chunk_width is
            # the right granularity anyway: the left side is point intervals
            # (one bin each) and extents are disjoint, so each (contig, bin)
            # bucket sees at most a handful of extents regardless of scale.
            bin_width=chunk_width,
        )
        if filter_op != "weak":
            pick = Window.partitionBy(_LEFT + "__rid").orderBy(
                F.desc(F.col(_LEFT + e) <= F.col(_RIGHT + "cluster_end")),
                F.desc(_RIGHT + "cluster_start"),
                F.asc(_RIGHT + "cluster"),
            )
            cand = cand.withColumn("__pk", F.row_number().over(pick)).filter(
                F.col("__pk") == 1
            )
        return cand.select(
            *[F.col(_LEFT + col).alias(col) for col in df.columns],
            F.col(_RIGHT + "cluster").alias("cluster"),
            F.col(_RIGHT + "cluster_start").alias("cluster_start"),
            F.col(_RIGHT + "cluster_end").alias("cluster_end"),
        )

    if algorithm != "window":
        raise ValueError(
            f"cluster algorithm must be 'window' or 'chunked', got {algorithm!r}"
        )
    isl = _with_island(df, c, s, e, min_dist, filter_op)
    # EAGER localCheckpoint: three consumers (extents aggregate, id-rank
    # chain, final row join) are submitted concurrently by the scheduler,
    # and a lazy checkpoint materializes once per in-flight consumer before
    # any block is published — measured three identical 1.55 s-CPU window
    # stages per run at sf0.1 (the same race 01dd774 fixed for minhash).
    # The eager barrier runs the islands window exactly once.
    isl = isl.localCheckpoint(eager=True)
    # one aggregation yields extents AND the per-cluster row for id ranking —
    # replaces two (c, island)-partitioned windows plus a distinct (3
    # shuffles) with one agg + one join
    ext = isl.groupBy(c, "__island").agg(
        F.min(s).cast(T.LongType()).alias("cluster_start"),
        F.max(e).cast(T.LongType()).alias("cluster_end"),
    )
    ids = _global_cluster_ids(ext, c, ["cluster_start", "__island"])
    out = isl.join(ids, [c, "__island"], "inner")
    return out.drop("__island").select(*df.columns, "cluster", "cluster_start", "cluster_end")


# ---------------------------------------------------------------------------
# complement / subtract
# ---------------------------------------------------------------------------


def complement(
    df: DataFrame,
    view: DataFrame | None = None,
    cols: Sequence[str] | None = None,
    view_cols: Sequence[str] | None = None,
    min_dist: int = 0,
    filter_op: str = "weak",
) -> DataFrame:
    """Per-contig gaps not covered by any interval, bounded by an optional
    chromsizes ``view`` table (reference ``complement.rs:27-478``).  Without a
    view the bounds default to ``(0, i64::MAX)`` per observed contig
    (``complement.rs:398-400``); contigs present only in the view are emitted
    whole (``complement.rs:429-446``).  Output: ``contig, pos_start, pos_end``.

    The dominant step is :func:`merge`, whose ``auto`` takes the
    shuffle-parallel chunked sweep above ``SWEEP_WINDOW_MAX_ROWS``; the gap
    window itself runs over merged islands (rows bounded by genome size /
    min_dist, not input size).
    """
    _check_filter_op(filter_op)
    df, (c, s, e) = _normalize(df, cols)
    m = merge(df, min_dist=min_dist, cols=(c, s, e), filter_op=filter_op)
    # m is consumed by 2-3 branches below (before/tail gaps + the view-only
    # probe): without a barrier each union branch re-ran the input-sized
    # sort+window of the merge (measured r11: 15.9 s of task time in the
    # final stage at sf0.1 — AQE does not exchange-reuse the post-shuffle
    # window stages).  A lazy localCheckpoint truncates the lineage to the
    # merged islands (genome-bounded rows), so every branch reads the
    # materialized islands instead.  Re-measured net-POSITIVE once the
    # r11 driver-side fixes cut checkpoint planning cost (2.50 -> 1.85 s);
    # the round-7 measurement that removed it predates those.

    m = m.localCheckpoint(eager=False)

    if view is not None:
        view, (vc, vs, ve) = _normalize(view, view_cols)
        bounds = view.select(
            F.col(vc).alias("contig"),
            F.col(vs).alias("__vstart"),
            F.col(ve).alias("__vend"),
        )
    else:
        bounds = m.select("contig").distinct().select(
            "contig", F.lit(0).cast("long").alias("__vstart"), F.lit(I64_MAX).alias("__vend")
        )

    mb = m.join(F.broadcast(bounds), "contig", "inner").filter(
        (F.col("pos_start") <= F.col("__vend")) & (F.col("pos_end") >= F.col("__vstart"))
    )
    w = Window.partitionBy("contig").orderBy("pos_start", "pos_end")
    # lead IS NULL marks the last interval per contig on the SAME ascending
    # sort — no second (descending) window pass
    mb = mb.withColumn("__prev_end", F.lag("pos_end").over(w)).withColumn(
        "__is_last", F.lead("pos_start").over(w).isNull()
    )
    # Gap bounds are END-EXCLUSIVE, matching the reference
    # (test_complement_udtf_basic_no_view: intervals (100,200),(300,400)
    # under the implicit [0, i64::MAX) view complement to (0,100),
    # (200,300), (400, i64::MAX) — no ±1): the gap before an interval runs
    # from the previous covered end to this start, clipped to the view.
    gap_start = F.greatest(
        F.coalesce(F.col("__prev_end"), F.col("__vstart")), F.col("__vstart")
    )
    gap_end = F.least(F.col("pos_start"), F.col("__vend"))
    before = mb.select(
        "contig", gap_start.alias("pos_start"), gap_end.alias("pos_end")
    ).filter(F.col("pos_start") < F.col("pos_end"))
    # tail gap after the last interval of each contig
    tail = mb.filter(F.col("__is_last")).select(
        "contig",
        F.greatest(F.col("pos_end"), F.col("__vstart")).alias("pos_start"),
        F.col("__vend").alias("pos_end"),
    ).filter(F.col("pos_start") < F.col("pos_end"))
    out = before.unionByName(tail)

    # view-only contigs, emitted whole
    if view is not None:
        observed = m.select("contig").distinct()
        whole = bounds.join(observed, "contig", "left_anti").select(
            "contig", F.col("__vstart").alias("pos_start"), F.col("__vend").alias("pos_end")
        )
        out = out.unionByName(whole)
    return out.select(
        "contig",
        F.col("pos_start").cast(T.LongType()).alias("pos_start"),
        F.col("pos_end").cast(T.LongType()).alias("pos_end"),
    )


def _subtract_broadcast(
    left: DataFrame,
    right: DataFrame,
    lcols: tuple[str, str, str],
    rcols: tuple[str, str, str],
    filter_op: str,
) -> DataFrame:
    """CollectRight subtract: the right coordinates' :func:`_collect_index`,
    merged per contig on the worker in a vectorized island reduction (same
    sweep the chunked merge runs distributed); every left batch fragments
    in one vectorized sweep (reference cursor semantics, subtract.rs:414-438
    — end-exclusive, no ±1, rows with ls >= le or a NULL start or end emit
    nothing).  The sweep is an Arrow UDF over the left (contig, start, end)
    (:func:`_probe_column`) returning each row's fragments, flattened by
    ``inline``, so a projection after it still prunes the left scan."""
    import numpy as np
    import pyarrow as pa

    _, ls, le = lcols
    strict = filter_op != "weak"
    bidx = _collect_index(right.select(*rcols), *rcols)
    fields = [T.StructField(c, T.LongType(), left.schema[c].nullable) for c in (ls, le)]
    arrow_fields = [pa.field(f.name, pa.int64(), f.nullable) for f in fields]

    def frag(batches):
        for batch, ls_a, le_a, valid, groups in _probe_batches(
            bidx.value, batches, lcols, lambda s, e: _merge_islands(s, e, strict)
        ):
            ok = valid & (ls_a < le_a)
            # rows on no indexed contig (absent or NULL) pass through whole
            rest = ok.copy()
            rows, starts, ends = [], [], []
            for m, (ms_arr, me_arr), _ in groups:
                rest &= ~m
                sub = np.flatnonzero(m & ok)
                s_a, e_a = ls_a[sub], le_a[sub]
                if strict:
                    # overlap iff ms < le AND me > ls
                    lo = np.searchsorted(me_arr, s_a, "right")
                    hi = np.searchsorted(ms_arr, e_a, "left")
                else:
                    # overlap iff ms <= le AND me >= ls
                    lo = np.searchsorted(me_arr, s_a, "left")
                    hi = np.searchsorted(ms_arr, e_a, "right")
                k = np.maximum(hi - lo, 0)
                rep = np.repeat(np.arange(len(sub)), k + 1)
                off = np.concatenate(([0], np.cumsum(k + 1)[:-1]))
                t = np.arange(len(rep)) - off[rep]
                klo = lo[rep]
                n_m = len(ms_arr)
                # cursor sweep: slot t gap runs from max(prev overlap end,
                # ls) to the next overlap start; the final slot (t == k)
                # is the tail ending at le
                prev_end = me_arr[np.clip(klo + t - 1, 0, n_m - 1)]
                start = np.where(t == 0, s_a[rep], np.maximum(prev_end, s_a[rep]))
                end = np.where(t == k[rep], e_a[rep], ms_arr[np.clip(klo + t, 0, n_m - 1)])
                keep = start < end
                rows.append(sub[rep[keep]])
                starts.append(start[keep])
                ends.append(end[keep])
            whole = np.flatnonzero(rest)
            rows.append(whole)
            starts.append(ls_a[whole])
            ends.append(le_a[whole])
            rows, starts, ends = (np.concatenate(x) for x in (rows, starts, ends))
            order = np.argsort(rows, kind="stable")  # input row order
            offsets = np.zeros(batch.num_rows + 1, np.int32)
            np.cumsum(np.bincount(rows, minlength=batch.num_rows), out=offsets[1:])
            pieces = pa.StructArray.from_arrays(
                [pa.array(starts[order]), pa.array(ends[order])], fields=arrow_fields
            )
            yield pa.ListArray.from_arrays(pa.array(offsets), pieces)

    frag_type = T.ArrayType(T.StructType(fields), False)
    out = left.select(
        *[c for c in left.columns if c not in (ls, le)],
        F.inline(_probe_column(frag, lcols, frag_type)),
    )
    return out.select(*left.columns)


def subtract(
    left: DataFrame,
    right: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    algorithm: str = "auto",
) -> DataFrame:
    """Base-pair set difference: every left interval is fragmented at the
    boundaries of (pre-merged) overlapping right intervals; extra left columns
    are preserved on each fragment (reference ``subtract.rs:28-668``; output =
    left schema with start/end retyped Int64, ``subtract.rs:50-77``).

    ``algorithm='broadcast'`` (default via ``auto``): the right coordinates
    are collected through Arrow into the shared per-contig sorted-array
    index (:func:`_collect_index`, the one count_overlaps, coverage and
    nearest use), merged per contig on the worker; left rows fragment in a
    vectorized Arrow UDF sweep over their coordinates with NO shuffle at
    all.  Size-guarded: a right side above ``BROADCAST_GUARD_ROWS`` falls
    back to ``'join'`` — merge(right) → left-outer interval join →
    per-left-row window walk over the (disjoint, sorted) overlaps emitting
    the gaps in one explode pass; its right-side pre-merge is :func:`merge`,
    chunked for huge right tables.  Either way a right row with a
    NULL contig, start or end removes nothing, a left row with a NULL start
    or end emits no fragment (a NULL-contig one is kept whole) and every
    other column comes back exactly as it went in.
    """
    _check_filter_op(filter_op)
    left, (lc, ls, le) = _normalize(left, cols_left)
    right, (rc, rs, re_) = _normalize(right, cols_right)
    algorithm = _collect_left_algorithm("subtract", algorithm)
    # guard on the RAW right side (memoized bounded count probe) — merging
    # happens in the workers' vectorized island reduction, so no Spark
    # merge DAG runs at all
    if algorithm == "broadcast" and _fits_broadcast(right):
        return _subtract_broadcast(left, right, (lc, ls, le), (rc, rs, re_), filter_op)

    # NULL rows match nothing: drop them before merge's sweep, where a NULL
    # start would swallow its neighbours into one island
    m = merge(right.select(rc, rs, re_).na.drop(), cols=(rc, rs, re_), filter_op=filter_op).select(
        F.col("contig").alias("__mc"), F.col("pos_start").alias("__ms"), F.col("pos_end").alias("__me")
    )
    lw = left.withColumn("__lid", F.monotonically_increasing_id())
    cond = (
        (F.col(lc) == F.col("__mc"))
        & (
            (F.col(ls) <= F.col("__me")) & (F.col(le) >= F.col("__ms"))
            if filter_op == "weak"
            else (F.col(ls) < F.col("__me")) & (F.col(le) > F.col("__ms"))
        )
    )
    j = lw.join(m, cond, "left")

    # Fragment arithmetic is END-EXCLUSIVE, exactly as the reference sweep
    # (subtract.rs:414-438): with cursor starting at ls, each overlapping
    # (pre-merged, disjoint, start-sorted) right (rs, re) emits the gap
    # (cursor, rs) when rs > cursor and advances cursor to max(cursor, re);
    # the tail (cursor, le) is emitted when cursor < le.  Note the bounds
    # are used as-is — no ±1 — so e.g. (100,400) − (200,300) =
    # (100,200) + (300,400), and a left row with ls >= le emits nothing
    # (the bedtools/bioframe half-open convention; the integration tests
    # test_subtract_udtf_basic / _strict_boundary pin it).
    # single pass: every join row emits its fragments as an array — the gap
    # before its overlap, plus (on the last overlap) the tail, plus (on
    # no-overlap rows) the whole interval — then one explode.  The previous
    # three-branch union re-ran the join+window per branch (exchange reuse
    # does not cover the post-shuffle window stage): sf1 2.1 s -> ~1.4 s.
    w = Window.partitionBy("__lid").orderBy("__ms")
    # window columns materialized before the generator — window expressions
    # are not allowed inside explode()'s child
    jw = j.withColumn("__prev_me", F.lag("__me").over(w)).withColumn(
        "__is_last", F.lead("__ms").over(w).isNull()
    )
    # cursor before this right = max(ls, previous right end)
    gs = F.greatest(F.coalesce(F.col("__prev_me"), F.col(ls)), F.col(ls))
    frags = F.array(
        F.when(
            F.col("__ms").isNotNull(),
            F.struct(gs.alias("s"), F.col("__ms").alias("e")),
        ),
        F.when(
            F.col("__ms").isNotNull() & F.col("__is_last"),
            F.struct(F.greatest(F.col("__me"), F.col(ls)).alias("s"), F.col(le).alias("e")),
        ).when(
            F.col("__ms").isNull(),
            F.struct(F.col(ls).alias("s"), F.col(le).alias("e")),
        ),
    )
    expl = (
        jw.withColumn("__frag", F.explode(frags))
        .filter(F.col("__frag").isNotNull() & (F.col("__frag.s") < F.col("__frag.e")))
    )
    return expl.select(
        *[
            F.col("__frag.s").cast(T.LongType()).alias(x)
            if x == ls
            else F.col("__frag.e").cast(T.LongType()).alias(x)
            if x == le
            else F.col(x)
            for x in left.columns
        ]
    )


# ---------------------------------------------------------------------------
# nearest
# ---------------------------------------------------------------------------


def nearest(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    include_overlaps: bool = True,
    compute_distance: bool = True,
    filter_op: str = "weak",
    algorithm: str = "auto",
) -> DataFrame:
    """k nearest *left* intervals for every *right* (probe) row — the
    reference's genomic as-of join (``nearest.rs:29-547``).  Emits one row per
    (right row, neighbor); right rows with no candidate get NULL left columns
    (``nearest.rs:57-78``).  Distance semantics (``nearest_index.rs:252-260``):
    0 when overlapping, else the gap between the closest boundaries.
    Deterministic tie-break by (distance, left start, left end)
    (``nearest_index.rs:245-291``), then left input order.  A row with a
    NULL contig, start or end never matches, on either side.  In strict mode
    a point probe has no overlap candidates, for every ``k``: its neighbours
    are the nearest rows ending before it or starting after it.

    Every path answers with one kernel, :func:`_nearest_k`, over the same
    per-contig (start, end)-sorted arrays as the reference's CoitreesNearest
    index (``nearest_index.rs:24-120``), and every path is exact.

    ``algorithm='auto'`` (default) takes the CollectLeft index, for every
    ``k`` with no ``spark.bio.nearest.algorithm`` set, when the left side is
    under both broadcast bounds (its plan size estimate within
    ``spark.sql.autoBroadcastJoinThreshold``, its row count within
    ``BROADCAST_GUARD_ROWS``).  The left side is collected once through
    Arrow, broadcast as per-contig (start, end)-sorted coordinate arrays
    plus its payload columns, and every probe batch is answered in one
    ``mapInArrow`` — the reference's own CollectLeft shape
    (``nearest.rs:29-547``), with no exchange.  Otherwise it takes
    ``'radius'``.

    ``algorithm='radius'``: the 100 TB path — a chunked cogroup, exact by
    construction (see :func:`_nearest_chunked`).  Each contig is cut into
    fixed-width chunks (:func:`_auto_chunk_width`); a left row goes to every
    chunk its span touches, a probe to every chunk its own span touches,
    and each (contig, chunk) cell also receives two side summaries: the k
    rows ending last among those ending in an earlier chunk, and the k rows
    starting first among those starting in a later chunk.  One group
    function (:func:`_nearest_cells`) answers every cell, and one merge per
    probe keeps its first k.  Parallelism is #chunks (no per-contig skew
    ceiling) and, unlike a candidate join, dense data does NOT cost one
    row per overlapping pair.
    """
    _check_filter_op(filter_op)
    if k < 1:
        raise ValueError("k must be >= 1")
    if algorithm == "auto":
        from ..session import NEAREST_ALGORITHM_KEY

        algorithm = (left.sparkSession.conf.get(NEAREST_ALGORITHM_KEY, None) or "auto").lower()
        if algorithm == "auto":
            out = _nearest_collect_left(
                left, right, k, cols_left, cols_right, include_overlaps,
                compute_distance, filter_op,
            )
            if out is not None:
                return out
            # otherwise the shuffle-parallel chunked path
            algorithm = "radius"
    if algorithm != "radius":
        raise ValueError(f"nearest algorithm must be 'auto' or 'radius', got {algorithm!r}")

    left, lcols = _normalize(left, cols_left)
    right, rcols = _normalize(right, cols_right)
    shrink = 0 if filter_op == "weak" else 1
    keyed = right.filter(F.col(rcols[0]).isNotNull())
    out = _nearest_chunked(left, keyed, lcols, rcols, k, shrink, include_overlaps)
    # a probe with a NULL contig gets its no-neighbour row here, not from a
    # cogroup: the cogroup compares keys with the left side's key ordering,
    # which reads a non-nullable left contig as never NULL
    lonely = right.filter(F.col(rcols[0]).isNull()).select(
        *[F.lit(None).cast(f.dataType).alias(_LEFT + f.name) for f in left.schema.fields],
        *[F.col(c).alias(_RIGHT + c) for c in right.columns],
        F.lit(None).cast(T.LongType()).alias("distance"),
    )
    out = out.select(*lonely.columns).unionByName(lonely)
    if not compute_distance:
        out = out.drop("distance")
    return _rawify_strict_distance(out, shrink, compute_distance)


def _nearest_cells(
    left: DataFrame,
    right: DataFrame,
    lcols: tuple[str, str, str],
    rcols: tuple[str, str, str],
    k: int,
    shrink: int,
    include_overlaps: bool,
) -> DataFrame:
    """The group function of :func:`_nearest_chunked`: left and right
    cogrouped on (contig, ``__chunk``) — ``__chunk`` a column of both
    frames, not output — each cell's left rows indexed in (start, end,
    ``__lid``) order — ``__lid`` is a left column, the input order — and its
    probes answered by :func:`_nearest_probe`.  Output: the
    :func:`_nearest_schema` of the other columns, with the (shrunk)
    distance."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    _, ls, le = lcols
    lnames = [c for c in left.columns if c != "__chunk"]
    rnames = [c for c in right.columns if c != "__chunk"]
    out_schema = _nearest_schema(left.select(lnames), right.select(rnames), True)
    names = out_schema.fieldNames()

    def probe_group(key, ltab, rtab):
        # this group's own index, built as _collect_index builds the shared
        # one, with the input order as the last sort key
        ltab = ltab.filter(pc.and_(pc.is_valid(ltab.column(ls)), pc.is_valid(ltab.column(le))))
        starts, ends = ltab.column(ls).to_numpy(), ltab.column(le).to_numpy()
        order = np.lexsort((ltab.column("__lid").to_numpy(), ends, starts))
        # a NULL-contig left group gets no probes (see nearest): it matches nothing
        index = ({key[0].as_py(): (0, len(order))}, starts[order], ends[order], None)
        probes = pa.RecordBatch.from_arrays(
            [rtab.column(c).combine_chunks() for c in rnames], names=rnames
        )
        (arrays,) = _nearest_probe(
            index, [ltab.column(c).take(order) for c in lnames], [probes], rcols,
            k, shrink, include_overlaps, True,
        )
        return pa.Table.from_arrays(arrays, names=names)

    lg = left.groupBy(lcols[0], "__chunk")
    return lg.cogroup(right.groupBy(rcols[0], "__chunk")).applyInArrow(probe_group, out_schema)


def _nearest_chunked(
    left: DataFrame,
    right: DataFrame,
    lcols: tuple[str, str, str],
    rcols: tuple[str, str, str],
    k: int,
    shrink: int,
    include_overlaps: bool,
) -> DataFrame:
    """The chunked path of :func:`nearest` (``algorithm='radius'``), exact
    by construction.  With chunk width ``cw``, a left row goes to the
    chunks ``floor(start/cw)..floor(end/cw)`` and a probe to the chunks its
    own span covers, clamped to one chunk beyond its contig's left extent
    (cells past it hold no left rows); a probe with a NULL coordinate or on
    a contig absent from the left side goes to one cell, which answers it
    with its no-neighbour row.  Every probe has a contig (see
    :func:`nearest`).  Each (contig, chunk c) cell also gets two side
    summaries:

    * B_c: the k left rows first by (end desc, start, lid) among the rows
      whose end chunk is < c — every one ends before any probe in c;
    * A_c: the k left rows first by (start, end, lid) among the rows whose
      start chunk is > c — every one starts after any probe in c.

    A probe's overlapping rows share a chunk with it; its nearest rows
    before it lie in its first cell or that cell's B_c, those after it in
    its last cell or that cell's A_c.  Ranked by the same total order, a
    row among a probe's global first k is also among the first k of any
    cell holding it, so one merge per probe over its cells' answers —
    duplicates dropped, first k kept by (distance, start, end, lid), a
    no-neighbour row kept only when nothing else is — is the exact answer.

    Both summaries are a per-(contig, chunk) ``row_number() <= k`` window
    (planned as a partial ``WindowGroupLimit`` before its shuffle), then a
    per-contig ``lag`` of k over those few rows: a row stops serving the
    cells where k rows rank before it."""
    lc, ls, le = lcols
    rc, rs, re_ = rcols
    cw = float(_auto_chunk_width(left, ls, le))

    def chunk(c: Column) -> Column:
        return F.floor(c / F.lit(cw))

    lw = left.filter(F.col(lc).isNotNull() & F.col(ls).isNotNull() & F.col(le).isNotNull())
    lw = lw.withColumns({
        "__lid": F.monotonically_increasing_id(),
        "__sc": chunk(F.col(ls)),
        "__ec": chunk(F.col(le)),
    })
    lnames = [*left.columns, "__lid"]
    cells = lw.select(*lnames, F.explode(F.sequence("__sc", "__ec")).alias("__chunk"))
    # (chunk column, rank order, step from a row's own chunk to its cells)
    for c, order, step in (
        ("__ec", [F.col(le).desc(), F.col(ls), F.col("__lid")], 1),  # B
        ("__sc", [F.col(ls), F.col(le), F.col("__lid")], -1),  # A
    ):
        top = lw.withColumn(
            "__rk", F.row_number().over(Window.partitionBy(lc, c).orderBy(*order))
        ).filter(F.col("__rk") <= k)
        w = Window.partitionBy(lc).orderBy(*order)
        # a row serves the cells from the one past its own chunk to the
        # chunk of the row k ahead of it, or to one past the contig's extent
        # when fewer than k rows rank before it
        top = top.withColumns({
            "__near": F.col(c) + step,
            "__far": F.coalesce(F.lag(c, k).over(w), F.first(c).over(w) + step),
        })
        side = top.filter((F.col("__far") - F.col("__near")) * step >= 0).select(
            *lnames,
            F.explode(F.sequence("__near", "__far", F.lit(step).cast(T.LongType()))).alias("__chunk"),
        )
        cells = cells.unionByName(side)

    ext = lw.groupBy(F.col(lc).alias("__xc")).agg(
        F.min("__sc").alias("__lo"), F.max("__ec").alias("__hi")
    )

    def clamp(c: Column) -> Column:
        return F.least(F.greatest(chunk(c), F.col("__lo") - 1), F.col("__hi") + 1)

    # the probe id is set before the explode, so every cell of a probe has it
    probes = right.join(F.broadcast(ext), F.col(rc) == F.col("__xc"), "left").withColumn(
        "__pid", F.monotonically_increasing_id()
    )
    placed = F.col("__lo").isNotNull() & F.col(rs).isNotNull() & F.col(re_).isNotNull()
    # a probe with a NULL coordinate or on a contig absent from the left side
    # has no neighbour: any one cell answers it with its no-neighbour row
    span = F.when(
        placed, F.sequence(clamp(F.least(rs, re_)), clamp(F.greatest(rs, re_)))
    ).otherwise(F.array(F.coalesce(chunk(F.least(rs, re_)), F.lit(0))))
    pcells = probes.select(*right.columns, "__pid", F.explode(span).alias("__chunk"))

    # pin the cogroup exchanges (r12): the (contig, chunk) shuffle carries
    # sub-MB rows at small inputs, so AQE byte-coalescing folds it to ONE
    # post-shuffle partition and the kernel runs serially; a user
    # repartition on the cogroup keys satisfies its clustering requirement
    # (no extra exchange) and is exempt from coalescing.
    p = left.sparkSession.sparkContext.defaultParallelism
    res = _nearest_cells(
        cells.repartition(p, lc, "__chunk"), pcells.repartition(p, rc, "__chunk"),
        lcols, rcols, k, shrink, include_overlaps,
    )
    lid = _LEFT + "__lid"
    w = Window.partitionBy(_RIGHT + "__pid").orderBy(
        F.col(lid).isNull(), "distance", _LEFT + ls, _LEFT + le, lid
    )
    # a pair met in two cells comes back twice with the same rank
    res = res.withColumns({
        "__rk": F.dense_rank().over(w),
        "__rn": F.row_number().over(w),
        "__prev": F.lag(lid).over(w),
    })
    return res.filter(
        F.when(F.col(lid).isNull(), F.col("__rn") == 1).otherwise(
            (F.col("__rk") <= k) & ~F.col("__prev").eqNullSafe(F.col(lid))
        )
    )


def _rawify_strict_distance(out: DataFrame, shrink: int, compute_distance: bool) -> DataFrame:
    """Strict mode shrinks the probe by one per side for candidate
    selection/ordering, but the reference emits the distance computed from
    the RAW probe coordinates (``nearest.rs:368-374`` — "Use raw
    coordinates for distance, not the strict-adjusted query_start/
    query_end"), so touching half-open intervals report distance 0
    (test_nearest_udtf_strict_zero_based_boundary_distance).  The internal
    shrunk distance is uniformly raw+1 for non-overlap candidates, so
    subtract the shrink back, clamped at 0."""
    if shrink and compute_distance:
        out = out.withColumn(
            "distance",
            F.when(
                F.col("distance").isNotNull(),
                F.greatest(F.col("distance") - shrink, F.lit(0)),
            ),
        )
    return out


def _k1_index(starts, ends) -> tuple:
    """Lookup structures over one ``(start, end)``-sorted left run — the
    reference's CoitreesNearest index (``nearest_index.rs:24-120``): the
    sorted starts and ends, the prefix-max end, and the (end, start) order
    with the ends in that order."""
    import numpy as np

    end_order = np.lexsort((starts, ends))  # stable: ties keep run order
    return starts, ends, np.maximum.accumulate(ends), end_order, ends[end_order]


def _nearest_k1(index: tuple, qs, qe, include_overlaps: bool) -> tuple:
    """k=1 nearest left row of every probe ``[qs, qe]`` (already shrunk in
    strict mode) within one :func:`_k1_index` run, vectorized over the
    probes (reference hot path, ``nearest.rs:330-390``).  Returns
    ``(idx, dist)``: the run index of each winner, ``-1`` when the probe has
    no candidate, and its distance.  Ties break by (distance, start, end,
    run order) — comparing run indices does exactly that, because the run
    is (start, end)-sorted."""
    import numpy as np

    starts, ends, pmax, end_order, ends_sorted = index
    n = len(starts)
    if n == 0:
        return np.full(len(qs), -1, np.int64), np.zeros(len(qs), np.int64)
    # overlap: the first row whose prefix-max end reaches qs ends at or
    # after qs itself; it overlaps when it also starts at or before qe
    i0 = np.searchsorted(pmax, qs, "left")
    j_last = np.searchsorted(starts, qe, "right") - 1  # last start <= qe
    has_ov = include_overlaps & (i0 <= j_last) & (i0 < n) & (qs <= qe + 1)
    # left-side candidate: largest end < qs, among ties smallest start
    pos_l = np.searchsorted(ends_sorted, qs, "left") - 1
    has_l = pos_l >= 0
    best_end = ends_sorted[np.maximum(pos_l, 0)]
    lcand = end_order[np.searchsorted(ends_sorted, best_end, "left")]
    ldist = qs - best_end
    # right-side candidate: smallest start > qe (run order breaks end ties)
    pos_r = np.searchsorted(starts, qe, "right")
    has_r = pos_r < n
    rcand = np.minimum(pos_r, n - 1)
    rdist = starts[rcand] - qe
    use_l = has_l & (~has_r | (ldist < rdist) | ((ldist == rdist) & (lcand <= rcand)))
    idx = np.where(has_ov, i0, np.where(use_l, lcand, np.where(has_r, rcand, -1)))
    dist = np.where(has_ov, 0, np.where(use_l, ldist, rdist))
    return idx, dist


def _nearest_k(index: tuple, qs, qe, k: int, include_overlaps: bool) -> tuple:
    """The k nearest left rows of every probe ``[qs, qe]`` (already shrunk
    in strict mode) within one :func:`_k1_index` run — the one kernel of
    every :func:`nearest` path.  Returns ``(probe, idx, dist)``: one entry
    per (probe, neighbour), probes in order and each probe's neighbours
    ranked by (distance, run index), i.e. by (distance, start, end, run
    order); a probe with no candidate has no entry.  Candidates are the
    rows ending before qs, the rows starting after qe and, with
    ``include_overlaps`` and unless ``qs > qe + 1`` (a strict point probe),
    the rows overlapping the probe — :func:`_nearest_k1`'s rule, which
    answers ``k == 1``.

    For ``k > 1`` a per-probe bound prunes before the merge (EDBT 2020
    incremental top-k): D is the k-th smallest distance among the k rows
    ending last before qs and the k rows starting first after qe (or the
    largest, when there are fewer than k); every row within D of the probe
    overlaps the window ``[qs - D, qe + D]``, which :func:`_overlap_pairs`
    enumerates in bounded chunks over the run's short and long parts
    (:func:`_overlap_split`: one long row would otherwise widen every
    later window), and one lexsort per chunk keeps each probe's first k,
    then one more over both parts' picks."""
    import numpy as np

    starts, ends, _, end_order, ends_sorted = index
    n = len(starts)
    if k == 1 or n == 0:
        idx, dist = _nearest_k1(index, qs, qe, include_overlaps)
        p = np.flatnonzero(idx >= 0)
        return p, idx[p], dist[p]
    j = np.arange(k)
    before = np.searchsorted(ends_sorted, qs, "left")[:, None] - 1 - j
    after = np.searchsorted(starts, qe, "right")[:, None] + j
    cand = np.concatenate(
        [np.where(before >= 0, end_order[np.maximum(before, 0)], n), np.minimum(after, n)], axis=1
    )
    cand.sort(axis=1)
    # n marks no row; a strict point probe can list one point row on both
    # sides, which counts once
    ok = cand < n
    ok[:, 1:] &= cand[:, 1:] != cand[:, :-1]
    c = np.minimum(cand, n - 1)
    d = np.maximum(np.maximum(starts[c] - qe[:, None], qs[:, None] - ends[c]), 0)
    kth = np.sort(np.where(ok, d, I64_MAX), axis=1)[:, k - 1]
    bound = np.minimum(kth, np.where(ok, d, 0).max(axis=1))
    overlaps = include_overlaps & (qs <= qe + 1)

    def first_k(p, i, d):
        o = np.lexsort((i, d, p))
        p, i, d = p[o], i[o], d[o]
        top = np.arange(len(p)) - np.searchsorted(p, p, "left") < k
        return p[top], i[top], d[top]

    out = [(np.zeros(0, np.int64),) * 3]
    for part in _overlap_split(starts, ends, LONG_INTERVAL_FACTOR):
        for p, i in _overlap_pairs(part, qs - bound, qe + bound, strict=False):
            # chunks hold whole probes, so each chunk ranks its probes fully
            d = np.maximum(np.maximum(starts[i] - qe[p], qs[p] - ends[i]), 0)
            keep = (d > 0) | overlaps[p]
            out.append(first_k(p[keep], i[keep], d[keep]))
    return first_k(*(np.concatenate(x) for x in zip(*out)))


def _nearest_schema(left: DataFrame, right: DataFrame, compute_distance: bool) -> T.StructType:
    """nearest's output: ``left_*`` (nullable), ``right_*``, ``distance``."""
    fields = [T.StructField(_LEFT + f.name, f.dataType, True) for f in left.schema.fields]
    fields += [T.StructField(_RIGHT + f.name, f.dataType, f.nullable) for f in right.schema.fields]
    if compute_distance:
        fields.append(T.StructField("distance", T.LongType(), True))
    return T.StructType(fields)


def _nearest_probe(
    index, lcols, batches, rcols: tuple[str, str, str], k: int, shrink: int,
    include_overlaps: bool, compute_distance: bool,
):
    """The probe loop of the CollectLeft and chunked nearest paths: per
    probe batch, the output columns of :func:`_nearest_schema` (before the
    strict distance fix-up).  ``index`` is a :func:`_collect_index` value,
    ``lcols`` the left columns as Arrow arrays in that index's order.  One
    row per (probe, neighbour) in probe order, and one with NULL left
    columns and distance for a probe with no neighbour.  Left values are
    taken with Arrow, so a long payload comes back exact; when every probe
    has exactly one row the probe columns pass through untouched."""
    import numpy as np
    import pyarrow as pa

    for batch, qs, qe, _, groups in _probe_batches(index, batches, rcols, _k1_index):
        nq = batch.num_rows
        parts = [(np.zeros(0, np.int64),) * 3]
        for m, run, lo in groups:
            rows = np.flatnonzero(m)
            p, i, d = _nearest_k(run, qs[rows] + shrink, qe[rows] - shrink, k, include_overlaps)
            parts.append((rows[p], i + lo, d))
        prow, lrow, dist = (np.concatenate(x) for x in zip(*parts))
        lonely = np.flatnonzero(np.bincount(prow, minlength=nq) == 0)
        prow = np.concatenate([prow, lonely])
        order = np.argsort(prow, kind="stable")
        lrow = np.concatenate([lrow, np.full(len(lonely), -1)])[order]
        none = lrow < 0
        arrays = [c.take(pa.array(lrow, mask=none)) for c in lcols]
        if len(prow) == nq:  # one row per probe: already in probe order
            arrays += batch.columns
        else:
            arrays += [c.take(pa.array(prow[order])) for c in batch.columns]
        if compute_distance:
            dist = np.concatenate([dist, np.zeros(len(lonely), np.int64)])[order]
            arrays.append(pa.array(dist, mask=none))
        yield arrays


def _nearest_collect_left(
    left: DataFrame,
    right: DataFrame,
    k: int,
    cols_left: Sequence[str] | None,
    cols_right: Sequence[str] | None,
    include_overlaps: bool,
    compute_distance: bool,
    filter_op: str,
) -> DataFrame | None:
    """CollectLeft path of :func:`nearest` — see its docstring.  Returns
    None when the left side is over a broadcast bound; the caller then
    takes the radius path."""
    left, (lc, ls, le) = _normalize(left, cols_left)
    right, (rc, rs, re_) = _normalize(right, cols_right)
    if not _collect_left_fits(left):
        return None

    import pyarrow as pa

    bidx = _collect_index(left, lc, ls, le)
    shrink = 0 if filter_op == "weak" else 1
    lnames = list(left.columns)
    out_schema = _nearest_schema(left, right, compute_distance)
    names = out_schema.fieldNames()

    def probe(batches):
        index = bidx.value
        _, starts, ends, payload = index
        by_name = dict(payload, **{ls: pa.array(starts), le: pa.array(ends)})
        for arrays in _nearest_probe(
            index, [by_name[c] for c in lnames], batches, (rc, rs, re_),
            k, shrink, include_overlaps, compute_distance,
        ):
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    out = right.mapInArrow(probe, out_schema)
    return _rawify_strict_distance(out, shrink, compute_distance)
