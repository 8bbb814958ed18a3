"""Interval algebra correctness vs the DuckDB oracle formulations.

Ports the shape of the reference's integration suite
(``bio-function-ranges/tests/integration_test.rs``): happy paths, strict vs
weak boundary semantics, point-interval containment, empty inputs, one-sided
contigs, extra-column preservation, partition-count invariance, and
algorithm interchangeability (binned / sql).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import datafusion_bio_functions_spark as bio
from datafusion_bio_functions_spark.operators import intervals as iv
from datafusion_bio_functions_spark.plans import oracle as osql
from tests.conftest import (
    COLS,
    READS,
    TARGETS,
    assert_frames_match,
    codegen_compiles,
    nearest_brute,
    spark_jobs,
)

#: a long above 2^53: float64 (pandas' nullable-long form) cannot hold it
BIG = 2**53 + 1
PAYLOAD = "contig string, pos_start long, pos_end long, pay long"


def _canon(df):
    """Collected rows in a NULL-safe canonical order."""
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("algorithm", ["binned", "sql"])
@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_overlap_join_matches_oracle(spark, reads, targets, oracle, algorithm, filter_op):
    got = bio.overlap(reads, targets, filter_op=filter_op, algorithm=algorithm)
    want = oracle.sql(
        osql.overlap_sql("SELECT * FROM reads", "SELECT * FROM targets", filter_op=filter_op)
    )
    assert_frames_match(got, want)


def test_overlap_point_interval_containment(spark, reads, targets):
    # chr1 22000-22300 (read) contains the point target 22100-22100
    got = (
        bio.overlap(reads, targets)
        .filter((F.col("right_pos_start") == 22100) & (F.col("right_pos_end") == 22100))
        .collect()
    )
    assert len(got) == 1
    assert got[0]["left_pos_start"] == 22000


def test_overlap_strict_drops_touching(spark):
    # adjacent closed intervals share exactly one base: weak keeps, strict drops
    l = spark.createDataFrame([("chr1", 100, 200)], COLS)
    r = spark.createDataFrame([("chr1", 200, 300)], COLS)
    assert bio.overlap(l, r, filter_op="weak").count() == 1
    assert bio.overlap(l, r, filter_op="strict").count() == 0


def test_overlap_output_modes(spark, reads, targets):
    join_n = bio.overlap(reads, targets, output="join").count()
    left_all = bio.overlap(reads, targets, output="left_all")
    assert left_all.columns == reads.columns
    assert left_all.count() == join_n
    # 'left'/'left_distinct' is the reference's row-level RIGHT SEMI: each
    # left ROW with >= 1 match emitted exactly once (duplicates preserved)
    left_distinct = bio.overlap(reads, targets, output="left_distinct")
    assert left_distinct.count() <= reads.count()
    assert sorted(map(tuple, left_distinct.collect())) == sorted(
        map(tuple, bio.overlap(reads, targets, output="left").collect())
    )


def test_overlap_empty_input(spark, targets):
    empty = spark.createDataFrame([], "contig string, pos_start long, pos_end long")
    assert bio.overlap(empty, targets).count() == 0
    assert bio.count_overlaps(empty, targets).agg(F.sum("count")).collect()[0][0] == 0


@pytest.mark.parametrize("algorithm", ["join", "broadcast"])
def test_count_overlaps_matches_oracle(spark, reads, targets, oracle, algorithm):
    got = bio.count_overlaps(reads, targets, algorithm=algorithm)
    want = oracle.sql(
        osql.count_overlaps_sql("SELECT * FROM reads", "SELECT * FROM targets")
    )
    assert_frames_match(got, want)


@pytest.mark.parametrize("algorithm", ["join", "broadcast"])
def test_coverage_matches_oracle(spark, reads, targets, oracle, algorithm):
    got = bio.coverage(reads, targets, algorithm=algorithm)
    want = oracle.sql(osql.coverage_sql("SELECT * FROM reads", "SELECT * FROM targets"))
    assert_frames_match(got, want)


def test_auto_bin_width_memoized_one_job(spark, reads, targets):
    """Plan-shapes guarantee (VERDICT r3 #6): constructing the same overlap
    join twice runs the bin-width stats job AT MOST once — the semantic-plan
    memo answers the second construction without any Spark job."""
    iv._BIN_WIDTH_MEMO.clear()
    first = spark_jobs(spark, "bw-memo-1", lambda: bio.overlap(reads, targets))  # no action
    second = spark_jobs(spark, "bw-memo-2", lambda: bio.overlap(reads, targets))
    assert len(first) <= 1, f"construction ran driver jobs {first}"
    assert second == [], "second construction must hit the bin-width memo"


def test_width_probes_run_one_job(spark):
    """A cold chunk-width or bin-width probe is one Spark job under adaptive
    execution, on a several-partition input too: the sample ``limit`` plans
    no ``Exchange SinglePartition`` (AQE would run it as a job of its
    own)."""
    df = spark.range(0, 10_000, 1, 4).selectExpr("id AS s", "id + id % 7 AS e")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        iv.clear_probe_caches()
        assert len(spark_jobs(spark, "cw", lambda: iv._auto_chunk_width(df, "s", "e"))) == 1
        assert len(spark_jobs(spark, "bw", lambda: iv._auto_bin_width(df, "s", "e", df, "s", "e"))) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # the clamps: span 10k over 4 buckets per core floors at 1024; widths of
    # at most 6 floor at 128
    assert iv._auto_chunk_width(df, "s", "e") == 1024
    assert iv._auto_bin_width(df, "s", "e", df, "s", "e") == 128


def test_fits_broadcast_one_job_and_no_recompile(spark, tmp_path):
    """A cold broadcast-fit probe is one Spark job under adaptive execution,
    and a cold probe of another file of the same shape compiles no code:
    the probe's generated classes come back from the codegen cache."""
    paths = [str(tmp_path / name) for name in ("a", "b")]
    for p in paths:
        spark.range(0, 5000, 1, 4).selectExpr("'chr1' AS contig", "id AS s").write.parquet(p)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        iv.clear_probe_caches()
        first = spark.read.parquet(paths[0])
        assert len(spark_jobs(spark, "fits", lambda: iv._fits_broadcast(first, 5000))) == 1
        before = codegen_compiles(spark)
        assert iv._fits_broadcast(spark.read.parquet(paths[1]), 5000)
        assert codegen_compiles(spark) == before
        assert not iv._fits_broadcast(first, 4999)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_count_cover_broadcast_point_boundaries(spark, filter_op):
    """Degenerate point intervals + point queries at shared coordinates:
    the strict-mode searchsorted subtraction identity wrongly subtracts
    point intervals at exactly the query position unless corrected (found
    by the r4 gate on count_overlaps_strict) — broadcast must equal the
    join plan row-for-row on this adversarial geometry.  NULL contigs,
    starts and ends on either side never match, and a long payload above
    2^53 comes back exact."""
    left = spark.createDataFrame(
        [("chr1", 10, 10, 1), ("chr1", 10, 10, None), ("chr1", 5, 15, BIG),
         ("chr1", 10, 20, 2), ("chr1", 1, 9, 3), ("chr1", 11, 11, 4), ("chr2", 3, 3, 5),
         ("chr1", None, 50, 6), ("chr1", 40, None, 7), (None, 10, 20, 8)], PAYLOAD)
    right = spark.createDataFrame(
        [("chr1", 10, 10, BIG), ("chr1", 11, 11, None), ("chr1", 9, 11, 1),
         ("chr1", 2, 2, 2), ("chr1", 10, 11, 3), ("chr2", 3, 3, 4), ("chr3", 1, 5, 5),
         ("chr1", 30, 45, 6), ("chr1", None, 12, 7), ("chr1", 12, None, BIG),
         (None, 10, 20, 8)], PAYLOAD)
    for op in (bio.count_overlaps, bio.coverage):
        a = _canon(op(left, right, filter_op=filter_op, algorithm="broadcast"))
        b = _canon(op(left, right, filter_op=filter_op, algorithm="join"))
        assert a == b, f"{op.__name__} broadcast != join under {filter_op}"
        assert (None, 10, 20, 8, 0) in a and ("chr1", 30, 45, 6, 0) in a
        assert ("chr1", 10, 10, BIG) in [t[:4] for t in a]


def test_count_and_coverage_share_one_index(spark, reads, targets):
    """count_overlaps and coverage over one left frame collect and broadcast
    one CollectLeft index between them."""
    from datafusion_bio_functions_spark.operators import intervals as iv

    iv.clear_probe_caches()
    bio.count_overlaps(reads, targets)
    bio.coverage(reads, targets, filter_op="strict")
    assert len(iv._COLLECT_INDEX_MEMO) == 1


def test_collect_left_operators_reject_other_algorithms(reads, targets):
    for op in (bio.count_overlaps, bio.coverage, bio.subtract):
        for algorithm in ("sql", "binned"):
            with pytest.raises(ValueError, match="algorithm must be auto|broadcast|join"):
                op(reads, targets, algorithm=algorithm)
    with pytest.raises(TypeError):
        bio.subtract(reads, targets, bin_width=64)


def test_coverage_merges_left_first(spark):
    # two identical reads over one target: coverage counts bases once;
    # the reference contribution for an interval inside the probe is
    # min(qe+1, ie) - max(qs-1, is) = ie - is = 50 (interval_tree.rs:148)
    l = spark.createDataFrame([("chr1", 100, 150), ("chr1", 100, 150)], COLS)
    r = spark.createDataFrame([("chr1", 90, 200)], COLS)
    row = bio.coverage(l, r).collect()[0]
    assert row["coverage"] == 50


@pytest.mark.parametrize("min_dist", [0, 2, 100])
@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_merge_matches_oracle(spark, merge_input, oracle, min_dist, filter_op):
    got = bio.merge(merge_input, min_dist=min_dist, filter_op=filter_op)
    want = oracle.sql(
        osql.merge_sql("SELECT * FROM merge_input", min_dist=min_dist, filter_op=filter_op)
    )
    assert_frames_match(got, want)


def test_merge_touching_weak_vs_strict(spark):
    df = spark.createDataFrame([("chr1", 1, 5), ("chr1", 5, 10)], COLS)
    assert bio.merge(df, filter_op="weak").count() == 1  # share base 5 → merge
    # strict: s < prev_end + 0 → 5 < 5 false → separate
    assert bio.merge(df, filter_op="strict").count() == 2
    adj = spark.createDataFrame([("chr1", 1, 5), ("chr1", 6, 10)], COLS)
    assert bio.merge(adj, filter_op="weak").count() == 2  # adjacent, no shared base
    assert bio.merge(adj, min_dist=1, filter_op="weak").count() == 1


@pytest.mark.parametrize("min_dist", [0, 10])
def test_cluster_matches_oracle(spark, merge_input, oracle, min_dist):
    got = bio.cluster(merge_input, min_dist=min_dist)
    want = oracle.sql(
        osql.cluster_sql(
            "SELECT * FROM merge_input", all_cols=COLS, min_dist=min_dist
        )
    )
    assert_frames_match(got, want)


def test_cluster_preserves_extra_columns(spark):
    df = spark.createDataFrame(
        [("chr1", 100, 200, "a"), ("chr1", 150, 250, "b"), ("chr1", 500, 600, "c")],
        COLS + ["tag"],
    )
    out = bio.cluster(df).orderBy("pos_start").collect()
    assert [r["tag"] for r in out] == ["a", "b", "c"]
    assert out[0]["cluster"] == out[1]["cluster"] != out[2]["cluster"]
    assert out[0]["cluster_start"] == 100 and out[0]["cluster_end"] == 250


def test_complement_with_view_matches_oracle(spark, merge_input, oracle):
    view_rows = [("chr1", 1, 50000), ("chr2", 1, 1000), ("chr3", 1, 1000), ("chrM", 1, 16000)]
    view = spark.createDataFrame(view_rows, COLS)
    oracle.register("chromsizes", pd.DataFrame(view_rows, columns=COLS))
    got = bio.complement(merge_input, view=view)
    want = oracle.sql(
        osql.complement_sql("SELECT * FROM merge_input", view="SELECT * FROM chromsizes")
    )
    assert_frames_match(got, want)
    # chrM appears only in the view → emitted whole
    assert got.filter("contig = 'chrM'").collect()[0]["pos_end"] == 16000


def test_complement_default_view_bounds(spark):
    df = spark.createDataFrame([("chr1", 100, 200)], COLS)
    out = bio.complement(df).orderBy("pos_start").collect()
    # reference default bounds (0, i64::MAX) per observed contig, with
    # END-EXCLUSIVE gap arithmetic (test_complement_udtf_basic_no_view:
    # (100,200)+(300,400) complement to (0,100),(200,300),(400,MAX))
    assert (out[0]["pos_start"], out[0]["pos_end"]) == (0, 100)
    assert (out[1]["pos_start"], out[1]["pos_end"]) == (200, 9223372036854775807)


def test_subtract_matches_oracle(spark, reads, targets, oracle):
    got = bio.subtract(reads, targets)
    want = oracle.sql(osql.subtract_sql("SELECT * FROM reads", "SELECT * FROM targets"))
    assert_frames_match(got, want)


def test_subtract_fragments_and_preserves_columns(spark):
    """End-exclusive fragment arithmetic, the reference sweep
    (subtract.rs:414-438; integration test_subtract_udtf_basic expects
    (100,400)−(200,300) = (100,200)+(300,400))."""
    l = spark.createDataFrame([("chr1", 100, 300, "x")], COLS + ["tag"])
    r = spark.createDataFrame([("chr1", 150, 160), ("chr1", 200, 250)], COLS)
    out = bio.subtract(l, r).orderBy("pos_start").collect()
    assert [(o["pos_start"], o["pos_end"], o["tag"]) for o in out] == [
        (100, 150, "x"),
        (160, 200, "x"),
        (250, 300, "x"),
    ]
    # right interval swallowing the left entirely → no fragments
    r2 = spark.createDataFrame([("chr1", 50, 400)], COLS)
    assert bio.subtract(l, r2).count() == 0
    # no overlap → left row unchanged
    r3 = spark.createDataFrame([("chr2", 50, 400)], COLS)
    assert bio.subtract(l, r3).collect()[0]["pos_end"] == 300


@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_subtract_broadcast_matches_join(spark, filter_op):
    """The CollectRight sweep must equal the join+window plan row-for-row:
    duplicate left rows fragment independently, extra columns ride along,
    degenerate (ls >= le) rows emit nothing, touching rights stay split
    under strict merge, and one-sided contigs pass through.  NULL right
    rows remove nothing, NULL left coordinates emit nothing, a NULL-contig
    left row passes through, and a long payload above 2^53 comes back
    exact."""
    left = spark.createDataFrame(
        [("chr1", 100, 400, "a", BIG), ("chr1", 100, 400, "a", None),
         ("chr1", 250, 250, "pt", 1), ("chr1", 500, 400, "inverted", 2),
         ("chr2", 1, 50, "b", 3), ("chr3", 5, 9, "c", 4), ("chr1", 700, 720, "d", BIG),
         ("chr1", None, 5, "ns", 5), ("chr1", 5, None, "ne", 6), (None, 10, 20, "nc", BIG)],
        "contig string, pos_start long, pos_end long, tag string, pay long")
    right = spark.createDataFrame(
        [("chr1", 200, 300, 1), ("chr1", 300, 350, 2), ("chr1", 380, 600, None),
         ("chr2", 10, 20, BIG), ("chr2", 30, 30, 3),
         ("chr1", None, 800, 4), ("chr1", 650, None, 5), (None, 1, 900, 6)], PAYLOAD)
    a = _canon(bio.subtract(left, right, filter_op=filter_op, algorithm="broadcast"))
    b = _canon(bio.subtract(left, right, filter_op=filter_op, algorithm="join"))
    assert a == b
    assert ("chr1", 700, 720, "d", BIG) in a and (None, 10, 20, "nc", BIG) in a


def test_subtract_boundary_weak_vs_strict(spark):
    """Reference test_subtract_udtf_strict_boundary: a right starting at
    the left's end leaves the left unchanged in BOTH modes — weakly the
    boundary point joins but the end-exclusive gap math removes nothing."""
    l = spark.createDataFrame([("a", 100, 300)], COLS)
    r = spark.createDataFrame([("a", 300, 400)], COLS)
    assert sorted(map(tuple, bio.subtract(l, r).collect())) == [("a", 100, 300)]
    assert sorted(map(tuple, bio.subtract(l, r, filter_op="strict").collect())) == [
        ("a", 100, 300)
    ]
    # interior case from test_subtract_udtf_basic
    l2 = spark.createDataFrame([("a", 100, 400)], COLS)
    r2 = spark.createDataFrame([("a", 200, 300)], COLS)
    assert sorted(map(tuple, bio.subtract(l2, r2).collect())) == [
        ("a", 100, 200),
        ("a", 300, 400),
    ]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_nearest_matches_oracle(spark, reads, targets, oracle, k):
    got = bio.nearest(reads, targets, k=k)
    want = oracle.sql(
        osql.nearest_sql("SELECT * FROM reads", "SELECT * FROM targets", k=k)
    )
    assert_frames_match(got, want)


def test_nearest_no_candidate_contig(spark, reads):
    r = spark.createDataFrame([("chrZ", 100, 200)], COLS)
    out = bio.nearest(reads, r).collect()
    assert len(out) == 1
    assert out[0]["left_contig"] is None and out[0]["distance"] is None


def test_nearest_distance_semantics(spark):
    l = spark.createDataFrame([("chr1", 100, 200), ("chr1", 500, 600)], COLS)
    r = spark.createDataFrame(
        [("chr1", 150, 180), ("chr1", 300, 310), ("chr1", 450, 460)], COLS
    )
    out = {
        (row["right_pos_start"]): (row["left_pos_start"], row["distance"])
        for row in bio.nearest(l, r).collect()
    }
    assert out[150] == (100, 0)  # overlap → distance 0
    assert out[300] == (100, 100)  # 300 - 200 (closer than 500 - 310 = 190)
    assert out[450] == (500, 40)  # 500 - 460 < 450 - 200


def test_nearest_tie_break(spark):
    # equidistant left intervals: tie-break by (start, end)
    l = spark.createDataFrame([("chr1", 300, 310), ("chr1", 90, 100)], COLS)
    r = spark.createDataFrame([("chr1", 200, 200)], COLS)
    row = bio.nearest(l, r).collect()[0]
    assert row["distance"] == 100
    assert row["left_pos_start"] == 90  # smaller start wins the tie


def test_nearest_exclude_overlaps(spark):
    l = spark.createDataFrame([("chr1", 100, 200), ("chr1", 400, 500)], COLS)
    r = spark.createDataFrame([("chr1", 150, 180)], COLS)
    row = bio.nearest(l, r, include_overlaps=False).collect()[0]
    assert row["left_pos_start"] == 400 and row["distance"] == 220


def test_partition_invariance(spark, merge_input, reads, targets):
    """Mirror of the reference's partition-count invariance tests
    (integration_test.rs:3709-3758): results identical across partitionings."""

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    for n in (1, 4, 16):
        assert canon(bio.merge(merge_input.repartition(n))) == canon(bio.merge(merge_input))
        assert canon(
            bio.overlap(reads.repartition(n), targets.repartition(max(1, n // 2)))
        ) == canon(bio.overlap(reads, targets))
        assert canon(bio.count_overlaps(reads.repartition(n), targets)) == canon(
            bio.count_overlaps(reads, targets)
        )


def test_interval_join_left_outer(spark, reads, targets):
    out = bio.interval_join(reads, targets, how="left")
    # every read appears; unmatched reads carry NULL right columns
    assert out.count() >= reads.count()
    unmatched = out.filter(F.col("right_contig").isNull())
    assert unmatched.count() == 1  # chr3 234-300 misses target chr3 100-200
    assert unmatched.collect()[0]["left_pos_start"] == 234


def test_binned_join_long_interval_fallback(spark, targets):
    # one interval far longer than long_interval_factor * bin_width
    l = spark.createDataFrame([("chr1", 1, 5_000_000), ("chr1", 150, 250)], COLS)
    got = bio.interval_join(l, targets, algorithm="binned", bin_width=100, long_interval_factor=4)
    want = bio.interval_join(l, targets, algorithm="sql")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_custom_column_names(spark):
    l = spark.createDataFrame([("chr1", 100, 200)], ["chrom", "s", "e"])
    r = spark.createDataFrame([("chr1", 150, 250)], ["c", "b", "f"])
    out = bio.interval_join(l, r, cols_left=("chrom", "s", "e"), cols_right=("c", "b", "f"))
    assert out.count() == 1
    assert set(out.columns) == {"left_chrom", "left_s", "left_e", "right_c", "right_b", "right_f"}

def test_merge_chunked_equals_window(spark):
    """The chunked (100 TB) merge path must produce exactly the window
    path's result — including long intervals bridging many chunks, min_dist
    gaps, and strict/weak boundary semantics."""
    import random as _r

    rnd = _r.Random(7)
    rows = []
    for contig in ("chr1", "chr2"):
        for _ in range(400):
            s = rnd.randrange(1, 100_000)
            ln = rnd.choice([rnd.randrange(1, 50), rnd.randrange(1, 30_000)])
            rows.append((contig, s, s + ln))
    # exact chunk-edge touchers
    rows += [("chr1", 9_999, 10_000), ("chr1", 10_000, 10_001), ("chr1", 20_000, 20_000)]
    df = spark.createDataFrame(rows, "contig string, pos_start long, pos_end long")

    def canon(out):
        return sorted((r.contig, r.pos_start, r.pos_end, r.n_intervals) for r in out.collect())

    for fo in ("weak", "strict"):
        for md in (0, 100):
            want = canon(bio.merge(df, min_dist=md, filter_op=fo))
            got = canon(
                bio.merge(df, min_dist=md, filter_op=fo, algorithm="chunked", chunk_width=10_000)
            )
            assert got == want, (fo, md)
    with pytest.raises(ValueError):
        bio.merge(df, algorithm="quantum")


def test_cluster_chunked_equals_window(spark):
    """The chunked (100 TB) cluster path — merge(chunked) extents + two-level
    global ids + binned point-assignment join — must reproduce the window
    path exactly: same ids, same extents, every row preserved."""
    import random as _r

    rnd = _r.Random(11)
    rows = []
    for contig in ("chr1", "chr2", "chr3"):
        for _ in range(300):
            s = rnd.randrange(1, 80_000)
            ln = rnd.choice([rnd.randrange(1, 40), rnd.randrange(1, 25_000)])
            rows.append((contig, s, s + ln, f"x{rnd.randrange(5)}"))
    rows += [("chr1", 9_999, 10_000, "edge"), ("chr1", 10_000, 10_001, "edge")]
    df = spark.createDataFrame(
        rows, "contig string, pos_start long, pos_end long, tag string"
    )

    def canon(out):
        return sorted(
            (r.contig, r.pos_start, r.pos_end, r.tag, r.cluster, r.cluster_start, r.cluster_end)
            for r in out.collect()
        )

    for fo in ("weak", "strict"):
        for md in (0, 50):
            want = canon(bio.cluster(df, min_dist=md, filter_op=fo))
            got = canon(
                bio.cluster(df, min_dist=md, filter_op=fo, algorithm="chunked", chunk_width=10_000)
            )
            assert got == want, (fo, md)
    with pytest.raises(ValueError):
        bio.cluster(df, algorithm="quantum")


def test_nearest_radius_equals_brute_force(spark, monkeypatch):
    """The radius (100 TB) nearest path — a chunked cogroup with per-chunk
    side summaries and one per-probe merge — must reproduce the brute force
    for k=1/k=3, weak/strict, with/without overlaps, at the probed chunk
    width and at one narrow enough to spread most probes over several
    cells."""
    import random as _r

    rnd = _r.Random(23)
    lrows, rrows = [], []
    for contig in ("chr1", "chr2"):
        for _ in range(150):
            s = rnd.randrange(1, 60_000)
            lrows.append((contig, s, s + rnd.randrange(1, 300), f"L{rnd.randrange(99)}"))
        for _ in range(100):
            s = rnd.randrange(1, 60_000)
            rrows.append((contig, s, s + rnd.randrange(1, 200)))
    # a probe on a contig with no left intervals at all → NULL row
    rrows.append(("chr9", 5, 10))
    l = spark.createDataFrame(lrows, "contig string, pos_start long, pos_end long, name string")
    r = spark.createDataFrame(rrows, "contig string, pos_start long, pos_end long")

    def canon(df):
        return sorted((tuple(row) for row in df.collect()), key=repr)

    for k in (1, 3):
        for fo, ov in (("weak", True), ("strict", True), ("weak", False)):
            want = nearest_brute(lrows, rrows, k, fo, ov, True)
            for cw in (None, 700):  # None: the probed width
                with monkeypatch.context() as m:
                    if cw:
                        m.setattr(iv, "_auto_chunk_width", lambda *a: cw)
                    got = canon(
                        bio.nearest(l, r, k=k, filter_op=fo, include_overlaps=ov,
                                    algorithm="radius")
                    )
                assert got == want, (k, fo, ov, cw)
    for bad in ("psychic", "cogroup"):
        with pytest.raises(ValueError):
            bio.nearest(l, r, algorithm=bad)


def test_interval_join_session_config(spark, reads, targets):
    """`spark.bio.intervalJoin.algorithm` picks the overlap join's strategy,
    its value read in any case; a value naming no strategy raises, as does
    an unknown ``algorithm`` argument."""
    want = _canon(bio.overlap(reads, targets, algorithm="sql"))
    try:
        for val in ("binned", "Binned", "SQL", "AUTO", "CoitreesNearest"):
            spark.conf.set("spark.bio.intervalJoin.algorithm", val)
            assert _canon(bio.overlap(reads, targets)) == want, val
        for bad in ("banana", "broadcast"):
            spark.conf.set("spark.bio.intervalJoin.algorithm", bad)
            with pytest.raises(ValueError, match="intervalJoin"):
                bio.overlap(reads, targets)
    finally:
        spark.conf.unset("spark.bio.intervalJoin.algorithm")
    for bad in ("banana", "broadcast"):
        with pytest.raises(ValueError, match="algorithm"):
            bio.overlap(reads, targets, algorithm=bad)


def test_nearest_session_config(spark, reads, targets):
    """`spark.bio.nearest.algorithm` mirrors the reference's session-level
    algorithm selection (CoitreesNearest via SET bio.interval_join_algorithm,
    README.md:456-469); its value is read in any case."""
    want = sorted(map(repr, bio.nearest(reads, targets).collect()))
    try:
        for val in ("radius", "Radius", "AUTO"):
            spark.conf.set("spark.bio.nearest.algorithm", val)
            got = sorted(map(repr, bio.nearest(reads, targets).collect()))
            assert got == want, val
        for bad in ("psychic", "cogroup"):
            spark.conf.set("spark.bio.nearest.algorithm", bad)
            with pytest.raises(ValueError, match="algorithm"):
                bio.nearest(reads, targets)
    finally:
        spark.conf.unset("spark.bio.nearest.algorithm")


def test_complement_subtract_chunked_merge(spark, reads, targets, merge_input, monkeypatch):
    """The chunked merge under complement and subtract (forced through
    `spark.bio.sweep.algorithm`) must not change their results."""
    def canon(df):
        return sorted(map(repr, df.collect()))

    want_c = canon(bio.complement(merge_input))
    want_s = canon(bio.subtract(reads, targets, algorithm="join"))
    monkeypatch.setattr(iv, "_auto_chunk_width", lambda *a: 10_000)
    try:
        spark.conf.set("spark.bio.sweep.algorithm", "chunked")
        assert canon(bio.complement(merge_input)) == want_c
        assert canon(bio.subtract(reads, targets, algorithm="join")) == want_s
    finally:
        spark.conf.unset("spark.bio.sweep.algorithm")


def test_partition_invariance_scale_paths(spark, merge_input, reads, targets, monkeypatch):
    """Partition-count invariance for the chunked/radius scale paths."""

    def canon(df):
        return sorted(map(repr, df.collect()))

    monkeypatch.setattr(iv, "_auto_chunk_width", lambda *a: 4_000)
    base_cl = canon(bio.cluster(merge_input, algorithm="chunked", chunk_width=5_000))
    base_nr = canon(bio.nearest(reads, targets, algorithm="radius"))
    for n in (1, 4, 16):
        assert canon(
            bio.cluster(merge_input.repartition(n), algorithm="chunked", chunk_width=5_000)
        ) == base_cl
        assert canon(
            bio.nearest(reads.repartition(n), targets.repartition(max(1, n // 2)),
                        algorithm="radius")
        ) == base_nr


def test_nearest_radius_auto_density(spark, reads, targets):
    """The radius path at its probed chunk width equals the brute force;
    a probe on a left-absent contig gets its NULL row."""
    r_extra = targets.unionByName(
        spark.createDataFrame([("chrUn", 5, 9)], targets.schema)
    )
    want = nearest_brute(READS, TARGETS + [("chrUn", 5, 9)], 1, "weak", True, True)
    assert _canon(bio.nearest(reads, r_extra, algorithm="radius")) == want
    # 'auto' on list-built frames (no size estimate, so no CollectLeft
    # index) resolves to the shuffle-parallel radius path
    assert _canon(bio.nearest(reads, r_extra)) == want


def test_broadcast_guard_falls_back_to_join(spark, reads, targets, monkeypatch):
    """count_overlaps/coverage with algorithm='broadcast' must fall back to
    the shuffle-parallel join plan when the left side exceeds the guard —
    never collect() a data-scale table onto the driver (VERDICT r2 #4)."""
    from datafusion_bio_functions_spark.operators import intervals as iv

    def canon(df):
        return sorted(map(repr, df.collect()))

    want_cnt = canon(bio.count_overlaps(reads, targets, algorithm="join"))
    want_cov = canon(bio.coverage(reads, targets, algorithm="join"))
    # force the guard to report "too big": results must still be correct,
    # via the join plan, and the driver-side Arrow gather must never run
    # (the guard check now lives inside the broadcast builder, which
    # returns None on over-guard)
    monkeypatch.setattr(iv, "_fits_broadcast", lambda df, guard=0: False)
    from pyspark.sql import DataFrame as SparkDF

    gathers = []
    real_toarrow = SparkDF.toArrow
    monkeypatch.setattr(
        SparkDF, "toArrow", lambda self: gathers.append(1) or real_toarrow(self)
    )
    got_cnt = bio.count_overlaps(reads, targets, algorithm="broadcast")
    got_cov = bio.coverage(reads, targets, algorithm="broadcast")
    assert gathers == []  # over-guard: no driver gather during planning
    monkeypatch.setattr(SparkDF, "toArrow", real_toarrow)
    assert canon(got_cnt) == want_cnt
    assert canon(got_cov) == want_cov


def test_fits_broadcast_bounded_probe(spark, reads):
    from datafusion_bio_functions_spark.operators.intervals import _fits_broadcast

    assert _fits_broadcast(reads)  # tiny table fits the default guard
    assert not _fits_broadcast(reads, guard=1)


@pytest.mark.parametrize("how", ["left", "left_semi", "left_anti"])
def test_interval_join_non_inner_binned_equals_sql(spark, reads, targets, how):
    """Non-inner joins ride the binned (contig, bin) shuffle by default; the
    SQL formulation is the semantics oracle."""
    def canon(df):
        return sorted(map(repr, df.collect()))

    got = bio.interval_join(reads, targets, how=how)  # auto → binned
    want = bio.interval_join(reads, targets, how=how, algorithm="sql")
    assert canon(got) == canon(want)
    # left outer: unmatched left rows appear exactly once with NULL rights
    if how == "left":
        n_unmatched = bio.interval_join(
            reads, targets, how="left_anti"
        ).count()
        assert got.filter(F.col("right_contig").isNull()).count() == n_unmatched


def test_nearest_radius_long_intervals_and_chunk_edges(spark, monkeypatch):
    """Chunked radius nearest with intervals far longer than the chunk
    width, probes exactly on chunk boundaries, and fixed chunk widths — all
    must match the brute force."""
    lrows = [
        ("chr1", 1, 500_000, "span"),       # spans many 20k chunks
        ("chr1", 39_990, 40_010, "edge"),   # straddles a boundary
        ("chr1", 120_000, 120_050, "mid"),
        ("chr2", 5, 10, "tiny"),
    ]
    rrows = [
        ("chr1", 40_000, 40_000),   # exactly on a chunk boundary
        ("chr1", 600_000, 600_100), # beyond every left end
        ("chr1", 119_999, 120_001),
        ("chr2", 100_000, 100_010), # far from the tiny left interval
    ]
    l = spark.createDataFrame(lrows, "contig string, pos_start long, pos_end long, name string")
    r = spark.createDataFrame(rrows, "contig string, pos_start long, pos_end long")

    for k in (1, 2):
        want = nearest_brute(lrows, rrows, k, "weak", True, True)
        for cw in (None, 1000, 20_000):  # None: the probed width
            with monkeypatch.context() as m:
                if cw:
                    m.setattr(iv, "_auto_chunk_width", lambda *a: cw)
                got = _canon(bio.nearest(l, r, k=k, algorithm="radius"))
            assert got == want, (k, cw)


def test_sweep_session_config(spark, merge_input):
    """`spark.bio.sweep.algorithm` flips merge/cluster 'auto' to the
    chunked 100 TB path, in any case; results are identical; bad values
    raise."""
    def canon(df):
        return sorted(map(repr, df.collect()))

    want_m = canon(bio.merge(merge_input))
    want_c = canon(bio.cluster(merge_input))
    try:
        for val in ("chunked", "Chunked", "WINDOW"):
            spark.conf.set("spark.bio.sweep.algorithm", val)
            assert canon(bio.merge(merge_input)) == want_m, val
            assert canon(bio.cluster(merge_input)) == want_c, val
        spark.conf.set("spark.bio.sweep.algorithm", "quantum")
        with pytest.raises(ValueError, match="sweep"):
            bio.merge(merge_input)
    finally:
        spark.conf.unset("spark.bio.sweep.algorithm")


def test_merge_cluster_large_min_dist_no_overflow(spark):
    """min_dist = i64::MAX must mean "merge everything", not an ANSI
    ARITHMETIC_OVERFLOW — the reference saturates the boundary add
    (merge.rs:291, cluster.rs:457; integration tests
    test_{merge,cluster}_udtf_large_min_dist_no_overflow)."""
    big = 9223372036854775807
    df = spark.createDataFrame(
        [("chr1", 100, 200), ("chr1", 5_000_000, 6_000_000), ("chr2", 1, 2)],
        "contig string, pos_start long, pos_end long",
    )
    for algorithm in ("window", "chunked"):
        m = sorted(map(tuple, bio.merge(df, min_dist=big, algorithm=algorithm).collect()))
        assert m == [("chr1", 100, 6_000_000, 2), ("chr2", 1, 2, 1)], algorithm
        c = bio.cluster(df, min_dist=big, algorithm=algorithm)
        got = sorted(map(tuple, c.select("contig", "cluster_start", "cluster_end").distinct().collect()))
        assert got == [("chr1", 100, 6_000_000), ("chr2", 1, 2)], algorithm


def test_custom_column_name_matching_mode_token(spark):
    """A position column literally named 'strict' must parse as a column
    name, not as the trailing filter-op token (reference
    test_overlap_udtf_custom_column_names_can_match_mode_tokens)."""
    from datafusion_bio_functions_spark.sql_surface import bio_sql

    d = spark.createDataFrame([("chr1", 1, 10), ("chr1", 40, 50)],
                              "c string, strict long, e long")
    d.createOrReplaceTempView("modecol_t")
    got = sorted(map(tuple, bio_sql(
        spark, "SELECT * FROM merge('modecol_t', 'c', 'strict', 'e')"
    ).collect()))
    assert got == [("chr1", 1, 10, 1), ("chr1", 40, 50, 1)]


def test_nearest_index_battery_replay(spark, tmp_path):
    """nearest_index.rs in-module battery, replayed through the operator:
    overlaps rank first then nearest fills (distance tie broken toward the
    smaller start — nearest_k_includes_overlaps_then_fills_nearest), and
    include_overlaps=False excludes the overlap entirely
    (nearest_k_non_overlap_excludes_overlapping_candidates).  Parquet
    inputs, so ``auto`` takes the CollectLeft index."""
    import datafusion_bio_functions_spark as bio

    spark.createDataFrame([("c", 35, 35)], COLS).write.parquet(str(tmp_path / "p"))
    spark.createDataFrame(
        [("c", 10, 20), ("c", 30, 40), ("c", 50, 60)], COLS
    ).coalesce(1).write.parquet(str(tmp_path / "c"))
    probe = spark.read.parquet(str(tmp_path / "p"))
    cands = spark.read.parquet(str(tmp_path / "c"))
    for algo in ("auto", "radius"):
        got = sorted(
            (r.distance, r.left_pos_start)
            for r in bio.nearest(cands, probe, k=2, algorithm=algo).collect()
        )
        # overlap (30,40) at distance 0 first; the 15-bp tie between (10,20)
        # and (50,60) resolves to the smaller start
        assert got == [(0, 30), (15, 10)], (algo, got)
        got_no = sorted(
            (r.distance, r.left_pos_start)
            for r in bio.nearest(
                cands, probe, k=2, include_overlaps=False, algorithm=algo
            ).collect()
        )
        assert got_no == [(15, 10), (15, 50)], (algo, got_no)


def test_merge_adjacent_intervals(spark):
    """interval_tree.rs test_merge_intervals_adjacent: touching intervals
    (1,5)+(5,10) merge into (1,10)."""
    import datafusion_bio_functions_spark as bio

    t = spark.createDataFrame(
        [("c", 1, 5), ("c", 5, 10)], "contig string, pos_start long, pos_end long"
    )
    got = [(r.pos_start, r.pos_end) for r in bio.merge(t).collect()]
    assert got == [(1, 10)]
