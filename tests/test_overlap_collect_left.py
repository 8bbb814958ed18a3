"""The CollectLeft inner overlap join (what ``interval_join`` /
``overlap`` with ``algorithm='auto'`` run when one side fits the broadcast
bounds) against the two exchange-based paths, the ``bio_sql`` range-join
rewrite on top of it, its plan shape, and the settings that keep the binned
plan.

Inputs are single-file parquet: a file-backed frame carries a size estimate,
so it passes Spark's broadcast rule (a frame built from a Python list has an
unknown size and never does)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame

import datafusion_bio_functions_spark as bio
from datafusion_bio_functions_spark.operators import intervals as iv
from datafusion_bio_functions_spark.plans import range_join as rj
from datafusion_bio_functions_spark.session import (
    INTERVAL_JOIN_ALGORITHM_KEY,
    INTERVAL_JOIN_BIN_WIDTH_KEY,
)
from datafusion_bio_functions_spark.sql_surface import bio_sql

SCHEMA = "contig string, pos_start long, pos_end long, name string, score long"
BIG = (1 << 53) + 1  # not exact as a float64


def _parquet(spark, base, name, rows, schema=SCHEMA) -> DataFrame:
    path = str(base / name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(df: DataFrame) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _indexed(df: DataFrame) -> bool:
    plan = _plan(df)
    return plan.count("ArrowEvalPython") == 1 and "Exchange" not in plan


def _rows(rnd, n, wmax, tag):
    rows = []
    for i in range(n):
        s = rnd.randrange(1, 20_000)
        rows.append((rnd.choice(["chr1", "chr2"]), s, s + rnd.randrange(0, wmax),
                     f"{tag}{i}", rnd.choice([None, BIG, rnd.randrange(100)])))
    rows += [
        # NULL contig, start and end: never match
        (None, 100, 200, f"{tag}_nc", BIG),
        ("chr1", None, 200, f"{tag}_ns", None),
        ("chr1", 100, None, f"{tag}_ne", 1),
        # duplicate intervals that differ only in payload
        ("chr1", 5_000, 5_100, f"{tag}_dup_a", BIG),
        ("chr1", 5_000, 5_100, f"{tag}_dup_b", None),
        # point intervals, twice
        ("chr2", 7_000, 7_000, f"{tag}_pt_a", 3),
        ("chr2", 7_000, 7_000, f"{tag}_pt_b", None),
        # touching boundaries: weak matches, strict does not
        ("chr1", 9_000, 9_010, f"{tag}_touch_a", None),
        ("chr1", 9_010, 9_020, f"{tag}_touch_b", None),
        # one contig-length interval: the long part of the split
        ("chr1", 1, 25_000, f"{tag}_contig", BIG),
        # a contig the other side lacks
        (f"{tag}_only", 1, 10, f"{tag}_absent", None),
    ]
    return rows


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("overlap_cl")
    rnd = random.Random(23)
    return (
        _parquet(spark, base, "big", _rows(rnd, 600, 400, "b")),
        _parquet(spark, base, "small", _rows(rnd, 60, 150, "s")),
        _parquet(spark, base, "empty", []),
    )


@pytest.mark.parametrize("filter_op", ["weak", "strict"])
@pytest.mark.parametrize("orient", ["right_smaller", "left_smaller"])
def test_collect_left_matches_binned_and_sql(frames, filter_op, orient):
    big, small, _ = frames
    l, r = (big, small) if orient == "right_smaller" else (small, big)
    got = bio.interval_join(l, r, filter_op=filter_op)
    assert _indexed(got)
    want = _canon(bio.interval_join(l, r, filter_op=filter_op, algorithm="binned"))
    assert _canon(got) == want
    assert _canon(bio.interval_join(l, r, filter_op=filter_op, algorithm="sql")) == want
    assert got.columns == bio.interval_join(l, r, algorithm="binned").columns
    names = {(x.left_name, x.right_name) for x in got.collect()}
    # the long-payload, duplicate and contig-length rows came through exact
    assert ("b_dup_a", "s_contig") in names or ("s_contig", "b_dup_a") in names
    assert all(None not in pair for pair in names)
    big_scores = [x.left_score for x in got.collect() if x.left_score == BIG]
    assert big_scores and all(type(v) is int for v in big_scores)


def test_collect_left_hand_checked_rows(spark, tmp_path):
    """Hand-checked rows: a point probe on a point interval, touching
    intervals, and a probe with NULL coordinates."""
    l = _parquet(spark, tmp_path, "l", [
        ("a", 10, 20, "x", BIG), ("a", 20, 30, "y", None), ("a", 25, 25, "p", 1),
        ("a", None, 5, "n", 2), ("b", 1, 1_000_000, "long", 3),
    ])
    r = _parquet(spark, tmp_path, "r", [
        ("a", 20, 20, "q", None), ("a", 25, 25, "pp", 4), ("a", 31, 40, "none", 5),
        ("b", 500, 500, "in_long", None), (None, 10, 20, "nc", 6), ("c", 1, 9, "absent", 7),
    ])
    weak = {(x.left_name, x.right_name) for x in bio.overlap(l, r).collect()}
    assert weak == {("x", "q"), ("y", "q"), ("y", "pp"), ("p", "pp"), ("long", "in_long")}
    strict = {(x.left_name, x.right_name) for x in bio.overlap(l, r, filter_op="strict").collect()}
    # strict: l.start < r.end and l.end > r.start — a point probe inside
    # (20, 30) still overlaps it; touching ends and point-on-point do not
    assert strict == {("y", "pp"), ("long", "in_long")}
    assert {x.left_score for x in bio.overlap(l, r).collect()} >= {BIG}


@pytest.mark.parametrize("chunk", [3, 1 << 20])
@pytest.mark.parametrize("strict", [False, True])
def test_pair_kernel_matches_brute_force(monkeypatch, strict, chunk):
    """The worker kernel alone, against an all-pairs check: a run with a
    few very long intervals among short ones, probes of every width, and
    window chunks small enough to split a single probe's window."""
    import numpy as np

    monkeypatch.setattr(iv, "_OVERLAP_CHUNK_PAIRS", chunk)
    rng = np.random.default_rng(7)
    starts = rng.integers(0, 5_000, 400)
    ends = starts + np.where(rng.random(400) < 0.03, 4_000, rng.integers(0, 40, 400))
    order = np.lexsort((ends, starts))
    starts, ends = starts[order], ends[order]
    qs = rng.integers(0, 5_000, 300)
    qe = qs + rng.integers(0, 200, 300)
    qe[:5] = qs[:5]  # point probes
    for factor in (64, 0):
        parts = iv._overlap_split(starts, ends, factor)
        assert len(parts) == (2 if factor else 1)
        got = []
        for part in parts:
            for p, i in iv._overlap_pairs(part, qs, qe, strict):
                got += zip(p.tolist(), i.tolist())
        if strict:
            hit = (starts[None, :] < qe[:, None]) & (ends[None, :] > qs[:, None])
        else:
            hit = (starts[None, :] <= qe[:, None]) & (ends[None, :] >= qs[:, None])
        assert sorted(got) == sorted(zip(*(a.tolist() for a in np.nonzero(hit))))


@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_collect_left_empty_indexed_side(frames, filter_op):
    big, _, empty = frames
    for l, r in ((empty, big), (big, empty)):
        got = bio.interval_join(l, r, filter_op=filter_op)
        assert _indexed(got)
        assert got.collect() == []


def test_overlap_left_all_takes_the_index(frames):
    big, small, _ = frames
    got = bio.overlap(big, small, output="left_all")
    assert _indexed(got)
    assert _canon(got) == _canon(bio.overlap(big, small, output="left_all", algorithm="binned"))


def test_second_build_runs_no_job(spark, frames):
    big, small, _ = frames
    iv.clear_probe_caches()
    bio.overlap(big, small)  # first build: guard probe + index collect
    sc = spark.sparkContext
    sc.setJobGroup("overlap_second_build", "second build")
    try:
        out = bio.overlap(big, small)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("overlap_second_build")) == []
    assert _indexed(out)
    # the index is the smaller side's, memoized under its plan
    skey = iv.plan_key(iv._normalize(small, None)[0])
    assert [k for k in iv._COLLECT_INDEX_MEMO if k[0] == skey]


def _binned(df: DataFrame) -> bool:
    return "__lbin" in str(df._jdf.queryExecution().analyzed().toString())


def test_over_guard_keeps_binned_plan(frames, monkeypatch):
    big, small, _ = frames
    want = _canon(bio.overlap(big, small))

    def no_gather(self):
        raise AssertionError("a side was gathered onto the driver")

    iv.clear_probe_caches()
    monkeypatch.setattr(iv, "BROADCAST_GUARD_ROWS", 5)
    monkeypatch.setattr(DataFrame, "toArrow", no_gather)
    out = bio.overlap(big, small)
    assert _binned(out) and "ArrowEvalPython" not in _plan(out)
    assert _canon(out) == want
    iv.clear_probe_caches()


def test_other_settings_keep_binned_plan(spark, frames):
    big, small, _ = frames
    assert _binned(bio.interval_join(big, small, how="left"))
    assert _binned(bio.overlap(big, small, bin_width=256))
    assert _binned(bio.overlap(big, small, output="left"))
    for key, val in ((INTERVAL_JOIN_ALGORITHM_KEY, "binned"), (INTERVAL_JOIN_BIN_WIDTH_KEY, "256")):
        spark.conf.set(key, val)
        try:
            assert _binned(bio.overlap(big, small)), key
        finally:
            spark.conf.unset(key)
    spark.conf.set(INTERVAL_JOIN_ALGORITHM_KEY, "sql")
    try:
        plan = _plan(bio.overlap(big, small))
        assert "ArrowEvalPython" not in plan and "Join" in plan
    finally:
        spark.conf.unset(INTERVAL_JOIN_ALGORITHM_KEY)
    # cluster's point-assignment join passes its chunk width as bin_width
    clus = bio.cluster(big, algorithm="chunked", chunk_width=1_000, filter_op="strict")
    assert _binned(clus) and "ArrowEvalPython" not in _plan(clus)


def test_list_built_frames_keep_binned_plan(spark):
    rows = [("a", 1, 10), ("a", 5, 20)]
    l = spark.createDataFrame(rows, "contig string, pos_start long, pos_end long")
    out = bio.overlap(l, l)  # no size estimate: neither side can be indexed
    assert _binned(out)
    assert len(out.collect()) == 4


@pytest.fixture(scope="module")
def sql_views(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("overlap_cl_sql")
    rnd = random.Random(5)
    schema = "contig string, strand string, pos_start long, pos_end long, id long"

    def rows(n, wmax):
        out = []
        for i in range(n):
            s = rnd.randrange(1, 5_000)
            out.append((rnd.choice(["chr1", "chr2", None]), rnd.choice(["+", "-", None]),
                        s, s + rnd.randrange(0, wmax), rnd.choice([i, BIG + i])))
        return out

    _parquet(spark, base, "a", rows(400, 200), schema).createOrReplaceTempView("ocl_a")
    _parquet(spark, base, "b", rows(50, 80), schema).createOrReplaceTempView("ocl_b")
    yield


@pytest.mark.parametrize(
    "on",
    [
        "a.contig = b.contig AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start",
        "a.contig = b.contig AND a.pos_start < b.pos_end AND a.pos_end > b.pos_start",
        "a.contig = b.contig AND a.strand = b.strand "
        "AND a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start",
        "a.pos_start <= b.pos_end AND a.pos_end >= b.pos_start",
    ],
    ids=["plain", "strict", "composite_key", "pure_range"],
)
def test_bio_sql_rewrite_equals_unrewritten(spark, sql_views, on):
    query = f"SELECT a.id AS a_id, b.id AS b_id, a.strand AS s FROM ocl_a a JOIN ocl_b b ON {on}"
    got = bio_sql(spark, query)
    assert rj.last_rewrite() is not None
    assert _indexed(got)
    spark.conf.set(rj.RANGE_JOIN_REWRITE_KEY, "false")
    try:
        want = bio_sql(spark, query)
        assert rj.last_rewrite() is None
        want = _canon(want)
    finally:
        spark.conf.unset(rj.RANGE_JOIN_REWRITE_KEY)
    assert _canon(got) == want and want
