"""The two ``nearest`` paths — the CollectLeft index ``algorithm='auto'``
takes when the left side fits the broadcast bounds, and the chunked
``algorithm='radius'`` path — against a brute force
(:func:`tests.conftest.nearest_brute`), plus the CollectLeft guard fallback,
its plan shape and its memo entry, and the chunked path's build.  Both
paths share one kernel, so only the brute force is independent of it.

Inputs are single-file parquet: a file-backed frame carries a size estimate,
so it passes Spark's broadcast rule (a frame built from a Python list has an
unknown size and never does), and one file gives every path the same left
input order, the last nearest tie-break."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame

import datafusion_bio_functions_spark as bio
from datafusion_bio_functions_spark.operators import intervals as iv
from tests.conftest import nearest_brute as _brute

LSCHEMA = "contig string, pos_start long, pos_end long, name string, score long"
RSCHEMA = "contig string, pos_start long, pos_end long"
BIG = (1 << 53) + 1  # the first long a float64 cannot hold


def _parquet(spark, base, name, rows, schema) -> DataFrame:
    path = str(base / name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(df: DataFrame) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def rows():
    rnd = random.Random(11)
    lrows = []
    for contig in ("chr1", "chr2"):
        for _ in range(120):
            s = rnd.randrange(1, 30_000)
            lrows.append(
                (contig, s, s + rnd.randrange(0, 300), rnd.choice(["x", "yy", None]),
                 rnd.choice([None, rnd.randrange(1_000)]))
            )
    # duplicate (start, end) rows that differ only in payload
    lrows += [
        ("chr1", 40_000, 40_100, "dup_a", 1),
        ("chr1", 40_000, 40_100, "dup_b", None),
        ("chr2", 35_000, 35_000, "pt_a", None),
        ("chr2", 35_000, 35_000, "pt_b", 2),
    ]
    rrows = []
    for contig in ("chr1", "chr2"):
        for _ in range(80):
            s = rnd.randrange(1, 42_000)
            rrows.append((contig, s, s + rnd.randrange(0, 150)))
    # probes exactly on interval ends and starts, and just past them
    for c, s, e, *_ in lrows[::12] + lrows[-4:]:
        rrows += [(c, e, e), (c, s, s), (c, e + 1, e + 4), (c, s - 4, s - 1)]
    rrows.append(("chr9", 5, 10))  # contig absent from the left side
    # NULL contig, start and end on both sides: they never match
    lrows += [(None, 100, 200, "nc", 7), ("chr1", None, 300, "ns", 8), ("chr1", 300, None, "ne", 9)]
    rrows += [(None, 100, 200), ("chr1", None, 300), ("chr1", 300, None)]
    # a long payload a float64 cannot hold; a row far longer than the rest
    # of its contig; a contig with fewer rows than k; a contig with no probe
    lrows += [("chr2", 36_000, 36_100, "big", BIG), ("chr2", 36_500, 60_000, "span", 6)]
    lrows += [("chr3", 100, 200, "c3", 3), ("chr3", 300, 300, None, None), ("chr4", 1, 2, "np", 0)]
    rrows += [("chr2", 36_050, 36_050), ("chr3", 250, 250), ("chr3", 50, 60), ("chr3", 300, 300)]
    return lrows, rrows


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory, rows):
    base = tmp_path_factory.mktemp("nearest_cl")
    lrows, rrows = rows
    return (
        _parquet(spark, base, "l", lrows, LSCHEMA),
        _parquet(spark, base, "r", rrows, RSCHEMA),
    )


@pytest.mark.parametrize("compute_distance", [True, False])
@pytest.mark.parametrize("include_overlaps", [True, False])
@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_collect_left_matches_exchange_paths(
    frames, rows, monkeypatch, filter_op, include_overlaps, compute_distance
):
    l, r = frames
    for k in (1, 3):
        kw = dict(k=k, filter_op=filter_op, include_overlaps=include_overlaps,
                  compute_distance=compute_distance)
        want = _brute(*rows, **kw)
        got = bio.nearest(l, r, **kw)
        assert "MapInArrow" in _plan(got), k  # the default took the CollectLeft path
        assert _canon(got) == want, k
        assert _canon(bio.nearest(l, r, algorithm="radius", **kw)) == want, k
        # chunks this narrow spread most rows and probes over many cells
        with monkeypatch.context() as m:
            m.setattr(iv, "_auto_chunk_width", lambda *a: 20)
            assert _canon(bio.nearest(l, r, algorithm="radius", **kw)) == want, k


@pytest.fixture(scope="module")
def chunk_frames(spark, tmp_path_factory):
    """Small coordinates, so a chunk width of 1 to 100 cuts each contig into
    ~10 to ~800 chunks."""
    rnd = random.Random(5)
    lrows = []
    # chr1: two clusters with empty chunks between them
    for lo in (20, 400):
        for _ in range(10):
            s = rnd.randrange(lo, lo + 60)
            lrows.append(("chr1", s, s + rnd.randrange(0, 25), rnd.choice(["a", None]),
                          rnd.randrange(50)))
    # equal-end and equal-start ties, and an exact duplicate interval
    lrows += [("chr1", 200, 230, "t1", 1), ("chr1", 210, 230, "t2", 2),
              ("chr1", 210, 240, "t3", 3), ("chr1", 210, 230, "t4", 4)]
    # chr2: a contig-long row among short ones, and a payload above 2^53
    lrows += [("chr2", 0, 600, "long", 5), ("chr2", 310, 320, "big", BIG)]
    lrows += [("chr2", s, s + 3, None, s) for s in (50, 52, 300, 590)]
    lrows += [(None, 100, 200, "nc", 7), ("chr1", None, 300, "ns", 8), ("chr1", 300, None, "ne", 9)]
    rrows = [
        ("chr1", 1, 3), ("chr2", 0, 0),  # before every left row of the contig
        ("chr1", 700, 710), ("chr2", 700, 800),  # after every left row
        ("chr1", 10, 690), ("chr2", 100, 500),  # spanning many chunks
        ("chr1", 150, 160), ("chr1", 300, 390),  # in the empty gap
        ("chr1", 230, 230), ("chr1", 210, 210), ("chr1", 209, 209), ("chr1", 241, 250),
        ("chr2", 305, 305),
        ("chr9", 5, 10),  # contig absent from the left side
        (None, 100, 200), ("chr1", None, 300), ("chr1", 300, None),
    ]
    for _ in range(25):
        s = rnd.randrange(0, 700)
        rrows.append((rnd.choice(["chr1", "chr2"]), s, s + rnd.randrange(0, 40)))
    base = tmp_path_factory.mktemp("nearest_chunks")
    return (
        lrows, rrows,
        _parquet(spark, base, "l", lrows, LSCHEMA), _parquet(spark, base, "r", rrows, RSCHEMA),
    )


@pytest.mark.parametrize("width", [1, 4, 25, 100])
def test_radius_matches_brute_force_for_any_chunk_width(spark, chunk_frames, monkeypatch, width):
    """The chunked path is exact whatever the chunk width: every k from 1 to
    5, weak and strict, with and without overlaps, against the brute force.
    The 20 answers of one width are collected as one union."""
    from pyspark.sql import functions as F

    lrows, rrows, l, r = chunk_frames
    monkeypatch.setattr(iv, "_auto_chunk_width", lambda *a: width)
    configs = [(k, fo, ov) for k in range(1, 6) for fo in ("weak", "strict") for ov in (True, False)]
    outs = [
        bio.nearest(l, r, k=k, filter_op=fo, include_overlaps=ov, algorithm="radius")
        .withColumn("__cfg", F.lit(j))
        for j, (k, fo, ov) in enumerate(configs)
    ]
    union = outs[0]
    for o in outs[1:]:
        union = union.unionByName(o)
    got = {j: [] for j in range(len(configs))}
    for row in union.collect():
        got[row["__cfg"]].append(tuple(row)[:-1])
    for j, (k, fo, ov) in enumerate(configs):
        want = _brute(lrows, rrows, k, fo, ov, True)
        assert sorted(got[j], key=repr) == want, (width, k, fo, ov)


def test_radius_build_runs_one_job_and_plans_one_cogroup(spark, frames):
    """With a cold memo, building the chunked path runs one Spark job, the
    chunk-width probe, and plans one cogroup and no cached relation."""
    l, r = frames
    sc = spark.sparkContext
    iv.clear_probe_caches()
    sc.setJobGroup("nearest-build", "nearest build")
    try:
        out = bio.nearest(l, r, algorithm="radius")
        jobs = sc.statusTracker().getJobIdsForGroup("nearest-build")
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 1, jobs
    plan = _plan(out)
    assert "InMemoryRelation" not in plan
    assert plan.count("FlatMapCoGroupsInArrow") == 1


PATHS = ["auto", "radius"]


def _pin(spark, tmp_path, lrows, rrows, **kw) -> list:
    l = _parquet(spark, tmp_path, "l", lrows, LSCHEMA)
    r = _parquet(spark, tmp_path, "r", rrows, RSCHEMA)
    out = bio.nearest(l, r, **kw)
    if kw.get("algorithm", "auto") == "auto":
        assert "MapInArrow" in _plan(out)
    return out.collect()


@pytest.mark.parametrize("algorithm", PATHS)
def test_pin_null_probe_start_has_no_neighbour(spark, tmp_path, algorithm):
    got = _pin(spark, tmp_path, [("a", 10, 20, "p", 1)], [("a", None, 20)], algorithm=algorithm)
    assert [(x.left_name, x.distance) for x in got] == [(None, None)]


@pytest.mark.parametrize("algorithm", PATHS)
def test_pin_null_left_start_is_no_neighbour(spark, tmp_path, algorithm):
    lrows = [("a", 100, 200, "near", 1), ("a", None, 150, "null", 2), ("a", 500, 600, "far", 3)]
    got = _pin(spark, tmp_path, lrows, [("a", 250, 260)], k=3, algorithm=algorithm)
    assert sorted((x.distance, x.left_name) for x in got) == [(50, "near"), (240, "far")]


@pytest.mark.parametrize("algorithm", PATHS)
def test_pin_strict_point_probe_same_first_row_for_every_k(spark, tmp_path, algorithm):
    """A strict point probe has no overlap candidates, whatever k is: (4,
    143) straddles (26, 26) but neither ends before nor starts after it."""
    lrows = [("a", 4, 143, "wide", 1), ("a", 26, 71, "next", 2)]
    firsts = []
    for k in (1, 2):
        got = _pin(spark, tmp_path / f"k{k}", lrows, [("a", 26, 26)], k=k,
                   filter_op="strict", algorithm=algorithm)
        firsts.append(min((x.distance, x.left_pos_start) for x in got))
        assert [x.left_name for x in got] == ["next"]
    assert firsts[0] == firsts[1] == (0, 26)


@pytest.mark.parametrize("algorithm", ["radius"])
def test_pin_null_probe_contig_against_required_left_contig(spark, algorithm):
    """A NULL-contig probe gets its no-neighbour row even when the left
    contig column is non-nullable (the chunked path's cogroup on a NULL key
    would compare it as never NULL)."""
    from pyspark.sql import types as T

    req = T.StructType([T.StructField(c, t, False) for c, t in (
        ("contig", T.StringType()), ("pos_start", T.LongType()), ("pos_end", T.LongType()))])
    l = spark.createDataFrame([("a", 10, 20), ("b", 5, 6)], req)
    r = spark.createDataFrame([(None, 1, 2), ("a", 30, 40), ("b", 1, 1)], RSCHEMA)
    got = sorted((x.right_contig or "", x.left_pos_start, x.distance)
                 for x in bio.nearest(l, r, algorithm=algorithm).collect())
    assert got == [("", None, None), ("a", 10, 10), ("b", 5, 4)]


def test_collect_left_ties_and_absent_contig(frames):
    l, r = frames
    rows = bio.nearest(l, r).collect()
    by_probe = {(x.right_contig, x.right_pos_start, x.right_pos_end): x for x in rows}
    # equal (start, end): the first row in left input order wins
    assert by_probe[("chr1", 40_000, 40_000)].left_name == "dup_a"
    assert by_probe[("chr2", 35_000, 35_000)].left_name == "pt_a"
    absent = by_probe[("chr9", 5, 10)]
    assert absent.left_contig is None and absent.left_name is None
    assert absent.distance is None
    assert len(rows) == r.count()


def test_collect_left_payload_is_exact(spark, tmp_path):
    """A nullable long payload above 2^53 comes back exact from every path
    (a pandas gather would turn the column into float64)."""
    big = (1 << 60) + 1
    l = _parquet(spark, tmp_path, "l", [("a", 10, 20, "p", big), ("a", 50, 60, None, None)], LSCHEMA)
    r = _parquet(spark, tmp_path, "r", [("a", 12, 12), ("a", 58, 70)], RSCHEMA)
    for algorithm in PATHS:
        out = bio.nearest(l, r, algorithm=algorithm)
        assert ("MapInArrow" in _plan(out)) == (algorithm == "auto")
        got = {x.right_pos_start: (x.left_name, x.left_score, x.distance) for x in out.collect()}
        assert got == {12: ("p", big, 0), 58: (None, None, 0)}, algorithm


def test_collect_left_empty_left(spark, tmp_path):
    l = _parquet(spark, tmp_path, "l", [], LSCHEMA)
    r = _parquet(spark, tmp_path, "r", [("a", 1, 2), ("b", 3, 4)], RSCHEMA)
    out = bio.nearest(l, r)
    assert "MapInArrow" in _plan(out)
    rows = out.collect()
    assert len(rows) == 2
    assert all(x.left_contig is None and x.distance is None for x in rows)


def test_over_guard_takes_radius_plan(frames, monkeypatch):
    """A left side over the row guard is never gathered: ``auto`` builds
    the radius plan, with the same rows."""
    l, r = frames
    want = _canon(bio.nearest(l, r))

    def no_gather(self):
        raise AssertionError("the left side was gathered onto the driver")

    iv.clear_probe_caches()
    monkeypatch.setattr(iv, "_fits_broadcast", lambda *a, **kw: False)
    monkeypatch.setattr(DataFrame, "toArrow", no_gather)
    monkeypatch.setattr(DataFrame, "toPandas", no_gather)
    out = bio.nearest(l, r)
    plan = _plan(out)
    assert "MapInArrow" not in plan
    assert "FlatMapCoGroupsInArrow" in plan
    assert _canon(out) == want


def test_other_settings_keep_radius_plan(spark, frames):
    """The explicit algorithm and the session knob, in any case, keep the
    exchange-based plan."""
    l, r = frames
    assert "MapInArrow" not in _plan(bio.nearest(l, r, algorithm="radius"))
    for val in ("radius", "Radius"):
        spark.conf.set("spark.bio.nearest.algorithm", val)
        try:
            assert "MapInArrow" not in _plan(bio.nearest(l, r)), val
        finally:
            spark.conf.unset("spark.bio.nearest.algorithm")


def test_clear_probe_caches_drops_nearest_index(frames):
    l, r = frames
    iv.clear_probe_caches()
    bio.nearest(l, r)
    # the index is keyed by the (position-normalized) left frame's plan
    lkey = iv.plan_key(iv._normalize(l, None)[0])
    assert [key for key in iv._COLLECT_INDEX_MEMO if key[0] == lkey]
    iv.clear_probe_caches()
    assert not iv._COLLECT_INDEX_MEMO
