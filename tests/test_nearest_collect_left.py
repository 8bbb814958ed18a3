"""The CollectLeft k=1 ``nearest`` path (what ``algorithm='auto'`` runs when
the left side fits the broadcast bounds) against the two exchange-based
paths, plus its guard fallback, its plan shape and its memo entry.

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

LSCHEMA = "contig string, pos_start long, pos_end long, name string, score long"
RSCHEMA = "contig string, pos_start long, pos_end long"


def _parquet(spark, base, name, rows, schema) -> DataFrame:
    path = str(base / name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(df: DataFrame) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("nearest_cl")
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
    return (
        _parquet(spark, base, "l", lrows, LSCHEMA),
        _parquet(spark, base, "r", rrows, RSCHEMA),
    )


@pytest.mark.parametrize("compute_distance", [True, False])
@pytest.mark.parametrize("include_overlaps", [True, False])
@pytest.mark.parametrize("filter_op", ["weak", "strict"])
def test_collect_left_matches_exchange_paths(frames, filter_op, include_overlaps, compute_distance):
    l, r = frames
    kw = dict(k=1, filter_op=filter_op, include_overlaps=include_overlaps,
              compute_distance=compute_distance)
    got = bio.nearest(l, r, **kw)
    assert "MapInArrow" in _plan(got)  # the default took the CollectLeft path
    want = _canon(bio.nearest(l, r, algorithm="cogroup", **kw))
    assert _canon(got) == want
    assert _canon(bio.nearest(l, r, algorithm="radius", **kw)) == want


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
    """A nullable long payload above 2^53 comes back exact (a pandas gather
    would turn the column into float64)."""
    big = (1 << 60) + 1
    l = _parquet(spark, tmp_path, "l", [("a", 10, 20, "p", big), ("a", 50, 60, None, None)], LSCHEMA)
    r = _parquet(spark, tmp_path, "r", [("a", 12, 12), ("a", 58, 70)], RSCHEMA)
    out = bio.nearest(l, r)
    assert "MapInArrow" in _plan(out)
    got = {x.right_pos_start: (x.left_name, x.left_score, x.distance) for x in out.collect()}
    assert got == {12: ("p", big, 0), 58: (None, None, 0)}


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
    assert "FlatMapCoGroupsInPandas" in plan
    assert _canon(out) == want


def test_other_settings_keep_radius_plan(spark, frames):
    """Explicit algorithms, a radius, k > 1 and the session knobs keep the
    exchange-based plans."""
    l, r = frames
    for kw in (dict(algorithm="radius"), dict(algorithm="cogroup"), dict(radius=5_000), dict(k=2)):
        assert "MapInArrow" not in _plan(bio.nearest(l, r, **kw)), kw
    for key, val in (("spark.bio.nearest.algorithm", "radius"), ("spark.bio.nearest.radius", "5000")):
        spark.conf.set(key, val)
        try:
            assert "MapInArrow" not in _plan(bio.nearest(l, r)), key
        finally:
            spark.conf.unset(key)


def test_clear_probe_caches_drops_nearest_index(frames):
    l, r = frames
    iv.clear_probe_caches()
    bio.nearest(l, r)
    # the index is keyed by the (position-normalized) left frame's plan
    lkey = iv.plan_key(iv._normalize(l, None)[0])
    assert [key for key in iv._COLLECT_INDEX_MEMO if key[0] == lkey]
    iv.clear_probe_caches()
    assert not iv._COLLECT_INDEX_MEMO
