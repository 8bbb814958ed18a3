"""Shared pytest fixtures: one local SparkSession, the FIXTURES.md interval
tables (ports of the reference's ``testing/data/interval/*.csv`` +
``testing/data/merge/input.csv``), and a DuckDB oracle helper."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import SparkSession

from datafusion_bio_functions_spark.session import create_bio_session, get_or_create_session


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_or_create_session(app_name="bio-tests", shuffle_partitions=8)
    create_bio_session(s)
    yield s


# FIXTURES.md F1 — reference testing/data/interval/reads.csv
READS = [
    ("chr1", 150, 250),
    ("chr1", 190, 300),
    ("chr1", 300, 501),
    ("chr1", 500, 700),
    ("chr1", 22000, 22300),
    ("chr1", 15000, 15000),
    ("chr2", 150, 250),
    ("chr3", 234, 300),
]

# FIXTURES.md F2 — reference testing/data/interval/targets.csv
TARGETS = [
    ("chr1", 100, 190),
    ("chr1", 200, 290),
    ("chr1", 400, 600),
    ("chr1", 10000, 20000),
    ("chr1", 22100, 22100),
    ("chr2", 100, 190),
    ("chr3", 100, 200),
]

# FIXTURES.md F3 — dirty/unsorted/overlapping single-table input
MERGE_INPUT = (
    READS
    + TARGETS
    + [
        ("chr1", 15000, 15001),
        ("chr1", 22100, 22101),
        ("chr2", 150, 250),  # duplicate row on purpose
    ]
)

COLS = ["contig", "pos_start", "pos_end"]


@pytest.fixture(scope="session")
def reads(spark):
    return spark.createDataFrame(READS, COLS)


@pytest.fixture(scope="session")
def targets(spark):
    return spark.createDataFrame(TARGETS, COLS)


@pytest.fixture(scope="session")
def merge_input(spark):
    return spark.createDataFrame(MERGE_INPUT, COLS)


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the fixture tables registered as views."""
    con = duckdb.connect()
    con.register("reads", pd.DataFrame(READS, columns=COLS))
    con.register("targets", pd.DataFrame(TARGETS, columns=COLS))
    con.register("merge_input", pd.DataFrame(MERGE_INPUT, columns=COLS))
    yield con
    con.close()


def assert_frames_match(spark_df, duck_rel, sort_cols=None):
    """Order-insensitive comparison of a Spark DataFrame against a DuckDB
    relation (mirrors the driver's sorted-columns value compare)."""
    got = spark_df.toPandas()
    want = duck_rel.df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    cols = sorted(got.columns)
    got = got[cols]
    want = want[cols]
    for c in cols:  # normalize integer dtypes
        if str(got[c].dtype).startswith(("int", "Int")) or str(want[c].dtype).startswith(
            ("int", "Int")
        ):
            got[c] = got[c].astype("Int64")
            want[c] = want[c].astype("Int64")
        if got[c].dtype == object:
            got[c] = got[c].astype(str)
            want[c] = want[c].astype(str)
    got = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def spark_jobs(spark, group: str, build) -> list:
    """The ids of the Spark jobs ``build()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark) -> int:
    """How many generated classes the JVM has compiled so far (Spark's
    ``CodegenMetrics``); a codegen cache hit compiles nothing."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def nearest_brute(lrows, rrows, k, filter_op, include_overlaps, compute_distance) -> list:
    """``nearest`` rows by definition, for (contig, start, end, ...) left
    rows and (contig, start, end) probes: per probe, every same-contig left row at
    distance ``max(ls - qe, qs - le, 0)`` on the shrunk probe, ranked by
    (distance, start, end, input order); no overlap candidates for a strict
    point probe; NULL coordinates never match."""
    shrink = 1 if filter_op == "strict" else 0
    out = []
    for c, s, e in rrows:
        ranked = []
        if None not in (c, s, e):
            qs, qe = s + shrink, e - shrink
            for j, row in enumerate(lrows):
                lc, ls, le = row[:3]
                if lc != c or ls is None or le is None:
                    continue
                d = max(ls - qe, qs - le, 0)
                if d == 0 and not (include_overlaps and qs <= qe + 1):
                    continue
                ranked.append((d, ls, le, j))
        ranked.sort()
        for d, *_, j in ranked[:k] or [(None, None)]:
            left = lrows[j] if d is not None else (None,) * len(lrows[0])
            dist = (None if d is None else max(d - shrink, 0),) if compute_distance else ()
            out.append(tuple(left) + (c, s, e) + dist)
    return sorted(out, key=repr)
