"""Unit tests for the round-1 extension operators: BPE-ish token counting,
exact embedding near-dup pairs, and the positional consequence-region
classifier (the SQL-expressible core of the VEP engine)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datafusion_bio_functions_spark.functions.text import bpe_token_count
from datafusion_bio_functions_spark.operators.similarity import cosine_near_dup_exact
from datafusion_bio_functions_spark.operators.vep import consequence_regions


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, world! It's 42."),
            (2, ""),
            (3, "a b c"),
            (4, "don't stop believing"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["n"] for r in df.select("id", bpe_token_count("text").alias("n")).collect()}
    # Hello | , | ' world' | ! | ' It' | 's | ' 42' | .
    assert got[1] == 8
    assert got[2] == 0
    assert got[3] == 3
    # don | 't | ' stop' | ' believing'
    assert got[4] == 4


def test_cosine_near_dup_exact(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
        (4, [-1.0, 0.0, 0.0]),    # opposite
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    expected = 0.999 / math.sqrt(0.999**2 + 0.01**2)
    for method in ("arrow", "sql"):
        rows = sorted(
            cosine_near_dup_exact(df, threshold=0.95, method=method).collect(),
            key=lambda r: (r.id_a, r.id_b),
        )
        assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)], method
        # output is rounded to 6 decimals (cross-engine reproducibility)
        assert abs(rows[0].cosine_sim - expected) < 1e-6, method


def _tx(spark, strand=1, biotype="protein_coding"):
    # transcript [1000, 2000], CDS [1200, 1800]
    return spark.createDataFrame(
        [("TX1", "1", 1000, 2000, strand, biotype, 1200, 1800)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, cds_start long, cds_end long",
    )


def _v(spark, pos, ref="A", alt="T"):
    return spark.createDataFrame(
        [("1", pos, pos, ref, alt)],
        "chrom string, start long, end long, ref string, alt string",
    )


def test_consequence_regions_truth_table(spark):
    def term(pos, strand=1, biotype="protein_coding"):
        rows = consequence_regions(_v(spark, pos), _tx(spark, strand, biotype)).collect()
        return rows[0].region_term if rows else None

    assert term(1500) == "coding_sequence_variant"
    assert term(1100) == "5_prime_UTR_variant"
    assert term(1900) == "3_prime_UTR_variant"
    assert term(1100, strand=-1) == "3_prime_UTR_variant"
    assert term(1900, strand=-1) == "5_prime_UTR_variant"
    assert term(1500, biotype="lincRNA") == "non_coding_transcript_variant"
    # upstream/downstream distances: 5000 both ways (strand-aware), matching
    # the reference engine ctor TranscriptConsequenceEngine::new(5000, 5000)
    assert term(900) == "upstream_gene_variant"
    assert term(2100) == "downstream_gene_variant"
    assert term(900, strand=-1) == "downstream_gene_variant"
    assert term(2100, strand=-1) == "upstream_gene_variant"
    # beyond the windows → no row
    assert term(2000 + 5000) == "downstream_gene_variant"
    assert term(2000 + 5001) is None           # fwd downstream limit 5000
    assert term(1000 - 5001) is None           # fwd upstream limit 5000
    assert term(1000 - 5000, strand=-1) == "downstream_gene_variant"
    assert term(1000 - 5001, strand=-1) is None  # rev downstream limit 5000
    assert term(2000 + 5000, strand=-1) == "upstream_gene_variant"
    assert term(2000 + 5001, strand=-1) is None


def test_ivf_cogroup_search_equals_join_formulation(spark):
    """The r11 cogrouped per-list GEMM search must be ROW-IDENTICAL
    (including bit-exact sims) to the original candidate-join formulation
    on adversarial data: exact duplicate vectors (sim ties broken by id),
    zero vectors (NaN sims — Spark orders NaN greatest descending), and
    a query id missing from the corpus."""
    import random as _rnd

    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    from datafusion_bio_functions_spark.operators.similarity import (
        _centroid_assign_kernel,
        _pair_cosine_kernel,
        ivf_cosine_topk,
        train_ivf_centroids,
    )
    import numpy as _np
    import warnings

    rnd = _rnd.Random(99)
    rows = []
    for i in range(120):
        base = [rnd.gauss(0, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 7 == 0:
            rows.append((i + 1000, list(base)))  # exact duplicate: tie
    rows.append((5000, [0.0] * 8))  # zero vector: NaN sims
    rows.append((5001, [0.0] * 8))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter((SF.col("vec_id") % 10 == 0) | (SF.col("vec_id") >= 5000))
    k, n_centroids, nprobe = 4, 4, 2
    cents = train_ivf_centroids(df, n_centroids, 8, "embedding", seed=7)

    def join_formulation():
        cent = _np.array(cents, dtype=_np.float64)
        c = df.select(
            SF.col("vec_id").alias("neighbor_id"), SF.col("embedding").alias("__cv")
        ).withColumn("centroid_id", _centroid_assign_kernel(cent, 1)(SF.col("__cv"))[0])
        qq = q.select(
            SF.col("vec_id").alias("query_id"), SF.col("embedding").alias("__qv")
        ).withColumn(
            "centroid_id", SF.explode(_centroid_assign_kernel(cent, nprobe)(SF.col("__qv")))
        )
        sim = (
            qq.join(c, "centroid_id")
            .filter(SF.col("query_id") != SF.col("neighbor_id"))
            .withColumn("__sim", _pair_cosine_kernel()(SF.col("__qv"), SF.col("__cv")))
        )
        w = W.partitionBy("query_id").orderBy(SF.desc("__sim"), SF.asc("neighbor_id"))
        return (
            sim.withColumn("rank", SF.row_number().over(w))
            .filter(SF.col("rank") <= k)
            .select(
                "query_id", "neighbor_id",
                SF.col("__sim").alias("cosine_sim"),
                SF.col("rank").cast("long").alias("rank"),
            )
        )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # zero-vector 0/0 RuntimeWarnings
        expected = sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in join_formulation().collect()
        )
        got = sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in ivf_cosine_topk(
                q, df, k=k, n_centroids=n_centroids, nprobe=nprobe,
                centroids=cents,
            ).collect()
        )
    assert got == expected
    # zero-vector queries DID produce NaN rows and they rank first
    nan_rows = [t for t in got if t[0] >= 5000]
    assert nan_rows and all(t[3] == "nan" for t in nan_rows)


def test_ivf_list_split_equals_unsplit(spark):
    """list_split (the r12 hot-list memory guard: corpus salted into
    chunks, queries replicated) must be ROW-IDENTICAL to the unsplit
    cogroup, ties/NaN/duplicates included."""
    import random as _rnd
    import warnings

    import pyspark.sql.functions as SF

    from datafusion_bio_functions_spark.operators.similarity import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    rnd = _rnd.Random(17)
    rows = []
    for i in range(150):
        base = [rnd.gauss(0, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 6 == 0:
            rows.append((i + 1000, list(base)))  # duplicates: ties
    rows.append((5000, [0.0] * 8))  # zero vector: NaN sims
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter((SF.col("vec_id") % 10 == 0) | (SF.col("vec_id") >= 5000))
    cents = train_ivf_centroids(df, 4, 8, "embedding", seed=7)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        base_rows = sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in ivf_cosine_topk(
                q, df, k=4, n_centroids=4, nprobe=2, centroids=cents
            ).collect()
        )
        split_rows = sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in ivf_cosine_topk(
                q, df, k=4, n_centroids=4, nprobe=2, centroids=cents,
                list_split=3,
            ).collect()
        )
    assert split_rows == base_rows


_LSH_CASES = [
    "base", "string_ids", "nulls", "dup_corpus_id", "no_multiprobe",
    "k_over_candidates", "empty_queries", "float64",
]


def _lsh_case_frames(spark, case):
    """(queries, corpus, lsh params, zero-vector query ids) of one case of
    the LSH differential test."""
    import random as _rnd

    rnd = _rnd.Random(42)
    rows = []
    for i in range(120):
        base = [rnd.gauss(0, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 7 == 0:
            rows.append((i + 1000, list(base)))  # exact duplicate: tie
    rows.append((5000, [0.0] * 8))  # zero vector: NaN sims
    rows.append((5001, [0.0] * 8))
    if case == "nulls":
        rows += [(None, [rnd.gauss(0, 1) for _ in range(8)]), (5002, None)]
    if case == "dup_corpus_id":
        # id 3 (never a query) with a second, different vector
        rows.append((3, [rnd.gauss(0, 1) for _ in range(8)]))
    elem = "double" if case == "float64" else "float"
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")
    is_query = (F.col("vec_id") % 10 == 0) | (F.col("vec_id") >= 5000) | F.col("vec_id").isNull()
    if case == "nulls":
        is_query = is_query | F.col("embedding").isNull()
    if case == "empty_queries":
        is_query = F.lit(False)
    q = df.filter(is_query)
    zero_ids = {5000, 5001}
    if case == "string_ids":
        # string order ("10" < "9") differs from numeric order
        q, df = (f.withColumn("vec_id", F.col("vec_id").cast("string")) for f in (q, df))
        zero_ids = {"5000", "5001"}
    # small n_planes + several tables + multiprobe maximizes candidates
    # seen through MULTIPLE cells — the dedup both paths must reproduce
    params = dict(k=4, dim=8, n_planes=3, n_tables=3, multiprobe=True, seed=5)
    if case == "no_multiprobe":
        params["multiprobe"] = False
    if case == "k_over_candidates":
        params["k"] = 500
    return q, df, params, zero_ids


def _lsh_join_formulation(queries, corpus, k, dim, n_planes, n_tables, multiprobe, seed):
    """The candidate-pair join formulation of ``lsh_cosine_topk``: sign-bit
    buckets from the JVM expression (the bucket kernel is sign-exact
    against it), every (query row, corpus row) pair sharing a probed
    (table, bucket) once, one pair cosine each, the greatest similarity
    per (query_id, neighbor_id), then the rank window."""
    import pyspark.sql.functions as SF
    from pyspark.sql import Window as W

    from datafusion_bio_functions_spark.operators.similarity import (
        _bucket_expr,
        _hyperplanes,
        _pair_cosine_kernel,
    )

    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]

    def buckets(vec):
        return SF.posexplode(SF.array(*[_bucket_expr(SF.col(vec), p) for p in tables]))

    c0 = corpus.select(
        SF.col("vec_id").alias("neighbor_id"), SF.col("embedding").alias("__cv"),
        SF.monotonically_increasing_id().alias("__crow"),
    ).filter(SF.col("__cv").isNotNull())
    c = c0.select("neighbor_id", "__cv", "__crow", buckets("__cv").alias("table", "bucket"))
    q0 = queries.select(
        SF.col("vec_id").alias("query_id"), SF.col("embedding").alias("__qv"),
        SF.monotonically_increasing_id().alias("__qrow"),
    ).filter(SF.col("__qv").isNotNull())
    qb = q0.select("query_id", "__qv", "__qrow", buckets("__qv").alias("table", "__b0"))
    probes = [SF.col("__b0")]
    if multiprobe:
        probes += [SF.col("__b0").bitwiseXOR(SF.lit(1 << i)) for i in range(n_planes)]
    qp = qb.select(
        "query_id", "__qv", "__qrow", "table", SF.explode(SF.array(*probes)).alias("bucket")
    )
    sim = (
        qp.join(c, ["table", "bucket"])
        .filter(SF.col("query_id") != SF.col("neighbor_id"))
        .dropDuplicates(["__qrow", "__crow"])
        .withColumn("__sim", _pair_cosine_kernel()(SF.col("__qv"), SF.col("__cv")))
        .groupBy("query_id", "neighbor_id")
        .agg(SF.max("__sim").alias("__sim"))
    )
    w = W.partitionBy("query_id").orderBy(SF.desc("__sim"), SF.asc("neighbor_id"))
    return (
        sim.withColumn("rank", SF.row_number().over(w))
        .filter(SF.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            SF.col("__sim").alias("cosine_sim"),
            SF.col("rank").cast("long").alias("rank"),
        )
    )


@pytest.mark.parametrize("case", _LSH_CASES)
@pytest.mark.parametrize("path", ["broadcast", "cogroup"])
def test_lsh_cogroup_rerank_equals_join_formulation(spark, tmp_path, monkeypatch, path, case):
    """Both candidate searches of ``lsh_cosine_topk`` — the broadcast query
    index (a query frame under the broadcast bounds: written to parquet,
    so its size is known) and the (table, bucket) cogroup (the row guard
    set below every frame) — must be ROW-IDENTICAL, bit-exact sims
    included, to the candidate-join formulation on adversarial data:
    exact duplicate vectors (sim ties broken by id), zero vectors (NaN
    sims, Spark-greatest), candidates reachable through several
    tables/probes (the cross-cell dedup), string ids, NULL ids and
    vectors, a corpus id carried by two vectors, no multiprobe, k above
    the candidate count, no queries and double vectors."""
    import warnings

    from datafusion_bio_functions_spark import clear_probe_caches
    from datafusion_bio_functions_spark.operators import intervals
    from datafusion_bio_functions_spark.operators.similarity import lsh_cosine_topk

    q, df, params, zero_ids = _lsh_case_frames(spark, case)
    df.write.parquet(str(tmp_path / "corpus"))
    q.write.parquet(str(tmp_path / "queries"))
    df = spark.read.parquet(str(tmp_path / "corpus"))
    q = spark.read.parquet(str(tmp_path / "queries"))
    clear_probe_caches()
    if path == "cogroup":
        monkeypatch.setattr(intervals, "BROADCAST_GUARD_ROWS", -1)  # even 0 rows is over
    out = lsh_cosine_topk(q, df, **params)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("FlatMapCoGroupsInArrow" in plan) == (path == "cogroup"), plan

    def rows(frame):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim)) for r in frame.collect()
        )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # zero-vector 0/0 RuntimeWarnings
        expected = rows(_lsh_join_formulation(q, df, **params))
        got = rows(out)
    assert got == expected
    if case == "empty_queries":
        assert got == []
        return
    # zero-vector queries DID produce rows, all NaN (ranked first)
    zero_rows = [t for t in got if t[0] in zero_ids]
    assert zero_rows and all(t[3] == "nan" for t in zero_rows)


def _parquet(spark, frame, path):
    frame.write.parquet(path)
    return spark.read.parquet(path)


def test_lsh_hot_bucket_streams_in_slabs(spark, tmp_path, monkeypatch):
    """A corpus where more than half of the vectors share one bucket in
    every table: the broadcast path streams it in slabs of 16 rows and
    pair steps far smaller than the hot bucket's candidates, plans no
    cogroup, and gives the cogroup path's rows."""
    import random as _rnd

    import numpy as np

    from datafusion_bio_functions_spark import clear_probe_caches
    from datafusion_bio_functions_spark.operators import intervals
    from datafusion_bio_functions_spark.operators import similarity as sim

    rnd = _rnd.Random(11)
    hot = [rnd.gauss(0, 1) for _ in range(8)]
    rows = [(i, [h + rnd.gauss(0, 1e-3) for h in hot]) for i in range(100)]
    rows += [(100 + i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    params = dict(k=5, dim=8, n_planes=3, n_tables=4, seed=9)
    x = np.array([v for _, v in rows], dtype=np.float32).astype(np.float64)
    buckets = sim._lsh_bucket_ids(x, sim._lsh_planes(8, 3, 4, 9), 4)
    assert np.unique(buckets, axis=0, return_counts=True)[1].max() * 2 > len(rows)

    df = _parquet(spark, spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
                  str(tmp_path / "corpus"))
    q = df.filter(F.col("vec_id") % 4 == 0)

    def topk():
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in sim.lsh_cosine_topk(q, df, **params).collect()
        )

    clear_probe_caches()
    monkeypatch.setattr(sim, "_KERNEL_SLAB", 16)
    monkeypatch.setattr(sim, "_LSH_PAIR_BUDGET", 50)
    plan = sim.lsh_cosine_topk(q, df, **params)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    streamed = topk()
    monkeypatch.setattr(intervals, "BROADCAST_GUARD_ROWS", -1)
    assert streamed == topk()
    assert len(streamed) == len(q.collect()) * params["k"]


def test_lsh_cogroup_duplicate_corpus_id_takes_one_slot(spark, tmp_path, monkeypatch):
    """A corpus id stored twice in the query's (table, bucket) cell takes
    one of the k slots on the cogroup path, as on the broadcast path: with
    one table, 3 planes and k=2, the two copies of id 1 must not push the
    true second neighbour, id 2, out of the cell's local top-k."""
    import random as _rnd

    import numpy as np

    from datafusion_bio_functions_spark import clear_probe_caches
    from datafusion_bio_functions_spark.operators import intervals
    from datafusion_bio_functions_spark.operators import similarity as sim

    rnd = _rnd.Random(3)
    v = [rnd.gauss(0, 1) for _ in range(8)]
    twin = [x + rnd.gauss(0, 0.01) for x in v]
    rows = [(1, twin), (1, list(twin)), (2, [x + rnd.gauss(0, 0.05) for x in v])]
    rows += [(10 + i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    params = dict(k=2, dim=8, n_planes=3, n_tables=1, seed=5)
    x = np.array([v] + [r[1] for r in rows[:3]], dtype=np.float32).astype(np.float64)
    assert len(np.unique(sim._lsh_bucket_ids(x, sim._lsh_planes(8, 3, 1, 5), 1))) == 1

    schema = "vec_id long, embedding array<float>"
    df = _parquet(spark, spark.createDataFrame(rows, schema), str(tmp_path / "corpus"))
    q = _parquet(spark, spark.createDataFrame([(0, v)], schema), str(tmp_path / "queries"))

    def topk():
        return [
            (r.query_id, r.rank, r.neighbor_id, repr(r.cosine_sim))
            for r in sim.lsh_cosine_topk(q, df, **params).orderBy("rank").collect()
        ]

    clear_probe_caches()
    broadcast = topk()
    assert [t[2] for t in broadcast] == [1, 2]
    monkeypatch.setattr(intervals, "BROADCAST_GUARD_ROWS", -1)
    plan = sim.lsh_cosine_topk(q, df, **params)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan, plan
    assert topk() == broadcast


@pytest.mark.parametrize("dim", [4, 16])
@pytest.mark.parametrize("side", ["queries", "corpus", "cogroup"])
def test_lsh_dim_must_match_vector_length(spark, tmp_path, monkeypatch, side, dim):
    """``dim`` shorter or longer than the 8-long vectors raises ValueError
    naming both lengths: on the driver from the collected query matrix, in
    the broadcast kernel for corpus rows, and in the cogroup path's bucket
    UDF — never an IndexError, never hashing with part of each plane."""
    from datafusion_bio_functions_spark import clear_probe_caches
    from datafusion_bio_functions_spark.operators import intervals
    from datafusion_bio_functions_spark.operators.similarity import lsh_cosine_topk

    def vectors(name, n):
        frame = spark.createDataFrame(
            [(i, [float(i + j) for j in range(n)]) for i in range(20)],
            "vec_id long, embedding array<float>",
        )
        return _parquet(spark, frame, str(tmp_path / name))

    corpus = vectors("corpus", 8)
    queries = vectors("queries", dim if side == "corpus" else 8)
    clear_probe_caches()
    msg = f"vectors have length 8, but dim={dim}"
    if side == "queries":
        with pytest.raises(ValueError, match=msg):
            lsh_cosine_topk(queries, corpus, dim=dim)
        return
    if side == "cogroup":
        monkeypatch.setattr(intervals, "BROADCAST_GUARD_ROWS", -1)
    out = lsh_cosine_topk(queries, corpus, dim=dim)
    with pytest.raises(Exception, match=msg):
        out.collect()


def test_ivf_cosine_topk_recall(spark):
    import random as _rnd

    rnd = _rnd.Random(123)
    # 4 well-separated clusters in 8d, 50 points each
    centers = [[10 if j == c * 2 else 0 for j in range(8)] for c in range(4)]
    rows = []
    i = 0
    for c in range(4):
        for _ in range(50):
            rows.append((i, [centers[c][j] + rnd.gauss(0, 1) for j in range(8)]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from datafusion_bio_functions_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    q = df.filter(F.col("vec_id") % 25 == 0)  # 8 queries across clusters
    exact = {
        (r.query_id, r.rank): r.neighbor_id for r in cosine_topk(q, df, k=5).collect()
    }
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_cosine_topk(q, df, k=5, n_centroids=4, nprobe=2, dim=8).collect()
    }
    hits = sum(1 for key, nid in exact.items() if approx.get(key) == nid)
    recall = hits / len(exact)
    assert recall >= 0.9, f"IVF recall {recall} too low"
    # determinism: same seed → identical result set
    again = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_cosine_topk(q, df, k=5, n_centroids=4, nprobe=2, dim=8).collect()
    }
    assert approx == again


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (diameter forces several propagation rounds) + island
    # {10, 11} + self-contained pair {20, 21}
    from datafusion_bio_functions_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11), (21, 20)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_non_convergence_raises(spark):
    import pytest

    from datafusion_bio_functions_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    # algorithm pinned: under 'auto' a guard-bounded edge set now resolves
    # through the driver union-find fast path without iterating
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, algorithm="label")


def test_connected_components_driver_fast_path_equals_label(spark):
    from datafusion_bio_functions_spark.operators.dedup import (
        _CC_DRIVER_MAX_EDGES,
        connected_components,
    )

    # chain + clique + self-pair + duplicate edges + isolated pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (5, 6), (6, 7), (9, 9), (2, 1), (10, 11)],
        "id_a long, id_b long",
    )
    assert pairs.count() <= _CC_DRIVER_MAX_EDGES  # auto takes the driver path
    fast = {(r.id, r.component) for r in connected_components(pairs).collect()}
    slow = {
        (r.id, r.component)
        for r in connected_components(pairs, algorithm="label").collect()
    }
    assert fast == slow
    assert fast == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (10, 10), (11, 10)}


def test_dedup_clusters_assignment(spark):
    from datafusion_bio_functions_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (9, "solo")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert [rows[i].component for i in (1, 2, 3, 9)] == [1, 1, 1, 9]
    assert [rows[i].is_canonical for i in (1, 2, 3, 9)] == [True, False, False, True]


def test_pack_documents_next_fit(spark):
    from datafusion_bio_functions_spark.operators.packing import pack_documents

    docs = spark.createDataFrame(
        # one shard (n_shards=1): token counts 4,3,5,10,2 with budget 8 →
        # packs [4,3],[5],[10],[2] (oversized doc gets its own pack)
        [(1, "a b c d"), (2, "a b c"), (3, "a b c d e"),
         (4, " ".join("x" * 1 for _ in range(10))), (5, "a b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_documents(docs, budget=8, n_shards=1).collect()}
    assert [out[i].pack_id for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 2, 3]
    assert out[4].n_tokens == 10
    # sharding: same docs, 2 shards → independent pack streams per shard
    out2 = pack_documents(docs, budget=8, n_shards=2).collect()
    assert {(r.doc_id, r.shard) for r in out2} == {
        (1, 1), (2, 0), (3, 1), (4, 0), (5, 1)
    }
    import pytest as _pt

    with _pt.raises(ValueError, match="budget"):
        pack_documents(docs, budget=0)


def test_hash_sample_deterministic_and_bounded(spark):
    from datafusion_bio_functions_spark.operators.sampling import hash_sample

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in hash_sample(docs, 0.3, seed=1).collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.3, seed=1).collect()}
    assert a == b  # fully deterministic
    assert 0.25 < len(a) / 2000 < 0.35
    # monotone: a higher fraction with the same seed is a superset
    c = {r.doc_id for r in hash_sample(docs, 0.6, seed=1).collect()}
    assert a <= c
    import pytest as _pt

    with _pt.raises(ValueError, match="fraction"):
        hash_sample(docs, 1.5)


def test_mix_domains_rates(spark):
    from pyspark.sql import functions as F

    from datafusion_bio_functions_spark.operators.sampling import mix_domains

    docs = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("domain", F.concat(F.lit("d"), (F.col("doc_id") % 3).cast("string")))
    )
    out = mix_domains(docs, {"d0": 1.0, "d1": 0.2}, seed=5, default=0.0)
    counts = {r.domain: r.cnt for r in out.groupBy("domain").agg(F.count("*").alias("cnt")).collect()}
    assert counts["d0"] == 1000          # weight 1.0 keeps everything
    assert 120 < counts.get("d1", 0) < 280
    assert "d2" not in counts            # default 0.0 drops the rest


def test_decontaminate_flags_shared_ngrams(spark):
    from datafusion_bio_functions_spark.operators.decontam import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
            (3, "prefix then quick brown fox jumps over suffix"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("benchmark says quick brown fox jumps over stuff",)], "text string"
    )
    out = {r.doc_id: r.is_contaminated for r in decontaminate(docs, bench, n=5).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False}
    clean = decontaminate(docs, bench, n=5, output="clean")
    assert {r.doc_id for r in clean.collect()} == {2, 4}
    assert "is_contaminated" not in clean.columns


def test_scrub_pii(spark):
    from datafusion_bio_functions_spark.functions.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at john.doe+x@sub.example.org please"),
            (2, "server at 192.168.1.254 and 8.8.8.8"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here 4.2 and v1.2.3.4notip5"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.c for r in docs.select("doc_id", scrub_pii("text").alias("c")).collect()}
    assert got[1] == "mail me at <EMAIL> please"
    assert got[2] == "server at <IP> and <IP>"
    assert got[3] == "call <PHONE> now"
    assert "4.2" in got[4]  # short version-like strings untouched


def test_minhash_components_fused_matches_composition(spark):
    """output='components' (CC on representative-level edges + one
    member_map join) must equal the two-step composition
    connected_components(minhash_dedup(output='pairs')) — including the
    exact-duplicate groups that only connect through J=1 within pairs."""
    from pyspark.sql import functions as F

    from datafusion_bio_functions_spark.operators.dedup import (
        connected_components,
        minhash_dedup,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs far away",
        "a completely different document about training data pipelines",
        "yet another unrelated text with its own words and phrasing here",
    ]
    rows = []
    i = 0
    for b in base:
        for k in range(12):  # exact duplicates
            rows.append((i, b))
            i += 1
        rows.append((i, b + " extra tail"))  # near-dup of the group
        i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(threshold=0.5, num_perm=64, bands=8, collapse_exact=True)
    fused = {
        (r.id, r.component)
        for r in minhash_dedup(df, output="components", **kw).collect()
    }
    composed = {
        (r.id, r.component)
        for r in connected_components(minhash_dedup(df, output="pairs", **kw)).collect()
    }
    assert fused == composed and fused


def test_minhash_components_fused_is_linear_in_duplicated_members(spark):
    """One text duplicated 10k times: the fused path touches O(members)
    rows (the expanded-pairs composition would shuffle g²/2 ≈ 50M pairs).
    Assert the full component assignment without ever materializing the
    quadratic pair set — completing at all within the suite budget IS the
    scale claim, and the plan-level guarantee is pinned by equality above."""
    from pyspark.sql import functions as F

    from datafusion_bio_functions_spark.operators.dedup import minhash_dedup

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("viral boilerplate text repeated verbatim across the crawl").alias("text"),
    )
    out = minhash_dedup(
        df, threshold=0.9, num_perm=16, bands=4,
        output="components", collapse_exact=True,
    )
    rows = out.collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}


def test_pack_documents_stream_matches_batch_across_many_arrow_batches(spark):
    """stream_per_shard=True must equal the batch form even when one shard
    spans MANY Arrow batches (the exact ceiling the iterator lifts).
    maxRecordsPerBatch=64 forces ~8 batches per 500-row shard."""
    import random

    from pyspark.sql import functions as F

    from datafusion_bio_functions_spark.operators.packing import pack_documents

    rnd = random.Random(7)
    rows = [(i, " ".join("w" * 1 for _ in range(rnd.randint(1, 40)))) for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        batch = {
            r.doc_id: (r.shard, r.pack_id, r.n_tokens)
            for r in pack_documents(docs, budget=100, n_shards=2).collect()
        }
        stream = {
            r.doc_id: (r.shard, r.pack_id, r.n_tokens)
            for r in pack_documents(
                docs, budget=100, n_shards=2, stream_per_shard=True
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert stream == batch
    assert len(stream) == 1000


# ---------------------------------------------------------------------------
# semantic_dedup (SemDedup-style embedding-cluster dedup)
# ---------------------------------------------------------------------------


def _semdedup_corpus(spark):
    """Three near-dup groups + two singletons, in separable directions so a
    2-means split is stable under the deterministic sorted-sample trainer."""
    import math as _m

    def unit(x, y, z):
        n = _m.sqrt(x * x + y * y + z * z)
        return [x / n, y / n, z / n]

    rows = [
        (1, unit(1.0, 0.0, 0.0)),
        (2, unit(0.999, 0.02, 0.0)),    # dup of 1
        (3, unit(0.998, -0.02, 0.01)),  # dup of 1
        (10, unit(0.0, 1.0, 0.0)),
        (11, unit(0.01, 0.999, 0.0)),   # dup of 10
        (20, unit(0.0, 0.0, 1.0)),      # singleton
        (21, unit(1.0, 1.0, 1.0)),      # singleton
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_keep_exhaustive(spark):
    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    df = _semdedup_corpus(spark)
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95, n_clusters=1).select(
            "vec_id"
        ).collect()
    )
    # min id survives each component; singletons untouched
    assert kept == [1, 10, 20, 21]


def test_semantic_dedup_outputs_agree(spark):
    from datafusion_bio_functions_spark.operators.similarity import (
        cosine_near_dup_exact,
        semantic_dedup,
    )

    df = _semdedup_corpus(spark)
    pairs = sorted(
        (r.id_a, r.id_b)
        for r in semantic_dedup(df, threshold=0.95, n_clusters=1, output="pairs").collect()
    )
    exact = sorted(
        (r.id_a, r.id_b)
        for r in cosine_near_dup_exact(df, threshold=0.95).collect()
    )
    assert pairs == exact == [(1, 2), (1, 3), (2, 3), (10, 11)]
    comps = {
        r.id: r.component
        for r in semantic_dedup(df, threshold=0.95, n_clusters=1, output="components").collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_semantic_dedup_clustered_under_deletes_only(spark):
    """Production clustering may only UNDER-delete vs the exhaustive twin
    (within-cluster edges are a subset of all edges), and with separable
    groups it still finds every duplicate."""
    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    df = _semdedup_corpus(spark)
    exhaustive = set(
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95, n_clusters=1).select("vec_id").collect()
    )
    for n_clusters in (2, 3):
        kept = set(
            r.vec_id
            for r in semantic_dedup(
                df, threshold=0.95, n_clusters=n_clusters, dim=3
            ).select("vec_id").collect()
        )
        assert exhaustive <= kept, n_clusters
        # deterministic under the fixed seed: second run is identical
        again = set(
            r.vec_id
            for r in semantic_dedup(
                df, threshold=0.95, n_clusters=n_clusters, dim=3
            ).select("vec_id").collect()
        )
        assert kept == again, n_clusters


def test_semantic_dedup_keep_preserves_schema(spark):
    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    df = _semdedup_corpus(spark).withColumn("label", F.col("vec_id") % 3)
    out = semantic_dedup(df, threshold=0.95, n_clusters=1)
    assert out.columns == df.columns


def test_semantic_dedup_rejects_bad_output(spark):
    import pytest as _pytest

    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    with _pytest.raises(ValueError, match="output"):
        semantic_dedup(_semdedup_corpus(spark), output="nope")
    with _pytest.raises(ValueError, match="n_blocks"):
        semantic_dedup(_semdedup_corpus(spark), n_clusters=1, n_blocks=0)
    with _pytest.raises(ValueError, match="n_blocks"):
        semantic_dedup(_semdedup_corpus(spark), n_clusters=1, n_blocks="many")


def test_auto_n_blocks_bounds():
    """n_blocks='auto' keeps the AVERAGE block at or under the target even
    past the 4096-list cluster cap — the round-8 scale softness (fixed
    n_blocks=4 left per-task matrices unbounded at ~1e9 rows)."""
    from datafusion_bio_functions_spark.operators.similarity import (
        _BLOCK_TARGET_ROWS,
        _auto_n_blocks,
    )

    assert _auto_n_blocks(7, 1) == 1
    assert _auto_n_blocks(1000, 1) == 1
    assert _auto_n_blocks(100_000, 1) == math.ceil(100_000 / _BLOCK_TARGET_ROWS)
    # the regime the verdict flagged: 1e9 rows at the 4096-list cap →
    # ~244 K-row clusters must split into ≥ 30 blocks, not stay at 4
    n = _auto_n_blocks(10**9, 4096)
    assert n >= 30
    assert (10**9 / 4096) / n <= _BLOCK_TARGET_ROWS
    # degenerate guard
    assert _auto_n_blocks(0, 0) == 1


def test_gemm_slab_loop_exact(spark, monkeypatch):
    """Shrinking the GEMM slab to 2 rows per side forces many inner matmul
    chunks per block pair; pairs/values must be IDENTICAL to the unslabbed
    run and to the SQL formulation (the slab loop is a pure memory bound,
    never a plan or value change)."""
    from datafusion_bio_functions_spark.operators import similarity as sim

    df = _semdedup_corpus(spark)
    baseline = sorted(
        (r.id_a, r.id_b, r.cosine_sim)
        for r in cosine_near_dup_exact(df, threshold=0.95, method="sql").collect()
    )
    monkeypatch.setattr(sim, "_GEMM_SLAB", 2)
    slabbed = sorted(
        (r.id_a, r.id_b, r.cosine_sim)
        for r in cosine_near_dup_exact(
            df, threshold=0.95, method="arrow", n_blocks=1
        ).collect()
    )
    assert slabbed == baseline
    # and through semantic_dedup's scoped path (cluster-keyed groups)
    kept = sorted(
        r.vec_id
        for r in sim.semantic_dedup(df, threshold=0.95, n_clusters=1).select(
            "vec_id"
        ).collect()
    )
    assert kept == [1, 10, 20, 21]


def test_semantic_dedup_auto_blocks_matches_explicit(spark):
    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    df = _semdedup_corpus(spark)
    auto = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, threshold=0.95, n_clusters=1, n_blocks="auto"
        ).select("vec_id").collect()
    )
    explicit = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, threshold=0.95, n_clusters=1, n_blocks=4
        ).select("vec_id").collect()
    )
    assert auto == explicit == [1, 10, 20, 21]


def test_dedup_null_text_semantics(spark):
    """NULL texts dedup among THEMSELVES (missing ≡ missing, one group)
    but never against genuinely EMPTY documents — the Arrow shingle
    kernels coerce None to "", so without the sentinel every malformed
    row would near-dup-pair with every empty document."""
    from datafusion_bio_functions_spark.operators.dedup import (
        exact_dedup,
        minhash_dedup,
        ngram_jaccard_dedup,
        simhash_dedup,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, None), (4, None), (5, "real text here")],
        "doc_id long, text string",
    )
    # exact: empties collapse to 1, nulls collapse to 3 — separate groups
    assert sorted(r.doc_id for r in exact_dedup(docs).collect()) == [1, 3, 5]
    # near-dup generators: empty-vs-empty and null-vs-null, NEVER across
    for fn in (
        lambda: minhash_dedup(docs, threshold=0.9),
        lambda: simhash_dedup(docs, max_hamming=3),
        lambda: ngram_jaccard_dedup(docs, n=3, threshold=0.8),
    ):
        pairs = sorted((r.id_a, r.id_b) for r in fn().collect())
        assert pairs == [(1, 2), (3, 4)], pairs
    kept = sorted(
        r.doc_id for r in minhash_dedup(docs, threshold=0.9, output="kept").collect()
    )
    assert kept == [1, 3, 5]
    comps = minhash_dedup(docs, threshold=0.9, output="components").collect()
    assert sorted((r.id, r.component) for r in comps) == [(1, 1), (2, 1), (3, 3), (4, 3)]


def test_similarity_null_and_zero_vectors(spark):
    """NULL embeddings take no part in any similarity scoring (the numpy
    kernels would crash on a ragged batch); all-zero vectors yield NaN
    cosines which the threshold/rank paths drop silently.  output='keep'
    retains null-vector rows untouched."""
    import warnings

    from datafusion_bio_functions_spark.operators.similarity import (
        cosine_near_dup_exact,
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
        semantic_dedup,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, None), (4, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # zero-vector 0/0 RuntimeWarnings
        for method in ("arrow", "sql"):
            pairs = sorted(
                (r.id_a, r.id_b)
                for r in cosine_near_dup_exact(emb, threshold=0.9, method=method).collect()
            )
            assert pairs == [(1, 2)], (method, pairs)
        topk = cosine_topk(emb, emb, k=1).collect()
        assert all(r.query_id != 3 and r.neighbor_id != 3 for r in topk)
        lsh = lsh_cosine_topk(emb, emb, k=1, dim=2, n_planes=2, n_tables=2).collect()
        assert all(r.query_id != 3 and r.neighbor_id != 3 for r in lsh)
        ivf = ivf_cosine_topk(emb, emb, k=1, n_centroids=2, nprobe=2, dim=2).collect()
        assert all(r.query_id != 3 and r.neighbor_id != 3 for r in ivf)
        kept = sorted(
            r.vec_id for r in semantic_dedup(emb, threshold=0.9, n_clusters=1).collect()
        )
        assert kept == [1, 3, 4]


def test_semantic_dedup_auto_clusters(spark):
    """n_clusters='auto' sizes the quantizer to the corpus (~1024 rows per
    cluster, min 1): a tiny corpus degenerates to the exhaustive twin."""
    import pytest as _pytest

    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    df = _semdedup_corpus(spark)
    auto = sorted(r.vec_id for r in semantic_dedup(df, threshold=0.95).collect())
    exhaustive = sorted(
        r.vec_id for r in semantic_dedup(df, threshold=0.95, n_clusters=1).collect()
    )
    assert auto == exhaustive == [1, 10, 20, 21]
    with _pytest.raises(ValueError, match="n_clusters"):
        semantic_dedup(df, n_clusters="nope")


def test_normalize_text(spark):
    """C4/CCNet-style normalization: NFC composition (e + combining acute
    -> é), C0/C1/DEL control strip keeping tab/newline, NULL passthrough,
    optional whitespace collapse."""
    from datafusion_bio_functions_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "café \x07bell"),
            (2, "tabs\tand\nnewlines"),
            (3, None),
            (4, "a  lot   of space"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", normalize_text("text").alias("n")).collect()}
    assert got[1] == "café bell"          # composed + bell stripped
    assert got[2] == "tabs\tand\nnewlines"     # tab/newline kept
    assert got[3] is None
    coll = {r.doc_id: r.n for r in df.select(
        "doc_id", normalize_text("text", collapse_whitespace=True).alias("n")
    ).collect()}
    assert coll[4] == "a lot of space"
    assert coll[2] == "tabs and newlines"
    # the NFC kernel is null-safe for EVERY pandas null sentinel (round 9,
    # ADVICE): a float NaN in an object batch must pass through as null,
    # not reach unicodedata.normalize and raise TypeError — and the UDF is
    # registered once at module level, not per call
    import pandas as _pd

    from datafusion_bio_functions_spark.functions import text as _text

    out = _text._nfc_batch(_pd.Series(["cafe\u0301", None, float("nan")]))
    assert out.iloc[0] == "caf\u00e9"
    assert out.iloc[1] is None and _pd.isna(out.iloc[2])
    assert _text._nfc_udf() is _text._nfc_udf()


def test_semantic_dedup_duplicate_clique_collapse(spark):
    """Round-10 sf100 ladder finding: bit-identical vectors form O(k²)
    cliques that exhausted executor memory before the exact-duplicate
    collapse.  The collapsed path must return EXACTLY the exhaustive
    survivors: one minimum id per duplicate clique, cliques merged with
    any near-dup components their representative joins, zero-norm vectors
    (NaN cosine) all surviving."""
    from pyspark.sql import Row

    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    base = [float(i) for i in range(1, 9)]
    near = [float(i) + (0.001 if i == 1 else 0.0) for i in range(1, 9)]
    far = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    zero = [0.0] * 8
    rows = [
        Row(vec_id=1, embedding=base),    # clique A rep
        Row(vec_id=2, embedding=base),    # clique A copy
        Row(vec_id=3, embedding=base),    # clique A copy
        Row(vec_id=4, embedding=near),    # near-dup of clique A (cos ~1)
        Row(vec_id=5, embedding=far),     # unrelated
        Row(vec_id=6, embedding=far),     # clique B copy (duplicate of 5)
        Row(vec_id=7, embedding=zero),    # zero-norm: never pairs
        Row(vec_id=8, embedding=zero),    # zero-norm: never pairs
    ]
    df = spark.createDataFrame(rows)
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, threshold=0.99, n_clusters=1, dim=8, output="keep"
        ).collect()
    )
    # component {1,2,3,4} -> min id 1; clique {5,6} -> 5; zeros survive
    assert kept == [1, 5, 7, 8]
    comps = {
        (r.id, r.component)
        for r in semantic_dedup(
            df, threshold=0.99, n_clusters=1, dim=8, output="components"
        ).collect()
    }
    assert comps == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}


def test_local_frame_exact_long_with_nulls(spark):
    """local_frame must keep int64 values above 2^53 exact when the column
    also carries None (the pandas route promoted such columns to float64
    and silently lost precision — r11 ADVICE); None must land as NULL."""
    from pyspark.sql import types as T

    from datafusion_bio_functions_spark.session import local_frame

    big = (1 << 60) + 12345  # not representable in float64
    rows = [("a", big, None), ("b", None, 7), (None, big + 1, 8)]
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
            T.StructField("w", T.LongType(), True),
        ]
    )
    key = lambda t: tuple((x is not None, x) for x in t)  # noqa: E731
    got = sorted(
        (tuple(r) for r in local_frame(spark, rows, schema).collect()), key=key
    )
    assert got == sorted(rows, key=key)


def test_local_frame_generator_input(spark):
    """A generator is a valid ``rows`` argument: the frame holds every row,
    on the exact (null plus >2^53) route as well as the pandas route."""
    from datafusion_bio_functions_spark.session import local_frame

    small = [("a", 1), ("b", None)]
    big = [("a", (1 << 60) + 1), ("b", None)]
    for rows in (small, big):
        got = local_frame(spark, (r for r in rows), "k string, v long").collect()
        assert sorted(map(tuple, got)) == sorted(rows)


def test_clear_probe_caches_empties_every_memo():
    """Every module-level ``_*_MEMO`` dict in the package is a
    ``ProbeMemo``, the set of them IS the ``ProbeMemo`` registry, and
    ``clear_probe_caches()`` empties each — a memo added later cannot be
    missed."""
    import importlib
    import pkgutil
    import re

    import datafusion_bio_functions_spark as pkg
    from datafusion_bio_functions_spark import clear_probe_caches
    from datafusion_bio_functions_spark.operators import _probe_memo

    memos = {}
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        for name, val in vars(mod).items():
            if re.fullmatch(r"_[A-Z0-9_]+_MEMO", name) and isinstance(val, dict):
                memos[id(val)] = (f"{info.name}.{name}", val)
    assert [n for n, m in memos.values() if not isinstance(m, _probe_memo.ProbeMemo)] == []
    assert set(memos) == set(_probe_memo._REGISTRY)
    for _, memo in memos.values():
        memo[("sentinel",)] = None
    clear_probe_caches()
    assert [name for name, memo in memos.values() if memo] == []


def test_py4j_reflection_cache_installed():
    """The validated py4j version family must have the reflection cache
    installed (the r12 version guard skips silently on anything else —
    assert we are not losing the optimization unnoticed)."""
    import py4j
    from py4j import java_gateway as jg

    assert str(py4j.__version__).startswith("0.10.")
    assert getattr(jg, "_bio_reflection_cache_installed", False)
