"""Physical-plan shape assertions (mirror of the reference's explain-plan
tests, ``integration_test.rs:3957``): the interval operators must plan as
equi-keyed joins — never cartesian/nested-loop — with column pruning into
the parquet scans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datafusion_bio_functions_spark as bio
from tests.conftest import spark_jobs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pq(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("plans")
    df = spark.createDataFrame(
        [("chr1", i * 10, i * 10 + 15, i) for i in range(1000)],
        "contig string, pos_start long, pos_end long, payload long",
    )
    df.write.parquet(str(base / "l"))
    df.write.parquet(str(base / "r"))
    return (
        spark.read.parquet(str(base / "l")),
        spark.read.parquet(str(base / "r")),
    )


def test_binned_overlap_is_equi_join(pq):
    l, r = pq
    plan = _plan(bio.overlap(l, r, algorithm="binned"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the binned strategy joins on (contig, bin): hash-based equi join
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_column_pruning_reaches_scan(pq):
    l, r = pq
    for out in (
        bio.overlap(l, r).select("left_contig", "right_pos_start"),
        bio.count_overlaps(l, r).select("contig", "count"),
        bio.coverage(l, r).select("contig", "coverage"),
        bio.subtract(l, r).select("contig", "pos_start", "pos_end"),
    ):
        plan = _plan(out)
        # payload is never read from parquet: every ReadSchema omits it
        for chunk in plan.split("ReadSchema: ")[1:]:
            assert "payload" not in chunk.split("\n")[0], plan


def test_merge_has_no_cartesian_or_smj(pq):
    l, _ = pq
    # default is now the chunked two-phase sweep: its only join is the
    # BROADCAST join against the #buckets summary — never a sort-merge of
    # data-scale rows, never a cartesian
    plan = _plan(bio.merge(l))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # islands = running max + sum windows (per contig-bucket in phase 1)
    assert "Window" in plan
    # the opt-in window path stays join-free
    wplan = _plan(bio.merge(l, algorithm="window"))
    assert "Join" not in wplan and "Window" in wplan


def test_count_overlaps_no_nested_loop(pq):
    l, r = pq
    plan = _plan(bio.count_overlaps(l, r))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_active(spark, pq):
    # AQE wraps the plan pre-execution, hiding codegen subtrees from the
    # explain — disable it for the one plan build so spans are visible
    l, _ = pq
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = bio.merge(l)
        s = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen" in s and "Found 0 WholeStageCodegen" not in s


def test_session_algorithm_override(spark, pq):
    from datafusion_bio_functions_spark.session import INTERVAL_JOIN_ALGORITHM_KEY

    l, r = pq
    spark.conf.set(INTERVAL_JOIN_ALGORITHM_KEY, "sql")
    try:
        plan = _plan(bio.overlap(l, r))  # algorithm left at 'auto'
        assert "__lbin" not in plan  # binning disabled by session override
        spark.conf.set(INTERVAL_JOIN_ALGORITHM_KEY, "banana")
        with pytest.raises(ValueError):
            bio.overlap(l, r)
    finally:
        spark.conf.set(INTERVAL_JOIN_ALGORITHM_KEY, "auto")
    # override off again → auto answers from the CollectLeft index, and
    # the binned path is there when asked for
    assert "ArrowEvalPython" in _plan(bio.overlap(l, r))
    binned = bio.overlap(l, r, algorithm="binned")
    assert "__lbin" in str(binned._jdf.queryExecution().analyzed().toString())


def test_cluster_chunked_no_cartesian(pq):
    l, _ = pq
    plan = _plan(bio.cluster(l, algorithm="chunked", chunk_width=1000))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # point-assignment runs through the binned equi join
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_nearest_radius_no_cartesian(pq, monkeypatch):
    from datafusion_bio_functions_spark.operators import intervals as iv

    l, r = pq
    monkeypatch.setattr(iv, "_auto_chunk_width", lambda *a: 500)  # 20 chunks
    plan = _plan(bio.nearest(l, r, algorithm="radius"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the (contig, chunk) cells are one cogrouped Arrow exchange
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert "FlatMapCoGroupsInPandas" not in plan


def test_overlap_default_collect_left_has_no_exchange(pq):
    # inner overlap with a side under the broadcast bounds: one Arrow UDF
    # over the probe side's coordinates against the broadcast index
    l, r = pq
    plan = _plan(bio.overlap(l, r))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "Join" not in plan


def test_nearest_default_collect_left_has_no_exchange(pq):
    # any k on a left side under the broadcast bounds: one Arrow map over
    # the probes against the broadcast index, no shuffle at all
    l, r = pq
    for k in (1, 3):
        plan = _plan(bio.nearest(l, r, k=k))
        assert "Exchange" not in plan, k
        assert plan.count("MapInArrow") == 1, k


def test_depth_chunked_no_join(spark):
    aln = spark.createDataFrame(
        [("chr1", 100 + i, 0, "50M", 60) for i in range(500)],
        "chrom string, start long, flags int, cigar string, mapping_quality int",
    )
    from datafusion_bio_functions_spark.operators.pileup import depth

    plan = _plan(depth(aln, algorithm="chunked", chunk_width=1000))
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian(spark, tmp_path_factory):
    """semantic_dedup's pair stage is a grouped GEMM over (cluster,
    block-pair) keys — never a cartesian/nested-loop join — and the
    embedding scan prunes to (id, vector)."""
    from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

    base = tmp_path_factory.mktemp("semded")
    spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0], i % 3) for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(base / "emb"))
    emb = spark.read.parquet(str(base / "emb"))
    pairs = semantic_dedup(emb, threshold=0.99, n_clusters=4, dim=3, output="pairs")
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the grouped GEMM stage
    # column pruning: the label column never leaves the scan
    assert "label" not in plan.split("FileScan")[-1].split("ReadSchema:")[-1]


def test_line_dedup_single_generate(spark):
    """line_dedup scans the exploded lines frame ONCE: exactly one Generate
    (posexplode) in the executed plan — round 8 filtered the exploded frame
    twice, running the explode+split over the corpus twice."""
    from datafusion_bio_functions_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, "a b c\nd e f\na b c") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(line_dedup(docs))
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan


def test_annotate_vep_plans_one_lookup_and_one_rollup(spark, tmp_path_factory):
    """The codon annotate_vep over a VCF text file, a variation cache,
    transcripts and exons (the inputs of the benchmark's vep step) reads
    the VCF twice (the lookup probe and the classify pairing) and the cache
    once, runs four Arrow UDF nodes (normalized coordinates, allele match,
    minimized alt, classify) and keys every per-variant shuffle and join on
    the row id, never on the VCF columns."""
    import re

    from datafusion_bio_functions_spark.operators.vep import annotate_vep
    from datafusion_bio_functions_spark.sources.readers import read_vcf

    base = tmp_path_factory.mktemp("vep_plan")
    (base / "calls.vcf").write_text(
        "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        + "".join(
            f"1\t{100 + 37 * i}\t.\t{'AC'[i % 2]}\t{'GTA'[i % 3]}\t50\tPASS\t.\n"
            for i in range(60)
        )
    )
    spark.createDataFrame(
        [("1", 100 + 74 * i, 100 + 74 * i, f"rs{i}", "A/G", None) for i in range(30)],
        "chrom string, start long, end long, variation_name string, "
        "allele_string string, clin_sig string",
    ).write.parquet(str(base / "cache"))
    spark.createDataFrame(
        [(f"T{i}", "1", 200 * i, 200 * i + 150, 1 - 2 * (i % 2), "protein_coding",
          f"G{i}", f"S{i}") for i in range(15)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string",
    ).write.parquet(str(base / "tx"))
    spark.createDataFrame(
        [(f"T{i}", 200 * i, 200 * i + 150) for i in range(15)],
        "transcript_id string, start long, end long",
    ).write.parquet(str(base / "exons"))

    out = annotate_vep(
        read_vcf(spark, str(base / "calls.vcf")),
        spark.read.parquet(str(base / "cache")),
        transcripts=spark.read.parquet(str(base / "tx")),
        exons=spark.read.parquet(str(base / "exons")),
    )
    plan = _plan(out)
    assert plan.count("FileScan text") <= 2, plan
    cache_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "variation_name" in ln
    ]
    assert len(cache_scans) == 1, plan
    assert plan.count("ArrowEvalPython") <= 4, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    # the classify input keeps its explicit spread over the shuffle
    # parallelism, on the row id
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert re.search(
        rf"Exchange hashpartitioning\(__vid#\d+L, {n}\), REPARTITION_BY_NUM", plan
    ), plan
    # no shuffle or join keyed on the passthrough VCF columns
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln or re.search(r"Join \[", ln):
            keys = ln.split("Exchange hashpartitioning")[-1].split("Join ")[-1]
            keys = keys.split("]")[0] if "Join " in ln else keys.split(")")[0]
            assert not re.search(r"\b(qual|info|filter|id)#", keys), ln


@pytest.fixture(scope="module")
def vectors(spark, tmp_path_factory):
    """A one-file parquet corpus of 300 8-d vectors and its first 40 rows
    as the query frame (under the broadcast bounds: the size is known)."""
    import random

    rnd = random.Random(3)
    path = str(tmp_path_factory.mktemp("lsh") / "v")
    spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(path)
    corpus = spark.read.parquet(path)
    return corpus.filter(F.col("vec_id") < 40), corpus


def test_lsh_broadcast_plan_streams_the_corpus(vectors, monkeypatch):
    """Under the broadcast bounds lsh_cosine_topk is one Arrow map of the
    corpus against the broadcast query index: no cogroup, no per-table
    replication of the corpus, one shuffle (query_id) for the merge and
    the window.  An over-guard query frame keeps the (table, bucket)
    cogroup."""
    from datafusion_bio_functions_spark.operators import intervals
    from datafusion_bio_functions_spark.operators.similarity import lsh_cosine_topk

    q, corpus = vectors
    bio.clear_probe_caches()
    plan = _plan(lsh_cosine_topk(q, corpus, k=5, dim=8))
    assert "FlatMapCoGroupsInArrow" not in plan, plan
    assert plan.count("MapInArrow") == 1 and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "posexplode" not in plan and "Generate" not in plan, plan

    monkeypatch.setattr(intervals, "BROADCAST_GUARD_ROWS", 10)
    over = _plan(lsh_cosine_topk(q, corpus, k=5, dim=8))
    assert over.count("FlatMapCoGroupsInArrow") == 1, over
    assert over.count("ArrowEvalPython") == 2 and "posexplode" in over, over


def test_lsh_query_index_is_one_job_then_memoized(spark, vectors):
    """The first build on a one-file query frame runs one job (the
    bounded collect decides and collects at once); a second build runs
    none, and clear_probe_caches() empties the index memo."""
    from datafusion_bio_functions_spark.operators import similarity
    from datafusion_bio_functions_spark.operators.similarity import lsh_cosine_topk

    q, corpus = vectors
    bio.clear_probe_caches()
    assert len(spark_jobs(spark, "lsh1", lambda: lsh_cosine_topk(q, corpus, dim=8))) == 1
    assert len(spark_jobs(spark, "lsh2", lambda: lsh_cosine_topk(q, corpus, dim=8))) == 0
    assert len(similarity._LSH_INDEX_MEMO) == 1
    bio.clear_probe_caches()
    assert len(similarity._LSH_INDEX_MEMO) == 0
