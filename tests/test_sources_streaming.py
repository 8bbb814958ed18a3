"""Sources (S2 VCF read/write, S4 partitioned cache, S6 sorted cache
builder), the V10 miss worklist, and the Structured Streaming extensions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datafusion_bio_functions_spark.operators.vep import lookup_variants, miss_worklist
from datafusion_bio_functions_spark.sources.readers import (
    build_sorted_cache,
    read_vcf,
    write_partitioned_cache,
    write_vcf,
)
from datafusion_bio_functions_spark.streaming.depth_stream import (
    streaming_depth_events,
    streaming_event_counts,
)

VCF_BODY = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
1\t100\trs1\tA\tT\t50\tPASS\tDP=10
1\t200\t.\tAC\tA\t.\t.\t.
2\t300\trs3\tG\tGTT\t99\tPASS\tAF=0.5
"""


def test_vcf_roundtrip(spark, tmp_path):
    src = tmp_path / "in.vcf"
    src.write_text(VCF_BODY)
    df = read_vcf(spark, str(src))
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["rs1"].chrom == "1" and rows["rs1"].start == 100 and rows["rs1"].end == 100
    # deletion AC>A spans two reference bases
    assert rows["."].end == 201
    out = tmp_path / "out_vcf"
    write_vcf(df, str(out), info_col="info")
    back = read_vcf(spark, str(out))
    a = sorted(df.select("chrom", "start", "ref", "alt", "info").collect())
    b = sorted(back.select("chrom", "start", "ref", "alt", "info").collect())
    assert a == b


def test_partitioned_cache_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(c, i, i, f"rs{c}{i}") for c in ("1", "2", "3") for i in range(100)],
        "chrom string, start long, end long, variation_name string",
    )
    path = str(tmp_path / "cache")
    write_partitioned_cache(df, path)
    assert {"chrom=1", "chrom=2", "chrom=3"} <= set(os.listdir(path))
    back = spark.read.parquet(path).filter(F.col("chrom") == "2")
    assert back.count() == 100
    # partition pruning: the chrom predicate lands in PartitionFilters of the
    # parquet scan, not in a post-scan Filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "chrom" in pf and "2" in pf


def test_build_sorted_cache_skipping(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", (i * 7919) % 100000, f"v{i}") for i in range(5000)],
        "chrom string, start long, name string",
    )
    path = str(tmp_path / "sorted")
    build_sorted_cache(df, path, partitions=4)
    back = spark.read.parquet(path)
    assert back.count() == 5000
    got = back.filter((F.col("start") >= 500) & (F.col("start") < 600)).count()
    want = df.filter((F.col("start") >= 500) & (F.col("start") < 600)).count()
    assert got == want


def test_miss_worklist(spark):
    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T"), ("1", 500_000, 500_000, "G", "C"),
         ("1", 5_000_000, 5_000_000, "T", "A"), ("2", 42, 42, "C", "G")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    looked = lookup_variants(vcf, cache)
    wl = {(r.chrom, r.start, r.end): r.n_variants for r in miss_worklist(looked).collect()}
    # chr1 misses at 500k and 5M: gap 4.5M > 1Mb → two intervals; chr2 one
    assert wl == {
        ("1", 500_000, 500_000): 1,
        ("1", 5_000_000, 5_000_000): 1,
        ("2", 42, 42): 1,
    }
    # below-gap misses coalesce into one interval
    vcf2 = spark.createDataFrame(
        [("1", 1000, 1000, "A", "T"), ("1", 900_000, 900_000, "G", "C")],
        "chrom string, start long, end long, ref string, alt string",
    )
    wl2 = miss_worklist(lookup_variants(vcf2, cache)).collect()
    assert len(wl2) == 1 and wl2[0].start == 1000 and wl2[0].end == 900_000
    assert wl2[0].n_variants == 2


def _drain(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "depth_ev" else "complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_depth_events(spark, tmp_path):
    aln = spark.createDataFrame(
        [("chr1", 100, 0, "10M", 60), ("chr1", 105, 0, "5M2D3M", 60)],
        "chrom string, start long, flags int, cigar string, mapping_quality int",
    )
    src = str(tmp_path / "aln")
    aln.write.parquet(src)
    stream = spark.readStream.schema(aln.schema).parquet(src)
    _drain(streaming_depth_events(stream), tmp_path, "depth_ev")
    got: dict[tuple[str, int], int] = {}
    for r in spark.sql("SELECT * FROM depth_ev").collect():
        got[(r.contig, r.pos)] = got.get((r.contig, r.pos), 0) + r.delta
    # read1: +1@100 −1@110 ; read2: 5M@105-109 (+1@105,−1@110), 2D skips
    # 110-111, 3M@112-114 (+1@112,−1@115)
    assert got[("chr1", 100)] == 1 and got[("chr1", 105)] == 1
    assert got[("chr1", 110)] == -2
    assert got[("chr1", 112)] == 1 and got[("chr1", 115)] == -1
    assert sum(got.values()) == 0  # events balance


def test_streaming_event_counts(spark, tmp_path):
    ev = spark.createDataFrame(
        [("2026-01-01 10:05:00", "click", 1.0), ("2026-01-01 10:55:00", "click", 2.0),
         ("2026-01-01 11:05:00", "view", 5.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "events")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    _drain(streaming_event_counts(stream), tmp_path, "ev_counts")
    rows = {
        (str(r.window_start), r.event_type): (r.n, r.value_sum)
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    assert rows[("2026-01-01 10:00:00", "click")] == (2, 3.0)
    assert rows[("2026-01-01 11:00:00", "view")] == (1, 5.0)


def test_sessionize_batch(spark):
    from datafusion_bio_functions_spark.operators.sessions import sessionize

    ev = spark.createDataFrame(
        [
            (1, "2026-01-01 10:00:00", 1.0),
            (1, "2026-01-01 10:10:00", 2.0),   # same session (gap 600s)
            (1, "2026-01-01 11:30:00", 3.0),   # new session (gap 4800s)
            (2, "2026-01-01 10:00:00", 4.0),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(ev, gap_seconds=1800)
    rows = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.value_sum)
        for r in out.collect()
    )
    assert rows == [
        (1, "2026-01-01 10:00:00", "2026-01-01 10:10:00", 2, 3.0),
        (1, "2026-01-01 11:30:00", "2026-01-01 11:30:00", 1, 3.0),
        (2, "2026-01-01 10:00:00", "2026-01-01 10:00:00", 1, 4.0),
    ]


def test_streaming_sessionize(spark, tmp_path):
    from datafusion_bio_functions_spark.operators.sessions import streaming_sessionize

    ev = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", 1.0), (1, "2026-01-01 10:10:00", 2.0),
         (1, "2026-01-01 11:30:00", 3.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sev")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n_events, r.value_sum)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    # session_window closes gap after the LAST event
    assert rows[(1, "2026-01-01 10:00:00")] == ("2026-01-01 10:40:00", 2, 3.0)
    assert rows[(1, "2026-01-01 11:30:00")] == ("2026-01-01 12:00:00", 1, 3.0)


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    from datafusion_bio_functions_spark.operators.intervals import interval_join
    from datafusion_bio_functions_spark.sources.readers import write_bucketed_table

    df = spark.createDataFrame(
        [(f"chr{i % 4 + 1}", i * 10, i * 10 + 15) for i in range(2000)],
        "contig string, pos_start long, pos_end long",
    )
    write_bucketed_table(df, "b_reads", n_buckets=8, path=str(tmp_path / "br"))
    write_bucketed_table(df, "b_targets", n_buckets=8, path=str(tmp_path / "bt"))
    l, r = spark.table("b_reads"), spark.table("b_targets")
    joined = interval_join(l, r, algorithm="sql")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # both sides bucketed on contig with equal bucket counts: the
    # contig-keyed join needs NO Exchange
    assert "Exchange hashpartitioning(left_contig" not in plan
    assert "Exchange hashpartitioning(right_contig" not in plan
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS b_reads")
    spark.sql("DROP TABLE IF EXISTS b_targets")


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates are suppressed
    WITHIN a micro-batch and ACROSS micro-batches (state persists)."""
    from datafusion_bio_functions_spark.streaming.depth_stream import streaming_dedup

    schema = "doc_id long, fingerprint string"
    b1 = spark.createDataFrame([(1, "fA"), (2, "fB"), (3, "fA")], schema)
    b2 = spark.createDataFrame([(4, "fB"), (5, "fC"), (6, "fC")], schema)
    src = str(tmp_path / "docs")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    q = (
        streaming_dedup(stream, shards=4)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    fps = sorted(r.fingerprint for r in rows)
    assert fps == ["fA", "fB", "fC"]  # one survivor per fingerprint
    assert "__shard" not in spark.sql("SELECT * FROM dedup_out").columns

    with pytest.raises(ValueError, match="shards"):
        streaming_dedup(b1, shards=0)
    with pytest.raises(ValueError, match="not found"):
        streaming_dedup(b1, fingerprint_col="nope")


def test_annotate_to_vcf_roundtrip(spark, tmp_path):
    """annotate_to_vcf (vcf_sink.rs:1-60): annotate → CSQ in INFO → VCF text,
    progress callback fired, round-trips through read_vcf."""
    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf, read_vcf

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T"), ("1", 200, 200, "G", "C")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    calls = []
    out = str(tmp_path / "out_vcf")
    n = annotate_to_vcf(vcf, cache, out, progress=lambda d, t: calls.append((d, t)))
    assert n == 2
    assert calls == [(0, 2), (2, 2)]
    back = read_vcf(spark, out)
    rows = {r.start: r for r in back.collect()}
    assert set(rows) == {100, 200}
    assert rows[100].info.startswith("CSQ=") and "rs1" in rows[100].info
    # cache misses still carry a CSQ entry (allele + empty annotation fields)
    assert rows[200].info.startswith("CSQ=")
    # the sink ships the CSQ INFO header with the Format field list
    # (vcf_sink.rs:358-372) in a file sorted-concat readers pick up first
    import os
    hdr = open(os.path.join(out, "00_header.vcf")).read()
    # positional-engine sink (no transcripts): the header's Format list
    # follows the short phase-A entry layout, not the codon 74-field one
    assert "##INFO=<ID=CSQ" in hdr
    assert "Format: Allele|Consequence|Existing_variation|SYMBOL|Gene" in hdr


def test_read_bed(spark, tmp_path):
    from datafusion_bio_functions_spark.sources.readers import read_bed

    body = ("browser position chr1\ntrack name=test\n"
            "chr1\t0\t100\tfeatA\t960\t+\n"
            "chr1\t150\t200\n"
            "# comment\n"
            "chr2\t10\t20\tfeatB\t0\t-\n")
    p = tmp_path / "t.bed"
    p.write_text(body)
    out = read_bed(spark, str(p))
    rows = sorted((r.contig, r.pos_start, r.pos_end, r.name) for r in out.collect())
    # BED 0-based half-open → engine 1-based closed: start+1, end kept
    assert rows == [("chr1", 1, 100, "featA"), ("chr1", 151, 200, None),
                    ("chr2", 11, 20, "featB")]
    raw = read_bed(spark, str(p), one_based=False)
    assert sorted(r.pos_start for r in raw.collect()) == [0, 10, 150]


def test_read_gtf_context(spark, tmp_path):
    """GTF → transcripts/exons contracts feed annotate_vep directly."""
    from datafusion_bio_functions_spark.operators.vep import annotate_vep
    from datafusion_bio_functions_spark.sources.readers import (
        gtf_exons,
        gtf_transcripts,
        read_gtf,
    )

    body = (
        '#!genebuild 2024\n'
        '1\thavana\ttranscript\t90\t150\t.\t+\t.\tgene_id "ENSG1"; transcript_id "ENST1"; '
        'gene_name "GENE1"; transcript_biotype "protein_coding";\n'
        '1\thavana\texon\t90\t120\t.\t+\t.\tgene_id "ENSG1"; transcript_id "ENST1"; exon_number "1";\n'
        '1\thavana\texon\t130\t150\t.\t-\t.\tgene_id "ENSG1"; transcript_id "ENST1"; exon_number "2";\n'
    )
    p = tmp_path / "t.gtf"
    p.write_text(body)
    gtf = read_gtf(spark, str(p))
    tx = gtf_transcripts(gtf)
    ex = gtf_exons(gtf)
    trow = tx.collect()[0]
    assert (trow.transcript_id, trow.chrom, trow.start, trow.end, trow.strand,
            trow.biotype, trow.gene_stable_id, trow.gene_symbol) == (
        "ENST1", "1", 90, 150, 1, "protein_coding", "ENSG1", "GENE1")
    assert ex.count() == 2

    vcf = spark.createDataFrame(
        [("1", 100, 100, "A", "T")],
        "chrom string, start long, end long, ref string, alt string",
    )
    cache = spark.createDataFrame(
        [("1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    out = annotate_vep(vcf, cache, transcripts=tx, exons=ex, engine="codon")
    r = out.collect()[0]
    assert r.existing_variation == "rs1"
    assert "GENE1" in r.CSQ


def test_read_vcf_gzip_and_bgzf(spark, tmp_path):
    """Real VCFs ship bgzip-compressed (.vcf.gz with BGZF multi-member gzip).
    Spark's text source must decode both plain-gzip and BGZF members to the
    identical contract frame (VERDICT r2 missing #6)."""
    import gzip

    from datafusion_bio_functions_spark.sources.bam import bgzf_compress
    from datafusion_bio_functions_spark.sources.readers import read_vcf

    body = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    rows = [
        f"chr1\t{100 + i}\trs{i}\tAC\tG\t50\tPASS\tDP={i}\n" for i in range(500)
    ]
    text = (body + "".join(rows)).encode()

    plain = tmp_path / "v.vcf"
    plain.write_bytes(text)
    gz = tmp_path / "vgz.vcf.gz"
    gz.write_bytes(gzip.compress(text))
    bgzf = tmp_path / "vbgzf.vcf.gz"
    bgzf.write_bytes(bgzf_compress(text, block_payload=1024))  # many members

    want = sorted(map(tuple, read_vcf(spark, str(plain)).collect()))
    assert len(want) == 500
    assert sorted(map(tuple, read_vcf(spark, str(gz)).collect())) == want
    assert sorted(map(tuple, read_vcf(spark, str(bgzf)).collect())) == want


def test_streaming_overlap_matches_batch_join(spark, tmp_path):
    """Stream-static binned overlap == the batch interval_join inner join,
    including the long-interval broadcast route and the canonical-bin
    dedupe (no distinct, no state)."""
    from datafusion_bio_functions_spark.operators.intervals import interval_join
    from datafusion_bio_functions_spark.streaming.overlap_stream import (
        streaming_overlap,
    )

    rows = [("chr1", i * 40 + 1, i * 40 + 60) for i in range(50)]
    rows += [("chr2", 5, 9), ("chr2", 100, 100)]
    rows += [("chr1", 1, 100_000)]  # long row → broadcast range route
    reads = spark.createDataFrame(rows, "contig string, pos_start long, pos_end long")
    anno = spark.createDataFrame(
        [("chr1", 30, 120), ("chr1", 500, 700), ("chr1", 95_000, 99_000),
         ("chr2", 1, 7), ("chr3", 1, 10)],
        "contig string, pos_start long, pos_end long",
    )
    want = sorted(
        map(tuple, interval_join(reads, anno, bin_width=64).collect())
    )
    src = str(tmp_path / "reads")
    reads.write.parquet(src)
    stream = spark.readStream.schema(reads.schema).parquet(src)
    out = streaming_overlap(stream, anno, bin_width=64)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("ovl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ovl"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ovl_stream").collect()))
    assert got == want and len(got) >= 10
    # the batch binned join with the annotation side broadcast to all three
    # joins: no shuffle Exchange anywhere in the micro-batch plan
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    # strict twin agrees with the batch strict join
    want_s = sorted(
        map(tuple, interval_join(reads, anno, filter_op="strict", bin_width=64).collect())
    )
    outs = streaming_overlap(stream, anno, filter_op="strict", bin_width=64)
    qs = (
        outs.writeStream.format("memory").queryName("ovl_stream_s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ovl_s"))
        .trigger(availableNow=True).start()
    )
    qs.awaitTermination(120)
    got_s = sorted(map(tuple, spark.sql("SELECT * FROM ovl_stream_s").collect()))
    assert got_s == want_s
    # auto bin width derives from the static side without touching the stream
    # (a list-built frame has no size estimate, so it stays binned)
    out_auto = streaming_overlap(stream, anno)
    assert out_auto.isStreaming
    # annotations with a size estimate under the broadcast bounds: every
    # micro-batch is one Arrow UDF against their CollectLeft index
    anno_src = str(tmp_path / "anno")
    anno.coalesce(1).write.parquet(anno_src)
    anno_pq = spark.read.parquet(anno_src)
    for fo, want_fo in (("weak", want), ("strict", want_s)):
        qi = (
            streaming_overlap(stream, anno_pq, filter_op=fo)
            .writeStream.format("memory").queryName(f"ovl_stream_idx_{fo}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_ovl_idx_{fo}"))
            .trigger(availableNow=True).start()
        )
        qi.awaitTermination(120)
        got_i = sorted(map(tuple, spark.sql(f"SELECT * FROM ovl_stream_idx_{fo}").collect()))
        assert got_i == want_fo
        plan_i = qi._jsq.streamingQuery().lastExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan_i and "Exchange" not in plan_i
    # contract checks
    with pytest.raises(ValueError, match="streaming left"):
        streaming_overlap(reads, anno)
    with pytest.raises(ValueError, match="static"):
        streaming_overlap(stream, stream)


def test_vcf_sink_sample_gt_roundtrip(spark, tmp_path):
    """Replay of the reference's VCF output round-trip battery
    (tests/vcf_output_roundtrip.rs:133-231): single-sample sink carries the
    sample name in the column header, a ##FORMAT GT declaration, per-row GT
    values, CSQ preserved in INFO, and '.' INFO when CSQ is empty."""
    import os

    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf

    # the reference battery's three-row frame (roundtrip.rs:102-130): two
    # annotated variants + one CSQ-less row with a reference genotype
    vcf = spark.createDataFrame(
        [
            ("chr1", 100, 100, "A", "T", "0/1"),
            ("chr1", 200, 200, "C", "G", "1/1"),
            ("chr2", 300, 300, "G", "A", "0/0"),
        ],
        "chrom string, start long, end long, ref string, alt string, GT string",
    )
    cache = spark.createDataFrame(
        [("chr1", 100, 100, "rs1", "A/T"), ("chr1", 200, 200, "rs2", "C/G")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    out = str(tmp_path / "gt_vcf")
    n = annotate_to_vcf(vcf, cache, out, sample_name="HG002")
    assert n == 3

    hdr = open(os.path.join(out, "00_header.vcf")).read()
    # header carries the sample (roundtrip.rs:149-150) and GT FORMAT
    # declaration (roundtrip.rs:156)
    assert hdr.rstrip().splitlines()[-1].endswith("\tFORMAT\tHG002")
    assert '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">' in hdr

    body = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            body += [
                l for l in open(os.path.join(out, part)).read().splitlines() if l
            ]
    assert len(body) == 3  # roundtrip.rs:165
    rows = {f.split("\t")[1]: f.split("\t") for f in body}
    # positions/alleles correct (roundtrip.rs:179-191)
    assert rows["100"][0] == "chr1" and rows["100"][3] == "A" and rows["100"][4] == "T"
    # every row: FORMAT field is GT, genotype rides through from the input
    assert rows["100"][8] == "GT" and rows["100"][9] == "0/1"
    assert rows["200"][9] == "1/1"
    assert rows["300"][9] == "0/0"
    # annotated rows keep CSQ in INFO (roundtrip.rs:216-226)
    assert rows["100"][7].startswith("CSQ=") and "rs1" in rows["100"][7]


def test_vcf_sink_gt_missing_renders_dotted(spark, tmp_path):
    """A null/absent genotype renders as './.' (roundtrip.rs:84 unwrap_or)."""
    import os

    from datafusion_bio_functions_spark.sources.readers import write_vcf

    df = spark.createDataFrame(
        [("chr1", 100, ".", "A", "T", ".", ".", "0/1"), ("chr1", 200, ".", "C", "G", ".", ".", None)],
        "chrom string, start long, id string, ref string, alt string, "
        "qual string, filter string, GT string",
    )
    out = str(tmp_path / "dotted")
    write_vcf(df, out, sample_name="S1")
    body = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            body += [l for l in open(os.path.join(out, part)).read().splitlines() if l]
    rows = {f.split("\t")[1]: f.split("\t") for f in body}
    assert rows["100"][9] == "0/1"
    assert rows["200"][9] == "./."
    # no GT column at all → every genotype is './.'
    out2 = str(tmp_path / "dotted2")
    write_vcf(df.drop("GT"), out2, sample_name="S1")
    body2 = []
    for part in sorted(os.listdir(out2)):
        if part.startswith("part-"):
            body2 += [l for l in open(os.path.join(out2, part)).read().splitlines() if l]
    assert all(f.split("\t")[9] == "./." for f in body2)


def test_vcf_sink_empty_input_header_only(spark, tmp_path):
    """Empty input still produces a parseable header-only VCF with the
    sample name (roundtrip.rs:233-247)."""
    import os

    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf, read_vcf

    vcf = spark.createDataFrame(
        [], "chrom string, start long, end long, ref string, alt string, GT string"
    )
    cache = spark.createDataFrame(
        [("chr1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    out = str(tmp_path / "empty_vcf")
    n = annotate_to_vcf(vcf, cache, out, sample_name="HG002")
    assert n == 0
    hdr = open(os.path.join(out, "00_header.vcf")).read()
    assert hdr.rstrip().splitlines()[-1].endswith("\tFORMAT\tHG002")
    assert read_vcf(spark, out).count() == 0


def test_streaming_event_join_inner_and_outer(spark, tmp_path):
    """Watermarked stream-stream event join: right events join a left event
    only within [l.ts, l.ts + max_delay]; left_outer emits unmatched left
    rows with NULL right columns once their window closes."""
    import pytest as _pytest

    from datafusion_bio_functions_spark.streaming.depth_stream import (
        streaming_event_join,
    )

    imps = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "imp_a"),
         (2, "2026-01-01 10:00:00", "imp_b"),
         (3, "2026-01-01 10:00:00", "imp_c"),
         # watermark driver: the GLOBAL watermark is the min across both
         # watermarked inputs, so each side needs a late row to advance it
         (6, "2026-01-01 20:00:00", "imp_wm")],
        "user_id long, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = spark.createDataFrame(
        [(1, "2026-01-01 10:30:00", "click_in"),     # inside 1h window
         (2, "2026-01-01 12:30:00", "click_late"),   # outside the window
         (1, "2026-01-01 09:30:00", "click_before"), # before the impression
         (9, "2026-01-01 10:30:00", "click_nouser"), # no matching key
         # watermark driver: pushes event time far past every join window
         (8, "2026-01-01 20:00:00", "wm")],
        "user_id long, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src_l, src_r = str(tmp_path / "imps"), str(tmp_path / "clicks")
    imps.write.parquet(src_l)
    clicks.write.parquet(src_r)
    sl = spark.readStream.schema(imps.schema).parquet(src_l)
    sr = spark.readStream.schema(clicks.schema).parquet(src_r)

    out = streaming_event_join(sl, sr, max_delay="1 hour")
    q = (
        out.writeStream.format("memory").queryName("evjoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_inner"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = [(r.l_user_id, r.r_tag) for r in spark.sql("SELECT * FROM evjoin").collect()]
    assert rows == [(1, "click_in")]

    outer = streaming_event_join(sl, sr, max_delay="1 hour", how="left_outer")
    sink = str(tmp_path / "outer_sink")

    def run_outer():
        # a FILE sink: the memory sink cannot restart from a checkpoint,
        # and the outer join needs a second trigger (watermark advances
        # take effect on the NEXT microbatch)
        q2 = (
            outer.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_outer"))
            .trigger(availableNow=True).start()
        )
        q2.awaitTermination(120)

    run_outer()
    # feed one more late row and trigger again so closed windows flush NULLs
    for src in (src_l, src_r):
        spark.createDataFrame(
            [(7, "2026-01-02 00:00:00", "wm2")], "user_id long, ts string, tag string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)
    run_outer()
    got = {r.l_user_id: r.r_tag for r in spark.read.parquet(sink).collect()}
    assert got[1] == "click_in"
    # unmatched impressions surface with NULL right side after the window
    assert got[2] is None and got[3] is None

    with _pytest.raises(ValueError, match="STREAMING"):
        streaming_event_join(imps, sr)
    with _pytest.raises(ValueError, match="how"):
        streaming_event_join(sl, sr, how="full")


def test_read_vcf_skips_malformed_lines(spark, tmp_path):
    """Malformed VCF body lines are skipped, never fatal: blank lines,
    truncated (<8 column) lines, and rows with a non-numeric POS."""
    src = tmp_path / "malformed.vcf"
    src.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "1\t100\trs1\tA\tT\t50\tPASS\tDP=10\n"
        "\n"
        "1\t200\n"
        "2\tnotanumber\t.\tG\tC\t.\t.\t.\n"
        "2\t300\trs3\tG\tGTT\t99\tPASS\tAF=0.5\n"
    )
    rows = sorted((r.chrom, r.start) for r in read_vcf(spark, str(src)).collect())
    assert rows == [("1", 100), ("2", 300)]


def test_read_bed_gtf_skip_malformed(spark, tmp_path):
    """Non-numeric coordinates null-out via try_cast and the row drops —
    one malformed line must not kill the scan (ANSI mode would raise)."""
    from datafusion_bio_functions_spark.sources.readers import read_bed

    bed = tmp_path / "m.bed"
    bed.write_text("track name=x\nchr1\t10\t20\n\nchr2\t5\nchr3\tbad\t30\nchr4\t1\t9\n")
    rows = sorted((r.contig, r.pos_start, r.pos_end) for r in read_bed(spark, str(bed)).collect())
    assert rows == [("chr1", 11, 20), ("chr4", 2, 9)]
    from datafusion_bio_functions_spark.sources.readers import read_gtf

    gtf = tmp_path / "m.gtf"
    gtf.write_text(
        '#c\nchr1\tsrc\ttranscript\t1\t10\t.\t+\t.\tgene_id "g";\n'
        "\nchr1\tsrc\n"
        'chr1\tsrc\texon\tbad\t10\t.\t+\t.\tgene_id "g";\n'
    )
    got = read_gtf(spark, str(gtf)).collect()
    # the malformed-coordinate exon row drops entirely (a NULL start would
    # silently corrupt the downstream exon contract)
    assert [(r.feature, r.start) for r in got] == [("transcript", 1)]


def test_read_vcf_with_genotypes_roundtrip(spark, tmp_path):
    """The sink's single-sample output round-trips: read_vcf(with_genotypes
    =True) recovers the GT column via the FORMAT-slot lookup, NULL for
    rows without sample data or with './.'-style placeholders intact."""
    from datafusion_bio_functions_spark.sources.readers import write_vcf

    df = spark.createDataFrame(
        [("chr1", 100, ".", "A", "T", ".", ".", "0/1"),
         ("chr1", 200, ".", "C", "G", ".", ".", None)],
        "chrom string, start long, id string, ref string, alt string, "
        "qual string, filter string, GT string",
    )
    out = str(tmp_path / "gt_rt")
    write_vcf(df, out, sample_name="S1")
    back = {r.start: r.GT for r in read_vcf(spark, out, with_genotypes=True).collect()}
    assert back == {100: "0/1", 200: "./."}
    # multi-subfield FORMAT: GT found by position, not assumed first
    rich = tmp_path / "rich.vcf"
    rich.write_text(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        "chr1\t300\t.\tG\tA\t.\t.\t.\tDP:GT:GQ\t12:1/1:99\n"
        "chr1\t400\t.\tG\tA\t.\t.\t.\n"  # 8-column row: GT NULL
    )
    got = {r.start: r.GT for r in read_vcf(spark, str(rich), with_genotypes=True).collect()}
    assert got == {300: "1/1", 400: None}
    # default stays the 9-column contract frame
    assert "GT" not in read_vcf(spark, out).columns


def test_vcf_sink_gt_join_does_not_fan_out_on_duplicate_keys(spark, tmp_path):
    """Round 9 (ADVICE): the GT ride-through left join deduplicates its VCF
    side on the variant key — an input frame carrying duplicate variant
    rows must not fan the join out and duplicate output body lines."""
    import os

    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf

    vcf = spark.createDataFrame(
        [
            ("chr1", 100, 100, "A", "T", "0/1"),
            ("chr1", 100, 100, "A", "T", "0/1"),  # duplicate variant row
            ("chr2", 300, 300, "G", "A", "0/0"),
        ],
        "chrom string, start long, end long, ref string, alt string, GT string",
    )
    cache = spark.createDataFrame(
        [("chr1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    out = str(tmp_path / "gt_dup_vcf")
    n = annotate_to_vcf(vcf, cache, out, sample_name="HG002")
    body = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            body += [
                l for l in open(os.path.join(out, part)).read().splitlines() if l
            ]
    # annotate_vep emits one row per input variant row (3) — the GT join
    # must not square the duplicate key into 5 body lines
    assert len(body) == n == 3
    assert sum(1 for l in body if l.split("\t")[1] == "100") == 2
    for l in body:
        f = l.split("\t")
        assert f[9] == ("0/1" if f[1] == "100" else "0/0")


def test_read_vcf_multi_sample_roundtrip(spark, tmp_path):
    """N-sample FORMAT support (reference vcf_sink streams arbitrary
    passthrough sample columns, vcf_sink.rs:1-60): read_vcf(samples=True)
    recovers the #CHROM sample names into a genotypes map with the RAW
    colon-joined field blocks, and write_vcf(sample_names=...) emits them
    back in header order with './.' for missing entries."""
    from datafusion_bio_functions_spark.sources.readers import (
        read_vcf, vcf_sample_names, write_vcf,
    )

    src = tmp_path / "multi.vcf"
    src.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tHG002\tHG003\tHG004\n"
        "chr1\t100\trs1\tA\tT\t50\tPASS\t.\tGT:DP\t0/1:12\t1/1:30\t0/0:7\n"
        "chr1\t200\t.\tC\tG\t.\t.\t.\tGT\t./.\t0/1\t1|1\n"
    )
    assert vcf_sample_names(spark, str(src)) == ["HG002", "HG003", "HG004"]
    df = read_vcf(spark, str(src), samples=True)
    rows = {r.start: r for r in df.collect()}
    assert rows[100]["format"] == "GT:DP"
    assert rows[100]["genotypes"]["HG002"] == "0/1:12"
    assert rows[100]["genotypes"]["HG004"] == "0/0:7"
    assert rows[200]["genotypes"]["HG003"] == "0/1"

    out = str(tmp_path / "multi_rt")
    write_vcf(df, out, sample_names=["HG002", "HG003", "HG004"])
    back = read_vcf(spark, out, samples=False)
    assert back.count() == 2
    import os

    body = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            body += [
                l for l in open(os.path.join(out, part)).read().splitlines() if l
            ]
    by_pos = {l.split("\t")[1]: l.split("\t") for l in body}
    assert by_pos["100"][8:] == ["GT:DP", "0/1:12", "1/1:30", "0/0:7"]
    assert by_pos["200"][8:] == ["GT", "./.", "0/1", "1|1"]


def test_annotate_to_vcf_multi_sample(spark, tmp_path):
    """annotate_to_vcf(sample_names=...): the genotypes/format columns ride
    through the annotation, duplicate variant keys collapse
    DETERMINISTICALLY (lexicographically smallest payload), and the header
    advertises every sample column."""
    import os

    from datafusion_bio_functions_spark.sources.readers import annotate_to_vcf

    vcf = spark.createDataFrame(
        [
            ("chr1", 100, 100, "A", "T", "GT", {"S1": "0/1", "S2": "1/1"}),
            # duplicate key with CONFLICTING genotypes: min payload wins
            ("chr1", 100, 100, "A", "T", "GT", {"S1": "0/0", "S2": "1/1"}),
            ("chr2", 300, 300, "G", "A", "GT", {"S1": "0/0", "S2": None}),
        ],
        "chrom string, start long, end long, ref string, alt string, "
        "format string, genotypes map<string,string>",
    )
    cache = spark.createDataFrame(
        [("chr1", 100, 100, "rs1", "A/T")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    )
    out = str(tmp_path / "multi_ann")
    n = annotate_to_vcf(vcf, cache, out, sample_names=["S1", "S2"])
    assert n == 3
    body = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            body += [
                l for l in open(os.path.join(out, part)).read().splitlines() if l
            ]
    hundreds = [l.split("\t") for l in body if l.split("\t")[1] == "100"]
    assert len(hundreds) == 2
    for f in hundreds:  # both annotated rows carry the SAME deterministic pick
        assert f[8:] == ["GT", "0/0", "1/1"]
    (three,) = [l.split("\t") for l in body if l.split("\t")[1] == "300"]
    assert three[8:] == ["GT", "0/0", "./."]
    header = open(os.path.join(out, "00_header.vcf")).read()
    assert header.rstrip().endswith("FORMAT\tS1\tS2")


def test_read_vcf_split_multiallelic(spark, tmp_path):
    """Comma-separated ALT alleles explode into one single-alt row per
    alternate with a 1-based alt_index — the per-allele shape the
    consequence/lookup engines consume."""
    src = tmp_path / "ma.vcf"
    src.write_text(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t100\trs1\tA\tT,G,ACGT\t.\t.\t.\n"
        "chr1\t200\t.\tC\tG\t.\t.\t.\n"
    )
    rows = read_vcf(spark, str(src), split_multiallelic=True).collect()
    got = sorted((r.start, r.alt, r.alt_index) for r in rows)
    assert got == [(100, "ACGT", 3), (100, "G", 2), (100, "T", 1), (200, "G", 1)]
    # every exploded row keeps the shared fixed fields
    assert all(r.ref in ("A", "C") and r.chrom == "chr1" for r in rows)


def test_streaming_overlap_incremental_microbatches(spark, tmp_path):
    """True MULTI-micro-batch e2e (round 11): the reads stream arrives as
    three separate files processed one per trigger (maxFilesPerTrigger=1),
    and the appended union across all micro-batches equals the batch
    interval_join over the full input.  Proves the stream-static overlap
    is correct INCREMENTALLY, not just on a single availableNow batch."""
    from datafusion_bio_functions_spark.operators.intervals import interval_join
    from datafusion_bio_functions_spark.streaming.overlap_stream import (
        streaming_overlap,
    )

    anno = spark.createDataFrame(
        [("chr1", 30, 120), ("chr1", 500, 700), ("chr2", 1, 7)],
        "contig string, pos_start long, pos_end long",
    )
    chunks = [
        [("chr1", i * 40 + 1, i * 40 + 60) for i in range(10)],
        [("chr1", 480, 520), ("chr2", 5, 9)],
        [("chr1", 650, 800), ("chr2", 100, 100)],
    ]
    src = tmp_path / "reads_inc"
    src.mkdir()
    all_rows = []
    for i, rows in enumerate(chunks):
        spark.createDataFrame(
            rows, "contig string, pos_start long, pos_end long"
        ).coalesce(1).write.parquet(str(src / f"part{i}"))
        all_rows += rows
    reads = spark.createDataFrame(
        all_rows, "contig string, pos_start long, pos_end long"
    )
    want = sorted(map(tuple, interval_join(reads, anno, bin_width=64).collect()))

    stream = (
        spark.readStream.schema(reads.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part*"))
    )
    q = (
        streaming_overlap(stream, anno, bin_width=64)
        .writeStream.format("memory").queryName("ovl_inc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3, [p["numInputRows"] for p in q.recentProgress]
    got = sorted(map(tuple, spark.sql("SELECT * FROM ovl_inc").collect()))
    assert got == want and len(got) > 0


def test_streaming_event_counts_watermark_drops_late_rows(spark, tmp_path):
    """Watermark enforcement across micro-batch RUNS (checkpoint restart):
    a row arriving after the persisted watermark has passed its window is
    DROPPED; on-time windows finalize with the correct counts.  Run 1
    advances the watermark to 10:30; run 2 delivers a click at 09:00
    (window already expired -> dropped) plus a fresh row; run 3 flushes.
    The append-mode output must contain the 10:00 click window with n=1
    (the late 09:00 click never lands anywhere) and NO 09:00 window."""
    src = tmp_path / "ev_inc"
    src.mkdir()
    sink = str(tmp_path / "ev_sink")
    schema = "ts timestamp, event_type string, value double"

    def feed(name, rows):
        spark.createDataFrame(
            [(r[0], r[1], r[2]) for r in rows], "ts string, event_type string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
            str(src / name)
        )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src / "f*"))
        q = (
            streaming_event_counts(stream)
            .writeStream.format("parquet").option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_ev"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    feed("f1", [("2026-01-01 10:10:00", "click", 1.0),
                ("2026-01-01 12:30:00", "view", 2.0)])
    run()  # watermark -> 10:30 (12:30 - 2h)
    feed("f2", [("2026-01-01 09:00:00", "click", 99.0),   # LATE: dropped
                ("2026-01-01 14:00:00", "view", 3.0)])
    run()  # late row dropped; watermark -> 12:00
    feed("f3", [("2026-01-01 16:00:00", "view", 4.0)])
    run()  # flushes windows closed at 12:00 (10:00 click, 11:00.. none)

    rows = {
        (str(r.window_start), r.event_type): (r.n, r.value_sum)
        for r in spark.read.parquet(sink).collect()
    }
    assert rows[("2026-01-01 10:00:00", "click")] == (1, 1.0)
    assert not any(k[0].startswith("2026-01-01 09:") for k in rows)


def test_streaming_event_join_state_across_microbatches(spark, tmp_path):
    """Stream-stream join STATE across micro-batches: the impression
    arrives in batch 1, its click only in batch 2 (maxFilesPerTrigger=1)
    — the pair must still join through the state store, and the processed
    batch count proves the sides really arrived separately."""
    from datafusion_bio_functions_spark.streaming.depth_stream import (
        streaming_event_join,
    )

    schema = "user_id long, ts timestamp, tag string"
    srcs = {}
    for side in ("imp", "clk"):
        d = tmp_path / side
        d.mkdir()
        srcs[side] = d

    def feed(side, name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts string, tag string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
            str(srcs[side] / name)
        )

    feed("imp", "f1", [(1, "2026-01-01 10:00:00", "imp_a"),
                       (5, "2026-01-01 20:00:00", "imp_wm")])
    feed("clk", "f1", [(9, "2026-01-01 10:00:00", "noise")])
    feed("clk", "f2", [(1, "2026-01-01 10:30:00", "click_in"),
                       (8, "2026-01-01 20:00:00", "wm")])

    sl = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(srcs["imp"] / "f*"))
    )
    sr = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(srcs["clk"] / "f*"))
    )
    q = (
        streaming_event_join(sl, sr, max_delay="1 hour")
        .writeStream.format("memory").queryName("evjoin_inc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_evj"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    rows = [
        (r.l_user_id, r.r_tag)
        for r in spark.sql("SELECT * FROM evjoin_inc").collect()
    ]
    assert rows == [(1, "click_in")]
