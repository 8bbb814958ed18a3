"""Generated code is reused across runs on new input files.

A repeated operator over a new file of the same shape must find every
generated class in Spark's codegen cache.  That breaks when a plan carries
a literal that changes from run to run (a stage id in a class name, a
JVM-wide counter in a limit), or when one run generates more classes than
the cache keeps.
"""

from __future__ import annotations

import os
import shutil

import datafusion_bio_functions_spark as bio
from datafusion_bio_functions_spark.operators.vep import annotate_vep
from datafusion_bio_functions_spark.sources.readers import read_vcf
from tests.conftest import codegen_compiles

VCF = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
1\t1102\t.\tA\tG\t.\tPASS\t.
1\t1105\tv2\tC\tT\t50\tPASS\tDP=3
1\t1360\t.\tG\tGA\t.\tPASS\t.
1\t120\t.\tC\tT\t.\tq10\t.
2\t100\t.\tA\tT\t.\tPASS\t.
"""


def _write_input(spark, d: str) -> None:
    os.makedirs(d)
    with open(os.path.join(d, "calls.vcf"), "w") as f:
        f.write(VCF)
    cols = "contig string, pos_start long, pos_end long"
    spark.createDataFrame(
        [("chr1", 10, 20), ("chr1", 50, 60), ("chr2", 5, 9)], cols
    ).write.parquet(os.path.join(d, "left"))
    spark.createDataFrame(
        [("chr1", 30, 31), ("chr1", 55, 70), ("chr2", 1, 2), ("chr3", 1, 2)], cols
    ).write.parquet(os.path.join(d, "right"))


def test_second_run_on_a_copied_input_compiles_nothing(spark, tmp_path):
    """annotate_vep (codon path) and the interval operators, run on one
    input and then on a copy of it under other file names: the second run
    compiles no class.  One run generates well over 100 classes, so Spark's
    default cache size (100 entries) fails this too."""
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [("1", 1102, 1102, "rs1", "A/G")],
        "chrom string, start long, end long, variation_name string, allele_string string",
    ).write.parquet(f"{ref}/cache")
    spark.createDataFrame(
        [("TXF", "1", 1000, 1600, 1, "protein_coding", "G1", "GENE1", 1100, 1500)],
        "transcript_id string, chrom string, start long, end long, strand int, "
        "biotype string, gene_stable_id string, gene_symbol string, "
        "cds_start long, cds_end long",
    ).write.parquet(f"{ref}/transcripts")
    spark.createDataFrame(
        [("TXF", 1000, 1250), ("TXF", 1350, 1600)],
        "transcript_id string, start long, end long",
    ).write.parquet(f"{ref}/exons")
    cache, tx, exons = (spark.read.parquet(f"{ref}/{n}") for n in ("cache", "transcripts", "exons"))

    def run(d: str, vcf_name: str) -> None:
        vcf = read_vcf(spark, os.path.join(d, vcf_name))
        annotate_vep(vcf, cache, transcripts=tx, exons=exons).write.format("noop").mode(
            "overwrite"
        ).save()
        left, right = (spark.read.parquet(os.path.join(d, n)) for n in ("left", "right"))
        for out in (
            bio.nearest(left, right),
            bio.overlap(left, right),
            bio.count_overlaps(left, right),
            bio.coverage(left, right),
            bio.subtract(left, right),
            bio.merge(right),
            bio.cluster(right),
        ):
            out.write.format("noop").mode("overwrite").save()

    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    _write_input(spark, first)
    run(first, "calls.vcf")
    shutil.copytree(first, second)
    os.rename(os.path.join(second, "calls.vcf"), os.path.join(second, "copy.vcf"))
    before = codegen_compiles(spark)
    run(second, "copy.vcf")
    assert codegen_compiles(spark) - before == 0
