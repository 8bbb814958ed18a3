"""The benchmark workloads: step groups run in order on every pass.

A step calls one public library function with its defaults (``build``) and
materializes the result through the ``noop`` sink (``exec``).  Step names are
the per-layer metric prefixes (``<module>.<function>``).  Source steps
(``read_bam``, ``read_vcf``) only build: their frames feed the later steps of
the same pass.

Each group knows how to make its fixed reference side once per run and one
fresh, distinctly named input shard per pass (``gen``), so probe verdicts and
memos keyed on the file listing are paid on every pass.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq

from perfbench import checks, gen

#: Overlap join written as plain SQL; ``bio_sql`` rewrites it into the
#: interval-join operator, DuckDB runs the same text as the reference.
OVERLAP_SQL = (
    "SELECT a.contig AS contig, a.pos_start AS a_start, a.pos_end AS a_end, "
    "b.pos_start AS b_start, b.pos_end AS b_end "
    "FROM reads a JOIN targets b "
    "ON a.contig = b.contig AND a.pos_start <= b.pos_end "
    "AND a.pos_end >= b.pos_start"
)


@dataclass
class Step:
    name: str
    build: Callable  # (ctx: dict) -> DataFrame
    action: bool = True  # False: build only (a source feeding later steps)


class Group:
    """Steps over one kind of input, with its generator hooks and its output
    check (``check(db, outputs, shard)``, a function of ``checks``)."""

    name = ""
    steps: list[Step] = []
    check: Callable

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.reference = None

    def prepare(self):
        """Fixed reference side, generated once per run (untimed)."""

    def shard(self, label: str) -> gen.Shard:
        raise NotImplementedError

    def context(self, spark, shard: gen.Shard) -> dict:
        raise NotImplementedError


# ------------------------------------------------------------------ ranges

def _bio_sql(ctx):
    from datafusion_bio_functions_spark.sql_surface import bio_sql

    ctx["reads"].createOrReplaceTempView("reads")
    ctx["targets"].createOrReplaceTempView("targets")
    return bio_sql(ctx["spark"], OVERLAP_SQL)


def _nearest(ctx):
    from datafusion_bio_functions_spark.operators.intervals import nearest

    return nearest(ctx["reads"], ctx["targets"])


class Ranges(Group):
    name = "ranges"
    steps = [
        Step("sql_surface.bio_sql", _bio_sql),
        Step("operators.intervals.nearest", _nearest),
    ]
    sql = OVERLAP_SQL
    check = checks.ranges

    def prepare(self):
        self.reference = gen.ranges_reference(self.root, self.seed)

    def shard(self, label):
        return gen.ranges_shard(self.root, self.seed, label)

    def context(self, spark, shard):
        return {
            "spark": spark,
            "reads": spark.read.parquet(shard.files["reads"]),
            "targets": spark.read.parquet(self.reference.files["targets"]),
        }


# ------------------------------------------------------------------ pileup

def _read_bam(ctx):
    from datafusion_bio_functions_spark.sources.bam import read_bam

    ctx["aln"] = read_bam(ctx["spark"], ctx["bam"])
    return ctx["aln"]


def _depth(ctx):
    from datafusion_bio_functions_spark.operators.pileup import depth

    # read_bam emits 0-based starts (its documented contract)
    return depth(ctx["aln"], zero_based=True)


class Pileup(Group):
    name = "pileup"
    steps = [
        Step("sources.bam.read_bam", _read_bam, action=False),
        Step("operators.pileup.depth", _depth),
    ]
    check = checks.pileup

    def shard(self, label):
        return gen.pileup_shard(self.root, self.seed, label)

    def context(self, spark, shard):
        return {"spark": spark, "bam": shard.files["bam"]}


# --------------------------------------------------------------------- vep

def _read_vcf(ctx):
    from datafusion_bio_functions_spark.sources.readers import read_vcf

    ctx["vcf"] = read_vcf(ctx["spark"], ctx["vcf_path"])
    return ctx["vcf"]


def _annotate_vep(ctx):
    from datafusion_bio_functions_spark.operators.vep import annotate_vep

    # known-variant lookup plus the consequence classifier over the
    # transcripts (functions.consequence inside the Arrow UDF)
    return annotate_vep(
        ctx["vcf"], ctx["cache"], transcripts=ctx["transcripts"], exons=ctx["exons"]
    )


class Vep(Group):
    name = "vep"
    steps = [
        Step("sources.readers.read_vcf", _read_vcf, action=False),
        Step("operators.vep.annotate_vep", _annotate_vep),
    ]
    check = checks.vep

    def prepare(self):
        self.reference = gen.vep_reference(self.root, self.seed)
        self.known = pq.read_table(self.reference.files["known"])

    def shard(self, label):
        return gen.vep_shard(self.root, self.seed, label, self.known)

    def context(self, spark, shard):
        ref = self.reference.files
        return {
            "spark": spark,
            "vcf_path": shard.files["vcf"],
            "cache": spark.read.parquet(ref["cache"]),
            "transcripts": spark.read.parquet(ref["transcripts"]),
            "exons": spark.read.parquet(ref["exons"]),
        }


# ------------------------------------------------------------------- dedup

def _exact_dedup(ctx):
    from datafusion_bio_functions_spark.operators.dedup import exact_dedup

    return exact_dedup(ctx["docs"])


def _lsh(ctx):
    from datafusion_bio_functions_spark.operators.similarity import lsh_cosine_topk

    return lsh_cosine_topk(ctx["queries"], ctx["vectors"])


class Dedup(Group):
    name = "dedup"
    steps = [
        Step("operators.dedup.exact_dedup", _exact_dedup),
        Step("operators.similarity.lsh_cosine_topk", _lsh),
    ]
    check = checks.dedup

    def shard(self, label):
        return gen.dedup_shard(self.root, self.seed, label)

    def context(self, spark, shard):
        from pyspark.sql import functions as F

        vectors = spark.read.parquet(shard.files["vectors"])
        return {
            "spark": spark,
            "docs": spark.read.parquet(shard.files["docs"]),
            "vectors": vectors,
            "queries": vectors.filter(F.col("vec_id") < gen.DEDUP_QUERIES),
        }


#: One untimed warm-up pass before the timed ones: the first pass pays the
#: Python worker start-up and most of the JIT compilation (3-4x a later
#: pass).  A second warm-up pass would make the next pass another 10-25%
#: faster, but costs a whole pass per run in the benchmark's run budget.
WARMUP_PASSES = 1

#: Workload name -> (its groups, run in order on every pass; the fewest
#: timed passes of a run).  A run times passes until ``--seconds`` of pass
#: wall is measured and at least that many.  ``ranges`` takes the median
#: of two: its pass is short, and the host's CPU pressure changes within a
#: run.  A second ``kernels`` pass would not fit the run budget.
WORKLOADS = {
    "ranges": ((Ranges,), 2),
    "kernels": ((Pileup, Vep, Dedup), 1),
}
