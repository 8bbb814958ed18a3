#!/usr/bin/env python3
"""Scale-ladder experiment: time a bounded-output query subset across
sf0.1 / sf1 / sf10 (sf1/sf10 generated by scripts/make_sf.py) and report
per-query scaling factors.  The quadratic-output interval joins are
excluded on purpose — the derived views put every replica into the same
100 kb coordinate space, so pair outputs grow with density² (the
documented adversarial case), which measures output materialization, not
operator scaling.  Usage:

    python scripts/scale_ladder.py /root/testdata/sf0.1 /tmp/testdata_sf1 /tmp/testdata_sf10
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_bio_functions_spark.session import get_or_create_session

import __spark_entry__ as entrymod

LADDER_QUERIES = [
    # linear-work interval algebra (windows / chunked sweeps / pileup)
    "merge",
    "cluster_chunked",
    "depth_blocks",
    "nearest_radius",
    # VEP lookup + consequence engine (bounded pairs per variant)
    "lookup_variants",
    "annotate_vep",
    # events / TPC-H aggregates
    "events_hourly",
    "sessionize",
    "tpch_pricing",
    # LLM-pipeline linear ops
    "dedup_exact",
    "text_stats",
    "lang_id",
    "bpe_tokens",
    "pack_docs",
    "hash_sample",
    "similarity_topk",
    # ANN family at production parameters + its gate-value recall row
    # (VERDICT r4 #7: the approximate operators' scale claim should rest
    # on ladder measurements like the join family's)
    "lsh_ann_prod",
    "ivf_ann_topk",
    "lsh_recall_at_k",
]


def _span_scaled_views(spark, sf_dir):
    """Derived interval views whose coordinate SPAN grows with the data so
    per-contig density — and therefore overlap-pair output per row — stays
    constant.  This is the fair scaling workload for the join family: the
    gate views intentionally collapse every replica into one 100 kb space
    (the adversarial density² case), which measures output
    materialization, not join scaling."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    scale = max(1, round(orders.count() / 150_000))
    span = 100_000 * scale
    ps_r = (F.col("o_orderkey") * 37) % span + 1
    reads = orders.select(
        F.concat(F.lit("chr"), (F.col("o_orderkey") % 4 + 1).cast("string")).alias("contig"),
        ps_r.cast("long").alias("pos_start"),
        (ps_r + F.col("o_orderkey") % 97).cast("long").alias("pos_end"),
    )
    ps_t = (F.col("c_custkey") * 53) % span + 1
    targets = customer.select(
        F.concat(F.lit("chr"), (F.col("c_custkey") % 4 + 1).cast("string")).alias("contig"),
        ps_t.cast("long").alias("pos_start"),
        (ps_t + F.col("c_custkey") % 211).cast("long").alias("pos_end"),
    )
    return reads, targets


def _join_family_ladder(spark, sf_dir, name):
    """Span-scaled join-family workload (VERDICT r3 #7): the binned overlap
    join, the shuffle-parallel count_overlaps, and the chunked radius
    nearest — output linear in input size."""
    import datafusion_bio_functions_spark as bio

    reads, targets = _span_scaled_views(spark, sf_dir)
    if name == "overlap_binned_span":
        return bio.overlap(reads, targets, algorithm="binned")
    if name == "count_overlaps_span":
        return bio.count_overlaps(reads, targets, algorithm="join")
    return bio.nearest(reads, targets, k=1, algorithm="radius")


def _lookup_span(spark, sf_dir):
    """Span-scaled lookup_variants twin (VERDICT r7 #6): the gate views pin
    every replica into 5 000 positions, so colocations per position grow
    with SF (~67 at sf10 — the documented density artifact); here the
    coordinate span grows with the data so per-position density — and the
    broadcast-join's matches per probe — stay constant."""
    from pyspark.sql import functions as F

    from datafusion_bio_functions_spark.operators.vep import lookup_variants

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    span = 5_000 * max(1, round(p.count() / 20_000))
    ps_v = ((F.col("s_suppkey") * 97) % span + 1).cast("long")
    vcf = s.select(
        (F.col("s_suppkey") % 3 + 1).cast("string").alias("chrom"),
        ps_v.alias("start"), ps_v.alias("end"),
        F.substring(F.lit("ACGT"), (F.col("s_suppkey") % 4 + 1).cast("int"), 1).alias("ref"),
        F.substring(F.lit("ACGT"), ((F.col("s_suppkey") + 1) % 4 + 1).cast("int"), 1).alias("alt"),
    )
    ps_c = ((F.col("p_partkey") * 89) % span + 1).cast("long")
    ref = F.substring(F.lit("ACGT"), (F.col("p_partkey") % 4 + 1).cast("int"), 1)
    alt = F.substring(F.lit("ACGT"), ((F.col("p_partkey") + 1) % 4 + 1).cast("int"), 1)
    cache = p.select(
        (F.col("p_partkey") % 3 + 1).cast("string").alias("chrom"),
        ps_c.alias("start"), ps_c.alias("end"),
        F.concat(F.lit("rs"), F.col("p_partkey").cast("string")).alias("variation_name"),
        F.concat(ref, F.lit("/"), alt).alias("allele_string"),
    )
    return lookup_variants(vcf, cache)


def main() -> None:
    global LADDER_QUERIES
    # LADDER_ONLY=name1,name2 restricts the sweep (e.g. the sf100 run
    # covers only the five 100TB scale-twin paths)
    only = os.environ.get("LADDER_ONLY")
    if only:
        LADDER_QUERIES = [q.strip() for q in only.split(",") if q.strip()]
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1", "/tmp/testdata_sf1", "/tmp/testdata_sf10",
    ]
    spark = get_or_create_session(app_name="scale-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    qs = dict(qs)
    for jname in ("overlap_binned_span", "count_overlaps_span", "nearest_radius_span"):
        # bind via default arg so each lambda keeps its own name
        qs[jname] = lambda spark, d, _n=jname: _join_family_ladder(spark, d, _n)
    qs["lookup_variants_span"] = _lookup_span

    def _semantic_dedup_auto(spark, sf_dir):
        """The PRODUCTION semantic-dedup path (auto k-means clustering +
        auto block count) — the gate row pins the n_clusters=1 exact twin;
        the 100TB scale claim rests on this path's ladder."""
        from pyspark.sql import functions as F

        from datafusion_bio_functions_spark.operators.similarity import semantic_dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return semantic_dedup(
            emb, threshold=0.45, n_clusters="auto", n_blocks="auto",
            output="keep",
        ).select("vec_id")

    qs["semantic_dedup_auto"] = _semantic_dedup_auto
    if not only:
        LADDER_QUERIES = LADDER_QUERIES + [
        "overlap_binned_span", "count_overlaps_span", "nearest_radius_span",
        "lookup_variants_span",
    ]
    out: dict[str, dict[str, float]] = {}
    for d in dirs:
        spark.read.parquet(f"{d}/region.parquet").count()  # warm footer cache
        for name in LADDER_QUERIES:
            t0 = time.perf_counter()
            try:
                qs[name](spark, d).write.mode("overwrite").format("noop").save()
                out.setdefault(name, {})[d] = round(time.perf_counter() - t0, 2)
            except Exception as exc:  # noqa: BLE001
                out.setdefault(name, {})[d] = float("nan")
                print(f"# {name} @ {d}: {type(exc).__name__}: {exc}", file=sys.stderr)
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
    print(json.dumps({"dirs": dirs, "timings": out}))


if __name__ == "__main__":
    main()
