"""SparkSession helpers for the bio-functions engine.

The reference builds a custom DataFusion ``SessionContext`` with its own
physical-optimizer rule list (``datafusion/bio-function-ranges/src/
session_context.rs:29-70``).  On Spark we do not need a custom planner:
Catalyst + AQE already perform join selection, predicate pushdown, column
pruning and partition pruning; our operators emit the plan shape we want
directly from the DataFrame API (SURVEY.md §3.1).

``create_bio_session`` mirrors ``register_ranges_functions`` /
``register_vep_functions`` by registering the scalar allele UDFs so they
are callable from ``spark.sql`` just like the reference's SQL surface.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Config key mirroring the reference's ``SET bio.interval_join_algorithm``
#: (session_context.rs:48-70).  Values, in any case: ``auto | binned | sql``,
#: and ``nearest | coitreesnearest``, which turns ``bio_sql`` range joins
#: into nearest joins and leaves the overlap operator on ``binned``.
INTERVAL_JOIN_ALGORITHM_KEY = "spark.bio.intervalJoin.algorithm"
#: Genome-bin width used by the binned interval-join strategy.
INTERVAL_JOIN_BIN_WIDTH_KEY = "spark.bio.intervalJoin.binWidth"
#: Nearest-join strategy (the reference selects its nearest index through
#: the same ``SET bio.interval_join_algorithm`` knob, ``README.md:456-469``).
#: Values, in any case: ``auto | radius`` — ``radius`` names the exact
#: chunked cogroup (the name predates it; no search radius is involved).
NEAREST_ALGORITHM_KEY = "spark.bio.nearest.algorithm"
#: merge/cluster sweep strategy for ``algorithm='auto'``, in any case:
#: ``auto | window | chunked``.
SWEEP_ALGORITHM_KEY = "spark.bio.sweep.algorithm"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _install_py4j_reflection_cache() -> None:
    """Memoize py4j's JVMView / JavaClass attribute resolution.

    Every ``jvm.<name>`` and ``JavaClass.<member>`` access sends an uncached
    py4j REFLECTION command to the driver JVM.  Against Spark's classpath each
    costs ~1-2.5 ms (measured: ``r u functions`` 1.0 ms, ``r m functions col``
    2.5 ms per call), and PySpark's DataFrame API re-resolves
    ``jvm.functions.<fn>`` on *every* ``F.*`` call — plan-heavy query builds
    pay thousands of them (guide §5: the driver should do almost no work;
    §7.3 driver-side planning cost).  Class and static-member *metadata* is
    immutable for the life of a JVM, so resolve once and reuse:

    - ``JVMView.__getattr__`` results (``JavaClass`` / ``JavaPackage``) are
      cached per (gateway client, view id, name); ``java_import`` invalidates
      the view cache since it can change how a bare name resolves.
    - ``JavaClass.__getattr__`` results are cached on the instance, but only
      for ``JavaMember`` (static methods) and nested ``JavaClass`` — static
      *field* reads still round-trip every time because field values change.

    py4j itself already memoizes ``JavaMember`` objects per ``JavaObject``
    (java_gateway.py: ``self._methods[name] = JavaMember(...)``), so reusing
    member/class handles is the library's own established pattern; this only
    extends it to the static/view side.  Failures are never cached.
    """
    import sys

    import py4j
    from py4j import java_gateway as jg

    if getattr(jg, "_bio_reflection_cache_installed", False):
        return
    # Version guard (r12): the patch assumes py4j 0.10.x resolution
    # semantics — JVMView/JavaClass resolve static metadata through
    # __getattr__ and java_import mutates the view server-side.  A future
    # py4j that changes any of those would make the memo silently wrong,
    # so skip installing (pure slowdown, never corruption) when the
    # version family or the patched surfaces are not the validated ones.
    if not str(getattr(py4j, "__version__", "")).startswith("0.10."):
        return
    if not (
        "__getattr__" in jg.JVMView.__dict__
        and "__getattr__" in jg.JavaClass.__dict__
        and callable(getattr(jg, "java_import", None))
    ):
        return
    jg._bio_reflection_cache_installed = True

    view_cache: dict = {}

    orig_view_getattr = jg.JVMView.__getattr__

    def cached_view_getattr(self, name):
        key = (id(self._gateway_client), self._id, name)
        hit = view_cache.get(key)
        if hit is not None:
            return hit
        result = orig_view_getattr(self, name)
        if isinstance(result, (jg.JavaClass, jg.JavaPackage)):
            view_cache[key] = result
        return result

    jg.JVMView.__getattr__ = cached_view_getattr

    orig_java_import = jg.java_import

    def invalidating_java_import(jvm_view, import_str):
        view_cache.clear()
        return orig_java_import(jvm_view, import_str)

    jg.java_import = invalidating_java_import
    # Modules that bound java_import by value before this patch (pyspark's
    # java_gateway / streaming modules) must see the invalidating wrapper too.
    for mod in list(sys.modules.values()):
        if mod is not None and getattr(mod, "java_import", None) is orig_java_import:
            mod.java_import = invalidating_java_import

    orig_class_getattr = jg.JavaClass.__getattr__

    def cached_class_getattr(self, name):
        cache = self.__dict__.get("_bio_member_cache")
        if cache is None:
            cache = self.__dict__["_bio_member_cache"] = {}
        hit = cache.get(name)
        if hit is not None:
            return hit
        result = orig_class_getattr(self, name)
        if isinstance(result, (jg.JavaMember, jg.JavaClass)):
            cache[name] = result
        return result

    jg.JavaClass.__getattr__ = cached_class_getattr


def get_or_create_session(
    app_name: str = "datafusion-bio-functions-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    At 100 TB these settings live in the cluster conf; here they make
    local[] behave like a small cluster (AQE coalescing, skew handling,
    Arrow-batched pandas UDFs).
    """
    cpus = default_parallelism()
    _install_py4j_reflection_cache()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing in parallelismFirst mode floors partitions at
        # minPartitionSize (default 1 MiB) — a byte proxy that serializes
        # compute-bound stages: a shuffle carrying <1 MiB/core of rows into
        # an Arrow/pandas kernel (pair-cosine rerank, consequence classify,
        # block GEMM) coalesces to ONE task no matter how expensive each
        # row is.  64 KiB keeps byte-based coalescing for I/O-bound stages
        # while letting small compute-heavy shuffles use the cores; at data
        # scale partitions are far above either floor so the knob is inert.
        # Measured (r11, sf0.1): UDF-heavy 8-query subset 18.5 -> 14.9 s
        # (semantic_dedup -1.3, minhash -0.7, lsh rerank rows -0.4 each);
        # 14 small scan-bound queries unchanged within noise.
        #
        # r12: the floor is BACK AT ITS 1 MiB DEFAULT.  The driver's round-11
        # scaling data showed the session-wide 64 KiB floor de-coalesced
        # every tiny JVM shuffle: 16 small queries regressed >10% and the
        # worst ran FASTER at 8 cores than at 32 (repetition_stats 0.35,
        # simhash 0.53, line_dedup 0.63 ...).  The serial-kernel hazard the
        # floor targeted is now fixed where it lives: explicit repartition
        # pins on the exchanges that feed per-row-expensive Python kernels
        # (vep classify, ivf cogroup, lsh rerank candidates, semantic_dedup
        # GEMM groups — user repartitions are exempt from AQE coalescing),
        # plus the _embeddings/_docs input spreads.  At 100 TB either floor
        # is inert (partitions far above both).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row default Arrow batches fragment grouped-UDF input into
        # dozens of chunks per group; 128k keeps per-batch memory modest
        # (wide binary columns ride mapInPandas readers, not this path)
        # while letting the numpy kernels see full groups
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 call-site capture for error context costs ~4 extra py4j
        # round-trips (conf.get + PySparkCurrentOrigin set/clear) per
        # DataFrame/Column API call; plan-heavy operators (annotate_vep:
        # ~6k API calls) spend multiple DRIVER seconds per build on it.
        # Production driver setting, scale-independent (guide §5: the
        # driver should do almost no work).  Measured (r11, warm build):
        # annotate_vep_typed 4.63 -> 1.95 s, nearest 1.25 -> 0.48 s.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The whole-stage-codegen class name embeds the codegen stage ID by
        # default; under AQE the ID depends on runtime stage-materialization
        # order, so re-running the same plan generates textually different
        # sources and the Janino compile cache never hits — measured 15-28
        # recompiles (~1.2 s serial driver wall) on EVERY warm annotate_vep
        # run, visible as a 1.3 s zero-task gap in the stage timeline.
        # Dropping the ID from the class name makes generated source
        # deterministic: 2 recompiles/run.  Debug-naming nicety only.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Deterministic sources only pay off if the compiled classes are
        # still cached on the next run.  Spark's codegen cache is a Guava LRU
        # of 100 entries (split into 4 segments of ~25, each evicting on its
        # own), and one perfbench `kernels` pass generates ~127 distinct
        # classes (depth 26, annotate_vep 70, exact_dedup 15, lsh 16), so
        # every pass evicted what the next one needed and recompiled them
        # all, plus the class loading and C2 JIT of Janino itself.  Working
        # set measured with CodegenMetrics on a never-evicting cache:
        # `kernels` 135 distinct classes, `ranges` 15, one bench.py sweep
        # at sf0.01 682 (2 more on a second sweep); 2000 leaves headroom for
        # all three in one JVM.  Measured on 4 vCPUs: compiles per warm
        # `kernels` pass 127 -> 2 (0.95 s -> 11 ms of compile time; the 2
        # are depth's alignment probe), perfbench `kernels` cpu_s_per_pass
        # median 20.5 -> 17.6 s over 10 interleaved pairs, driver Metaspace
        # after a run 161.4 -> 159.7 MB.  Static conf: it only takes effect
        # at launch.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # single-JVM local mode: UI/event bookkeeping across hundreds of tiny
        # jobs otherwise accumulates into multi-second driver GC pauses
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:MaxGCPauseMillis=500")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """Small driver-local DataFrame without the pickled-row scatter.

    ``createDataFrame(list, schema)`` parallelizes the pickled rows into
    ``defaultParallelism`` slices and every slice is deserialized by its
    own Python-worker task — ~0.2 s of fixed runner cost per task, ~7 s
    of CPU per call on a 32-core host for row sets that fit one Arrow
    batch (measured r11: 5-row chromsizes 0.38 s, 60 k-row union-find
    labels 0.50 s per materialization).  The Arrow path ships the rows
    as one record batch straight into the JVM: 0.05 s / 0.28 s for the
    same frames, zero Python-worker tasks.  Falls back to the classic
    path for empty input or types pandas cannot round-trip."""
    rows = list(rows)  # a generator would be spent by the probe below
    if rows:
        try:
            from pyspark.sql import types as T

            if isinstance(schema, T.StructType):
                st = schema
            else:
                st = T.StructType.fromDDL(str(schema))
            names = st.fieldNames()
            # pandas promotes a nullable int column to float64 (None->NaN),
            # silently corrupting longs above 2^53 (r11 ADVICE).  The
            # corruption needs BOTH a None and a >2^53 value in the same
            # int column — probe for that (O(rows) driver-side, and rows
            # here are already bounded by the collect guards) and route
            # only the risky frames through pyarrow.  The pandas route
            # stays the default: the pa.Table createDataFrame path was
            # measured ~+0.45 s per cluster_chunked run (its local data is
            # re-converted per execution), while the pandas one-batch path
            # is the r11-measured fast form.
            _int_t = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
            exact_needed = False
            for i, f in enumerate(st.fields):
                if not isinstance(f.dataType, _int_t):
                    continue
                col = [r[i] for r in rows]
                if any(v is None for v in col) and any(
                    v is not None and abs(v) > (1 << 53) for v in col
                ):
                    exact_needed = True
                    break
            if exact_needed:
                import pyarrow as pa
                from pyspark.sql.pandas.types import to_arrow_schema

                tbl = pa.Table.from_pylist(
                    [dict(zip(names, r)) for r in rows],
                    schema=to_arrow_schema(st),
                )
                return spark.createDataFrame(tbl, schema)
            import pandas as pd

            pdf = pd.DataFrame(rows, columns=names)
            return spark.createDataFrame(pdf, schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def create_bio_session(spark: SparkSession | None = None) -> SparkSession:
    """Register the bio SQL surface (scalar UDFs) on a session.

    Mirrors the reference's ``register_vep_functions`` which registers the
    5 scalar UDFs match_allele / match_allele_relaxed / vep_allele /
    vep_norm_start / vep_norm_end (bio-function-vep/src/lib.rs).
    """
    if spark is None:
        spark = get_or_create_session()
    from .functions.alleles import register_allele_udfs

    register_allele_udfs(spark)
    return spark
