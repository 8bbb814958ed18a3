"""Structured Streaming variants of the engine's operators.

The reference has NO streaming component (all plans are
``Boundedness::Bounded`` — SURVEY.md §2.5); these are the Spark-native
extensions a continuously-ingesting pipeline needs.  They reuse the exact
batch expression trees, which is the point of declaring operators over
DataFrames: the same logical plan runs bounded or unbounded.

* ``streaming_depth_events``  — CIGAR→coverage-event generation on a stream
  of alignments (stateless; the running-sum/RLE step is a batch `foreachBatch`
  or windowed-aggregation concern downstream).
* ``streaming_event_counts``  — watermarked tumbling-window counts over the
  ``events`` table shape (ts, event_type, value).
* ``streaming_dedup``         — custom stateful operator
  (``applyInPandasWithState``): exact first-seen dedup across micro-batches,
  state sharded by fingerprint prefix so no single group's state grows with
  the whole corpus.
* ``streaming_event_join``    — watermarked stream-stream time-range join
  (the impression→click shape); the range predicate bounds the state store.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pileup import _cigar_segments_sql, _depth_events, _explode_segs


def streaming_depth_events(alignments: DataFrame, zero_based: bool = False) -> DataFrame:
    """Stateless stream stage: alignments → (contig, pos, delta) coverage
    events, ready for a windowed/stateful accumulation downstream."""
    start_1b = "start + 1" if zero_based else "start"
    # unmapped-shaped rows (null chrom/start) never produce events — the
    # batch twin's skip rule (reference events.rs test_null_chroms_skipped)
    alignments = alignments.filter(
        F.col("chrom").isNotNull() & F.col("start").isNotNull()
    )
    seg = alignments.withColumn("__segs", F.expr(_cigar_segments_sql(start_1b, "cigar")))
    return _depth_events(_explode_segs("chrom", seg))


def streaming_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event type — late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(type_col),
            "n",
            "value_sum",
        )
    )


def streaming_dedup(
    docs: DataFrame,
    fingerprint_col: str = "fingerprint",
    shards: int = 64,
) -> DataFrame:
    """Stateful streaming exact-dedup: emit only the FIRST row ever seen for
    each fingerprint, across micro-batches.

    A custom stateful operator (``applyInPandasWithState``), not a windowed
    aggregation: the "seen" set must live forever, so state is the point.
    Groups are ``hash(fingerprint) % shards`` — each group's state holds only
    its shard of fingerprints, so state is partitioned across executors and
    no group serializes the whole corpus.  At 100 TB, raise ``shards`` with
    the cluster (state scales per shard) and use a compact fingerprint
    (e.g. ``text.doc_fingerprint``) rather than raw text.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if shards < 1:
        raise ValueError("shards must be >= 1")
    if fingerprint_col not in docs.columns:
        raise ValueError(f"column {fingerprint_col!r} not found in input")

    out_schema = docs.schema
    cols = list(docs.columns)

    def dedup(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: "GroupState"
    ) -> Iterator["pd.DataFrame"]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            fresh_mask = []
            for fp in pdf[fingerprint_col]:
                new = fp not in seen
                fresh_mask.append(new)
                if new:
                    seen.add(fp)
            out = pdf[pd.Series(fresh_mask, index=pdf.index)]
            yield out[cols]
        state.update((list(seen),))

    sharded = docs.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(fingerprint_col)), F.lit(shards))
    )
    return (
        sharded.groupBy("__shard")
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType="seen array<string>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_event_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream event join — the impression→click shape a
    training-data pipeline runs continuously: each LEFT event joins RIGHT
    events with the same key whose timestamp lands in
    ``[left.ts, left.ts + max_delay]``.

    Spark-native state management: both sides are watermarked, and the
    time-RANGE predicate in the join condition is what lets the state
    store evict rows once the watermark passes ``max_delay`` — an
    unbounded equi-join would accumulate state forever, which is why the
    genomic stream-static overlap join (``overlap_stream``) broadcasts
    its static side instead.  ``how='left_outer'`` emits unmatched left
    events (with NULL right columns) after their join window closes.

    Output: every left column prefixed ``l_``, every right column
    prefixed ``r_`` (both sides keep their key and timestamp so delay
    analysis stays expressible downstream).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    if not left.isStreaming or not right.isStreaming:
        raise ValueError(
            "streaming_event_join expects two STREAMING frames; use a plain "
            "join (with broadcast) when one side is static"
        )
    l = left.withWatermark(ts_col, watermark)
    r = right.withWatermark(ts_col, watermark)
    for c in l.columns:
        l = l.withColumnRenamed(c, f"l_{c}")
    for c in r.columns:
        r = r.withColumnRenamed(c, f"r_{c}")
    cond = (
        (F.col(f"l_{key_col}") == F.col(f"r_{key_col}"))
        & (F.col(f"r_{ts_col}") >= F.col(f"l_{ts_col}"))
        & (F.col(f"r_{ts_col}") <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how)
