"""Stream-static interval overlap join.

The reference has no streaming surface (every plan is
``Boundedness::Bounded`` — SURVEY.md §2.5); this is the Spark-native
extension for the continuously-ingesting case: a stream of intervals
(alignments landing from a sequencer, live variant calls) annotated
against a STATIC interval table (genes, regulatory features, targets).

Design — it IS the batch inner ``interval_join`` (
``operators/intervals.py``) with the static side as the build side.  Both
of its plans use only stateless operations, so they run under Structured
Streaming without watermarks or state stores:

* when the annotations pass the broadcast bounds (and no ``bin_width`` is
  given), they are collected once, when the query is built, into the
  shared CollectLeft index, and each micro-batch is one Arrow UDF call
  against that broadcast: no exchange, no join.  The annotations are read
  at build time only — rebuild the query after changing them;
* otherwise the batch binned join with the static side hinted for
  broadcast: the static side is binned and **broadcast** (stream-static
  join); the stream side bins via ``explode(sequence(...))`` — stateless,
  per-row; bin replication de-duplicates with the canonical-bin rule (keep
  a pair only in the bin where the intersection starts), so no
  ``distinct`` — a ``distinct`` would need a state store and an event-time
  watermark; stream rows longer than ``long_interval_factor * bin_width``
  route through a plain broadcast range join (stateless too), unioned in —
  the same explosion cap as the batch path.

At scale the static side is the small one (annotation tables are MBs
against TBs/day of stream); if the static side is too big to broadcast,
pre-partition the stream by contig and use ``forEachBatch`` with the
batch ``interval_join`` instead — that path shuffles, this one doesn't.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.intervals import (
    _auto_bin_width,
    _check_filter_op,
    _normalize,
    _overlap_collect_left,
    interval_join,
)


def streaming_overlap(
    stream: DataFrame,
    annotations: DataFrame,
    cols_left: Sequence[str] | None = None,
    cols_right: Sequence[str] | None = None,
    filter_op: str = "weak",
    bin_width: int | None = None,
    long_interval_factor: int | None = 64,
) -> DataFrame:
    """Inner overlap join of a STREAMING interval frame against a static
    annotation table; output columns are ``left_*`` (stream) and
    ``right_*`` (annotations) prefixed, matching the batch
    ``interval_join`` inner-join schema exactly.

    ``bin_width=None`` first tries the CollectLeft index of the static
    side (see the module docstring); when the annotations are over a
    broadcast bound it derives the bin width from the static side only (the
    stream cannot be sampled at plan time).  Pass ``bin_width`` explicitly
    for the binned plan, e.g. when the stream's interval widths differ
    wildly from the annotations'.
    """
    _check_filter_op(filter_op)
    if not stream.isStreaming:
        raise ValueError(
            "streaming_overlap expects a streaming left frame; "
            "use interval_join for batch inputs"
        )
    if annotations.isStreaming:
        raise ValueError(
            "the annotations side must be a static (batch) frame — "
            "stream-stream interval joins need watermarks; see interval_join"
        )
    if bin_width is None:
        left, lcols = _normalize(stream, cols_left)
        right, rcols = _normalize(annotations, cols_right)
        out = _overlap_collect_left(left, right, lcols, rcols, filter_op, long_interval_factor)
        if out is not None:
            return out
        # sample the STATIC side for the width heuristic (twice — the
        # helper expects two frames; the stream side is unprobeable)
        _, rs, re_ = rcols
        bin_width = _auto_bin_width(right, rs, re_, right, rs, re_)
    # the broadcast hint rides through the projections, filters and bin
    # explode to every join the binned plan builds
    return interval_join(
        stream, F.broadcast(annotations), cols_left, cols_right, filter_op,
        "inner", "binned", bin_width, long_interval_factor,
    )
