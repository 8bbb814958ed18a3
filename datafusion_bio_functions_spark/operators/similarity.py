"""Approximate & exact nearest-neighbor search over embedding columns.

* ``cosine_topk``      — exact brute-force top-k: query × corpus join with a
  JVM-side ``zip_with``/``aggregate`` dot product (double precision, strict
  left-to-right summation so the DuckDB oracle reproduces values exactly)
  + window rank.  The baseline and the oracle path.
* ``lsh_cosine_topk``  — random-hyperplane LSH: sign-bit buckets with
  multiprobe (Hamming-1 neighbors), exact rerank of the candidates.  A
  query side within the broadcast bounds becomes a broadcast probe index
  that the corpus streams past in one pass; a larger one cogroups with the
  corpus on (table, bucket).
* ``cosine_near_dup_pairs`` — embedding near-duplicate pairs above a cosine
  threshold (LSH-bucketed self-join).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._probe_memo import ProbeMemo, plan_key


def dot(a: Column, b: Column) -> Column:
    """Strict sequential double dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: an all-zero vector has no defined cosine — NULL (dropped
    # by every threshold/rank consumer) instead of an ANSI-mode error
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _stack_vectors(s: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from a pandas Series of fixed-length vectors
    (grouped-map path: the group frame is a row-filtered batch slice, so the
    per-row ndarray views are not contiguous and a copy is unavoidable).
    Pure conversion — bit-identical values; every summation-order contract
    lives in the kernels themselves."""
    if len(s) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.vstack(s.to_numpy()).astype(np.float64, copy=False)


#: per-session memo of semantic_dedup's auto-knob count probe (same
#: semantic-plan + file-listing keying as the interval guards)
_SEM_COUNT_MEMO = ProbeMemo()

#: Per-worker grow-only scratch buffers for the hot-path batch kernels.
#: Fresh large allocations are pathologically expensive in sandboxed hosts
#: (measured r11 on this Firecracker sandbox: ~40 µs per faulted page — a
#: 51 MB ``astype`` allocation costs ~0.5 s, ``np.copyto`` into a warm
#: buffer 18 ms), and glibc returns big blocks to the kernel on free, so
#: per-batch temporaries re-fault every batch.  Python UDF workers are
#: single-threaded and reused across batches (spark.python.worker.reuse
#: default), so one keyed slot per argument position is race-free; slots
#: are slab-sized (``_KERNEL_SLAB`` rows), not batch-sized, so the one-time
#: fault cost is a few MB per worker.
_POOL: dict[str, np.ndarray] = {}

#: Rows per inner kernel slab: pooled scratch stays L2/L3-resident (and
#: page-fault-warm) no matter how large the Arrow batch is.  Row-wise
#: kernels are row-independent, so slabbing cannot change any per-row
#: summation order.
_KERNEL_SLAB = 8192


def _pooled(key: str, size: int) -> np.ndarray:
    buf = _POOL.get(key)
    if buf is None or buf.size < size:
        buf = np.empty(size, dtype=np.float64)
        _POOL[key] = buf
    return buf[:size]


def _list_matrix(arr: "pa.Array") -> np.ndarray:
    """(n, dim) matrix view of an Arrow ``list<float|double>`` column in its
    NATIVE dtype, zero-copy: the list array's flat values buffer is viewed
    and reshaped (measured r11: the pandas Series route costs ~13 µs/row of
    per-element unboxing — ~1.3 s per 100 k×64 batch, the dominant cost of
    every rerank/bucket/assign stage — vs ~0.05 ms for this view).  Falls
    back to a float64 per-row copy for ragged/nullable layouts.  Callers
    must treat the result as READ-ONLY, and kernels that need double math
    over a float32 view widen per-column with ``dtype=np.float64`` ufuncs —
    the identical exact per-element upcast the JVM expression path applies
    via ``cast("double")``."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    if arr.null_count == 0 and pa.types.is_list(arr.type):
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset : arr.offset + n + 1
        ]
        d = int(offs[1] - offs[0]) if n else 0
        if d > 0 and (np.diff(offs) == d).all():
            vals = arr.values
            if vals.null_count == 0:
                if pa.types.is_float64(vals.type):
                    np_type = np.float64
                elif pa.types.is_float32(vals.type):
                    np_type = np.float32
                else:
                    np_type = None
                if np_type is not None:
                    flat = np.frombuffer(vals.buffers()[1], dtype=np_type)
                    lo = vals.offset + int(offs[0])
                    return flat[lo : lo + n * d].reshape(n, d)
    return np.array(arr.to_pylist(), dtype=np.float64)


def _int_matrix_to_lists(ids: np.ndarray) -> "pa.ListArray":
    """Arrow ``list`` column from an (n, m) integer matrix — one C-level
    reshape instead of materializing n Python lists."""
    n, m = ids.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
        pa.array(ids.reshape(-1)),
    )


def _pair_cosine_kernel():
    """Arrow-native pair cosine that is bit-identical to
    ``dot(a,b)/(l2_norm(a)*l2_norm(b))``: the per-row folds run as
    column-sweeps of sequential double adds — the same IEEE operation
    order as the JVM ``aggregate`` expression, so oracle value-hashes are
    unchanged while the 64-deep interpreted expression tree (the bench
    hotspot at sf1) becomes ~10 numpy ops per batch.  ``arrow_udf`` keeps
    both directions of the Python boundary zero-copy (guide §4): the list
    inputs arrive as one flat buffer (``_list_matrix``) and the double
    result leaves as one buffer."""
    from pyspark.sql import types as T

    @F.arrow_udf(T.DoubleType())
    def pair_cos(qv: pa.Array, cv: pa.Array) -> pa.Array:
        x = _list_matrix(qv)
        y = _list_matrix(cv)
        n, d = x.shape
        res = np.empty(n, dtype=np.float64)
        slab = _KERNEL_SLAB
        acc = _pooled("pc_acc", slab)
        qn = _pooled("pc_qn", slab)
        cn = _pooled("pc_cn", slab)
        tmp = _pooled("pc_tmp", slab)
        for i0 in range(0, n, slab):
            xs = x[i0 : i0 + slab]
            ys = y[i0 : i0 + slab]
            m = xs.shape[0]
            a, q, c, t = acc[:m], qn[:m], cn[:m], tmp[:m]
            a[:] = 0.0
            q[:] = 0.0
            c[:] = 0.0
            for j in range(d):  # strict left-to-right summation per row
                np.multiply(xs[:, j], ys[:, j], out=t, dtype=np.float64)
                a += t
                np.multiply(xs[:, j], xs[:, j], out=t, dtype=np.float64)
                q += t
                np.multiply(ys[:, j], ys[:, j], out=t, dtype=np.float64)
                c += t
            res[i0 : i0 + m] = a / (np.sqrt(q) * np.sqrt(c))
        return pa.array(res, type=pa.float64())

    return pair_cos


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: output (query_id, neighbor_id, cosine_sim, rank).

    Brute force O(|Q|·|C|) — the correctness baseline; Catalyst broadcasts
    the smaller side.  Ties broken by neighbor id ascending; self-matches
    (same id) excluded.  ``cosine_sim`` is the raw double — the strict
    left-to-right summation makes it bit-reproducible by the SQL oracle.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).filter(F.col("__qv").isNotNull())
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cv")
    ).filter(F.col("__cv").isNotNull())
    sim = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__sim", _pair_cosine_kernel()(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("__sim").alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i = 1 iff dot(vec, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(x) for x in p]))
        bucket = bucket.bitwiseOR(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    return bucket


def _lsh_planes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """The (n_tables * n_planes, dim) hyperplane matrix, table-major: row
    ``t * n_planes + i`` is plane ``i`` of table ``t``."""
    return np.array(
        [p for t in range(n_tables) for p in _hyperplanes(dim, n_planes, seed + 1000 * t)],
        dtype=np.float64,
    )


def _lsh_bucket_ids(x: np.ndarray, mat: np.ndarray, n_tables: int) -> np.ndarray:
    """(n, n_tables) int64 sign-bit bucket ids of the rows of ``x`` against
    the ``_lsh_planes`` matrix ``mat``.  The plane dots use the same strict
    left-to-right summation as ``_bucket_expr``, so every sign decision (and
    therefore every bucket id) is identical to the JVM expression path —
    only ~dim column sweeps per slab instead of an interpreted expression
    per (row, plane).  Raises ValueError when the vectors are not ``dim``
    long: fewer coordinates cannot be hashed, more would be ignored."""
    n, d = x.shape
    tp, dim = mat.shape
    n_planes = tp // n_tables
    ids = np.zeros((n, n_tables), dtype=np.int64)
    if n == 0:
        return ids
    if d != dim:
        raise ValueError(f"lsh_cosine_topk: the vectors have length {d}, but dim={dim}")
    # j-major accumulation: acc[row, p] receives x[row, j] * mat[p, j]
    # in the SAME left-to-right j order as the per-plane loop (one
    # float64 multiply + add per (row, plane, j), identical IEEE
    # sequence per accumulator — sign-exact vs the JVM expression),
    # but with n_tables*n_planes fewer interpreter rounds
    slab = _KERNEL_SLAB
    acc = _pooled("bk_acc", slab * tp)
    tmp = _pooled("bk_tmp", slab * tp)
    for i0 in range(0, n, slab):
        xs = x[i0 : i0 + slab]
        m = xs.shape[0]
        a = acc[: m * tp].reshape(m, tp)
        t_ = tmp[: m * tp].reshape(m, tp)
        a[:] = 0.0
        for j in range(d):  # strict order — sign-exact
            np.multiply(xs[:, j : j + 1], mat[:, j], out=t_, dtype=np.float64)
            a += t_
        bits = a > 0
        out = ids[i0 : i0 + m]
        for t in range(n_tables):
            for i in range(n_planes):
                out[:, t] |= bits[:, t * n_planes + i].astype(np.int64) << i
    return ids


def _column_norms(xt: np.ndarray) -> np.ndarray:
    """Euclidean norms of the columns of the (dim, n) matrix ``xt``: one
    ascending-coordinate float64 sweep, the per-element operation order of
    ``_ivf_list_search_kernel`` and ``_pair_cosine_kernel``."""
    acc = np.zeros(xt.shape[1], dtype=np.float64)
    for row in xt:
        acc += row * row
    return np.sqrt(acc)


#: memoized broadcast LSH query indexes, keyed (plan+files, row guard,
#: hashing parameters); small bound, since an entry holds up to
#: ``BROADCAST_GUARD_ROWS`` query vectors
_LSH_INDEX_MEMO = ProbeMemo()

#: candidate (query, corpus) pairs one step of the broadcast LSH search
#: scores at once: a worker's scratch stays ~1 MB per array however many
#: queries probe a bucket and however full the bucket is
_LSH_PAIR_BUDGET = 1 << 17


def _id_values(ids: "pa.Array") -> np.ndarray:
    """The ids as compared for the self-match filter: integers widened to
    int64, so a query and a corpus id column of different integer widths
    compare by value, as Spark's ``!=`` does."""
    if pa.types.is_integer(ids.type):
        ids = pc.cast(ids, pa.int64())
    return ids.to_numpy(zero_copy_only=False)


def _lsh_query_index(q0: DataFrame, mat: np.ndarray, n_tables: int, flips: np.ndarray, key):
    """The broadcast LSH query index of ``q0`` = (query_id, __qv), or None
    when ``q0`` is over a broadcast bound.  Spark's own broadcast rule
    gates first (the size estimate within ``autoBroadcastJoinThreshold``,
    no job); then one ``limit(BROADCAST_GUARD_ROWS + 1)`` collect both
    decides and collects — row order is irrelevant, every query is
    answered alone.  The index is ``(ids, distinct ids, id codes, Q^T,
    norms, keys, rows)``: the non-NULL query ids, their distinct values
    and each one's position among those (the self-match key), the (dim, n)
    float64 query matrix and its norms, and per table the sorted probe
    buckets (``b0 ^ flip`` for each of ``flips``) with the query row of
    each.  Memoized per (plan+files, guard, ``key``)."""
    from . import intervals

    if q0.isStreaming:
        return None
    conf = q0.sparkSession._jsparkSession.sessionState().conf()
    if not 0 <= intervals._plan_bytes(q0) <= conf.autoBroadcastJoinThreshold():
        return None

    guard = intervals.BROADCAST_GUARD_ROWS

    def build():
        tbl = q0.limit(guard + 1).toArrow()
        if tbl.num_rows > guard:
            return None
        tbl = tbl.filter(pc.is_valid(tbl.column("query_id")))  # NULL ids match nothing
        qid = tbl.column("query_id").combine_chunks()
        x = np.asarray(_list_matrix(tbl.column("__qv")), dtype=np.float64)
        b = _lsh_bucket_ids(x, mat, n_tables)  # raises on a dim mismatch
        codes, distinct = pd.factorize(_id_values(qid), use_na_sentinel=False)
        qt = np.ascontiguousarray(x.T)
        probes = (b[:, :, None] ^ flips).transpose(1, 0, 2).reshape(n_tables, -1)
        order = np.argsort(probes, axis=1, kind="stable")
        keys = np.take_along_axis(probes, order, axis=1)
        rows = order // len(flips)  # flat position qrow * len(flips) + flip
        index = (qid, distinct, codes, qt, _column_norms(qt), keys, rows)
        return q0.sparkSession.sparkContext.broadcast(index)

    return _LSH_INDEX_MEMO.get_or_probe(lambda: (plan_key(q0), guard, key), build, bound=4)


def _lsh_search_kernel(bidx, mat: np.ndarray, n_tables: int, k: int):
    """``mapInArrow`` body of the broadcast LSH path: each corpus slab of
    (neighbor_id, __cv) rows is hashed with ``_lsh_bucket_ids``, its
    candidate (query, corpus) pairs are found by a per-table searchsorted
    into the index's probe buckets, and each query's slab-local top-``k``
    rows (query_id, neighbor_id, __sim) are yielded.

    Candidates are walked in steps of at most ``_LSH_PAIR_BUDGET`` pairs,
    each deduplicated across tables, stripped of self matches and scored
    on its own — never a dense queries × corpus product.  Similarities are
    the float64 ascending-coordinate sweeps of ``_ivf_list_search_kernel``
    (bit-identical to it and to the JVM expression); selection is its
    order too: NaN greatest, then descending similarity, then ascending
    id, over each query's best pair per corpus id.  No id ranks higher in
    a step than over the query's whole candidate set, so a step's local
    top-k holds every global top-k row whose best pair it scores, and the
    caller's per-(query_id, neighbor_id) ``max`` merges what two steps
    (or two query rows with one id) both emit."""
    kk = max(k, 1)

    def search(batches):
        qid, distinct, qcode, qt, qnorm, keys, rows = bidx.value
        nq = qt.shape[1]
        if nq == 0:
            return
        flat_rows = rows.ravel()
        table_base = np.arange(n_tables, dtype=np.int64) * keys.shape[1]
        id_index = pd.Index(distinct)  # hashed once per task, not per slab
        for batch in batches:
            nid_all = batch.column(0)
            c_all = _list_matrix(batch.column(1))
            for s0 in range(0, batch.num_rows, _KERNEL_SLAB):
                x = c_all[s0 : s0 + _KERNEL_SLAB]
                m = x.shape[0]
                nid = nid_all.slice(s0, m)
                b = _lsh_bucket_ids(x, mat, n_tables)
                lo = np.empty((m, n_tables), dtype=np.int64)
                cnt = np.empty((m, n_tables), dtype=np.int64)
                for t in range(n_tables):
                    lo[:, t] = np.searchsorted(keys[t], b[:, t], "left")
                    cnt[:, t] = np.searchsorted(keys[t], b[:, t], "right") - lo[:, t]
                # one segment per (corpus row, table): its run of probing
                # query rows in the flattened per-table index
                seg_start = (lo + table_base).ravel()
                seg_end = np.cumsum(cnt.ravel())
                total = int(seg_end[-1])
                if total == 0:
                    continue
                seg_first = seg_end - cnt.ravel()
                ct = np.empty((x.shape[1], m), dtype=np.float64)
                np.copyto(ct, x.T)  # exact float32 -> float64 upcast
                cnorm = _column_norms(ct)
                nvals = _id_values(nid)
                ccode = id_index.get_indexer(nvals)  # -1: not a query id
                if pa.types.is_integer(nid.type):
                    corder = nvals
                else:
                    corder = pc.rank(nid, tiebreaker="dense").to_numpy(zero_copy_only=False)
                for p0 in range(0, total, _LSH_PAIR_BUDGET):
                    p = np.arange(p0, min(p0 + _LSH_PAIR_BUDGET, total), dtype=np.int64)
                    seg = np.searchsorted(seg_end, p, "right")
                    qrow = flat_rows[seg_start[seg] + p - seg_first[seg]]
                    crow, qrow = np.divmod(np.unique(seg // n_tables * nq + qrow), nq)
                    keep = qcode[qrow] != ccode[crow]
                    crow, qrow = crow[keep], qrow[keep]
                    if len(crow) == 0:
                        continue
                    acc = np.zeros(len(crow), dtype=np.float64)
                    for j in range(ct.shape[0]):  # strict left-to-right sums
                        acc += qt[j].take(qrow) * ct[j].take(crow)
                    sims = acc / (qnorm[qrow] * cnorm[crow])
                    desc = -np.where(np.isnan(sims), np.inf, sims)  # NaN first
                    cid = corder[crow]
                    # each query's best pair per corpus id, then its top k
                    best = np.lexsort((desc, cid, qrow))
                    new_id = np.ones(len(best), dtype=bool)
                    new_id[1:] = (np.diff(qrow[best]) != 0) | (np.diff(cid[best]) != 0)
                    best = best[new_id]
                    order = best[np.lexsort((cid[best], desc[best], qrow[best]))]
                    qs = qrow[order]
                    rank = np.arange(len(qs)) - np.searchsorted(qs, qs, "left")
                    sel = order[rank < kk]
                    yield pa.RecordBatch.from_arrays(
                        [
                            qid.take(pa.array(qrow[sel])),
                            nid.take(pa.array(crow[sel])),
                            pa.array(sims[sel], type=pa.float64()),
                        ],
                        names=["query_id", "neighbor_id", "__sim"],
                    )

    return search


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    multiprobe: bool = True,
    seed: int = 7,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-hyperplane tables
    of ``n_planes`` sign bits each; a corpus vector is a candidate of a
    query when they share a (table, bucket) — queries additionally probe
    all Hamming-1 buckets per table when ``multiprobe`` — then exact cosine
    rerank over the unioned candidates.  The tests hold the candidate-pair
    join formulation, which produces identical rows.

    Recall ≈ 1-(1-p^k)^L for per-plane agreement p = 1-θ/π; tune
    (n_planes, n_tables) to the similarity regime.  The exact
    ``cosine_topk`` is the oracle.

    At scale: a query side within the broadcast bounds (its size estimate
    within ``spark.sql.autoBroadcastJoinThreshold``, its row count within
    ``BROADCAST_GUARD_ROWS``) is collected once into a broadcast probe
    index and the corpus streams past it in one ``mapInArrow`` — no
    corpus replication, one shuffle (on ``query_id``, for the merge and
    the rank), and a worker's memory bounded by a fixed pair budget
    however hot a bucket runs.  A larger query side takes the cogroup
    path: the corpus is written ``n_tables`` times (bounded, explicit),
    shuffled once on the (table, bucket) key, and each probed bucket is
    reranked in one Arrow task.  Both paths give the same rows.  A corpus
    id carried by several vectors scores its most similar one.  Vectors
    whose length is not ``dim`` raise ValueError.
    """
    from pyspark.sql import types as T

    mat = _lsh_planes(dim, n_planes, n_tables, seed)
    flips = np.array([0] + ([1 << i for i in range(n_planes)] if multiprobe else []))

    c0 = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cv")
    ).filter(F.col("__cv").isNotNull())
    q0 = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).filter(F.col("__qv").isNotNull())
    qtype, ctype = q0.schema["query_id"].dataType, c0.schema["neighbor_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qtype, True),
            T.StructField("neighbor_id", ctype, True),
            T.StructField("__sim", T.DoubleType(), True),
        ]
    )
    bidx = None
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if qtype == ctype or (isinstance(qtype, integral) and isinstance(ctype, integral)):
        bidx = _lsh_query_index(
            q0, mat, n_tables, flips, (dim, n_planes, n_tables, multiprobe, seed)
        )
    if bidx is not None:
        # the query_id partitioning serves both the merge below and the
        # window: one Exchange (each slab emits a pair at most once, so a
        # map-side partial merge would save nothing)
        sim = (
            c0.filter(F.col("neighbor_id").isNotNull())
            .mapInArrow(_lsh_search_kernel(bidx, mat, n_tables, k), out_schema)
            .repartition("query_id")
        )
    else:
        sim = _lsh_cogroup(q0, c0, mat, n_tables, n_planes, multiprobe, k, out_schema)
    # a neighbor found through several tables (or steps) scores the same
    # bit-identical similarity each time; an id carried by several vectors
    # scores its best one
    sim = sim.groupBy("query_id", "neighbor_id").agg(F.max("__sim").alias("__sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("__sim").alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _lsh_cogroup(q0, c0, mat, n_tables, n_planes, multiprobe, k, out_schema) -> DataFrame:
    """The over-guard LSH candidate search: (query_id, neighbor_id, __sim)
    rows from a cogroup on (table, bucket)."""
    from pyspark.sql import types as T

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def buckets(v: pa.Array) -> pa.Array:
        return _int_matrix_to_lists(_lsh_bucket_ids(_list_matrix(v), mat, n_tables))

    c = c0.select(
        "neighbor_id", "__cv", F.posexplode(buckets(F.col("__cv"))).alias("table", "bucket")
    )
    qb = q0.select(
        "query_id", "__qv", F.posexplode(buckets(F.col("__qv"))).alias("table", "__b0")
    )
    probes = [F.col("__b0")]
    if multiprobe:
        probes.extend(F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes))
    qp = qb.select(
        "query_id", "__qv", "table", F.explode(F.array(*probes)).alias("bucket")
    )
    # r12: cogrouped per-(table, bucket) GEMM rerank — the ivf_cosine_topk
    # recipe (guide §8/§4) applied to the LSH bucket join, for query sides
    # too large to broadcast.  One Arrow task per probed bucket computes
    # every probing query's similarities against the bucket's corpus slice
    # plus a bucket-local top-k; a candidate seen in several tables/probes
    # is merged AFTER the kernel on its (bit-identical) similarity.  Each
    # corpus vector crosses the Python boundary once per (table, bucket)
    # membership (n_tables replicas, bounded and explicit), and a whole
    # bucket plus its probing queries sits in one worker's memory: a hot
    # bucket is this path's memory risk.  Correctness: the kernel's local
    # top-k provably contains every global top-k row (a bucket's candidate
    # set is a subset of the query's candidate union, so global winners
    # rank at least as high locally; an id with several rows in a bucket
    # competes with its best one only, so its copies take one of the k
    # slots, as they end as one row after the merge); similarities are
    # bit-identical float64 column sweeps (same contract as
    # _pair_cosine_kernel, pinned by the cogroup≡join differential test),
    # so the max() merge is exact.
    # The explicit repartitions pin the cogroup exchanges (user
    # repartitions are exempt from AQE byte-coalescing, which folded this
    # sub-MB shuffle to one serial task at bench scale) and satisfy the
    # cogroup's clustering requirement, so no extra exchange is added.
    p = q0.sparkSession.sparkContext.defaultParallelism
    qk = qp.repartition(p, "table", "bucket")
    ck = c.repartition(p, "table", "bucket")
    return (
        qk.groupBy("table", "bucket")
        .cogroup(ck.groupBy("table", "bucket"))
        .applyInArrow(_ivf_list_search_kernel(k, best_per_id=True), schema=out_schema)
    )


def lsh_recall_at_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    recall_floor: float = 0.9,
    **lsh_params,
) -> DataFrame:
    """Measured recall@k of the production-parameter LSH path against the
    exact brute-force top-k, as a one-row summary:
    ``(k, n_queries, recall_ok)`` with ``recall_ok = recall >= recall_floor``.

    This is the value-checkable contract for an approximate operator: the
    output of ``lsh_cosine_topk`` at production parameters is not
    SQL-reproducible (bucket membership depends on the hyperplane draws),
    but the *quality claim* — recall against the exact oracle — is a
    deterministic boolean under fixed seeds and is asserted by the gate.
    """
    exact = cosine_topk(queries, corpus, k=k).select("query_id", "neighbor_id")
    approx = lsh_cosine_topk(queries, corpus, k=k, **lsh_params).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    n_exact = exact.agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("query_id").alias("__q"),
    )
    n_hits = hits.agg(F.count(F.lit(1)).alias("__h"))
    return n_exact.crossJoin(n_hits).select(
        F.lit(k).cast("long").alias("k"),
        F.col("__q").cast("long").alias("n_queries"),
        (F.col("__h") / F.col("__n") >= F.lit(float(recall_floor))).alias("recall_ok"),
    )


def cosine_near_dup_exact(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "arrow",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: all (id_a < id_b) pairs with
    cosine ≥ threshold.  O(n²) work — the correctness baseline and
    DuckDB-oracle path for ``cosine_near_dup_pairs`` (the LSH variant is
    the scale path).  ``cosine_sim`` is rounded to 6 decimals and the
    threshold is applied to the rounded value, so the value is reproducible
    across engines regardless of float summation order.

    ``method='arrow'`` (default): block-pair GEMM.  Rows are hashed into
    ``n_blocks`` blocks; each vector is replicated once per block into the
    unordered block-pair groups it participates in, and each group computes
    its (block_a × block_b) cosine matrix as one float64 numpy matmul inside
    ``applyInPandas``.  Work per group is |block|²·dim flops; total shuffle
    is n·n_blocks rows — at scale pick ``n_blocks ∝ √(n / rows_per_task)``
    so groups stay executor-sized while the O(n²) flops spread evenly.
    ~5× faster than the interpreted expression path at sf0.1.

    ``method='sql'``: the all-JVM expression formulation (strict sequential
    summation; one crossJoin, Catalyst broadcasts the smaller side)."""
    if method == "sql":
        df = df.filter(F.col(vec_col).isNotNull())
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")).withColumn(
            "__na", l2_norm(F.col("__va"))
        )
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")).withColumn(
            "__nb", l2_norm(F.col("__vb"))
        )
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine_sim",
                F.round(
                    F.try_divide(
                        dot(F.col("__va"), F.col("__vb")),
                        F.col("__na") * F.col("__nb"),
                    ),
                    6,
                ),
            )
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )
    if method != "arrow":
        raise ValueError(f"method must be 'arrow' or 'sql', got {method!r}")

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    return _blocked_near_dup_pairs(v, float(threshold), n_blocks)


# rows per side of one inner matmul slab inside the block-pair GEMM task;
# the per-slab cosine matrix is at most _GEMM_SLAB² float64 (~128 MB), so
# peak task memory stays bounded no matter how wide a block grows (skewed
# clusters, corpora past the n_clusters auto cap).  Module-level so tests
# can shrink it and pin slabbed == unslabbed output.
_GEMM_SLAB = 4096

# target rows per (scope-local) block for the auto n_blocks derivation:
# flops per GEMM task stay ≤ ~target² · dim while shuffle volume grows
# only linearly (n · n_blocks replicas).
_BLOCK_TARGET_ROWS = 8192


def _auto_n_blocks(n_rows: int, n_clusters: int) -> int:
    """Blocks needed so the AVERAGE scope (cluster) splits into blocks of
    ≤ ``_BLOCK_TARGET_ROWS`` rows.  Skewed clusters can exceed the average;
    the ``_GEMM_SLAB`` loop inside the task is the hard memory bound —
    this knob only spreads the O(width²) flops across executor tasks."""
    width = n_rows / max(1, n_clusters)
    return max(1, math.ceil(width / _BLOCK_TARGET_ROWS))


def _blocked_near_dup_pairs(
    v: DataFrame, threshold: float, n_blocks: int, scope_col: str | None = None
) -> DataFrame:
    """Block-pair GEMM near-duplicate pairs over ``v`` = (id, __v[, scope]):
    rows are hashed into ``n_blocks`` blocks; each vector is replicated once
    per unordered block pair it participates in, and each (block_a, block_b)
    group computes its cosine matrix as one float64 numpy matmul inside
    ``applyInPandas``.  With ``scope_col`` set, the block-pair groups are
    additionally keyed by that column, so only same-scope pairs are emitted
    (the within-cluster restriction SemDedup is built on).  Cosine is
    rounded to 6 decimals BEFORE thresholding, so the value is reproducible
    across engines regardless of float summation order.  NULL vectors have
    no cosine against anything and are dropped here (the GEMM would crash
    on a ragged batch); an all-zero vector yields NaN cosines, which the
    threshold mask drops silently."""
    v = v.filter(F.col("__v").isNotNull()).withColumn(
        "__blk", F.pmod(F.hash(F.col("id")), F.lit(n_blocks))
    )
    # one replica per unordered block pair the row participates in; a vector
    # pair (block i, block j) meets in exactly the (min,max) group
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("__blk"), F.lit(o)).alias("bi"),
                F.greatest(F.col("__blk"), F.lit(o)).alias("bj"),
            )
            for o in range(n_blocks)
        ]
    )
    keep = ["id", "__v", "__blk"] + ([scope_col] if scope_col else [])
    if n_blocks == 1:
        # single-block shortcut (small corpora / narrow clusters): every
        # row already meets every other in the (0,0) group — skip the
        # replication explode entirely.  The GEMM task and its slab loop
        # are identical, so the result is byte-equal to the general path.
        rep = v.select(*keep, F.lit(0).alias("bi"), F.lit(0).alias("bj"))
    else:
        rep = v.select(*keep, F.explode(pair_structs).alias("__p")).select(
            *keep, F.col("__p.bi").alias("bi"), F.col("__p.bj").alias("bj")
        )

    thr = float(threshold)

    def gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key[-2], key[-1]
        a_rows = pdf[pdf["__blk"] == bi]
        b_rows = pdf[pdf["__blk"] == bj]
        if a_rows.empty or b_rows.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
            )
        ma = _stack_vectors(a_rows["__v"])
        mb = _stack_vectors(b_rows["__v"])
        ids_a = a_rows["id"].to_numpy()
        ids_b = b_rows["id"].to_numpy()
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        # slab both sides: each inner matmul materializes at most a
        # _GEMM_SLAB × _GEMM_SLAB cosine matrix, so peak task memory is
        # bounded even when a skewed block is far wider than the target
        slab = _GEMM_SLAB
        outs: list[pd.DataFrame] = []
        for i0 in range(0, len(ids_a), slab):
            ma_s, na_s = ma[i0 : i0 + slab], na[i0 : i0 + slab]
            ia_s = ids_a[i0 : i0 + slab]
            for j0 in range(0, len(ids_b), slab):
                mb_s, nb_s = mb[j0 : j0 + slab], nb[j0 : j0 + slab]
                ib_s = ids_b[j0 : j0 + slab]
                cos = np.round((ma_s @ mb_s.T) / np.outer(na_s, nb_s), 6)
                mask = cos >= thr
                if bi == bj:
                    # same block on both sides: strict upper triangle by id
                    # (holds per slab — the mask is elementwise on ids)
                    mask &= ia_s[:, None] < ib_s[None, :]
                    ia, ib = np.nonzero(mask)
                    lo, hi = ia_s[ia], ib_s[ib]
                else:
                    # disjoint blocks: every unordered pair appears exactly
                    # once, arbitrary id orientation — normalize to lo<hi
                    ia, ib = np.nonzero(mask)
                    la, lb = ia_s[ia], ib_s[ib]
                    lo, hi = np.minimum(la, lb), np.maximum(la, lb)
                if len(ia):
                    outs.append(
                        pd.DataFrame(
                            {"id_a": lo, "id_b": hi, "cosine_sim": cos[ia, ib]}
                        )
                    )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
            )
        return pd.concat(outs, ignore_index=True)

    group_cols = ([scope_col] if scope_col else []) + ["bi", "bj"]
    return rep.groupBy(*group_cols).applyInPandas(
        gemm, schema="id_a long, id_b long, cosine_sim double"
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via LSH-bucketed
    self-join + exact verification.  Multiprobes Hamming-1 buckets so pairs
    split by a single sign flip are still found; output (id_a, id_b,
    cosine_sim), id_a < id_b."""
    planes = _hyperplanes(dim, n_planes, seed)
    v = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .withColumn("__b0", _bucket_expr(F.col("__v"), planes))
    )
    probes = F.array(
        F.col("__b0"), *[F.col("__b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    l = v.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"), F.explode(probes).alias("bucket"))
    r = v.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__b0").alias("bucket"))
    pairs = (
        l.join(r, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.first("__va").alias("__va"), F.first("__vb").alias("__vb"))
        .withColumn("cosine_sim", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine_sim") >= threshold)
    )
    return pairs.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 7,
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids with Lloyd's k-means on a
    bounded, deterministic sample (sorted sample → same centroids on every
    run).  The sample collect is O(sample_size · dim) — independent of
    corpus size — which is the standard IVF training protocol; assignment
    and search stay fully distributed."""
    import numpy as np

    # Arrow-path driver fetch: same bounded sample, same row order as
    # .collect(), but no per-row py4j Row materialization (measured r11:
    # ~0.4 s saved per training call at the 10k default)
    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .limit(sample_size)
        .toArrow()
    )
    # float64 training matrix, exactly as the py4j Row path produced
    x = np.asarray(_list_matrix(sample.column("v")), dtype=np.float64)
    if len(x) < n_centroids:
        raise ValueError(f"need >= {n_centroids} sample vectors, got {len(x)}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), n_centroids, replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            m = x[assign == c]
            if len(m):
                v = m.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent.tolist()


def _centroid_assign_kernel(cent: "np.ndarray", n: int):
    """Arrow-batched top-``n`` nearest-centroid assignment: one float64
    matmul of each batch against the (broadcast-closure) centroid matrix.
    Shared by the IVF search path and ``semantic_dedup``."""
    from pyspark.sql import types as T

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def assign(v: pa.Array) -> pa.Array:
        xv = _list_matrix(v)
        rows, d = xv.shape
        if rows == 0:
            return pa.array([], type=pa.list_(pa.int32()))
        top = np.empty((rows, min(n, len(cent))), dtype=np.int32)
        slab = _KERNEL_SLAB
        xbuf = _pooled("as_x", slab * d)
        for i0 in range(0, rows, slab):
            m = min(slab, rows - i0)
            x = xbuf[: m * d].reshape(m, d)
            np.copyto(x, xv[i0 : i0 + m])  # exact float32→float64 upcast
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = x @ cent.T
            top[i0 : i0 + m] = np.argsort(-sims, axis=1)[:, : top.shape[1]]
        return _int_matrix_to_lists(top)

    return assign


def _best_row_per_id(key: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Mask of one row per id code: the row of greatest ``key`` (the first
    such row on ties, whose similarity equals the others')."""
    order = np.lexsort((-key, codes))
    first = np.unique(codes[order], return_index=True)[1]
    mask = np.zeros(len(key), dtype=bool)
    mask[order[first]] = True
    return mask


def _ivf_list_search_kernel(k: int, best_per_id: bool = False):
    """Cogrouped per-cell search: (queries slice, corpus slice) →
    cell-local top-``k`` (query_id, neighbor_id, __sim) rows.  Shared by
    ``ivf_cosine_topk`` (cell = inverted list) and ``lsh_cosine_topk``
    (cell = (table, bucket)).  With ``best_per_id`` (the LSH path, whose
    merge keeps one row per (query_id, neighbor_id)) a corpus id carried
    by several rows of a cell competes with its most similar row only, so
    its copies cannot take several of the k slots; ``ivf_cosine_topk``
    keeps each copy as its own row.

    Bit-exactness contract (the similarity feeds a value oracle): all
    dot/norm folds run as float64 column sweeps in ascending column
    order — the identical IEEE operation sequence as
    ``_pair_cosine_kernel`` (and therefore the JVM ``aggregate``
    expression); each per-pair product chain is element-independent, so
    sweeping the whole (queries × corpus) slab at once (r12: one
    broadcast multiply per column instead of a per-query Python loop —
    the loop cost ~130 small numpy calls per (query, cell) visit) leaves
    every per-pair value bit-identical.  Corpus/query norms computed once
    per cell/row equal the per-pair recomputation because the per-element
    order is the same.  Selection replicates the downstream Spark
    ordering ``desc(__sim), asc(neighbor_id)`` exactly — NaN sorts
    GREATEST descending (Spark double order), ties break on the id — so
    the local top-k provably contains every global top-k row; pairs where
    either id is NULL are dropped, matching the join formulation's
    ``query_id != neighbor_id`` null semantics."""
    import pyarrow.compute as pc

    def search(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        qid_col = left.column("query_id") if left.num_rows else None
        nid_col = right.column("neighbor_id") if right.num_rows else None
        out_ids_q: list = []
        out_ids_n: list = []
        out_sims: list = []
        if left.num_rows and right.num_rows:
            Q = _list_matrix(left.column("__qv").combine_chunks())
            C = _list_matrix(right.column("__cv").combine_chunks())
            g, d = Q.shape
            m = C.shape[0]
            nid_arr = nid_col.combine_chunks()
            nid_valid = (
                pc.is_valid(nid_arr).to_numpy(zero_copy_only=False).astype(bool)
            )
            # null-safe integer view for the per-query != filter (fill value
            # only lands on rows nid_valid already masks out); non-integer
            # ids fall back to the per-query pyarrow compare below
            nid_np = None
            # per-cell id codes when some id has several rows (NULL: -1)
            id_codes = None
            if best_per_id:
                enc = pc.dictionary_encode(nid_arr)
                if len(enc.dictionary) < len(nid_arr) - nid_arr.null_count:
                    id_codes = enc.indices.fill_null(-1).to_numpy(zero_copy_only=False)
            if pa.types.is_integer(nid_arr.type):
                nid_np = np.asarray(
                    nid_arr.fill_null(0).to_numpy(zero_copy_only=False),
                    dtype=np.int64,
                )
            # corpus norms: one ascending-column float64 sweep per cell —
            # identical per-element op order to the per-pair recomputation
            cn = np.zeros(m, dtype=np.float64)
            tc = np.empty(m, dtype=np.float64)
            for j in range(d):
                np.multiply(C[:, j], C[:, j], out=tc, dtype=np.float64)
                cn += tc
            cn_sqrt = np.sqrt(cn)
            # query norms: same sweep over the query slab — per element the
            # identical float64 multiply/add chain as the former per-query
            # scalar fold
            qn = np.zeros(g, dtype=np.float64)
            tq = np.empty(g, dtype=np.float64)
            for j in range(d):
                np.multiply(Q[:, j], Q[:, j], out=tq, dtype=np.float64)
                qn += tq
            qn_sqrt = np.sqrt(qn)
            kk = max(k, 1)
            qids = qid_col.combine_chunks()
            qid_valid = (
                pc.is_valid(qids).to_numpy(zero_copy_only=False).astype(bool)
            )
            qid_py = qids.to_pylist()
            fast_ids = nid_np is not None and pa.types.is_integer(qids.type)
            # slab the query side so the (slab × corpus) accumulator stays
            # ~32 MB regardless of cell width (pooled, page-fault-warm)
            gs = max(1, (4 << 20) // max(m, 1))
            for s0 in range(0, g, gs):
                s1 = min(s0 + gs, g)
                gm = s1 - s0
                Qs = Q[s0:s1]
                acc = _pooled("ls_acc", gm * m).reshape(gm, m)
                tmp = _pooled("ls_tmp", gm * m).reshape(gm, m)
                acc[:] = 0.0
                for j in range(d):  # strict left-to-right per-pair sums
                    np.multiply(
                        Qs[:, j, None], C[:, j], out=tmp, dtype=np.float64
                    )
                    acc += tmp
                for i in range(s0, s1):
                    if not qid_valid[i]:
                        continue  # NULL query id: != is NULL, pair dropped
                    # same per-element ops as the per-query fold:
                    # acc / (sqrt(qn) * cn_sqrt)
                    sims = acc[i - s0] / (qn_sqrt[i] * cn_sqrt)
                    # Spark double order: NaN is GREATEST, so it leads desc
                    key1 = np.where(np.isnan(sims), np.inf, sims)
                    if fast_ids:
                        # pure-numpy selection (r12): cosine is bounded, so
                        # -inf is a safe invalid sentinel; the boundary
                        # gathers EVERY candidate tied at the k-th key and
                        # lexsort((nid, -key)) realizes the exact
                        # (desc sim NaN-greatest, asc id) order
                        valid = nid_valid & (nid_np != int(qid_py[i]))
                        if id_codes is not None:
                            valid &= _best_row_per_id(key1, id_codes)
                        nv = int(np.count_nonzero(valid))
                        if nv == 0:
                            continue
                        key2 = np.where(valid, key1, -np.inf)
                        kk2 = min(kk, nv)
                        if m > kk2:
                            bound = np.partition(key2, m - kk2)[m - kk2]
                            cand = np.nonzero(key2 >= bound)[0]
                        else:
                            cand = np.nonzero(valid)[0]
                        order = np.lexsort((nid_np[cand], -key2[cand]))[:kk2]
                        sel = cand[order]
                        out_ids_q.extend([i] * len(sel))
                        out_ids_n.extend(int(x) for x in sel)
                        out_sims.extend(float(sims[x]) for x in sel)
                        continue
                    valid = pc.and_(
                        pc.is_valid(nid_arr), pc.not_equal(nid_arr, qids[i])
                    ).to_numpy(zero_copy_only=False)
                    valid = np.asarray(valid, dtype=object) == True  # noqa: E712
                    if id_codes is not None:
                        valid &= _best_row_per_id(key1, id_codes)
                    vidx = np.nonzero(valid)[0]
                    if len(vidx) == 0:
                        continue
                    vs = sims[vidx]
                    key1v = key1[vidx]
                    if len(vidx) > kk:
                        bound = np.partition(key1v, len(key1v) - kk)[len(key1v) - kk]
                        cand = vidx[key1v >= bound]
                    else:
                        cand = vidx
                    nid_py = nid_arr.take(
                        pa.array(cand, type=pa.int64())
                    ).to_pylist()
                    order = sorted(
                        range(len(cand)),
                        key=lambda r: (
                            0 if np.isnan(sims[cand[r]]) else 1,
                            0.0 if np.isnan(sims[cand[r]]) else -sims[cand[r]],
                            nid_py[r],
                        ),
                    )[:kk]
                    for r in order:
                        out_ids_q.append(i)
                        out_ids_n.append(int(cand[r]))
                        out_sims.append(float(sims[cand[r]]))
        if not out_sims:
            return pa.table(
                {
                    "query_id": pa.array([], type=left.schema.field("query_id").type),
                    "neighbor_id": pa.array([], type=right.schema.field("neighbor_id").type),
                    "__sim": pa.array([], type=pa.float64()),
                }
            )
        take_q = pa.array(out_ids_q, type=pa.int64())
        take_n = pa.array(out_ids_n, type=pa.int64())
        return pa.table(
            {
                "query_id": qid_col.take(take_q),
                "neighbor_id": nid_col.take(take_n),
                "__sim": pa.array(out_sims, type=pa.float64()),
            }
        )

    return search


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
    seed: int = 7,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    list_split: int = 1,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are bucketed by nearest coarse
    centroid (one shuffle key per inverted list); each query probes its
    ``nprobe`` nearest centroids and exact-reranks only those lists.

    vs ``lsh_cosine_topk``: IVF adapts to the data distribution (learned
    centroids) where LSH is data-oblivious; at 100 TB the corpus shuffles
    once on ``centroid_id`` (`n_centroids` scales to √N lists) and queries
    touch `nprobe/n_centroids` of the data.

    Search is a COGROUPED per-list GEMM (r11 optimization): corpus rows
    and probing queries cogroup on ``centroid_id`` and one Arrow task per
    list computes every query's similarities against the whole list plus
    a list-local top-k — each corpus vector crosses the Python boundary
    ONCE per list membership instead of once per matching query (the
    previous equi-join materialized |q|·|list| candidate rows, each
    carrying BOTH vectors: ~50× the bytes at the bench shape, and the
    duplication factor grows with queries-per-list at scale).  The JVM
    window then ranks the ≤ nprobe·k survivors per query exactly as
    before.  The kernel's per-element float64 column sweeps replicate the
    pair-cosine kernel's strict left-to-right summation, so similarity
    VALUES are bit-identical to the join formulation and the SQL oracle
    (equality with ``cosine_topk`` under candidate-complete parameters is
    gate- and test-pinned); local top-k selection replicates Spark's
    ordering exactly, including NaN-greatest descending sims and
    null-id pair dropping.

    Memory caveat & ``list_split``: cogroup materializes each (inverted
    list, probing queries) group in ONE worker's memory, so a hot/skewed
    list can exceed executor memory where the old equi-join streamed.
    ``list_split=s > 1`` salts the corpus side into ``s`` chunks per list
    (queries replicate per chunk — bounded, explicit): per-group corpus
    memory drops to |list|/s while results stay IDENTICAL (each pair meets
    in exactly one chunk; per-chunk top-k is still a superset of the
    global top-k — pinned by test).  Size ``s`` so |list|/s rows of
    vectors fit a worker comfortably; the default 1 keeps the minimal
    plan for well-balanced lists (n_centroids ∝ √N keeps lists
    executor-sized by construction).
    """
    from pyspark.sql import types as T

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids, dim, corpus_vec, seed=seed
        )
    cent = np.array(centroids, dtype=np.float64)

    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cv")
    ).filter(F.col("__cv").isNotNull()).withColumn(
        "centroid_id", _centroid_assign_kernel(cent, 1)(F.col("__cv"))[0]
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    ).filter(F.col("__qv").isNotNull()).withColumn(
        "centroid_id", F.explode(_centroid_assign_kernel(cent, nprobe)(F.col("__qv")))
    )
    out_schema = T.StructType(
        [
            T.StructField("query_id", q.schema["query_id"].dataType, True),
            T.StructField("neighbor_id", c.schema["neighbor_id"].dataType, True),
            T.StructField("__sim", T.DoubleType(), True),
        ]
    )
    if list_split > 1:
        # hot-list guard (r12, from the r11 ADVICE): cogroup applyInArrow
        # materializes each (list, probing queries) group IN MEMORY in one
        # Python worker, so a skewed/hot inverted list OOMs where the old
        # equi-join streamed.  Salting the CORPUS side into ``list_split``
        # chunks (queries replicate per chunk) bounds the group to
        # |list|/split corpus rows; each (query, neighbor) pair still meets
        # in exactly ONE (centroid, chunk) cell — the neighbor carries one
        # salt — so per-cell top-k stays a provable superset of the global
        # top-k and no cross-cell dedup is needed.  Query bytes multiply by
        # ``list_split`` (bounded, explicit — the LSH n_tables trade).
        s = int(list_split)
        ck = c.withColumn(
            "__salt", F.pmod(F.hash(F.col("neighbor_id")), F.lit(s))
        )
        qk = q.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        )
        sim = (
            qk.groupBy("centroid_id", "__salt")
            .cogroup(ck.groupBy("centroid_id", "__salt"))
            .applyInArrow(_ivf_list_search_kernel(k), schema=out_schema)
        )
    else:
        sim = (
            q.groupBy("centroid_id")
            .cogroup(c.groupBy("centroid_id"))
            .applyInArrow(_ivf_list_search_kernel(k), schema=out_schema)
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("__sim").alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: "int | str" = "auto",
    dim: int = 64,
    n_blocks: "int | str" = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    seed: int = 7,
    output: str = "keep",
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public method): cluster embeddings with the IVF
    k-means coarse quantizer, find near-duplicate pairs (rounded cosine
    >= ``threshold``) WITHIN each cluster only, connected-components the
    pair graph, and keep the minimum id per component.

    ``output='keep'`` (default) returns the surviving rows of ``df`` (all
    original columns); ``'components'`` returns (id, component) for every
    row that participates in at least one near-dup pair; ``'pairs'``
    returns (id_a, id_b, cosine_sim) with id_a < id_b.

    ``n_clusters='auto'`` (default) sizes the quantizer to the corpus:
    ``max(1, round(n / cluster_target))`` clusters for ``cluster_target``
    ≈ 1024 rows each (n counted from the null-filtered frame; one count
    job), capped at 4096 lists with the training sample scaled to keep
    ≥ ~40 vectors per centroid — per-cluster GEMM work stays
    executor-sized at any scale and the trainer never starves.

    ``n_clusters=1`` skips clustering entirely — every pair is considered,
    making the operator candidate-complete and therefore SQL-oracle-able
    (the gate twin).  At production ``n_clusters``, cross-cluster pairs
    are never examined: that is SemDedup's documented approximation, and
    the dropped set is provably a SUBSET of the exhaustive dropped set
    (every within-cluster edge to a smaller id also exists globally), so
    clustering can only under-delete, never over-delete.

    Scale: assignment is one Arrow matmul pass (no shuffle); the pair
    stage shuffles each row ``n_blocks`` times keyed by
    (cluster, block_a, block_b) so the O(|cluster|^2) flops split into
    executor-sized GEMM tasks; components run on the sparse near-dup
    graph.  ``n_blocks='auto'`` (default) derives the block count from
    the estimated cluster width (``count / n_clusters``, target
    ``_BLOCK_TARGET_ROWS`` ≈ 8 K rows per block), so past the 4096-list
    cap — where cluster width grows with the corpus — the flops keep
    splitting into bounded tasks automatically.  Independently of the
    block count, the GEMM task slabs its matmul in ``_GEMM_SLAB``-row
    chunks, so per-task cosine-matrix memory is hard-capped (~128 MB)
    even for skewed clusters far wider than the average.  No stage ever
    materializes an all-pairs frame.
    """
    if output not in ("keep", "components", "pairs"):
        raise ValueError(
            f"output must be 'keep', 'components' or 'pairs', got {output!r}"
        )
    # null-vector rows take no part in pair generation/components;
    # output='keep' retains them (the dropped-id anti-join never sees them)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    # exact-duplicate collapse (output='keep'/'components'): bit-identical
    # NON-ZERO vectors have rounded cosine exactly 1.0, so a k-copy clique
    # contributes O(k²) pairs/edges — at a duplicate-heavy corpus the
    # components edge set alone exhausts executor memory (round-10 sf100
    # ladder: 2M rows of 5k distinct vectors → ~400M edges → JVM OOM).
    # Grouping by the vector VALUE (collision-free) elects the minimum id
    # per clique as representative, the GEMM/components run on
    # representatives only, and the result expands linearly: every clique
    # member shares its representative's component, and the component
    # label (min rep id) IS the minimum member id, so 'keep' survivors are
    # IDENTICAL to the exhaustive definition — the gate oracle is
    # unaffected.  Zero-norm vectors never pair (NaN cosine) and stay
    # their own representatives.  output='pairs' keeps the exhaustive
    # path: its output is itself O(k²) by definition.
    collapse = output in ("keep", "components")
    if collapse:
        sq = F.aggregate(
            "__v", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
        w_vec = Window.partitionBy("__v")
        v_all = v.withColumn(
            "__rep",
            F.when(sq == 0.0, F.col("id")).otherwise(F.min("id").over(w_vec)),
        ).withColumn(
            "__csz",
            F.when(sq == 0.0, F.lit(1)).otherwise(F.count(F.lit(1)).over(w_vec)),
        )
        v = v_all.filter(F.col("id") == F.col("__rep")).select("id", "__v")
    sample_size = 10_000
    cnt: int | None = None
    if n_clusters == "auto" or n_blocks == "auto":
        # one count job shared by both auto knobs, sized from the
        # NULL-FILTERED frame (the rows that actually enter the pair
        # stage) — reuses the scan's aggregate pushdown on parquet, one
        # upstream execution otherwise.  Memoized per semantic plan +
        # file listing (r12; the same key discipline as the interval
        # guards), so repeated builds over the same corpus skip the job
        # entirely.
        cnt = _SEM_COUNT_MEMO.get_or_probe(lambda: plan_key(v), v.count)
    if n_clusters == "auto":
        # Capped at 4096 lists so the trainer's bounded sample stays
        # >= ~40 vectors per centroid (the standard IVF training floor) —
        # beyond the cap cluster width grows past the 1024 target instead
        # of the sample degenerating (n_blocks='auto' absorbs the growth).
        n_clusters = min(4096, max(1, round(cnt / 1024)))
        sample_size = max(10_000, 40 * n_clusters)
    elif isinstance(n_clusters, bool) or not isinstance(n_clusters, int):
        raise ValueError(f"n_clusters must be an int or 'auto', got {n_clusters!r}")
    if n_blocks == "auto":
        n_blocks = _auto_n_blocks(cnt, n_clusters)
    elif isinstance(n_blocks, bool) or not isinstance(n_blocks, int) or n_blocks < 1:
        raise ValueError(f"n_blocks must be a positive int or 'auto', got {n_blocks!r}")
    if n_clusters <= 1:
        v = v.withColumn("__cid", F.lit(0))
    else:
        if centroids is None:
            centroids = train_ivf_centroids(
                df, n_clusters, dim, vec_col, sample_size=sample_size, seed=seed
            )
        cent = np.array(centroids, dtype=np.float64)
        v = v.withColumn("__cid", _centroid_assign_kernel(cent, 1)(F.col("__v"))[0])
    pairs = _blocked_near_dup_pairs(v, float(threshold), n_blocks, scope_col="__cid")
    if output == "pairs":
        return pairs
    from .dedup import connected_components

    comps = connected_components(pairs)
    # expand representative components back over the duplicate cliques:
    # every clique member takes its representative's component (or the
    # representative itself when only intra-clique edges exist); a row
    # participates in the near-dup graph when its rep joined a rep-pair
    # OR its clique has >1 member
    expanded = v_all.join(
        comps.select(
            F.col("id").alias("__rep"), F.col("component").alias("__comp")
        ),
        "__rep",
        "left",
    ).withColumn(
        "__final", F.coalesce(F.col("__comp"), F.col("__rep"))
    ).withColumn(
        "__in_graph", F.col("__comp").isNotNull() | (F.col("__csz") > 1)
    )
    if output == "components":
        return expanded.filter(F.col("__in_graph")).select(
            "id", F.col("__final").alias("component")
        )
    dropped = expanded.filter(
        F.col("__in_graph") & (F.col("id") != F.col("__final"))
    ).select("id")
    return df.join(
        dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
