"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force top-k. A corpus that fits the
  broadcast byte budget ships to every task and one zero-exchange
  mapInArrow pass emits each query's final top-k; a larger corpus is
  blocked (operators/pairwise grouping), each block emits its local top-k,
  and a per-query window merges the candidates.
* :func:`lsh_ann_topk` — random-hyperplane LSH: one map pass signs each
  vector against broadcast hyperplanes → bucket key; candidates join only
  within buckets (multi-probe via several tables); exact cosine re-rank.
  Near-linear — the 100 TB path.
* :func:`ivf_ann_topk` — IVF: coarse centroids (driver k-means on a bounded
  sample, broadcast), rows assigned to nearest centroid; queries probe the
  ``nprobe`` nearest centroid lists only. Same two routes as cosine_topk.

Every top-k kernel ends in :func:`_emit_topk`: neighbor columns sorted by
id, selection by (cosine desc, neighbor_id asc), non-finite cosines
(zero-norm or NaN vectors) dropped. A block-local top-k under that total
order, merged under the same order, is exactly the global top-k.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ficaria_spark.plans.cache import tracked_persist

_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine double, rank int"

#: query rows scored per inner chunk in the broadcast kernels: bounds each
#: worker's transient footprint (chunk·n·8B score block + temps ≈ 20 MB at
#: n=20k — deliberately under glibc's 32 MB mmap-threshold cap so freed
#: blocks stay heap-retained) — a full 10k-row Arrow batch against a 20k corpus would allocate
#: ~1.6 GB of fresh pages per batch across S/−S/mask temporaries, and 32
#: concurrent workers doing that produced multi-second allocator/page-fault
#: stalls (r7 measurement: sporadic 2 s → 18 s map walls, quiet host probes)
_TOPK_CHUNK_ROWS = 128

#: default per-worker byte budget of the broadcast routes: the corpus matrix
#: plus the reusable score buffer, rows·(dim + _TOPK_CHUNK_ROWS)·8 bytes,
#: sized so 200k 64-dim vectors (≈307 MB) still broadcast. Tune to
#: executor_mem / cores_per_executor on a real cluster.
_BROADCAST_BYTES = 200_000 * (64 + _TOPK_CHUNK_ROWS) * 8


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.transform(vec_col, lambda x: x.cast("double")))


def _broadcast_fits(df: DataFrame, vec_col: str, budget: int) -> tuple[bool, int]:
    """(fits, rows): whether the corpus's broadcast footprint,
    rows·(dim + _TOPK_CHUNK_ROWS)·8 bytes with dim the widest vector, is
    within ``budget``. One sizing job at plan construction — the documented
    exception to the plan-construction-runs-no-jobs rule, as in
    interval_join's auto mode."""
    rows, dim = df.agg(F.count(F.lit(1)), F.max(F.size(vec_col))).first()
    return rows * ((dim or 0) + _TOPK_CHUNK_ROWS) * 8 <= budget, rows


def cosine_topk(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                k: int = 5,
                broadcast_bytes: int | None = _BROADCAST_BYTES) -> DataFrame:
    """Exact top-k cosine neighbors of every row among the other rows.
    Returns (query_id, neighbor_id, cosine, rank); ties rank by neighbor_id
    asc. Zero-norm or NaN-bearing embeddings are EXCLUDED from the output.

    ``broadcast_bytes``: when the corpus fits this budget (see
    :func:`_broadcast_fits`) the normalized matrix is broadcast and one
    zero-exchange pass emits the final top-k
    (:func:`_cosine_topk_broadcast` — guide §3.1: broadcast the side that
    fits). Otherwise rows are blocked (operators/pairwise grouping,
    cluster-sized block count) and :func:`_merge_block_topk` scores each
    (left block, right block) pair and merges the block-local top-k
    candidates — O(n·nb·k) shuffle. ``None`` forces the blocked route.
    Both routes return the same (query_id, neighbor_id, rank) rows."""
    from ficaria_spark.operators.pairwise import _pair_groups

    if broadcast_bytes is not None and _broadcast_fits(df, vec_col, broadcast_bytes)[0]:
        return _cosine_topk_broadcast(df, id_col=id_col, vec_col=vec_col, k=k)
    base = df.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("vec"))
    grouped, _ = _pair_groups(base, "rid", ["vec"])
    return _merge_block_topk(grouped, k)


def _cosine_topk_broadcast(df: DataFrame, *, id_col: str, vec_col: str,
                           k: int) -> DataFrame:
    """Exact top-k with the NEIGHBOR MATRIX BROADCAST (guide §3.1 shape): the
    whole corpus, normalized and sorted by id, ships to every task once; one
    mapInArrow pass over the query rows computes each chunk's (nq, n) cosine
    block in BLAS and emits the final per-query top-k directly. ZERO
    exchanges, zero window — block-local top-k IS the global top-k because
    every task sees all neighbors."""
    from ficaria_spark.plans.layout import widen_thin_input

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("vec"))
    tbl = base.toArrow()  # one scan; Arrow columns, no per-row Python objects
    if tbl.num_rows == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    nids = tbl.column("rid").to_numpy()
    order = np.argsort(nids, kind="stable")  # id asc → stable tie-break below
    vec_arr = tbl.column("vec").combine_chunks()
    dim = len(vec_arr[0])
    N = _normalize(_vec_matrix(vec_arr, dim).astype(np.float64)[order])
    nids = nids[order]
    bc = spark.sparkContext.broadcast((nids, N))

    def run(batches):
        nid_v, Nv = bc.value
        # cross-task reusable score buffer (see _score_buffer)
        s_buf = _score_buffer(_TOPK_CHUNK_ROWS, Nv.shape[0])
        for rb in batches:
            if not rb.num_rows:
                continue
            Q = _normalize(_vec_matrix(rb.column(1), dim).astype(np.float64))
            qids = rb.column(0).to_numpy(zero_copy_only=False)
            for c0 in range(0, len(Q), _TOPK_CHUNK_ROWS):
                qc = qids[c0:c0 + _TOPK_CHUNK_ROWS]
                S = s_buf[:len(qc)]
                np.dot(Q[c0:c0 + _TOPK_CHUNK_ROWS], Nv.T, out=S)
                yield _emit_topk(S, qc, nid_v, k)

    return widen_thin_input(base).mapInArrow(run, _TOPK_SCHEMA)


def _merge_block_topk(grouped, k: int) -> DataFrame:
    """Shuffle route shared by cosine_topk and ivf_ann_topk: each group of
    ``grouped`` holds query rows (``__side`` 0) and neighbor rows (``__side``
    1) as ``rid``/``vec``; one applyInArrow task per group scores its
    (nq, nn) cosine block in NumPy and emits each query's block-local top-k,
    then a per-query window ranks the ≤ groups·k candidates. Exact as long
    as every (query, neighbor) pair lands in some group."""

    def block_topk(tbl):
        import pyarrow as pa

        side = tbl.column("__side").to_numpy(zero_copy_only=False)
        rid = tbl.column("rid").to_numpy(zero_copy_only=False)
        vec = tbl.column("vec").combine_chunks()
        M = _vec_matrix(vec, len(vec[0])).astype(np.float64)
        q = side == 0
        nord = np.argsort(rid[~q], kind="stable")  # _emit_topk's column order
        # einsum, not matmul: a query's candidates come from many blocks of
        # different shapes, and BLAS picks shape-dependent kernels whose
        # sums differ in the last bit (measured: one pair scored 3 ways),
        # so exact ties would merge in value order, not id order. einsum
        # sums each pair in one fixed order; ~2× dgemm's time (64-dim).
        S = np.einsum("qd,nd->qn", _normalize(M[q]), _normalize(M[~q][nord]))
        return pa.Table.from_batches([_emit_topk(S, rid[q], rid[~q][nord], k)])

    cands = grouped.applyInArrow(block_topk, _TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return cands.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _vec_matrix(list_arr, dim: int) -> np.ndarray:
    """(n, dim) float64 view of an arrow list<double> column — the flat child
    array reshaped (zero-copy for non-null fixed-dim vectors).

    Validates that every row has exactly ``dim`` non-null elements: a ragged
    or null embedding would otherwise silently shift every subsequent row in
    the batch (corrupting LSH buckets / IVF assignments with no error)."""
    n = len(list_arr)
    if list_arr.null_count:
        raise ValueError(
            f"embedding column contains {list_arr.null_count} null vector(s); "
            "drop or impute them before similarity ops")
    offs = list_arr.offsets.to_numpy(zero_copy_only=False)
    base = int(offs[0])
    if int(offs[-1]) - base != n * dim or (np.diff(offs) != dim).any():
        bad = int(np.flatnonzero(np.diff(offs) != dim)[0])
        raise ValueError(
            f"ragged embedding column: row {bad} has {int(np.diff(offs)[bad])} "
            f"elements, expected dim={dim}")
    flat = list_arr.values.to_numpy(zero_copy_only=False)
    return flat[base:base + n * dim].reshape(n, dim)


def _normalize(M: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm. A zero-norm or NaN-bearing row becomes
    NaN, so every cosine it takes part in is non-finite and dropped."""
    with np.errstate(invalid="ignore", divide="ignore"):
        return M / np.sqrt((M * M).sum(axis=1))[:, None]


def _topk_block(S: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k of a score block by (value desc, column asc) — the
    window tie policy, provided columns are pre-sorted ascending by
    neighbor id. Returns (idx, vals) of shape (rows, min(k, cols)).

    CONSUMES ``S`` (overwrites it): selection runs as ``min(k, cols)``
    argmin passes over the negated block — argmin's first-occurrence rule
    on ties IS the (value desc, column asc) policy. Only (rows,)-sized
    temporaries are allocated: an argpartition/argsort here materializes a
    full (rows, cols) int64 index block, and fresh ≥32 MB allocations take
    glibc's mmap path — 32 workers first-touch page-faulting such blocks
    simultaneously serialize in the kernel (measured: multi-second stalls
    for 0.1 s of math, r7). Float negation is an exact involution, so
    re-negated values are bit-identical. NaN scores (zero-norm vectors)
    and -inf sentinels both map to +inf and are only picked when a row has
    fewer than k finite scores; callers drop them with isfinite."""
    kk = min(k, S.shape[1])
    np.negative(S, out=S)  # work on -S in place; re-negate extracted values
    # nan → +inf only; keep the ±inf sentinels (nan_to_num would otherwise
    # clamp them to finite extremes and corrupt the drop semantics)
    np.nan_to_num(S, copy=False, nan=np.inf, posinf=np.inf, neginf=-np.inf)
    rows = np.arange(S.shape[0])
    idx = np.empty((S.shape[0], kk), dtype=np.int64)
    nvals = np.empty((S.shape[0], kk))
    for j in range(kk):
        ij = S.argmin(axis=1)
        idx[:, j] = ij
        nvals[:, j] = S[rows, ij]
        S[rows, ij] = np.inf
    return idx, -nvals


def _emit_topk(S: np.ndarray, qids: np.ndarray, nids: np.ndarray, k: int):
    """The select-and-emit step every top-k kernel ends in. ``S`` is the
    (len(qids), len(nids)) cosine block, its columns sorted by neighbor id
    ascending, with any caller-specific exclusions already set to -inf; it
    is consumed. Masks self-matches, keeps each row's top-k by (cosine
    desc, neighbor_id asc), drops non-finite cosines and returns an Arrow
    batch in ``_TOPK_SCHEMA`` (rank is block-local)."""
    import pyarrow as pa

    S[qids[:, None] == nids[None, :]] = -np.inf
    idx, vals = _topk_block(S, k)
    kk = idx.shape[1]
    vals = vals.ravel()
    keep = np.isfinite(vals)
    return pa.RecordBatch.from_arrays(
        [pa.array(np.repeat(qids, kk)[keep], type=pa.int64()),
         pa.array(nids[idx.ravel()][keep], type=pa.int64()),
         pa.array(vals[keep], type=pa.float64()),
         pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), len(qids))[keep],
                  type=pa.int32())],
        ["query_id", "neighbor_id", "cosine", "rank"])


#: per-worker reusable score buffer (guide §4.5 heavyweight-state caching):
#: reused Python workers keep it across TASKS, so the chunk·n block is
#: first-touched once per worker lifetime instead of once per task — a
#: fresh ≥32 MB numpy allocation always takes glibc's mmap path, and 32
#: workers page-faulting one concurrently measured seconds of kernel-lock
#: serialization per job (r7). Keyed by PID (forked children must not share)
#: and capped at one buffer per worker.
_SCORE_BUF: dict = {}


def _score_buffer(rows: int, cols: int) -> np.ndarray:
    import os as _os

    key = (_os.getpid(), rows, cols)
    buf = _SCORE_BUF.get(key)
    if buf is None:
        _SCORE_BUF.clear()
        buf = np.empty((rows, cols))
        _SCORE_BUF[key] = buf
    return buf


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_tables, n_planes, dim))


def lsh_bucketize(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int, n_planes: int = 8, n_tables: int = 4,
                  seed: int = 7) -> DataFrame:
    """(id, table, bucket) — sign pattern against random hyperplanes, one
    zero-copy mapInArrow pass, hyperplanes broadcast."""
    from ficaria_spark.plans.layout import widen_thin_input

    planes = _hyperplanes(dim, n_planes, n_tables, seed)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    base = widen_thin_input(_as_double(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec"))
    pows = np.power(2, np.arange(n_planes), dtype=np.int64)

    def run(batches):
        # mapInArrow: the fixed-dim list column's flat child reshapes to the
        # (n, dim) matrix ZERO-COPY — no per-row pandas objects
        import pyarrow as pa

        P = bc.value
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            M = _vec_matrix(rb.column(1), dim)
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            tables = np.empty(n * P.shape[0], dtype=np.int32)
            buckets = np.empty(n * P.shape[0], dtype=np.int64)
            for t in range(P.shape[0]):
                signs = (M @ P[t].T) > 0  # (n, n_planes)
                buckets[t * n:(t + 1) * n] = (signs.astype(np.int64) * pows[None, :]).sum(axis=1)
                tables[t * n:(t + 1) * n] = t
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.tile(ids, P.shape[0]), type=pa.int64()),
                 pa.array(tables, type=pa.int32()),
                 pa.array(buckets, type=pa.int64())],
                ["id", "table", "bucket"])

    return base.mapInArrow(run, "id long, table int, bucket long")


def _pair_cosine_arrow(pairs: DataFrame, a_col: str, b_col: str,
                       out_col: str = "cosine") -> DataFrame:
    """Vectorized per-ROW cosine over two joined vector columns: one
    mapInArrow pass computing the whole batch's dots/norms in NumPy. Use on
    candidate-pair frames (the LSH re-rank) — a per-pair JVM
    aggregate/zip_with fold runs interpreted, ~10-50× slower on bulk pair
    sets (that fold shape lives on only as the documented twin of the
    oracles' DuckDB ``list_reduce`` cosine). Values differ from a fold by
    ≲1e-15 (op-order), inside the 6dp rounding every consumer applies.

    Rows where either vector has ZERO NORM are EXCLUDED (0/0 cosine) —
    consistent with :func:`cosine_topk`; Spark treats NaN as
    greater than every double, so a leaked NaN would pass ``>= threshold``
    filters and desc-rank FIRST, silently corrupting near-dup sets and
    top-k rankings (the pre-kernel JVM fold instead threw DIVIDE_BY_ZERO
    under ANSI — loud, but also wrong for pipelines). Null vectors raise
    with a clear message. Output keeps all non-vector columns."""
    keep = [f.name for f in pairs.schema.fields if f.name not in (a_col, b_col)]

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            if not rb.num_rows:
                continue
            names = rb.schema.names
            ai, bi = names.index(a_col), names.index(b_col)
            ca, cb = rb.column(ai), rb.column(bi)
            if ca.null_count or cb.null_count:
                raise ValueError(
                    "pair-cosine input contains null vector(s); drop or "
                    "impute them before similarity ops")
            d = len(ca[0])  # all-non-null checked; _vec_matrix validates dims
            A = _vec_matrix(ca, d)
            B = _vec_matrix(cb, d)
            dots = np.einsum("nd,nd->n", A, B)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dots / (np.sqrt((A * A).sum(axis=1))
                              * np.sqrt((B * B).sum(axis=1)))
            fin = np.isfinite(cos)
            idx = pa.array(np.flatnonzero(fin))
            cols = [rb.column(names.index(c)).take(idx) for c in keep]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(cos[fin], type=pa.float64())],
                keep + [out_col])

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.schema.fields if f.name in keep) + f", {out_col} double"
    return pairs.mapInArrow(run, out_schema)


def lsh_ann_topk(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int, k: int = 5, n_planes: int = 8, n_tables: int = 4,
                 seed: int = 7) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ANY table; exact
    cosine re-rank on candidates only."""
    # both sides of the bucket self-join reference this plan — persist once
    buckets = lsh_bucketize(df, id_col=id_col, vec_col=vec_col, dim=dim,
                            n_planes=n_planes, n_tables=n_tables, seed=seed)
    buckets = tracked_persist(buckets)
    x, y = buckets.alias("x"), buckets.alias("y")
    cands = (
        x.join(y, (F.col("x.table") == F.col("y.table"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.id") != F.col("y.id")))
        .select(F.col("x.id").alias("qid"), F.col("y.id").alias("nid"))
        .distinct()
    )
    vecs = _as_double(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec")
    qv = vecs.select(F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    nv = vecs.select(F.col("id").alias("nid"), F.col("vec").alias("nvec"))
    scored = _pair_cosine_arrow(
        cands.join(qv, "qid").join(nv, "nid"), "qvec", "nvec")
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"),
                "cosine", "rank")
    )


def _kmeans(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Driver k-means in dgemm form: ‖x‖² − 2x·Cᵀ + ‖c‖² instead of the
    (n, k, d) broadcast temp — O(n·k) memory, BLAS-shaped. Only the argmin is
    consumed, so the ‖x‖² term (constant per row) is dropped entirely."""
    rng = np.random.default_rng(seed)
    centers = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d = (centers * centers).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
        lab = d.argmin(axis=1)
        for j in range(len(centers)):
            pts = X[lab == j]
            if len(pts):
                centers[j] = pts.mean(axis=0)
    return centers


def ivf_assign(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
               n_lists: int | None = None, sample_cap: int = 20_000, iters: int = 10,
               seed: int = 11) -> tuple[DataFrame, np.ndarray]:
    """Train coarse centroids on a driver-side sample (bounded), broadcast,
    and tag every row with its inverted-list id. Returns (tagged_df, centroids).

    ``n_lists=None`` scales the list count with the corpus — ≈√n, the
    standard IVF sizing — so the downstream list-keyed join never degenerates
    to a handful of hot keys at corpus scale (a fixed small n_lists makes
    every list a hot key at 100×). Costs one count() job; pass an explicit
    n_lists to skip it."""
    import math

    from ficaria_spark.plans.layout import widen_thin_input

    base = widen_thin_input(_as_double(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")), "vec"))
    if n_lists is None:
        n_lists = max(16, int(math.isqrt(df.count())))
    # canonical (id-ordered) sample: the fitted centers are invariant to input
    # partitioning, and the driver-independent oracle twin can reproduce them.
    # toArrow + the zero-copy matrix view skips the toPandas list-of-Python-
    # objects conversion (~0.5 s at 20k×64 — r7 measurement)
    sample_tbl = base.orderBy("id").limit(sample_cap).toArrow()
    sample_vec = sample_tbl.column("vec").combine_chunks()
    sample = _vec_matrix(sample_vec, len(sample_vec[0])).astype(np.float64)
    centers = _kmeans(sample, n_lists, iters, seed)
    bc = df.sparkSession.sparkContext.broadcast(centers)

    def run(batches):
        import pyarrow as pa

        C = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            M = _vec_matrix(rb.column(1), C.shape[1])
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            lid = pa.array(d.argmin(axis=1).astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), lid], ["id", "vec", "list_id"])

    tagged = base.mapInArrow(run, "id long, vec array<double>, list_id int")
    return tagged, centers


def _ivf_topk_broadcast(df: DataFrame, *, k: int, n_lists: int, nprobe: int,
                        seed: int, sample_cap: int, iters: int) -> DataFrame:
    """IVF top-k with the LIST-TAGGED CORPUS BROADCAST (r7, guide §3.1): the
    corpus is collected once — (id, vec), ~n·dim·8 bytes — the k-means fit
    and the per-row list assignment run driver-side on that matrix with the
    BIT-IDENTICAL expressions of ivf_assign (the id-sorted prefix is exactly
    the ``orderBy(id).limit(cap)`` sample; the assignment is the kernel's
    ``((M−C)²).sum`` argmin), and a single mapInArrow pass over the raw
    vectors computes each query's probe lists, the cosine block against the
    full matrix, masks columns outside the probed lists, and emits the exact
    per-query top-k. ZERO exchanges and ONE collect job (the shuffle path
    pays: a sample collect, an assign pass + persist, a probes pass, a
    union exchange, a grouped kernel, and a window — ~4 s of machinery at
    sf1 for ~0.3 s of math). Identical semantics: same centers, same
    assign/probe tie rules (first-occurrence argmin / mergesort argsort),
    same cosine formula, same (cosine desc, nid asc) tie policy."""
    from ficaria_spark.plans.layout import widen_thin_input

    spark = df.sparkSession
    tbl = df.toArrow()
    if tbl.num_rows == 0:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    nids = tbl.column("rid").to_numpy()
    order = np.argsort(nids, kind="stable")  # id asc → stable tie-break
    vec_arr = tbl.column("vec").combine_chunks()
    dim = len(vec_arr[0])
    N = _vec_matrix(vec_arr, dim).astype(np.float64)[order]
    nids = nids[order]
    centers = _kmeans(N[:sample_cap], n_lists, iters, seed)
    # per-row list assignment: ivf_assign's kernel expression verbatim,
    # chunked so the (rows, k, dim) diff temp stays bounded
    list_col = np.empty(len(N), dtype=np.int32)
    for c0 in range(0, len(N), 8192):
        Mc = N[c0:c0 + 8192]
        d = ((Mc[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        list_col[c0:c0 + 8192] = d.argmin(axis=1).astype(np.int32)
    bc = spark.sparkContext.broadcast((nids, _normalize(N), list_col, centers))

    def run(batches):
        nid_v, Nv, lists_v, C = bc.value
        # cross-task reusable score buffer (see _score_buffer)
        s_buf = _score_buffer(_TOPK_CHUNK_ROWS, Nv.shape[0])
        for rb in batches:
            if not rb.num_rows:
                continue
            M = _vec_matrix(rb.column(1), dim).astype(np.float64)
            qids = rb.column(0).to_numpy(zero_copy_only=False)
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            near = np.argsort(d, axis=1, kind="mergesort")[:, :nprobe] \
                .astype(np.int32)
            Q = _normalize(M)
            for c0 in range(0, len(Q), _TOPK_CHUNK_ROWS):
                qc = qids[c0:c0 + _TOPK_CHUNK_ROWS]
                nc = near[c0:c0 + _TOPK_CHUNK_ROWS]
                S = s_buf[:len(qc)]
                np.dot(Q[c0:c0 + _TOPK_CHUNK_ROWS], Nv.T, out=S)
                probed = (lists_v[None, :, None]
                          == nc[:, None, :]).any(axis=2)
                S[~probed] = -np.inf          # outside the probed lists
                yield _emit_topk(S, qc, nid_v, k)

    return widen_thin_input(df).mapInArrow(run, _TOPK_SCHEMA)


def ivf_ann_topk(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                 k: int = 5, n_lists: int | None = None, nprobe: int = 2,
                 seed: int = 11,
                 broadcast_bytes: int | None = _BROADCAST_BYTES) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    inverted lists; exact cosine within the probed lists. ``n_lists=None``
    auto-scales to ≈√n (see :func:`ivf_assign`).

    ``broadcast_bytes``: corpora within this budget (see
    :func:`_broadcast_fits`) take the zero-exchange broadcast kernel
    (:func:`_ivf_topk_broadcast`); larger corpora keep the shuffled
    per-list shape below. ``None`` forces the shuffle path."""
    import math

    if broadcast_bytes is not None:
        fits, n_rows = _broadcast_fits(df, vec_col, broadcast_bytes)
        if fits:
            base = df.select(F.col(id_col).alias("rid"),
                             F.col(vec_col).alias("vec"))
            return _ivf_topk_broadcast(
                base, k=k, nprobe=nprobe, seed=seed,
                n_lists=n_lists or max(16, int(math.isqrt(n_rows))),
                sample_cap=20_000, iters=10)
    tagged, centers = ivf_assign(df, id_col=id_col, vec_col=vec_col,
                                 n_lists=n_lists, seed=seed)
    # probed queries AND probed neighbors both derive from this plan
    tagged = tracked_persist(tagged)
    bc = df.sparkSession.sparkContext.broadcast(centers)

    def probes(batches):
        import pyarrow as pa

        C = bc.value
        npb = nprobe
        for rb in batches:
            if not rb.num_rows:
                continue
            M = _vec_matrix(rb.column(1), C.shape[1])
            d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            near = np.argsort(d, axis=1, kind="mergesort")[:, :npb]
            # columnwise expansion: arrow `take` repeats each query row
            # nprobe times, the probe matrix ravels — no per-row Python
            idx = pa.array(np.repeat(np.arange(rb.num_rows), near.shape[1]))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(idx), rb.column(1).take(idx),
                 pa.array(near.ravel().astype(np.int32), type=pa.int32())],
                ["rid", "vec", "probe_list"])

    # One group per probed list holds that list's probing queries and its
    # members. No distinct needed: a neighbor lives in exactly ONE list and
    # a query probes nprobe DISTINCT lists, so (qid, nid) candidate pairs
    # are already unique — a distinct here would be a redundant full
    # shuffle of all candidates (tests/test_pipeline_ops assert output
    # equality). Same union+side-tag grouping as operators/pairwise (NEVER
    # cogroup two branches of one scan — see pairwise._pair_groups).
    qs = (tagged.mapInArrow(probes, "rid long, vec array<double>, probe_list int")
          .withColumn("__side", F.lit(0)))
    ns = tagged.select(F.col("id").alias("rid"), "vec",
                       F.col("list_id").alias("probe_list"), F.lit(1).alias("__side"))
    return _merge_block_topk(qs.unionByName(ns).groupBy("probe_list"), k)
