"""The two clustering objectives, both minimized (SURVEY A4/A5).

* **Dev** — Σ over points of the distance to the assigned (nearest)
  center (Spark_MOPSO_Avg.scala:1030-1033).
* **Conn** — for each point take its L nearest *other* points by
  euclidean distance; add ``1/rank`` (rank 1-based) for every neighbor
  that lands in the SAME cluster; Σ over points
  (Spark_MOPSO_Avg.scala:1036-1063). Note the reference's sign quirk:
  this rewards separation, the opposite of canonical MOCK connectivity
  (SURVEY §4.2.6) — reproduced as-is.

Architecture: the kNN table is **solution-independent**, so it is
computed ONCE per dataset and cached; each MOPSO iteration then scores
all S candidate solutions in a single Arrow-vectorized pass + one tiny
partial/final aggregation (S rows out). The reference instead re-scans
per particle per iteration (Spark_MOPSO_Avg.scala:211-228).

Scale: the kNN precompute is the one step that is quadratic in the worst
case (SURVEY §7.4.1). Its kernel, ``_topl_blocked``, is an exact pruned
search: Morton-ordered query blocks rank only the reference rows whose
squared distance to the block's bounding box is within the block's
provisional L-th distance² (plus a margin covering the gemm form's
rounding), so it returns the all-pairs (distance, id) ranking while
computing a fraction of the pairs on low-d data; a probe block sends
data that will not prune (wide d) straight to the all-pairs scan. Three
backends:
'exact' (a broadcast reference — to ~10⁵ rows), 'partition_local' (the
reference Avg semantics — embarrassingly parallel, exactly what it did
at cluster scale), and 'lsh' (BucketedRandomProjectionLSH candidates —
the approximate 100 TB path).
"""

from __future__ import annotations

import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mopso_engine.assign import _distances

#: cap on the scratch distance-matrix cells per block for the BLAS/gemm
#: path (262_144 cells = 2 MB of float64): sized to stay CACHE-resident
#: per worker, not merely to bound memory. The old 4M-cell (32 MB) block
#: streamed every distance matrix through RAM; with 32 concurrent Python
#: workers the aggregate traffic saturated memory bandwidth — measured on
#: the 600k-row lineitem fit layout (64 partitions × 9.4k rows, d=4):
#: 32 MB blocks → 22.7s wall / 558 task-core-s; 2 MB → 6.8s / 155; the
#: same kernel single-task isolated runs 2.0s either way, so the delta
#: is pure concurrent cache/bandwidth contention, and block size does not
#: change any value (per-row distances and top-L are row-independent).
_BLOCK_CELLS = 262_144
#: block cap for the exact Σ(x−y)² path (dist_fn given): that formula
#: materializes a (block, n_cand, d) DIFFERENCE tensor, so cells here are
#: divided by n_cand·d — keeping the old 4M (32 MB tensor) avoids
#: degenerating to 1-row blocks (per-block Python overhead × n rows) on
#: wide-d reference sets; the tensor is touched once, so the bandwidth
#: argument above does not apply to it.
_BLOCK_CELLS_EXACT = 4_000_000
#: pruned kNN search (``_topl_blocked``): query rows per block (one
#: bounding box and one candidate set each; also the size of the probe
#: block that decides whether to prune at all, and the largest batch
#: that never prunes), reference rows per chunk (one bounding box each),
#: and reference rows in each query's provisional Morton-adjacent window
_QUERY_BLOCK = 32
_REF_CHUNK = 32
_WINDOW = 32
#: most reference rows the probe block's box is tested against
_PROBE_SAMPLE = 256


def _morton(ref: np.ndarray):
    """Morton (Z-order) codes on one grid whose cell width is the same in
    every dimension, set by the widest spread of ref: anisotropic data then
    sorts on its wide axis first, isotropic data gets a true Z-order. At
    most 63 code bits: 15 per dimension at d=4, 2 per dimension over the
    31 widest dimensions at d=64. Returns ref's codes, the bit count and
    the code function for other rows."""
    lo = ref.min(axis=0)
    spread = ref.max(axis=0) - lo
    bits = min(31, max(2, 63 // ref.shape[1]))
    dims = np.argsort(-spread, kind="stable")[: 63 // bits]
    top = (1 << bits) - 1
    scale = top / spread.max() if spread.max() > 0 else 0.0
    weights = np.int64(1) << np.arange(len(dims) - 1, -1, -1, dtype=np.int64)

    def code(a: np.ndarray) -> np.ndarray:
        f = (a[:, dims] - lo[dims]) * scale
        q = np.clip(f, 0, top, out=f).astype(np.int64)
        c = np.zeros(len(a), dtype=np.int64)
        for b in range(bits - 1, -1, -1):
            c = (c << len(dims)) | (((q >> b) & 1) @ weights)
        return c

    return code(ref), bits * len(dims), code


def _trie_blocks(codes: np.ndarray, cap: int, nbits: int) -> np.ndarray:
    """Cut sorted Morton codes into runs of at most ``cap`` rows, each the
    rows under one node of the code trie (so each run is one grid box,
    not a Z-curve segment that jumps across the space), then merge
    neighbouring runs while they fit in ``cap``. Returns run offsets
    including the final end."""
    starts: list[int] = []
    stack = [(0, len(codes), nbits - 1)]
    while stack:
        lo, hi, bit = stack.pop()
        if hi - lo <= cap or bit < 0:
            starts.extend(range(lo, hi, cap))  # bit < 0: identical codes
            continue
        split = ((int(codes[lo]) >> (bit + 1)) << (bit + 1)) | (1 << bit)
        mid = lo + int(np.searchsorted(codes[lo:hi], split))
        if mid < hi:
            stack.append((mid, hi, bit - 1))
        if mid > lo:
            stack.append((lo, mid, bit - 1))
    starts.sort()
    merged = [0]
    for s, e in zip(starts[1:], starts[2:] + [len(codes)]):
        if e - merged[-1] > cap:
            merged.append(s)
    merged.append(len(codes))
    return np.array(merged, dtype=np.int64)


def _rank_rows(q, cref, cids, cself, l_eff, dist_fn, cells):
    """Top-L of each row of q among the rows of cref by (distance, id),
    in row blocks of at most ``cells`` scratch cells; ``cself`` is each
    row's own position in cref (-1 = absent), excluded. An argpartition
    picks each row's top L; rows with a tie at the boundary are re-ranked
    by a full (distance, id) sort."""
    pos = np.empty((len(q), l_eff), dtype=np.int64)
    dist = np.empty((len(q), l_eff), dtype=np.float64)
    step = max(1, cells // len(cref))
    for s in range(0, len(q), step):
        dm = dist_fn(q[s : s + step], cref)
        cs = cself[s : s + step]
        hit = np.flatnonzero(cs >= 0)
        dm[hit, cs[hit]] = np.inf
        if dm.shape[1] == l_eff:
            part = np.broadcast_to(np.arange(l_eff), dm.shape)
            pd_d = dm
        else:
            part = np.argpartition(dm, l_eff, axis=1)
            nxt = np.take_along_axis(dm, part[:, l_eff : l_eff + 1], axis=1)[:, 0]
            part = part[:, :l_eff]
            pd_d = np.take_along_axis(dm, part, axis=1)
            for i in np.flatnonzero(~(pd_d.max(axis=1) < nxt)):
                part[i] = np.lexsort((cids, dm[i]))[:l_eff]
                pd_d[i] = dm[i, part[i]]
        order = np.lexsort((cids[part], pd_d), axis=1)
        pos[s : s + step] = np.take_along_axis(part, order, axis=1)
        dist[s : s + step] = np.take_along_axis(pd_d, order, axis=1)
    return pos, dist


def _sq_dist(y: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Squared distance of each row of y to the point p."""
    diff = y - p
    return np.einsum("ij,ij->i", diff, diff)


def _box_gap2(y: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Squared distance of each row of y to the box [lo, hi]."""
    gap = np.maximum(np.maximum(y - hi, lo - y), 0.0)
    return np.einsum("ij,ij->i", gap, gap)


def _topl_blocked(
    x: np.ndarray,
    ref: np.ndarray,
    ref_ids: np.ndarray,
    x_ids: np.ndarray,
    l_nbrs: int,
    *,
    dist_fn=None,
):
    """Top-L neighbors of each row of x against ref (ids sorted), ranked
    by (distance, neighbor id). Rows whose id appears in ref exclude
    themselves. Returns (nbr_pos, nbr_dist) of shape (len(x), l_eff).
    ``dist_fn`` defaults to the BLAS gemm form; pass
    assign._distances_exact when ranks must reproduce a SQL oracle's
    Σ(x−y)² distances bit-for-bit.

    Exact pruned search instead of an all-pairs scan, chosen up front by a
    probe: the bounding box of x[0] and its 31 nearest rows of x, and
    about x[0]'s L-th distance to ref, both tested against a strided
    sample of 256 ref rows. If over half of the sample lies within that
    distance of the box, the data will not prune (wide d) and every row
    is ranked against all of ref, which costs the scan plus
    O((|x| + 256)·d) for the probe. Batches of at most 32 rows, too few
    to pay for ordering ref, and non-finite input rank against all of ref
    too. Otherwise ``_topl_pruned`` ranks them; its candidate bound
    carries the gemm form's error margin, so the result is the all-pairs
    (distance, id) ranking either way. Distance matrices stay within
    ``_BLOCK_CELLS`` (gemm form) or ``_BLOCK_CELLS_EXACT`` (exact form)
    cells."""
    n_ref, d = ref.shape
    l_eff = min(l_nbrs, n_ref - 1)
    dist_fn = dist_fn or _distances
    # the exact Σ(x−y)² formula materializes a (rows, n_cand, d)
    # difference tensor — cap THAT, not just the (rows, n_cand) output
    cells = _BLOCK_CELLS if dist_fn is _distances else _BLOCK_CELLS_EXACT // max(1, d)
    if len(x) == 0 or l_eff == 0:
        return np.empty((len(x), l_eff), dtype=np.int64), np.empty((len(x), l_eff))
    pos = np.clip(np.searchsorted(ref_ids, x_ids), 0, n_ref - 1)
    self_pos = np.where(ref_ids[pos] == x_ids, pos, -1)

    if len(x) <= _QUERY_BLOCK:
        return _rank_rows(x, ref, ref_ids, self_pos, l_eff, dist_fn, cells)
    # probe: prune only if at most half of a strided sample of ref lies
    # within r of the box around x[0] and its 31 nearest rows of x, where
    # r (about x[0]'s L-th distance in ref) is its distance to its
    # (L·|sample|/|ref|)-th nearest sample row
    sidx = np.arange(0, n_ref, -(-n_ref // _PROBE_SAMPLE))
    sample = ref[sidx]
    d0 = _sq_dist(sample, x[0])
    d0[sidx == self_pos[0]] = np.inf
    kth = max(1, l_eff * len(sidx) // n_ref)
    box = x[np.argpartition(_sq_dist(x, x[0]), _QUERY_BLOCK - 1)[:_QUERY_BLOCK]]
    near = _box_gap2(sample, box.min(axis=0), box.max(axis=0)) <= np.partition(d0, kth - 1)[kth - 1]
    if np.count_nonzero(near) <= len(sample) // 2:
        margin = (4 * d + 16) * np.finfo(np.float64).eps * (
            np.einsum("ij,ij->i", x, x).max() + np.einsum("ij,ij->i", ref, ref).max()
        )
        if np.isfinite(margin) and np.isfinite(x).all() and np.isfinite(ref).all():
            return _topl_pruned(x, ref, ref_ids, self_pos, l_eff, dist_fn, cells, margin)
    return _rank_rows(x, ref, ref_ids, self_pos, l_eff, dist_fn, cells)


def _topl_pruned(x, ref, ref_ids, self_pos, l_eff, dist_fn, cells, margin):
    """``_rank_rows(x, ref, ...)`` by a pruned search. Rows of x and ref
    are sorted by Morton code and x is cut into blocks of ≤ 32 rows that
    each sit in one grid box. Each row's provisional squared radius r² is
    its L-th Σ(x−y)² among the 32 ref rows around its Morton position.
    Only ref rows whose squared distance to the block's bounding box is at
    most the block's largest r²·(1+1e-9) + 2·margin are ranked with
    ``dist_fn``. margin = (4d+16)·eps·(max‖x‖² + max‖ref‖²) is at least
    twice the absolute error of the gemm form, whose ‖x‖² − 2x·y + ‖y‖²
    carries about (2d+4)·eps·(‖x‖² + ‖y‖²); the Σ(x−y)² form's error is
    relative and sits far inside the 1e-9. So no ref row whose
    ``dist_fn`` distance could rank in the top L is skipped, ties
    included. The bound work is O(rows·(32 + chunks)·d)."""
    n_ref, d = ref.shape
    rcode, nbits, code = _morton(ref)
    # a query that is a ref row shares its code
    xcode = rcode[self_pos] if (self_pos >= 0).all() else code(x)
    rperm = np.argsort(rcode, kind="stable")
    rs, rids, rcode = ref[rperm], ref_ids[rperm], rcode[rperm]
    rinv = np.empty(n_ref, dtype=np.int64)
    rinv[rperm] = np.arange(n_ref)
    xperm = np.argsort(xcode, kind="stable")
    xs, xcode = x[xperm], xcode[xperm]
    sm = np.where(self_pos[xperm] >= 0, rinv[self_pos[xperm]], -1)
    cb = _trie_blocks(rcode, _REF_CHUNK, nbits)
    cstart, clen = cb[:-1], np.diff(cb)
    clo = np.minimum.reduceat(rs, cstart, axis=0)
    chi = np.maximum.reduceat(rs, cstart, axis=0)
    qb = _trie_blocks(xcode, _QUERY_BLOCK, nbits)
    w = min(n_ref, max(_WINDOW, 2 * (l_eff + 1)))
    # query blocks bounded together: their window distances and the
    # block × chunk gap tensor each stay within _BLOCK_CELLS
    g = max(1, min(_BLOCK_CELLS // (len(cstart) * d), _BLOCK_CELLS // (_QUERY_BLOCK * w)))
    pos = np.empty((len(x), l_eff), dtype=np.int64)
    dist = np.empty((len(x), l_eff), dtype=np.float64)
    for b0 in range(0, len(qb) - 1, g):
        bq = qb[b0 : b0 + g + 1]
        q, qsm = xs[bq[0] : bq[-1]], sm[bq[0] : bq[-1]]
        # provisional radius: each row's L-th distance among the w ref
        # rows around its own Morton position
        w0 = np.where(qsm >= 0, qsm, np.searchsorted(rcode, xcode[bq[0] : bq[-1]]))
        w0 = np.clip(w0 - w // 2, 0, n_ref - w)
        dw = np.empty((len(q), w))
        for o in range(w):
            diff = q - rs[w0 + o]
            dw[:, o] = np.einsum("ij,ij->i", diff, diff)
        own = np.flatnonzero((qsm >= w0) & (qsm < w0 + w))
        dw[own, qsm[own] - w0[own]] = np.inf
        thr = np.partition(dw, l_eff - 1, axis=1)[:, l_eff - 1] * (1.0 + 1e-9) + 2.0 * margin
        # candidate chunks: box-to-box lower bound per block
        blo = np.minimum.reduceat(q, bq[:-1] - bq[0], axis=0)
        bhi = np.maximum.reduceat(q, bq[:-1] - bq[0], axis=0)
        bthr = np.maximum.reduceat(thr, bq[:-1] - bq[0])
        gap = np.maximum(np.maximum(clo - bhi[:, None], blo[:, None] - chi), 0.0)
        keep = np.einsum("bcd,bcd->bc", gap, gap) <= bthr[:, None]
        for b, (s, e) in enumerate(zip(bq[:-1], bq[1:])):
            kc = np.flatnonzero(keep[b])
            lens = clen[kc]
            # candidate rows: the kept chunks, then the row-level box bound
            cand = np.repeat(cstart[kc] - np.cumsum(lens) + lens, lens) + np.arange(lens.sum())
            y = rs[cand]
            near = _box_gap2(y, blo[b], bhi[b]) <= bthr[b]
            cand, y = cand[near], y[near]
            j = np.clip(np.searchsorted(cand, sm[s:e]), 0, len(cand) - 1)
            cself = np.where(cand[j] == sm[s:e], j, -1)
            p, dd = _rank_rows(xs[s:e], y, rids[cand], cself, l_eff, dist_fn, cells)
            pos[xperm[s:e]], dist[xperm[s:e]] = rperm[cand[p]], dd
    return pos, dist


#: (id, label, self_nbr_flat, nbr_n): self + L neighbor vectors packed in
#: one fixed-width array<double>; nbr_n = real neighbor count (≤ L).
#: Used by the RELATIONAL with_neighbors modes, whose flat column is
#: built declaratively (F.concat of arrays).
_NBR_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("label", IntegerType(), True),
        StructField("self_nbr_flat", ArrayType(DoubleType()), False),
        StructField("nbr_n", IntegerType(), False),
    ]
)

#: Binary twin for the KERNEL-built modes ('exact', 'partition_local'):
#: self_nbr_flat is the same (1+L)·d doubles as raw little-endian float64
#: bytes. One bytes object per row Arrow-transfers and reconstructs
#: (np.frombuffer) several times faster than a list<double> column (which
#: materializes 600k tiny ndarrays per pass and GC-thrashes); the VALUES
#: are bit-identical, so fitness partials — and with them the recorded
#: seeded trajectories — are unchanged. evaluate_solutions accepts both.
_NBR_SCHEMA_BIN = StructType(
    [
        StructField("id", LongType(), False),
        StructField("label", IntegerType(), True),
        StructField("self_nbr_flat", BinaryType(), False),
        StructField("nbr_n", IntegerType(), False),
    ]
)


def _pack_self_nbrs(x: np.ndarray, ref: np.ndarray, nbr_pos: np.ndarray, l_nbrs: int) -> np.ndarray:
    """(n,d) self + (n,l_eff) neighbor positions into ref → (n, (1+L)·d)
    packed rows, padded with self-copies up to L neighbors."""
    n, d_ = x.shape
    l_eff = nbr_pos.shape[1]
    nb = ref[nbr_pos.ravel()].reshape(n, l_eff * d_)
    if l_eff < l_nbrs:
        pad = np.tile(x, (1, l_nbrs - l_eff))
        return np.concatenate([x, nb, pad], axis=1)
    return np.concatenate([x, nb], axis=1)

PAIRS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("nbr_id", LongType(), False),
        StructField("rank", IntegerType(), False),
        StructField("nbr_dist", DoubleType(), False),
    ]
)


def knn_pairs_exact(
    points: DataFrame, l_nbrs: int, *, n_rows: int | None = None, exact_math: bool = False
) -> DataFrame:
    """Exact top-L neighbor pairs via broadcast block-distance.

    All (id, features) are collected once into a numpy block that ships to
    executors via Spark broadcast; each partition computes cdist(batch, all)
    and keeps the L smallest — O(N²/P) vectorized work, no shuffle. Ties
    break by (dist, nbr_id) for determinism (the reference relied on sort
    stability, Spark_MOPSO_Avg.scala:1050-1052).

    Guarded by ``MAX_EXACT_KNN_ROWS``: the full-table collect + broadcast
    is a driver/executor memory foot-gun beyond ~10⁵ rows — callers with
    bigger tables must use 'partition_local' or 'lsh'. Pass ``n_rows``
    when already known to skip the extra count job.
    """
    n = n_rows if n_rows is not None else points.count()
    if n > MAX_EXACT_KNN_ROWS:
        raise ValueError(
            f"knn_pairs_exact collects all {n} rows to the driver and broadcasts "
            f"them to every executor; beyond {MAX_EXACT_KNN_ROWS} rows use "
            "mode='partition_local' (the reference's own cluster-scale semantics) "
            "or mode='lsh'"
        )
    rows = points.select("id", "features").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    feats = np.array([r["features"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)  # searchsorted self-exclusion needs sorted ids
    ids, feats = ids[order], feats[order]
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((ids, feats))
    from mopso_engine.assign import _distances_exact

    dist_fn = _distances_exact if exact_math else None

    def kernel(batches: Iterable[pd.DataFrame]):
        all_ids, all_feats = bc.value
        for pdf in batches:
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            bid = pdf["id"].to_numpy()
            nbr_pos, nbr_d = _topl_blocked(x, all_feats, all_ids, bid, l_nbrs, dist_fn=dist_fn)
            n, l_eff = nbr_pos.shape
            yield pd.DataFrame(
                {
                    "id": np.repeat(bid, l_eff),
                    "nbr_id": all_ids[nbr_pos].ravel(),
                    "rank": np.tile(np.arange(1, l_eff + 1, dtype=np.int32), n),
                    "nbr_dist": nbr_d.ravel(),
                }
            )

    return points.select("id", "features").mapInPandas(kernel, schema=PAIRS_SCHEMA)


def knn_pairs_partition_local(points: DataFrame, l_nbrs: int) -> DataFrame:
    """Top-L neighbor pairs WITHIN each input partition — the pair-table
    rendering of ``with_neighbors(mode='partition_local')``: same
    per-partition concat, same sorted-ref ``_topl_blocked`` call, same
    default distance math, so it reproduces the fit kernel's neighbor
    sets and ranks EXACTLY for any points table laid out the way the fit
    laid it out. ``_topl_blocked`` prunes with box lower bounds plus the
    gemm form's error margin, so its (distance, id) ranking is the
    all-pairs one; ``nbr_dist`` can differ from an all-pairs gemm in the
    last bits, since BLAS rounding depends on the product's shape. No
    collect, no broadcast, no shuffle — the rescore path for fits beyond
    ``MAX_EXACT_KNN_ROWS`` (layout is semantics here: callers must pass
    the same deterministic layout the engine built, see
    ``MopsoEngine.fit``)."""

    def kernel(batches: Iterable[pd.DataFrame]):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) < 2:
            return
        x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        xs, ids_s = x[order], ids[order]
        nbr_pos, nbr_d = _topl_blocked(x, xs, ids_s, ids, l_nbrs)
        n, l_eff = nbr_pos.shape
        yield pd.DataFrame(
            {
                "id": np.repeat(ids, l_eff),
                "nbr_id": ids_s[nbr_pos].ravel(),
                "rank": np.tile(np.arange(1, l_eff + 1, dtype=np.int32), n),
                "nbr_dist": nbr_d.ravel(),
            }
        )

    return points.select("id", "features").mapInPandas(kernel, schema=PAIRS_SCHEMA)


def knn_pairs_crossjoin(
    points: DataFrame, l_nbrs: int, *, dim: int | None = None
) -> DataFrame:
    """Exact top-L pairs, pure DataFrame rendering (J2 + O4): broadcast
    self-cross-join + windowed row_number ≤ L. The declarative twin of
    :func:`knn_pairs_exact`, oracle-checkable in SQL; quadratic, so use on
    samples/small N.

    ``dim``: pass the feature width to UNROLL the distance into codegen'd
    scalar arithmetic (bit-identical to the fold — see
    functions.euclidean_expr) when the pair volume is large enough to pay
    for it (the recall gate's ~1.5M-pair exact arm). The default keeps
    the HOF fold WITHOUT any width probe: r16 unconditionally probed +
    unrolled here and the driver's knn_top5/conn_objective entries (≈10-20k
    pairs of mostly fixed cost) ran 2-2.6× their anchors — the probe job
    plus the 64-term expression's per-query codegen cost more than the
    fold saves at sample size (settled r17 with an interleaved A/B)."""
    from pyspark.sql.window import Window

    from mopso_engine.functions import euclidean_expr

    a = points.select(F.col("id"), F.col("features"))
    b = points.select(F.col("id").alias("nbr_id"), F.col("features").alias("nbr_features"))
    dist = euclidean_expr("features", "nbr_features", dim=dim)
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id") != F.col("nbr_id"))
        .select("id", "nbr_id", dist.alias("nbr_dist"))
    )
    w = Window.partitionBy("id").orderBy(F.col("nbr_dist").asc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= l_nbrs)
        .select("id", "nbr_id", "rank", "nbr_dist")
    )


def knn_pairs_lsh(points: DataFrame, l_nbrs: int, *, bucket_length: float = 2.0, num_tables: int = 3, oversample: int = 3) -> DataFrame:
    """Approximate top-L pairs via BucketedRandomProjectionLSH — the scale
    path (SURVEY §7.4.1): candidate pairs come from an LSH bucket join
    instead of the N² cross product, then a window keeps the L best. With
    too few candidates a point may return < L neighbors (documented
    approximation).

    The seeded ml model supplies ONLY the hyperplane hashes (one
    ``transform`` pass); the bucket join, exact-distance re-rank and
    tie-break run as pure DataFrame expressions inside whole-stage
    codegen instead of ``approxSimilarityJoin``'s encoder/UDF pair path
    — measured ~8× on the candidate-heavy sf0.1 embeddings table
    (VERDICT r9 #5: the join was 42s of mopso_fit_lsh's 80s). The output
    is BIT-identical to the approxSimilarityJoin rendering: the
    candidate set is the same pairs-sharing-≥1-(table, bucket) relation
    (ml's processDataset posexplode + equality join + distinct), and
    ``euclidean_expr``'s left fold adds the same squared diffs in the
    same dimension order as ``Vectors.sqdist`` before the same sqrt."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql.window import Window

    from mopso_engine.functions import euclidean_expr

    vecs = points.select("id", array_to_vector("features").alias("vec"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=bucket_length, numHashTables=num_tables, seed=42
    )
    model = lsh.fit(vecs)
    # (id, table, bucket): one row per hash table per point
    hx = (
        model.transform(vecs)
        .select("id", F.posexplode("hashes").alias("tbl", "hv"))
        .select("id", "tbl", vector_to_array("hv").getItem(0).alias("h"))
    )
    cand = (
        hx.alias("a")
        .join(
            hx.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id"), F.col("b.id").alias("nbr_id"))
        .distinct()
    )
    feats = points.select("id", "features")
    # unrolled distance (bit-identical to the HOF fold, see
    # functions.euclidean_expr): the candidate set is the heavy side
    # here — every pair sharing a (table, bucket) — so the per-pair
    # expression cost is the stage; one head() probe buys the width
    first = feats.select(F.size("features").alias("d")).first()
    dim = int(first["d"]) if first is not None else None
    pairs = (
        cand.join(feats, "id")
        .join(
            feats.select(
                F.col("id").alias("nbr_id"), F.col("features").alias("nbr_features")
            ),
            "nbr_id",
        )
        .select(
            "id",
            "nbr_id",
            euclidean_expr("features", "nbr_features", dim=dim).alias("nbr_dist"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("nbr_dist").asc(), F.col("nbr_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= l_nbrs)
        .select("id", "nbr_id", "rank", "nbr_dist")
    )


#: exact mode collects+broadcasts the full (id, features) table; beyond
#: this many rows that is a driver/executor memory foot-gun — callers
#: should switch to 'partition_local' (reference semantics) or 'lsh'.
MAX_EXACT_KNN_ROWS = 200_000


def with_neighbors(
    points: DataFrame, l_nbrs: int, mode: str = "exact", *, n_rows: int | None = None
) -> DataFrame:
    """points → (id, label, self_nbr_flat, nbr_n), the cached input of the
    per-iteration fitness kernel.

    ``self_nbr_flat`` is ONE fixed-width array<double> of (1+L)·d values:
    the point's own vector followed by its L neighbors' vectors, padded
    with self-copies when fewer than L neighbors exist (``nbr_n`` is the
    real count; padding gets weight 0 in the kernel). One uniform numeric
    column Arrow-transfers an order of magnitude faster than nested
    per-neighbor lists, and the fitness kernel gets the whole batch with
    a single reshape.

    Modes:
    * 'exact' — global kNN via a broadcast of all features; the kernel
      emits neighbor features directly, so the whole precompute is ONE
      map stage, zero shuffles (to ~10⁵ rows: the broadcast is N·d·8 B).
    * 'partition_local' — neighbors within each input partition only: the
      reference Avg's semantics (Spark_MOPSO_Avg.scala:843-865) and the
      unbounded-scale path (no broadcast, no shuffle).
    * 'exact_pairs'/'crossjoin'/'lsh' — build a (id, nbr_id, rank) pair
      table, then join neighbor features back (one shuffle, once per fit);
      'lsh' is the approximate big-N path.
    """
    if mode == "partition_local":
        out_schema = _NBR_SCHEMA_BIN

        def kernel(batches: Iterable[pd.DataFrame]):
            chunks = list(batches)
            if not chunks:  # empty partition
                return
            pdf = pd.concat(chunks, ignore_index=True)
            if pdf.empty:
                return
            x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            n, d_ = x.shape
            if n < 2:
                # a single-row partition has no neighbors: all padding
                flat = np.tile(x, (1, 1 + l_nbrs))
                nbr_n = np.zeros(n, dtype=np.int32)
            else:
                ids = pdf["id"].to_numpy()
                order = np.argsort(ids)
                xs, ids_s = x[order], ids[order]
                nbr_pos, _ = _topl_blocked(x, xs, ids_s, ids, l_nbrs)
                flat = _pack_self_nbrs(x, xs, nbr_pos, l_nbrs)
                nbr_n = np.full(n, nbr_pos.shape[1], dtype=np.int32)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "label": pdf["label"],
                    "self_nbr_flat": [r.tobytes() for r in np.ascontiguousarray(flat)],
                    "nbr_n": nbr_n,
                }
            )

        return points.select("id", "features", "label").mapInPandas(kernel, schema=out_schema)

    if mode == "exact":
        # broadcast kernel emits neighbor FEATURES directly — no pair
        # table, no join, no shuffle: the whole precompute is one map
        # stage over the points (plus one collect for the broadcast).
        n = n_rows if n_rows is not None else points.count()
        if n > MAX_EXACT_KNN_ROWS:
            raise ValueError(
                f"knn mode 'exact' broadcasts all {n} rows to every executor; "
                f"beyond {MAX_EXACT_KNN_ROWS} rows use mode='partition_local' "
                "(the reference's own cluster-scale semantics) or mode='lsh'"
            )
        rows = points.select("id", "features").collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        feats = np.array([r["features"] for r in rows], dtype=np.float64)
        order = np.argsort(ids)
        ids, feats = ids[order], feats[order]
        bc = points.sparkSession.sparkContext.broadcast((ids, feats))

        out_schema = _NBR_SCHEMA_BIN

        def kernel(batches: Iterable[pd.DataFrame]):
            all_ids, all_feats = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
                bid = pdf["id"].to_numpy()
                nbr_pos, _ = _topl_blocked(x, all_feats, all_ids, bid, l_nbrs)
                flat = _pack_self_nbrs(x, all_feats, nbr_pos, l_nbrs)
                yield pd.DataFrame(
                    {
                        "id": bid,
                        "label": pdf["label"],
                        "self_nbr_flat": [r.tobytes() for r in np.ascontiguousarray(flat)],
                        "nbr_n": np.full(len(bid), nbr_pos.shape[1], dtype=np.int32),
                    }
                )

        return points.select("id", "features", "label").mapInPandas(kernel, schema=out_schema)

    if mode == "exact_pairs":
        pairs = knn_pairs_exact(points, l_nbrs, n_rows=n_rows)
    elif mode == "crossjoin":
        pairs = knn_pairs_crossjoin(points, l_nbrs)
    elif mode == "lsh":
        pairs = knn_pairs_lsh(points, l_nbrs)
    else:
        raise ValueError(f"unknown knn mode: {mode}")

    nbr_feats = pairs.join(
        points.select(F.col("id").alias("nbr_id"), F.col("features").alias("nbr_f")), "nbr_id"
    )
    agg = nbr_feats.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("rank", "nbr_f"))).alias("nbrs")
    )
    m = F.size(F.col("nbrs.nbr_f"))
    pad = F.flatten(F.array_repeat(F.col("features"), F.greatest(F.lit(l_nbrs) - m, F.lit(0))))
    return points.join(agg, "id").select(
        "id",
        F.col("label"),
        F.concat(F.col("features"), F.flatten(F.col("nbrs.nbr_f")), pad).alias("self_nbr_flat"),
        F.least(m, F.lit(l_nbrs)).cast("int").alias("nbr_n"),
    )


#: fitness-kernel reduction block: matches the exact-mode layout's ~2k-row
#: partition sizing (engine.py), so engine-owned layouts reduce in one
#: block exactly as before; only oversized caller-owned partitions split.
#: Env-overridable for memory/throughput tuning — NOTE the block size is
#: part of the float-summation grouping, so changing it changes seeded
#: fit trajectories in the last ulps (regenerate recorded oracles).
_REDUCE_BLOCK_ROWS = int(os.environ.get("MOPSO_REDUCE_BLOCK_ROWS", "2048"))


def _fixed_blocks(batches: "Iterable[pd.DataFrame]", block_rows: int):
    """Re-chunk a stream of Arrow batches into fixed ``block_rows`` blocks
    (last block ragged). The block boundaries depend only on row order and
    the constant — never on the incoming batch sizes — which is what makes
    downstream per-block float reductions config-independent. Memory:
    O(block_rows + one incoming batch)."""
    buf: list[pd.DataFrame] = []
    buffered = 0
    for pdf in batches:
        if not len(pdf):
            continue
        buf.append(pdf)
        buffered += len(pdf)
        while buffered >= block_rows:
            cat = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            yield cat.iloc[:block_rows]
            rest = cat.iloc[block_rows:].reset_index(drop=True)
            buf = [rest] if len(rest) else []
            buffered = len(rest)
    if buffered:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]


_FITNESS_PARTIAL_SCHEMA = StructType(
    [
        StructField("solution", IntegerType(), False),
        StructField("dev_p", DoubleType(), False),
        StructField("conn_p", DoubleType(), False),
        StructField("n_p", LongType(), False),
    ]
)


def evaluate_solutions(nbr_df: DataFrame, centers_stack: np.ndarray, *, partition_weighted: bool = False, n_total: int | None = None) -> np.ndarray:
    """Score S candidate clusterings in ONE distributed pass.

    Input: the cached `with_neighbors` table. Output: (S, 2) numpy array of
    [Dev, Conn] per solution.

    Physical shape: MapInPandas (numpy batch kernel) emits S partial rows
    per Arrow batch → HashAggregate(partial) → single tiny Exchange →
    HashAggregate(final) → S-row collect. The data never shuffles; only
    S·num_batches partial rows do. This is the plan that survives 100 TB.

    ``partition_weighted=True`` reproduces the reference Avg's weighted
    partial fitness: each partition's [Dev_p, Conn_p] scaled by |p|/N and
    summed (Spark_MOPSO_Avg.scala:843-865) — requires ``n_total``.
    """
    cs = np.asarray(centers_stack, dtype=np.float64)
    s, k, d_ = cs.shape
    flat = cs.reshape(s * k, d_)

    def kernel(batches: Iterable[pd.DataFrame]):
        # accumulate over the partition's batches and emit ONE partial
        # row-set per partition: the per-iteration job becomes map-only
        # (no Exchange at all); the driver sums S×num_partitions rows —
        # the same control-plane merge the reference does, but over
        # already-reduced partials (Spark_MOPSO_Avg.scala:159-174).
        # Reduction runs over FIXED-SIZE row blocks (re-chunked from the
        # incoming Arrow batches, _REDUCE_BLOCK_ROWS rows each), partials
        # added in block order: the float-summation grouping is a pure
        # function of (row order, constant block size) — independent of
        # spark.sql.execution.arrow.maxRecordsPerBatch — so with a
        # deterministic layout (hash repartition + sortWithinPartitions)
        # the fitness, and hence the whole seeded PSO trajectory, stays
        # bit-reproducible across session configs, while peak kernel
        # memory is O(block × packed width) even when the caller's layout
        # makes a partition arbitrarily large (partition_by_label with a
        # hot label — layout is semantics there, the engine can't resize
        # it; previously the whole partition was concatenated first).
        acc_dev = np.zeros(s)
        acc_conn = np.zeros(s)
        acc_n = 0
        for pdf in _fixed_blocks(batches, _REDUCE_BLOCK_ROWS):
            col = pdf["self_nbr_flat"]
            if isinstance(col.iat[0], (bytes, bytearray)):
                # kernel-built modes ship raw float64 bytes: one frombuffer
                # per block, zero per-row object churn
                packed = np.frombuffer(b"".join(col), dtype=np.float64).reshape(len(col), -1)
            else:  # relational modes keep the array<double> column
                packed = np.stack(col.to_numpy()).astype(np.float64)
            n = packed.shape[0]
            l_tot = packed.shape[1] // d_ - 1  # = L (uniform padding)
            nbr_n = pdf["nbr_n"].to_numpy()
            stacked = packed.reshape(n * (1 + l_tot), d_)
            dists = _distances(stacked, flat).reshape(n, 1 + l_tot, s, k)
            clusters = dists.argmin(axis=3)  # (n, 1+l, s)
            pt_cl = clusters[:, 0, :]  # (n, s)
            nb_cl = clusters[:, 1:, :]  # (n, l, s)
            pt_dist = np.take_along_axis(
                dists[:, 0, :, :], pt_cl[:, :, None], axis=2
            )[:, :, 0]
            acc_dev += pt_dist.sum(axis=0)
            # weights: 1/rank for real neighbors, 0 for the self-padding
            ranks = np.arange(1, l_tot + 1, dtype=np.float64)[None, :]
            wts = np.where(ranks <= nbr_n[:, None], 1.0 / ranks, 0.0)  # (n, l)
            same = nb_cl == pt_cl[:, None, :]  # (n, l, s)
            acc_conn += (same * wts[:, :, None]).sum(axis=(0, 1))
            acc_n += n
        if acc_n:
            yield pd.DataFrame(
                {
                    "solution": np.arange(s, dtype=np.int32),
                    "dev_p": acc_dev,
                    "conn_p": acc_conn,
                    "n_p": np.full(s, acc_n, dtype=np.int64),
                }
            )

    rows = (
        nbr_df.select("self_nbr_flat", "nbr_n")
        .mapInPandas(kernel, schema=_FITNESS_PARTIAL_SCHEMA)
        .collect()
    )
    out = np.zeros((s, 2), dtype=np.float64)
    if partition_weighted:
        if not n_total:
            raise ValueError("partition_weighted requires n_total")
        for r in rows:
            w = r["n_p"] / float(n_total)
            out[r["solution"], 0] += w * r["dev_p"]
            out[r["solution"], 1] += w * r["conn_p"]
    else:
        for r in rows:
            out[r["solution"], 0] += r["dev_p"]
            out[r["solution"], 1] += r["conn_p"]
    return out


def dev_of(assigned: DataFrame) -> float:
    """Dev as a one-line aggregate over an assignment table (A4)."""
    return assigned.agg(F.sum("dist").alias("dev")).collect()[0]["dev"]


def conn_df(pairs: DataFrame, assigned: DataFrame) -> DataFrame:
    """Conn as a relational plan (A5): join the (solution-independent) kNN
    pair table with cluster assignments of both endpoints; same-cluster
    neighbors contribute 1/rank. Returns a 1-row DataFrame(conn double)."""
    a = assigned.select(F.col("id"), F.col("cluster").alias("c_i"))
    b = assigned.select(F.col("id").alias("nbr_id"), F.col("cluster").alias("c_j"))
    return (
        pairs.join(a, "id")
        .join(b, "nbr_id")
        .agg(
            F.sum(
                F.when(F.col("c_i") == F.col("c_j"), 1.0 / F.col("rank")).otherwise(0.0)
            ).alias("conn")
        )
    )
