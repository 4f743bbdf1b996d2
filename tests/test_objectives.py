import numpy as np
import pytest
from pyspark.sql import functions as F

from mopso_engine.assign import _distances, _distances_exact, assign
from mopso_engine.objectives import (
    _topl_blocked,
    conn_df,
    dev_of,
    evaluate_solutions,
    knn_pairs_crossjoin,
    knn_pairs_exact,
    with_neighbors,
)
from tests.conftest import make_blobs, oracle_assign, oracle_conn

L = 10


def _tied_grid() -> np.ndarray:
    """A 5×5×5 integer grid with every point twice: every row has many
    neighbors tied at its L-th distance, and integer coordinates make the
    gemm and Σ(x−y)² distances exact."""
    g = np.stack(np.meshgrid(*[np.arange(5.0)] * 3, indexing="ij"), axis=-1).reshape(-1, 3)
    return np.concatenate([g, g])


@pytest.fixture(scope="module")
def tied_grid_df(spark):
    rows = [(i, [float(v) for v in xi], 1) for i, xi in enumerate(_tied_grid())]
    return spark.createDataFrame(rows, "id long, features array<double>, label int")


def test_knn_exact_matches_crossjoin(blobs_df, tied_grid_df):
    """Both renderings rank by (distance, neighbor id), boundary ties
    included: on the tied grid an argpartition that keeps whichever tied
    rows it meets first disagrees with the window on most rows."""
    for df in (blobs_df, tied_grid_df):
        a = {(r["id"], r["rank"]): r["nbr_id"] for r in knn_pairs_exact(df, L).collect()}
        b = {(r["id"], r["rank"]): r["nbr_id"] for r in knn_pairs_crossjoin(df, L).collect()}
        assert a == b


def _lexsort_topl(x, ref, ref_ids, x_ids, l_nbrs, dist_fn=_distances):
    """Test-only all-pairs reference for ``_topl_blocked``: each query's
    whole distance row, itself excluded, then a full (distance, id)
    lexsort."""
    l_eff = min(l_nbrs, len(ref) - 1)
    pos = np.empty((len(x), l_eff), dtype=np.int64)
    dist = np.empty((len(x), l_eff))
    for i in range(len(x)):
        d = dist_fn(x[i : i + 1], ref)[0]
        d[ref_ids == x_ids[i]] = np.inf
        pos[i] = np.lexsort((ref_ids, d))[:l_eff]
        dist[i] = d[pos[i]]
    return pos, dist


def _dyadic_blobs(n, d, k, seed):
    """Blobs rounded to multiples of 1/64: every product and sum in either
    distance form is exact, so the pruned search and the all-pairs
    reference must agree bit-for-bit, distances included (on arbitrary
    doubles the gemm form's last bits depend on the BLAS blocking of
    the product's shape)."""
    _, x, _, _ = make_blobs(n=n, d=d, k=k, seed=seed, spread=1.0)
    return np.round(x * 64) / 64


def _assert_same_topl(x, ref, ref_ids, x_ids, l_nbrs, dist_fn=None):
    got = _topl_blocked(x, ref, ref_ids, x_ids, l_nbrs, dist_fn=dist_fn)
    want = _lexsort_topl(x, ref, ref_ids, x_ids, l_nbrs, dist_fn or _distances)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


@pytest.fixture
def pruned_calls(monkeypatch):
    """Query-row count of each ``_topl_pruned`` call, i.e. each
    ``_topl_blocked`` call whose probe block chose the pruned search."""
    import mopso_engine.objectives as objectives

    calls = []
    real = objectives._topl_pruned

    def spy(x, *args):
        calls.append(len(x))
        return real(x, *args)

    monkeypatch.setattr(objectives, "_topl_pruned", spy)
    return calls


def test_topl_partition_local_layout_matches_lexsort(pruned_calls):
    """A small copy of the partition-local benchmark layout: d=4 blobs,
    4 hash-by-id partitions, each ranked against itself sorted by id."""
    x = _dyadic_blobs(6000, 4, 4, seed=3)
    ids = np.arange(len(x), dtype=np.int64)
    part = np.random.default_rng(3).integers(0, 4, len(x))
    for p in range(4):
        xp, ip = x[part == p], ids[part == p]
        order = np.argsort(ip)
        _assert_same_topl(xp, xp[order], ip[order], ip, 5)
    assert len(pruned_calls) == 4


@pytest.mark.parametrize("dist_fn", [None, _distances_exact])
def test_topl_broadcast_batches_match_lexsort(dist_fn, pruned_calls):
    """d=19 query batches against the whole broadcast reference, with
    both distance forms."""
    x = _dyadic_blobs(800, 19, 7, seed=5)
    ids = np.arange(len(x), dtype=np.int64)
    perm = np.random.default_rng(5).permutation(len(x))
    for s in range(0, len(x), 200):
        batch = perm[s : s + 200]
        _assert_same_topl(x[batch], x, ids, ids[batch], L, dist_fn)
    assert pruned_calls  # the probe's choice is per batch; some prune


def test_topl_queries_outside_reference_match_lexsort():
    """Queries that are not reference rows exclude nothing."""
    ref = _dyadic_blobs(600, 4, 3, seed=8)
    q = _dyadic_blobs(150, 4, 3, seed=9)
    ref_ids = np.arange(len(ref), dtype=np.int64)
    _assert_same_topl(q, ref, ref_ids, 10_000 + np.arange(len(q)), L)


@pytest.mark.parametrize("n_ref", [2, L + 1])
def test_topl_tiny_reference_matches_lexsort(n_ref):
    ref = _dyadic_blobs(n_ref, 4, 2, seed=n_ref)
    ids = np.arange(n_ref, dtype=np.int64) * 3
    _assert_same_topl(ref[::-1], ref, ids, ids[::-1], L)
    _assert_same_topl(ref + 0.5, ref, ids, ids + 1, L)


def test_topl_ties_match_lexsort():
    g = _tied_grid()
    gids = np.arange(len(g), dtype=np.int64)
    _assert_same_topl(g, g, gids, gids, L)
    _assert_same_topl(g, g, gids, gids, 1)


@pytest.mark.parametrize("n_query", [200, 1500])
def test_topl_wide_data_ranks_against_whole_reference(n_query, pruned_calls):
    """d=32 noise does not prune: the probe block sends every query to
    the all-of-ref ranking, as a broadcast batch and as a partition."""
    wide = np.round(np.random.default_rng(2).normal(size=(1500, 32)) * 64) / 64
    wids = np.arange(len(wide), dtype=np.int64)
    _assert_same_topl(wide[:n_query], wide, wids, wids[:n_query], L)
    assert pruned_calls == []


def test_topl_continuous_blobs_same_neighbors():
    """On arbitrary doubles the neighbor ids still equal the all-pairs
    ranking's; distances agree to the gemm form's rounding."""
    _, x, _, _ = make_blobs(n=3000, d=4, k=4, seed=11, spread=1.0)
    ids = np.arange(len(x), dtype=np.int64)
    got = _topl_blocked(x, x, ids, ids, 5)
    want = _lexsort_topl(x, x, ids, ids, 5)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_allclose(got[1], want[1], rtol=1e-12, atol=1e-12)


def test_dev_matches_oracle(blobs_df, blobs):
    _, x, _, c = blobs
    assigned = assign(blobs_df, c)
    _, dist = oracle_assign(x, c)
    assert dev_of(assigned) == pytest.approx(dist.sum(), rel=1e-9)


def test_conn_relational_matches_oracle(blobs_df, blobs):
    _, x, _, c = blobs
    cl, _ = oracle_assign(x, c)
    pairs = knn_pairs_exact(blobs_df, L)
    got = conn_df(pairs, assign(blobs_df, c)).collect()[0]["conn"]
    assert got == pytest.approx(oracle_conn(x, cl, L), rel=1e-9)


def test_evaluate_solutions_matches_oracles(blobs_df, blobs):
    _, x, _, c = blobs
    rng = np.random.default_rng(1)
    stack = np.stack([c, c + rng.normal(scale=0.5, size=c.shape)])
    nbr = with_neighbors(blobs_df, L, mode="exact")
    fit = evaluate_solutions(nbr, stack)
    for s in range(2):
        cl, dist = oracle_assign(x, stack[s])
        assert fit[s, 0] == pytest.approx(dist.sum(), rel=1e-9)
        assert fit[s, 1] == pytest.approx(oracle_conn(x, cl, L), rel=1e-9)


def test_fixed_blocks_invariant_to_batch_chunking():
    """The fitness kernel's re-chunker: block boundaries are a pure
    function of (row order, block size) — the incoming Arrow batch sizes
    must not matter (that's what keeps per-block float reductions
    config-independent), and memory never needs the whole partition."""
    import pandas as pd

    from mopso_engine.objectives import _fixed_blocks

    rows = pd.DataFrame({"a": np.arange(23), "b": np.arange(23) * 1.5})

    def chunked(sizes):
        out, i = [], 0
        for s in sizes:
            out.append(rows.iloc[i : i + s].reset_index(drop=True))
            i += s
        return out

    for sizes in ([23], [1] * 23, [3, 5, 2, 8, 5], [10, 13]):
        blocks = list(_fixed_blocks(iter(chunked(sizes)), 4))
        assert [len(b) for b in blocks] == [4, 4, 4, 4, 4, 3]
        cat = pd.concat(blocks, ignore_index=True)
        assert np.array_equal(cat["a"].to_numpy(), rows["a"].to_numpy())
        assert np.array_equal(cat["b"].to_numpy(), rows["b"].to_numpy())


def test_partition_local_mode_weighted_sum(spark, blobs):
    """Avg-compat mode: Σ_p (|p|/N)·[Dev_p, Conn_p] with partition-local kNN
    (Spark_MOPSO_Avg.scala:843-865). Verified on a 2-partition layout
    partitioned by a known key."""
    ids, x, labels, c = blobs
    n = len(x)
    rows = [(int(i), [float(v) for v in xi], int(l)) for i, xi, l in zip(ids, x, labels)]
    df = (
        spark.createDataFrame(rows, "id long, features array<double>, label int")
        .repartition(2, "label")
    )
    part_of = {
        r["id"]: r["p"]
        for r in df.select("id", F.spark_partition_id().alias("p")).collect()
    }
    nbr = with_neighbors(df, L, mode="partition_local")
    fit = evaluate_solutions(nbr, np.stack([c]), partition_weighted=True, n_total=n)
    exp_dev, exp_conn = 0.0, 0.0
    for p in set(part_of.values()):
        sel = np.array([i for i in range(n) if part_of[i] == p])
        cl, dist = oracle_assign(x[sel], c)
        w = len(sel) / n
        exp_dev += w * dist.sum()
        exp_conn += w * oracle_conn(x[sel], cl, L)
    assert fit[0, 0] == pytest.approx(exp_dev, rel=1e-9)
    assert fit[0, 1] == pytest.approx(exp_conn, rel=1e-9)


def test_pairs_based_neighbors_match_broadcast_path(blobs_df, blobs):
    """The join-based with_neighbors tail ('crossjoin' mode) must produce
    the same fitness as the broadcast-exact path."""
    _, x, _, c = blobs
    stack = np.stack([c])
    f_exact = evaluate_solutions(with_neighbors(blobs_df, 5, mode="exact"), stack)
    f_pairs = evaluate_solutions(with_neighbors(blobs_df, 5, mode="crossjoin"), stack)
    np.testing.assert_allclose(f_exact, f_pairs, rtol=1e-9)


def test_exact_mode_refuses_oversized_broadcast(blobs_df):
    with pytest.raises(ValueError, match="partition_local"):
        with_neighbors(blobs_df, 5, mode="exact", n_rows=10**9)


def test_lsh_knn_mostly_agrees_with_exact(blobs_df):
    from mopso_engine.objectives import knn_pairs_lsh

    exact = {(r["id"], r["nbr_id"]) for r in knn_pairs_exact(blobs_df, 5).collect()}
    approx = {(r["id"], r["nbr_id"]) for r in knn_pairs_lsh(blobs_df, 5).collect()}
    # approximate: demand high recall on well-separated blobs
    assert len(exact & approx) / len(exact) > 0.9


def test_knn_pairs_exact_refuses_oversized_collect(blobs_df):
    """The MAX_EXACT_KNN_ROWS guard lives in knn_pairs_exact itself — a
    direct call on a big table must fail fast, not OOM the driver."""
    with pytest.raises(ValueError, match="partition_local"):
        knn_pairs_exact(blobs_df, 5, n_rows=10**9)


def test_crossjoin_unroll_matches_fold_bitexact(blobs_df):
    """knn_pairs_crossjoin's opt-in unrolled distance (dim=) must be
    BIT-identical to the default HOF fold — the r17 settle keeps the
    fold on sample-sized callers and the unroll on the recall gate's
    big-pair arm, so the two renderings must never diverge."""
    from pyspark.sql import functions as F

    from mopso_engine.objectives import knn_pairs_crossjoin

    pts = blobs_df.where(F.col("id") < 60)
    dim = len(pts.select("features").first()["features"])
    fold = knn_pairs_crossjoin(pts, 5).collect()
    unroll = knn_pairs_crossjoin(pts, 5, dim=dim).collect()
    key = lambda r: (r["id"], r["rank"])  # noqa: E731
    fold_m = {key(r): (r["nbr_id"], r["nbr_dist"]) for r in fold}
    unroll_m = {key(r): (r["nbr_id"], r["nbr_dist"]) for r in unroll}
    assert fold_m == unroll_m  # exact equality, doubles included
