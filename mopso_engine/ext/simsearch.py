"""Similarity search over an embedding column (``array<float>``).

* **Brute-force top-k cosine** — the exactness baseline: a broadcast
  join of the (small) query set against the corpus; scoring is a pure
  Catalyst expression (zip_with + aggregate), so the scan stays inside
  whole-stage codegen. Linear in corpus size, no shuffle except the
  final per-query top-k (window over query id).
* **IVF (inverted-file) top-k** — the scale path: corpus is bucketed by
  nearest coarse centroid (here: the per-label centroid — deterministic
  and oracle-friendly; at scale, a sampled k-means codebook); a query
  probes only the ``nprobe`` nearest cells. Same plan shape as a
  partition-pruned scan: the centroid assignment is the partition key.
* **Embedding-cosine near-dup** — sign-LSH bucketed candidate pairs
  (equality joins on band signatures, the dedup stack's LSH → verify
  shape) + exact cosine verification; linear in corpus size. The
  all-pairs cross product survives only as the recall-test baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mopso_engine.scope import track


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: str | Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cosine_kernel():
    """Arrow-batched cosine similarity of two array<double> columns.

    Replaces the interpreted ``_dot/(_norm·_norm)`` higher-order-function
    expression in the hot scoring paths (Spark never compiles HOF lambdas
    into codegen — measured ~10× on pair-verification at sf0.1). The
    accumulation is SEQUENTIAL OVER DIMS, so every row's result is
    bit-identical to the left-associated fold the expression twin (and the
    SQL oracle) computes: IEEE-754 double mul/add in the same order."""
    import numpy as np
    import pandas as pd

    def _cos(va, vb):
        if len(va) == 0:
            return pd.Series(np.zeros(0))
        A = np.stack(va.to_numpy())
        B = np.stack(vb.to_numpy())
        dot = np.zeros(A.shape[0])
        na = np.zeros(A.shape[0])
        nb = np.zeros(A.shape[0])
        for i in range(A.shape[1]):  # sequential over dims == the fold's order
            dot += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    _cos.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    return F.pandas_udf(_cos, "double")


def as_double_vecs(embeddings: DataFrame) -> DataFrame:
    """embeddings(vec_id, embedding float[], label) → (vec_id, vec array<double>)."""
    return embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec"), "label"
    )


def cosine_topk_bruteforce(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    (query_id, nbr_id, rank, cos_sim) — broadcast(query) × corpus, pure
    expressions, window row_number ≤ k. Ties break on nbr_id asc.
    """
    vecs = as_double_vecs(embeddings)
    q = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    pairs = vecs.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    cos = _cosine_kernel()("vec", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        pairs.select("query_id", F.col("vec_id").alias("nbr_id"), F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos_sim")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Deterministic coarse codebook: per-label mean vector.

    (label, centroid array<double>) — posexplode + two-level agg, one
    shuffle on (label, dim). At 100 TB labels come from a sampled
    k-means; the plan is identical.
    """
    vecs = as_double_vecs(embeddings)
    return (
        vecs.select("label", F.posexplode("vec").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("cs"))
        .select("label", F.col("cs.c").alias("centroid"))
    )


def cosine_topk_ivf(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, nprobe: int = 3
) -> DataFrame:
    """IVF top-k: probe only the nprobe cells whose centroid is most
    cosine-similar to the query; exact scoring within the probed cells.

    Recall < 1 by design (documented approximation); the plan replaces
    the full corpus scan with `corpus ⋈ (query × nprobe cells)` — an
    equality join on the cell key, which is what survives 100 TB.
    """
    vecs = as_double_vecs(embeddings)
    cents = label_centroids(embeddings)  # (label, centroid) — tiny
    q = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    qcos = _dot("qvec", "centroid") / (_norm("qvec") * _norm("centroid"))
    wq = Window.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("label").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qvec", "label", qcos.alias("cell_sim"))
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "label")
    )
    cand = vecs.join(F.broadcast(probes), "label").where(F.col("vec_id") != F.col("query_id"))
    cos = _cosine_kernel()("vec", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        cand.select("query_id", F.col("vec_id").alias("nbr_id"), F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos_sim")
    )


def lloyd_codebook(X, k: int, *, iters: int = 2, seed: int = 11):
    """Deterministic seeded Lloyd's k-means over an in-memory sample —
    the IVF coarse-quantizer trainer (the FAISS-style ``train()`` step).

    Pure numpy, pure function of (sorted sample, k, iters, seed): seeds
    are a seeded ``default_rng`` choice, assignment is squared-Euclidean
    argmin (ties → lowest cell), empty cells keep their previous
    centroid, and centroids are rounded to 6 dp per iteration (bounds
    literal size when injected into plans/SQL and stops cross-call float
    drift). Both the Spark query and the DuckDB oracle run THIS function
    on THE SAME sample, so the codebooks are bit-identical — the
    ``lsh_planes`` literal-injection pattern, with a trained artifact.
    """
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    if X.shape[0] < k:
        raise ValueError(f"sample has {X.shape[0]} rows < k={k}")
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(X.shape[0], size=k, replace=False))
    C = np.round(X[idx].copy(), 6)
    for _ in range(iters):
        d = np.empty((X.shape[0], k))
        for c in range(k):  # loop over k: O(n·dim) memory, not O(n·k·dim)
            diff = X - C[c]
            d[:, c] = np.einsum("ij,ij->i", diff, diff)
        asg = d.argmin(axis=1)
        for c in range(k):
            m = asg == c
            if m.any():
                C[c] = X[m].mean(axis=0)
        C = np.round(C, 6)
    return C


def train_codebook(
    embeddings: DataFrame,
    k: int = 8,
    *,
    iters: int = 2,
    sample_fraction: float = 0.5,
    salt: str = "cb",
    seed: int = 11,
    max_sample_rows: int = 1_000_000,
    method: str = "local",
) -> "list[list[float]]":
    """Sampled-k-means coarse codebook for an UNLABELED corpus — closes
    the labels-only gap of :func:`label_centroids` (verdict r2 §missing-2):
    works on any ``(vec_id, embedding)``.

    The trainer is a model-fitting step, not a data-plane operator: like
    FAISS's IVF ``train()``, it runs on a deterministic hash sample
    (md5-threshold — replayable, engine-portable, map-only filter) whose
    size the caller bounds via ``sample_fraction``; at 100 TB you sample
    ~1M vectors for a 2²⁰-cell codebook and the trainer still fits one
    node. ``max_sample_rows`` guards against an unbounded collect.

    ``method='local'`` (default): collect the sample, sort by vec_id,
    run :func:`lloyd_codebook` — bit-reproducible anywhere, which is what
    lets the DuckDB oracle re-derive the identical codebook via
    :func:`train_codebook_local`. ``method='ml'``: fit
    ``pyspark.ml.clustering.KMeans`` on the (un-collected) sample for
    corpora whose training sample itself needs a cluster — same cell-join
    serving plan, but centers are not bit-reproducible across engines,
    so use the rows-only check, not a value oracle.
    """
    from .pipeline import sample_by_hash

    vecs = as_double_vecs(embeddings.withColumn("label", F.lit(0))) if "label" not in embeddings.columns else as_double_vecs(embeddings)
    samp = sample_by_hash(vecs.select("vec_id", "vec"), "vec_id", sample_fraction, salt=salt)
    if method == "ml":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        import numpy as np

        model = KMeans(k=k, seed=seed, maxIter=max(iters, 1), initMode="k-means||").fit(
            samp.select(array_to_vector("vec").alias("features"))
        )
        C = np.round(np.array([np.asarray(c) for c in model.clusterCenters()]), 6)
        # canonical center order (the reference's sorted-center invariant)
        return C[np.lexsort(C.T[::-1])]
    import numpy as np

    rows = samp.collect()
    if len(rows) > max_sample_rows:
        raise ValueError(
            f"codebook sample has {len(rows)} rows > max_sample_rows={max_sample_rows}; "
            "lower sample_fraction (the trainer is driver-side by design)"
        )
    rows.sort(key=lambda r: r[0])
    return lloyd_codebook(np.array([r[1] for r in rows]), k, iters=iters, seed=seed)


def train_codebook_local(
    parquet_path: str,
    k: int = 8,
    *,
    iters: int = 2,
    sample_fraction: float = 0.5,
    salt: str = "cb",
    seed: int = 11,
) -> "list[list[float]]":
    """Oracle twin of :func:`train_codebook` (method='local'): the SAME
    md5-threshold sample predicate evaluated by DuckDB over the same
    parquet, same vec_id sort, same :func:`lloyd_codebook` — bit-identical
    codebook without a SparkSession."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"""
        SELECT vec_id, embedding::DOUBLE[] AS v FROM '{parquet_path}'
        WHERE (('0x' || substr(md5(vec_id::VARCHAR || '#{salt}'), 1, 8))::BIGINT)::DOUBLE
              / 4294967296.0 < {float(sample_fraction)}
        ORDER BY vec_id
        """
    ).fetchall()
    return lloyd_codebook(np.array([r[1] for r in rows]), k, iters=iters, seed=seed)


def _argmax_cell_kernel(codebook):
    """Arrow-batched nearest-cell assignment: cosine argmax over the
    (small, broadcast-as-closure) codebook. Sequential-over-dims
    accumulation ⇒ bit-identical to the SQL oracle's unnest-sum; ties
    break to the lowest cell id (numpy argmax ≡ ORDER BY cs DESC, cell)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(codebook, dtype=np.float64)  # (k, dim)
    k, dim = C.shape
    ncb = np.zeros(k)
    for i in range(dim):
        ncb += C[:, i] * C[:, i]
    ncb = np.sqrt(ncb)

    def _cell(vec):
        if len(vec) == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        V = np.stack(vec.to_numpy())
        dot = np.zeros((V.shape[0], k))
        nv = np.zeros(V.shape[0])
        for i in range(dim):  # sequential over dims == the SQL sum's order
            dot += V[:, i : i + 1] * C[:, i][None, :]
            nv += V[:, i] * V[:, i]
        cs = dot / (np.sqrt(nv)[:, None] * ncb[None, :])
        return pd.Series(cs.argmax(axis=1).astype(np.int32))

    _cell.__annotations__ = {"vec": pd.Series, "return": pd.Series}
    return F.pandas_udf(_cell, "int")


def cosine_topk_ivf_codebook(
    embeddings: DataFrame,
    codebook,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """IVF top-k over an injected coarse codebook — the unlabeled-corpus
    serving plan (:func:`cosine_topk_ivf`'s cell join, with cells from
    :func:`train_codebook` instead of the label column).

    The codebook rides into the plan as literals/closure (it IS a model
    artifact): corpus → one kernel scan assigns each vector its nearest
    cell; queries probe their ``nprobe`` most-cosine-similar cells; the
    equality join ``corpus ⋈ probes ON cell`` replaces the full scan —
    the shape that survives 100 TB (cells ≈ partition pruning keys; at
    scale you'd also write the corpus bucketed BY cell so the join is
    shuffle-free on the big side).
    """
    import numpy as np

    C = np.asarray(codebook, dtype=np.float64)
    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    cells = vecs.withColumn("cell", _argmax_cell_kernel(C)("vec"))
    q = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    # probe selection: tiny (|queries| × k) — pure expressions on literals
    cent_lits = F.array(
        *[
            F.struct(
                F.lit(c).alias("cell"),
                F.array(*[F.lit(float(v)) for v in C[c]]).alias("cv"),
            )
            for c in range(C.shape[0])
        ]
    )
    qc = q.select("query_id", "qvec", F.explode(cent_lits).alias("p")).select(
        "query_id",
        "qvec",
        F.col("p.cell").alias("cell"),
        (_dot("qvec", F.col("p.cv")) / (_norm("qvec") * _norm(F.col("p.cv")))).alias("cell_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell").asc())
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    cand = cells.join(F.broadcast(probes), "cell").where(F.col("vec_id") != F.col("query_id"))
    cos = _cosine_kernel()("vec", "qvec")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("nbr_id").asc())
    return (
        cand.select("query_id", F.col("vec_id").alias("nbr_id"), F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", "cos_sim")
    )


def crossmodal_topk_ivf(
    corpus: DataFrame,
    codebook,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """CROSS-MODAL IVF top-k — queries from ONE modality retrieve items
    of ANOTHER through a shared joint-embedding space (the CLIP-style
    serving shape): ``corpus`` is (item_id, vec) — e.g. image features
    out of the multimodal decode kernel — and ``queries`` is
    (query_id, qvec) — e.g. text queries pushed through the SAME joint
    encoder driver-side (they are literals; a query never scans).

    Identical physical shape to :func:`cosine_topk_ivf_codebook`: one
    kernel scan assigns corpus cells, queries probe their ``nprobe``
    most-similar cells via pure expressions on the codebook literals,
    and the equality join ``corpus ⋈ probes ON cell`` replaces the full
    scan. No self-exclusion — the two id spaces are disjoint by
    construction (an item cannot be its own query across modalities).

    Returns (query_id, item_id, rank, cos_sim) with the deterministic
    (cos desc, item_id asc) tie-break, cos rounded to 6.
    """
    import numpy as np

    C = np.asarray(codebook, dtype=np.float64)
    cells = corpus.select("item_id", "vec").withColumn(
        "cell", _argmax_cell_kernel(C)("vec")
    )
    return crossmodal_topk_ivf_indexed(cells, codebook, queries, k=k, nprobe=nprobe)


def crossmodal_topk_ivf_indexed(
    index: DataFrame,
    codebook,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """Serve cross-modal top-k from a MAINTAINED cell-assignment index
    — ``index`` is (item_id, vec, cell), e.g. the latest version of the
    ledger :func:`mopso_engine.ext.streaming.ivf_index_maintain_stream`
    keeps fresh (VERDICT r15 #8a). The cell assignment was paid at
    INGEST (one Arrow kernel over each increment, not the corpus), so
    the serve plan is pure probe-selection expressions on the codebook
    literals + the cell equality join + the top-k window — the corpus
    side is map-only and never re-encodes. :func:`crossmodal_topk_ivf`
    is this function behind an inline assignment (per-run rebuild);
    results are identical by construction on the same codebook.
    """
    import numpy as np

    C = np.asarray(codebook, dtype=np.float64)
    cells = index.select("item_id", "vec", "cell")
    cent_lits = F.array(
        *[
            F.struct(
                F.lit(c).alias("cell"),
                F.array(*[F.lit(float(v)) for v in C[c]]).alias("cv"),
            )
            for c in range(C.shape[0])
        ]
    )
    qc = queries.select(
        "query_id", "qvec", F.explode(cent_lits).alias("p")
    ).select(
        "query_id",
        "qvec",
        F.col("p.cell").alias("cell"),
        (
            _dot("qvec", F.col("p.cv"))
            / (_norm("qvec") * _norm(F.col("p.cv")))
        ).alias("cell_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cell_sim").desc(), F.col("cell").asc()
    )
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    cand = cells.join(F.broadcast(probes), "cell")
    cos = _cosine_kernel()("vec", "qvec")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("item_id").asc()
    )
    return (
        cand.select("query_id", "item_id", F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "item_id", "rank", "cos_sim")
    )


#: driver-bounded query-set guard for the brute-force cross-modal twin
MAX_CROSSMODAL_QUERIES = 1_000


def crossmodal_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Brute-force cross-modal cosine top-k — the EXACT twin of
    :func:`crossmodal_topk_ivf` (no codebook, no cell probe: every
    query scores the FULL corpus). Two roles: the honest serving
    fallback at tiny |queries|, and the ground truth the IVF path's
    recall is graded against (the `crossmodal_eval` ship gate — a
    cross-modal index change ships with a before/after metric like
    every other retriever, VERDICT r15 #3).

    Shape (100 TB): ``queries`` is a driver-bounded literal set
    (guarded at :data:`MAX_CROSSMODAL_QUERIES`) BROADCAST against the
    corpus, so the scoring join is map-only over the one corpus scan
    (corpus side never shuffles against itself); the only exchange is
    the |queries|-keyed rank window over corpus×|queries| scored rows
    — which is exactly why this is the baseline and IVF (probed
    fraction of the corpus, KB-scale shuffle) is the scale path.

    Returns (query_id, item_id, rank, cos_sim) with the same
    deterministic (cos desc, item_id asc) tie-break and 6dp rounding
    as the IVF twin, so the two result sets are directly comparable.
    """
    n_q = queries.count()
    if n_q > MAX_CROSSMODAL_QUERIES:
        raise ValueError(
            f"crossmodal_topk_exact: {n_q} queries exceed "
            f"MAX_CROSSMODAL_QUERIES ({MAX_CROSSMODAL_QUERIES}) — the "
            "brute-force twin scores corpus×queries rows; a query set "
            "this big belongs on the IVF path (crossmodal_topk_ivf)"
        )
    cand = corpus.select("item_id", "vec").crossJoin(
        F.broadcast(queries.select("query_id", "qvec"))
    )
    cos = _cosine_kernel()("vec", "qvec")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("item_id").asc()
    )
    return (
        cand.select("query_id", "item_id", F.round(cos, 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "item_id", "rank", "cos_sim")
    )


def lsh_planes(dim: int, n_bits: int, seed: int = 7):
    """Deterministic random-hyperplane set for sign-LSH: (n_bits, dim)
    standard normals from a seeded numpy generator. The SAME constants are
    embedded as literals in the Spark plan and in the SQL oracle, so both
    engines compute identical bucket assignments."""
    import numpy as np

    return np.random.default_rng(seed).standard_normal((n_bits, dim))


def sign_lsh_bands(
    embeddings: DataFrame, *, dim: int, bands: int = 8, rows_per_band: int = 4, seed: int = 7
) -> DataFrame:
    """(vec_id, band, sig): per-band sign-LSH signature. bit_j = 1 iff
    vec · plane_j ≥ 0; a band's signature concatenates its rows_per_band
    bits.

    The dot products run in an Arrow-batched pandas UDF whose accumulation
    is SEQUENTIAL OVER DIMS (``acc += v[i]·p[i]``, vectorized over rows):
    each per-row result is bit-identical to the left-associated Catalyst
    fold (IEEE-754 double mul/add in the same order), so bucket
    assignments match the SQL oracle exactly — while one kernel call
    replaces bands×rows_per_band interpreted higher-order-function
    evaluations per row (measured ~10× on emb_neardup; Spark's
    ``aggregate``/``zip_with`` lambdas never enter codegen, and the
    32×64-term flat expression overflows janino's 64 KB method limit).
    The expression twin (:func:`_sign_lsh_bands_expr`) stays as the
    parity baseline."""
    import numpy as np
    import pandas as pd

    n_bits = bands * rows_per_band
    planes = lsh_planes(dim, n_bits, seed)
    vecs = as_double_vecs(embeddings)

    def _band_sigs(vec):
        V = np.stack(vec.to_numpy())  # (n, dim) float64
        acc = np.zeros((V.shape[0], n_bits))
        for i in range(dim):  # sequential over dims == the fold's order
            acc += V[:, i : i + 1] * planes[:, i][None, :]
        bits = np.where(acc >= 0, "1", "0")
        return pd.Series(
            [
                ["".join(row[b * rows_per_band : (b + 1) * rows_per_band]) for b in range(bands)]
                for row in bits
            ]
        )

    # real class objects (not strings): `from __future__ import annotations`
    # would otherwise leave hints the UDF type-inferencer can't resolve
    _band_sigs.__annotations__ = {"vec": pd.Series, "return": pd.Series}
    band_sigs = F.pandas_udf(_band_sigs, "array<string>")

    return (
        vecs.select("vec_id", F.posexplode(band_sigs("vec")).alias("band", "sig"))
        .select("vec_id", F.col("band").cast("int").alias("band"), "sig")
    )


def _sign_lsh_bands_expr(
    embeddings: DataFrame, *, dim: int, bands: int = 8, rows_per_band: int = 4, seed: int = 7
) -> DataFrame:
    """Pure-Catalyst rendering of :func:`sign_lsh_bands` (interpreted HOF
    fold) — the parity baseline the kernel must match bit-for-bit."""
    planes = lsh_planes(dim, bands * rows_per_band, seed)
    vecs = as_double_vecs(embeddings)
    bits = []
    for j in range(bands * rows_per_band):
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        dot = _dot(F.col("vec"), plane)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*bits[b * rows_per_band : (b + 1) * rows_per_band]).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return (
        vecs.select("vec_id", F.explode(band_structs).alias("p"))
        .select("vec_id", F.col("p.band").alias("band"), F.col("p.sig").alias("sig"))
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    *,
    dim: int = 64,
    bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via sign-LSH
    blocking — the LSH → exact-verify composition the dedup stack uses:

    1. every vector gets ``bands`` bucket keys (sign patterns of
       ``rows_per_band`` random hyperplanes);
    2. candidate pairs come from EQUALITY self-joins on (band, sig) —
       bucketed, never an all-pairs cross product;
    3. exact cosine scores only the candidates; pairs below threshold drop.

    Recall < 1 by construction — a pair at angle θ collides in one band
    w.p. (1−θ/π)^rows_per_band — and it DEPENDS STRONGLY ON THE
    THRESHOLD. Miss-all-bands probability for a borderline pair (cos
    exactly at threshold) under the default 8 bands × 4 rows:

    ====== ========= ==================
    cos    p_band    P(miss all bands)
    ====== ========= ==================
    0.95   ~0.59     ~2·10⁻⁴
    0.80   ~0.42     ~1.3·10⁻²
    0.60   ~0.28     ~7·10⁻²
    0.40   ~0.16     ~0.25
    ====== ========= ==================

    Sign-LSH blocking is a HIGH-threshold (≥ ~0.8) near-dup tool: at
    low thresholds like 0.4 a quarter of borderline pairs are missed,
    and re-sizing bands cannot fix it without readmitting ~all random
    pairs (at cos 0.4 vs cos 0 the per-bit collision rates are 0.63 vs
    0.50 — too close to separate). Pairs well above the threshold are
    still found with high probability (the table is the worst case).
    For exhaustive low-threshold joins use
    :func:`cosine_neardup_bruteforce` (O(N²), correctness baseline) —
    the approximation here is the documented trade that makes the
    operator linear in corpus size.
    """
    vecs = as_double_vecs(embeddings)
    bs = sign_lsh_bands(
        embeddings, dim=dim, bands=bands, rows_per_band=rows_per_band, seed=seed
    )
    a = bs.select(F.col("vec_id").alias("id_a"), "band", "sig")
    b = bs.select(F.col("vec_id").alias("id_b"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))
    cos = _cosine_kernel()("va", "vb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_neardup_bruteforce(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All-pairs exact near-dup — the O(N²) correctness baseline for
    :func:`cosine_neardup_pairs` recall tests. Cross-product plan: never
    run on a real corpus."""
    vecs = as_double_vecs(embeddings)
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def semdedup(embeddings: DataFrame, codebook, *, threshold: float = 0.4) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication: quantize the embedding space into coarse cells, then
    within each cell drop every vector that is cosine-closer than
    ``threshold`` to another member, keeping one representative per
    duplicate neighborhood (the LOWEST vec_id — a deterministic stand-in
    for the paper's keep-the-medoid rule).

    Returns (vec_id, cell, keep): one row per input vector; ``keep`` is
    false iff some lower-id member of the same cell sits at
    cos ≥ threshold.

    100 TB shape — the SemDedup recipe's own cost model: the codebook is
    a model artifact riding into the plan as a closure (one Arrow scan
    assigns cells, map-only); the pairwise check is an EQUALITY
    self-join on the cell key, so work is O(Σ cell²) over in-cell pairs
    only, never a corpus cross-product. k is chosen ∝ N/cap to bound
    cell sizes (the paper uses 50k cells for LAION-440M); write the
    corpus bucketed BY cell and the big-side join is shuffle-free.
    """
    import numpy as np

    C = np.asarray(codebook, dtype=np.float64)
    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    # the assigned table feeds THREE consumers (both self-join sides +
    # the final keep join) — persist it once (tracked for the caller's
    # query scope) instead of re-running the corpus scan + decode +
    # argmax kernels per consumer (r17 audit: 3 scans / 6 Arrow kernel
    # nodes in the executed plan before)
    cells = track(vecs.withColumn("cell", _argmax_cell_kernel(C)("vec")).persist())
    a = cells.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"), "cell")
    b = cells.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"), "cell")
    cos = _cosine_kernel()("va", "vb")
    dups = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_b", cos.alias("cs"))
        .where(F.col("cs") >= F.lit(threshold))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(dups.withColumn("dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(~F.col("dup"), F.lit(True)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: the memory-bound ANN tier (encode + ADC scoring)
# ---------------------------------------------------------------------------

def train_pq(
    embeddings: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    dims: int = 64,
    iters: int = 2,
    sample_fraction: float = 0.5,
    salt: str = "pq",
    seed: int = 11,
    max_sample_rows: int = 1_000_000,
):
    """Product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` subspaces of dims/m and train an independent
    seeded :func:`lloyd_codebook` per subspace on the SAME deterministic
    sorted hash sample (seed offset by subspace). Returns an (m, k,
    dims/m) float array — the model artifact that compresses a vector
    to m small codes (m bytes at k ≤ 256): the tier that makes
    billion-vector ANN fit in memory. Bit-reproducible; the oracle twin
    is :func:`train_pq_local`."""
    import numpy as np

    from mopso_engine.ext.pipeline import hash_uniform

    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    samp = embeddings.where(hash_uniform("vec_id", salt=salt) < F.lit(sample_fraction)).select(
        "vec_id", "embedding"
    )
    n = samp.count()
    if n > max_sample_rows:
        raise ValueError(
            f"train_pq sample has {n} rows > max_sample_rows={max_sample_rows}: "
            "lower sample_fraction instead of collecting a corpus to the driver"
        )
    rows = samp.orderBy("vec_id").collect()
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64)[:dims] for r in rows])
    w = dims // m
    return np.stack(
        [lloyd_codebook(X[:, s * w : (s + 1) * w], k, iters=iters, seed=seed + s) for s in range(m)]
    )


def train_pq_local(
    parquet_path: str,
    *,
    m: int = 8,
    k: int = 16,
    dims: int = 64,
    iters: int = 2,
    sample_fraction: float = 0.5,
    salt: str = "pq",
    seed: int = 11,
):
    """Oracle twin of :func:`train_pq`: same md5 sample, same sort, same
    per-subspace seeded trainer, straight from the parquet."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"""
        SELECT vec_id, embedding::DOUBLE[] AS v FROM '{parquet_path}'
        WHERE (('0x' || substr(md5(vec_id::VARCHAR || '#{salt}'), 1, 8))::BIGINT)::DOUBLE
              / 4294967296.0 < {float(sample_fraction)}
        ORDER BY vec_id
        """
    ).fetchall()
    X = np.array([r[1] for r in rows], dtype=np.float64)[:, :dims]
    w = dims // m
    return np.stack(
        [lloyd_codebook(X[:, s * w : (s + 1) * w], k, iters=iters, seed=seed + s) for s in range(m)]
    )


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """Encode the corpus: (vec_id, subspace, code) — per subspace, the
    squared-L2 argmin code (ties → lowest code, numpy argmin ≡ the SQL
    ORDER BY d, code). ONE map-only Arrow scan; per-subspace distance
    accumulation is sequential over dims, so every d — and therefore
    every argmin — replays bit-identically as the SQL fold."""
    import numpy as np
    import pandas as pd

    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, w)
    m, k, w = C.shape

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)[:, : m * w]
            n = X.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                d = np.zeros((n, k))
                for j in range(w):  # sequential over dims == the SQL fold
                    diff = X[:, s * w + j : s * w + j + 1] - C[s, :, j][None, :]
                    d += diff * diff
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "subspace": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes.ravel(),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, schema="vec_id long, subspace int, code int"
    )


def pq_topk(
    embeddings: DataFrame, codebooks, query_ids: list[int], topk: int = 5
) -> DataFrame:
    """PQ top-k by asymmetric distance (ADC): exact query vectors score
    the ENCODED corpus through per-query lookup tables — dist(q, x̂) =
    Σ_s ||q_s − C_s[code_s(x)]||², i.e. m table lookups + adds per
    candidate instead of a dims-wide scan. The approximation IS the
    operator (the oracle replays the same codes and the same luts).

    Shape at 100 TB: the corpus is touched once to encode (m codes per
    vector ≈ 32× smaller than the raw floats); serving joins the slim
    code stream against broadcast luts — here rendered as one encode
    scan + a broadcast lut join + per-query top-k windows."""
    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)
    m, k, w = C.shape
    q = (
        embeddings.where(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    lut_rows = []
    for r in q:
        qv = np.asarray(r["embedding"], dtype=np.float64)[: m * w]
        for s in range(m):
            d = np.zeros(k)
            for j in range(w):  # sequential over dims == the SQL fold
                diff = qv[s * w + j] - C[s, :, j]
                d += diff * diff
            for c in range(k):
                lut_rows.append((int(r["vec_id"]), s, c, float(d[c])))
    spark = embeddings.sparkSession
    lut = spark.createDataFrame(lut_rows, "query_id long, subspace int, code int, d double")
    codes = pq_encode(embeddings, C)
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("nbr_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    wnd = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wnd).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "nbr_id", "rank", "adc_dist")
    )


def pq_topk_ivf(
    embeddings: DataFrame,
    coarse_codebook,
    pq_codebooks,
    query_ids: list[int],
    topk: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """IVF + PQ — the full FAISS-style billion-scale serving stack in
    one plan: the coarse codebook prunes the corpus to the ``nprobe``
    most-cosine-similar cells per query (equality join on the cell key),
    and only the survivors are scored by PQ asymmetric distance through
    broadcast per-query lookup tables. Encodes RAW vectors, not
    residuals (the classic IVFPQ refinement — documented simplification;
    the plan shape is identical).

    100 TB: corpus touched once to assign cells + encode (both map-only
    Arrow scans, output ≈ 32× smaller than the floats); serving moves
    only probed-cell code rows; write the codes bucketed BY cell and the
    probe join is shuffle-free."""
    import numpy as np

    Cc = np.asarray(coarse_codebook, dtype=np.float64)
    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    cells = vecs.withColumn("cell", _argmax_cell_kernel(Cc)("vec"))

    # probe selection: literal-codebook cosine, same as cosine_topk_ivf_codebook
    q = vecs.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cent_lits = F.array(
        *[
            F.struct(
                F.lit(c).alias("cell"),
                F.array(*[F.lit(float(v)) for v in Cc[c]]).alias("cv"),
            )
            for c in range(Cc.shape[0])
        ]
    )
    qc = q.select("query_id", "qvec", F.explode(cent_lits).alias("pl")).select(
        "query_id",
        F.col("pl.cell").alias("cell"),
        (_dot(F.col("qvec"), F.col("pl.cv")) / (_norm(F.col("qvec")) * _norm(F.col("pl.cv")))).alias(
            "cell_sim"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell").asc())
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "cell")
    )

    # ADC over the probed cells only
    C = np.asarray(pq_codebooks, dtype=np.float64)
    m, k, w = C.shape
    qrows = (
        embeddings.where(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)[: m * w]
        for s in range(m):
            d = np.zeros(k)
            for j in range(w):  # sequential over dims == the SQL fold
                diff = qv[s * w + j] - C[s, :, j]
                d += diff * diff
            for c in range(k):
                lut_rows.append((int(r["vec_id"]), s, c, float(d[c])))
    lut = embeddings.sparkSession.createDataFrame(
        lut_rows, "query_id long, subspace int, code int, d double"
    )
    cand = cells.join(F.broadcast(probes), "cell").where(F.col("vec_id") != F.col("query_id"))
    codes = pq_encode(embeddings, C)
    scored = (
        cand.select("query_id", "vec_id")
        .join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("nbr_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    wnd = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wnd).cast("int"))
        .where(F.col("rank") <= topk)
        .select("query_id", "nbr_id", "rank", "adc_dist")
    )


def embedding_outliers(
    embeddings: DataFrame, codebook, *, frac: float = 0.05
) -> DataFrame:
    """Rank-based embedding outlier detection — the vector-space data-
    quality gate (mislabeled scrapes, decode garbage, and off-manifold
    points sit far from every cluster): assign each vector to its
    nearest codebook cell, score by cosine distance to the OWN cell's
    centroid, and flag the ``frac`` farthest per cell.

    Rank-based on purpose: per-cell mean/std float aggregates would be
    partition-order-inexact, but a rank over micro-unit-quantized
    distances (floor(d·1e6 + ½) as long, vec_id tiebreak) is INTEGER
    arithmetic — deterministic under any partitioning and exactly
    replayable by the SQL oracle. Per-cell thresholds also adapt to
    cluster density for free (a tight cluster's 5% tail is much nearer
    than a diffuse one's), which a global distance cutoff cannot do.

    Output: (vec_id, cell, dist, is_outlier) — one row per vector.

    Scale shape: one Arrow scan assigns cells (codebook rides the
    closure), the k-row centroid table broadcast-joins back for the
    own-cell distance, and both rank windows share ONE cell-keyed
    Exchange. Nothing global, nothing quadratic; cells bound every
    window partition (k ∝ N/cap, as in semdedup).
    """
    import numpy as np

    C = np.asarray(codebook, dtype=np.float64)
    spark = embeddings.sparkSession
    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    cells = vecs.withColumn("cell", _argmax_cell_kernel(C)("vec"))
    cb = spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(len(C))],
        "cell int, cvec array<double>",
    )
    dist = F.lit(1.0) - _cosine_kernel()("vec", "cvec")
    scored = (
        cells.join(F.broadcast(cb), "cell")
        .withColumn("__dq", F.floor(dist * F.lit(1e6) + F.lit(0.5)).cast("long"))
    )
    w = Window.partitionBy("cell").orderBy(F.col("__dq").desc(), F.col("vec_id").asc())
    ws = Window.partitionBy("cell")
    return (
        scored.withColumn("__rnk", F.row_number().over(w))
        .withColumn("__sz", F.count("*").over(ws))
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.round(F.col("__dq") / F.lit(1e6), 6).alias("dist"),
            (F.col("__rnk") <= F.ceil(F.lit(float(frac)) * F.col("__sz"))).alias("is_outlier"),
        )
    )


#: driver-side ceiling for the broadcast benchmark matrix in
#: semantic_decontaminate — suites are ~1e4-1e6 rows; past this the
#: operator must switch to the IVF candidate path instead of silently
#: collecting an unbounded matrix.
MAX_BENCH_ROWS = 100_000


def semantic_decontaminate(
    embeddings: DataFrame,
    *,
    bench_fraction: float = 0.05,
    threshold: float = 0.8,
    salt: str = "sembench",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling of
    ngram_decontaminate (dedup.py:420): flag every corpus vector whose
    max cosine similarity to ANY held-out benchmark vector reaches
    ``threshold``, catching paraphrased/reformatted test-set leakage that
    n-gram overlap misses. As there, the 'benchmark' is a deterministic
    md5-hash sample of the corpus itself — the plumbing, not the suite,
    is the operator.

    Returns (vec_id, in_benchmark, max_cos, nearest_bench_id,
    contaminated) — one row per input vector; benchmark members trivially
    match themselves, so they are excluded both from the candidate
    benchmark matrix a probe compares against (a vector never matches
    itself) and from the flag.

    Exactness: per-pair cosine accumulates SEQUENTIALLY OVER DIMS (the
    same left-fold as _cosine_kernel, bit-identical to the SQL oracle's
    per-pair sum), is quantized to 6 decimals BEFORE the argmax, and ties
    break to the min benchmark vec_id — the winning neighbor and the flag
    are exact under any partitioning.

    100 TB shape: benchmark suites are small by construction, so the
    bench matrix (guarded by MAX_BENCH_ROWS) rides the Arrow kernel's
    closure as an implicit broadcast and the corpus is scored in ONE
    map-only scan — no join, no shuffle, BLAS-friendly batches. A
    benchmark past the guard should go through the IVF probe path
    (cosine_topk_ivf_codebook) instead.
    """
    from mopso_engine.ext.pipeline import hash_uniform

    import numpy as np
    import pandas as pd

    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    is_bench = hash_uniform("vec_id", salt=salt) < F.lit(float(bench_fraction))
    bench_df = vecs.where(is_bench)
    # size-gate BEFORE the collect so an oversized suite raises instead
    # of materializing on the driver first (the limit bounds the count
    # job itself — it never scans past MAX_BENCH_ROWS+1 matches)
    n_bench = bench_df.select("vec_id").limit(MAX_BENCH_ROWS + 1).count()
    if n_bench > MAX_BENCH_ROWS:
        raise ValueError(
            f"benchmark sample has >{MAX_BENCH_ROWS} rows (MAX_BENCH_ROWS); "
            "use the IVF candidate path for oversized suites"
        )
    if n_bench < 2:
        # with a single bench member that member self-masks every
        # candidate and would emit -inf; the oracle drops the row — so
        # require a real suite instead of disagreeing silently
        raise ValueError(
            f"benchmark sample has {n_bench} row(s); need >= 2 — raise bench_fraction"
        )
    bench = bench_df.orderBy("vec_id").collect()
    bench_ids = np.array([r["vec_id"] for r in bench], dtype=np.int64)
    B = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in bench])
    bn = np.zeros(B.shape[0])
    for i in range(B.shape[1]):  # same fold order as the per-row norms
        bn += B[:, i] * B[:, i]
    bnorm = np.sqrt(bn)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["vec"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            dot = np.zeros((A.shape[0], B.shape[0]))
            na = np.zeros(A.shape[0])
            for i in range(A.shape[1]):  # sequential over dims == SQL's fold
                dot += A[:, i : i + 1] * B[:, i]
                na += A[:, i] * A[:, i]
            cos = dot / (np.sqrt(na)[:, None] * bnorm[None, :])
            # a vector never matches itself: mask self-pairs out of the
            # candidate matrix before the argmax
            cos[ids[:, None] == bench_ids[None, :]] = -np.inf
            q = np.floor(cos * 1e6 + 0.5)  # quantize BEFORE argmax
            best = q.max(axis=1)
            # tie -> min bench id: first True along the sorted bench axis
            nearest = bench_ids[np.argmax(q == best[:, None], axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "max_cos": best / 1e6,
                    "nearest_bench_id": nearest,
                }
            )

    scored = vecs.mapInPandas(
        kernel, "vec_id long, max_cos double, nearest_bench_id long"
    )
    return (
        scored.withColumn("in_benchmark", is_bench.alias("in_benchmark"))
        .select(
            "vec_id",
            "in_benchmark",
            F.round("max_cos", 6).alias("max_cos"),
            "nearest_bench_id",
            ((~is_bench) & (F.col("max_cos") >= F.lit(float(threshold)))).alias(
                "contaminated"
            ),
        )
    )


def cluster_balanced_sample(
    embeddings: DataFrame, codebook, *, per_cell: int = 50, salt: str = "s0"
) -> DataFrame:
    """Cluster-balanced (diversity) sampling: cap every coarse semantic
    cell at ``per_cell`` members — the standard way to keep a training
    sample from collapsing onto the corpus's dominant modes (the
    cluster-then-balance step of data-selection pipelines built on
    SemDedup-style cells).

    Members are chosen by a DETERMINISTIC per-row md5 rank (uniform
    within each cell, exactly replayable — no rand(), no
    partition-order dependence), so the same corpus always yields the
    same sample. Returns (vec_id, cell, rk) for the kept rows.

    100 TB shape: the codebook is a model artifact in the kernel
    closure (one map-only Arrow scan assigns cells); the cap is ONE
    rank window on the cell key, which Spark executes as
    WindowGroupLimit — per-partition top-k heaps before the shuffle, so
    the exchange carries at most k·cells rows per map task, never the
    corpus.
    """
    import numpy as np

    if per_cell < 1:
        raise ValueError("per_cell must be >= 1")
    C = np.asarray(codebook, dtype=np.float64)
    vecs = as_double_vecs(
        embeddings if "label" in embeddings.columns else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    cells = vecs.withColumn("cell", _argmax_cell_kernel(C)("vec"))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("vec_id").cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql.window import Window

    w = Window.partitionBy("cell").orderBy(F.col("h").asc(), F.col("vec_id").asc())
    return (
        cells.select("vec_id", F.col("cell").cast("int").alias("cell"), h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= F.lit(int(per_cell)))
        .select("vec_id", "cell", "rk")
    )


MAX_INT8_QUERIES = 1_000


def int8_topk_recall(
    embeddings: DataFrame, query_ids: list[int], *, k: int = 10
) -> DataFrame:
    """Recall audit for int8 scalar quantization — the 4x-memory serving
    compression (symmetric SQ8, the FAISS ``SQ8``/vector-DB default):
    per vector, scale = max |v_i| and code_i = floor(v_i/scale*127 + .5);
    retrieval scores by the INTEGER code dot product. This operator
    measures what that compression costs: for each pinned query, the
    overlap between the exact dot-product top-k and the int8 top-k.

    Exactness: the exact ranking key is the per-dim micro-quantized
    contribution sum (floor(x*y*1e6+.5) per term — integers, so the sum
    is order-free); the int8 ranking key is int_dot * candidate_scale
    (the query's scale is constant inside its window, so it cannot
    change the order), a single double product both engines compute from
    identical operands; ties break to the smaller nbr_id. Zero vectors
    quantize to all-zero codes (guarded against 0/0).

    100 TB shape: the pinned query codes+scales ride the Arrow kernel's
    closure (guarded by MAX_INT8_QUERIES), the corpus is scored in ONE
    map-only scan — at serving time only the int8 codes (+1 double) need
    to live in memory, 4x less than float32 — and the two per-query
    top-k rankings execute as WindowGroupLimit heaps, so the one
    exchange carries at most 2k rows per query per map partition.

    Returns (query_id, overlap, k) — |exact top-k ∩ int8 top-k| per
    query; recall@k = overlap / k.
    """
    import numpy as np
    import pandas as pd

    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    if len(query_ids) > MAX_INT8_QUERIES:
        raise ValueError(
            f"{len(query_ids)} query ids > MAX_INT8_QUERIES ({MAX_INT8_QUERIES})"
        )
    vecs = as_double_vecs(
        embeddings
        if "label" in embeddings.columns
        else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    qrows = (
        vecs.where(F.col("vec_id").isin([int(i) for i in query_ids]))
        .orderBy("vec_id")
        .collect()
    )
    if len(qrows) != len(set(int(i) for i in query_ids)):
        found = {r["vec_id"] for r in qrows}
        raise ValueError(
            f"query ids not present in corpus: "
            f"{sorted(set(int(i) for i in query_ids) - found)}"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in qrows])
    qscale = np.abs(Q).max(axis=1)
    qcodes = np.where(
        qscale[:, None] > 0, np.floor(Q / np.where(qscale == 0, 1.0, qscale)[:, None] * 127.0 + 0.5), 0.0
    ).astype(np.int64)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["vec"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            n, d = A.shape
            m = len(qids)
            cscale = np.abs(A).max(axis=1)
            ccodes = np.where(
                cscale[:, None] > 0,
                np.floor(A / np.where(cscale == 0, 1.0, cscale)[:, None] * 127.0 + 0.5),
                0.0,
            ).astype(np.int64)
            int_dot = ccodes @ qcodes.T  # exact int64
            # if EITHER side's scale is 0 its codes are all zero -> dot 0,
            # matching the oracle's per-term CASE guard
            dm = np.zeros((n, m), dtype=np.int64)
            for i in range(d):  # per-term floor -> integer sum, order-free
                dm += np.floor(A[:, i : i + 1] * Q[None, :, i] * 1e6 + 0.5).astype(
                    np.int64
                )
            yield pd.DataFrame(
                {
                    "nbr_id": np.repeat(ids, m),
                    "query_id": np.tile(qids, n),
                    "dot_micro": dm.reshape(-1),
                    "int_dot": int_dot.reshape(-1),
                    "cscale": np.repeat(cscale, m),
                }
            )

    scored = vecs.mapInPandas(
        kernel,
        "nbr_id long, query_id long, dot_micro long, int_dot long, cscale double",
    ).where(F.col("nbr_id") != F.col("query_id"))

    we = Window.partitionBy("query_id").orderBy(
        F.desc("dot_micro"), F.asc("nbr_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc(F.col("int_dot") * F.col("cscale")), F.asc("nbr_id")
    )
    exact_top = (
        scored.withColumn("rk", F.row_number().over(we))
        .where(F.col("rk") <= k)
        .select("query_id", "nbr_id")
    )
    int8_top = (
        scored.withColumn("rk", F.row_number().over(wa))
        .where(F.col("rk") <= k)
        .select("query_id", "nbr_id")
    )
    return (
        exact_top.join(
            int8_top.withColumn("hit", F.lit(1)), ["query_id", "nbr_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.count("hit").alias("overlap"))
        .select("query_id", "overlap", F.lit(int(k)).alias("k"))
    )


def prefix_topk_recall(
    embeddings: DataFrame, query_ids: list[int], *, k: int = 10, prefix_dims: int = 16
) -> DataFrame:
    """Recall audit for PREFIX-dimension truncation — the
    Matryoshka-representation serving trick (keep the first m dims of a
    d-dim embedding, cutting index memory and dot cost by d/m): per
    pinned query, the overlap between the full-dimension dot-product
    top-k and the first-``prefix_dims`` top-k.

    Exactness: both ranking keys are order-free integer micro-quantized
    contribution sums (floor(x·y·1e6+.5) per term), ties break to the
    smaller nbr_id — the same discipline as :func:`int8_topk_recall`,
    so rankings and overlaps hash-match the SQL replay (which slices the
    arrays to the prefix).

    100 TB shape: pinned query vectors ride the Arrow closure (guarded
    by MAX_INT8_QUERIES), ONE map-only corpus scan emits both keys, two
    WindowGroupLimit rankings and a tiny per-query aggregate finish.

    Returns (query_id, overlap, k).
    """
    import numpy as np
    import pandas as pd

    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    if len(query_ids) > MAX_INT8_QUERIES:
        raise ValueError(
            f"{len(query_ids)} query ids > MAX_INT8_QUERIES ({MAX_INT8_QUERIES})"
        )
    if prefix_dims < 1:
        raise ValueError(f"prefix_dims must be >= 1, got {prefix_dims}")
    vecs = as_double_vecs(
        embeddings
        if "label" in embeddings.columns
        else embeddings.withColumn("label", F.lit(0))
    ).select("vec_id", "vec")
    qrows = (
        vecs.where(F.col("vec_id").isin([int(i) for i in query_ids]))
        .orderBy("vec_id")
        .collect()
    )
    if len(qrows) != len(set(int(i) for i in query_ids)):
        found = {r["vec_id"] for r in qrows}
        raise ValueError(
            f"query ids not present in corpus: "
            f"{sorted(set(int(i) for i in query_ids) - found)}"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in qrows])
    m = int(prefix_dims)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["vec"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            n, d = A.shape
            full = np.zeros((n, len(qids)), dtype=np.int64)
            pref = np.zeros((n, len(qids)), dtype=np.int64)
            for i in range(d):  # per-term floor -> order-free integers
                c = np.floor(A[:, i : i + 1] * Q[None, :, i] * 1e6 + 0.5).astype(
                    np.int64
                )
                full += c
                if i < m:
                    pref += c
            yield pd.DataFrame(
                {
                    "nbr_id": np.repeat(ids, len(qids)),
                    "query_id": np.tile(qids, n),
                    "dot_full": full.reshape(-1),
                    "dot_pref": pref.reshape(-1),
                }
            )

    scored = vecs.mapInPandas(
        kernel, "nbr_id long, query_id long, dot_full long, dot_pref long"
    ).where(F.col("nbr_id") != F.col("query_id"))
    wf = Window.partitionBy("query_id").orderBy(F.desc("dot_full"), F.asc("nbr_id"))
    wp = Window.partitionBy("query_id").orderBy(F.desc("dot_pref"), F.asc("nbr_id"))
    full_top = (
        scored.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= k)
        .select("query_id", "nbr_id")
    )
    pref_top = (
        scored.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= k)
        .select("query_id", "nbr_id")
    )
    return (
        full_top.join(
            pref_top.withColumn("hit", F.lit(1)), ["query_id", "nbr_id"], "left"
        )
        .groupBy("query_id")
        .agg(F.count("hit").alias("overlap"))
        .select("query_id", "overlap", F.lit(int(k)).alias("k"))
    )


MAX_CALIB_SAMPLE = 1_000


def neardup_threshold_curve(
    embeddings: DataFrame,
    *,
    sample_ids_below: int = 100,
    thresholds_pct: list[int] = (80, 85, 90, 95, 99),
) -> DataFrame:
    """Threshold-calibration curve for semantic dedup: on a pinned
    sample, count the near-duplicate pairs each cosine threshold would
    flag — the table you read BEFORE picking semdedup/decontamination
    knobs (is 0.95 three pairs or three thousand?).

    Exactness: the metric is the cosine of the MICRO-QUANTIZED vectors
    (q_i = floor(v_i·1e6+.5)), and every threshold test is exact
    integer/decimal arithmetic — cos ≥ p/100 rewritten as
    dot>0 ∧ (100·dot)² ≥ p²·|a|²·|b|², with the squares computed in
    DECIMAL precisions chosen so nothing rounds (18,0→37,0 and
    5,0×14,0×14,0→35,0) — so the counts are bit-stable across engines
    with NO square roots and NO float comparisons at the boundary.

    The sample is pinned (``vec_id < sample_ids_below``, guarded by
    MAX_CALIB_SAMPLE): calibration is a bounded-quadratic audit by
    design — all-pairs on ≤1k rows — never the production dedup path
    (that stays banded/coded; this measures what those
    paths should be tuned to).

    Returns (threshold_pct, n_pairs) — pairs with a < b.
    """
    if sample_ids_below > MAX_CALIB_SAMPLE:
        raise ValueError(
            f"sample_ids_below {sample_ids_below} > MAX_CALIB_SAMPLE "
            f"({MAX_CALIB_SAMPLE}); calibration is a bounded-quadratic audit"
        )
    if not thresholds_pct:
        raise ValueError("thresholds_pct must be non-empty")
    q = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
    )
    s = embeddings.where(F.col("vec_id") < int(sample_ids_below)).select(
        "vec_id", q.alias("q")
    )
    # guard the ACTUAL row count, not the id threshold — duplicate or
    # negative vec_ids could otherwise sneak an unbounded sample past
    # the bound the quadratic audit depends on (the limit bounds the
    # count job itself)
    n_sample = s.select("vec_id").limit(MAX_CALIB_SAMPLE + 1).count()
    if n_sample > MAX_CALIB_SAMPLE:
        raise ValueError(
            f"sample has >{MAX_CALIB_SAMPLE} rows (duplicate/negative ids?) — "
            "the calibration audit must stay bounded-quadratic"
        )
    a = s.select(F.col("vec_id").alias("id_a"), F.col("q").alias("qa"))
    b = s.select(F.col("vec_id").alias("id_b"), F.col("q").alias("qb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(qa, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("na2"),
        F.expr(
            "aggregate(transform(qb, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("nb2"),
    )
    th = F.explode(
        F.array(*[F.lit(int(p)) for p in thresholds_pct])
    ).alias("threshold_pct")
    hit = F.expr(
        "dot > 0 AND "
        "CAST(100 * dot AS DECIMAL(18,0)) * CAST(100 * dot AS DECIMAL(18,0)) "
        ">= CAST(threshold_pct * threshold_pct AS DECIMAL(5,0)) "
        "   * CAST(na2 AS DECIMAL(14,0)) * CAST(nb2 AS DECIMAL(14,0))"
    )
    return (
        pairs.select("dot", "na2", "nb2", th)
        .groupBy("threshold_pct")
        .agg(F.sum(hit.cast("long")).alias("n_pairs"))
    )
