"""Evaluation metrics (SURVEY A9-A15) as DataFrame plans.

Each metric takes the assignment table (id, cluster, dist[, label]) and
is a single groupBy/window plan — replacing the reference's per-class
job storms (k·|archive| filter+assign jobs, Spark_MOPSO_Avg.scala:342-348)
with one shuffle each (SURVEY §4.1).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window


def cluster_sizes(assigned: DataFrame) -> DataFrame:
    """A8: cluster-size histogram."""
    return assigned.groupBy("cluster").agg(F.count("*").alias("n")).orderBy("cluster")


def purity_table(assigned_with_labels: DataFrame) -> DataFrame:
    """A9 (getTrueRateNew): for each true label, the modal predicted
    cluster and its count — one groupBy + one window instead of k jobs.

    Returns (label, modal_cluster, modal_count, label_total).
    Ties break to the smaller cluster id (the reference's maxBy keeps the
    first maximum in iteration order, which over a HashMap is
    nondeterministic — we pin a deterministic rule).
    """
    counts = assigned_with_labels.groupBy("label", "cluster").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("label").orderBy(F.col("cnt").desc(), F.col("cluster").asc())
    totals = Window.partitionBy("label")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("label_total", F.sum("cnt").over(totals))
        .where(F.col("rn") == 1)
        .select(
            "label",
            F.col("cluster").alias("modal_cluster"),
            F.col("cnt").alias("modal_count"),
            "label_total",
        )
        .orderBy("label")
    )


def purity_all_solutions(points: DataFrame, centers_stack) -> DataFrame:
    """A9 for a WHOLE archive in one pass: multi-solution assignment +
    one groupBy + one window — versus the reference's k·|archive| separate
    filter+assign jobs (Spark_MOPSO_Avg.scala:325-356, SURVEY §4.1).

    Returns (solution, label, modal_cluster, modal_count, label_total).
    """
    from pyspark.sql.window import Window as W

    from mopso_engine.assign import assign_all_solutions

    awl = assign_all_solutions(points, centers_stack).join(
        points.select("id", "label"), "id"
    )
    counts = awl.groupBy("solution", "label", "cluster").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("solution", "label").orderBy(F.col("cnt").desc(), F.col("cluster").asc())
    totals = W.partitionBy("solution", "label")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("label_total", F.sum("cnt").over(totals))
        .where(F.col("rn") == 1)
        .select(
            "solution",
            "label",
            F.col("cluster").alias("modal_cluster"),
            F.col("cnt").alias("modal_count"),
            "label_total",
        )
    )


def purity_accuracy(assigned_with_labels: DataFrame, n_total: int, k: int) -> tuple[float, bool]:
    """Global purity = Σ modal_count / N, accepted only when the modal
    clusters of the k labels are pairwise distinct (map size == k,
    Spark_MOPSO_Avg.scala:339-356). Returns (purity, accepted)."""
    rows = purity_table(assigned_with_labels).collect()
    acc = sum(r["modal_count"] for r in rows) / float(n_total)
    distinct = len({r["modal_cluster"] for r in rows})
    return acc, distinct == k


def inertia(assigned: DataFrame) -> float:
    """A13: Σ dist² (calInertia, Spark_MOPSO_Avg.scala:1351-1364)."""
    return assigned.agg(F.sum(F.col("dist") * F.col("dist")).alias("sse")).collect()[0]["sse"]


def within_cluster_mean_dist(assigned: DataFrame) -> DataFrame:
    """A11: cluster → avg(dist) (DBI input, Spark_MOPSO_Avg.scala:1320-1325)."""
    return assigned.groupBy("cluster").agg(F.avg("dist").alias("mean_dist")).orderBy("cluster")


def davies_bouldin(assigned: DataFrame, centers: np.ndarray, *, max_not_reset: bool = False) -> float:
    """A12: DBI = avg_i max_{j≠i} (s_i+s_j)/d(c_i,c_j).

    One Spark aggregate (A11) + a k×k numpy loop on the driver. The
    reference never resets the inner ``max`` across i
    (Spark_MOPSO_Avg.scala:1317,1326-1340) — so each term is a running
    max over ALL pairs seen so far; reproduced with
    ``max_not_reset=True``.
    """
    s_rows = within_cluster_mean_dist(assigned).collect()
    k = len(centers)
    s = np.zeros(k)
    for r in s_rows:
        s[r["cluster"] - 1] = r["mean_dist"]
    c = np.asarray(centers, dtype=np.float64)
    total = 0.0
    running = 0.0
    for i in range(k):
        m = running if max_not_reset else 0.0
        for j in range(k):
            if i == j:
                continue
            d = float(np.sqrt(((c[i] - c[j]) ** 2).sum()))
            if d > 0:
                m = max(m, (s[i] + s[j]) / d)
        total += m
        running = m
    return total / k


def silhouette_exact(points: DataFrame, assigned: DataFrame, *, include_self: bool = True) -> float:
    """A14: exact O(N²) silhouette via a self-join of the assigned points.

    mean over i of (b−a)/max(a,b); a = mean distance to own cluster
    (INCLUDING self when ``include_self`` — the reference's bias,
    Spark_MOPSO_Avg.scala:622-633), b = min over other clusters of the
    mean distance. Quadratic: run on samples; at scale use
    ``ml.evaluation.ClusteringEvaluator`` (squared-euclidean silhouette).
    """
    pts = points.select("id", "features").join(assigned.select("id", "cluster"), "id")
    a = pts.select(
        F.col("id").alias("i"), F.col("features").alias("fi"), F.col("cluster").alias("ci")
    )
    b = pts.select(
        F.col("id").alias("j"), F.col("features").alias("fj"), F.col("cluster").alias("cj")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("fi", "fj", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = a.crossJoin(b)
    if not include_self:
        pairs = pairs.where(F.col("i") != F.col("j"))
    per_cluster = (
        pairs.select("i", "ci", "cj", dist.alias("d"))
        .groupBy("i", "ci", "cj")
        .agg(F.avg("d").alias("mean_d"))
    )
    own = per_cluster.where(F.col("ci") == F.col("cj")).select("i", F.col("mean_d").alias("a"))
    other = (
        per_cluster.where(F.col("ci") != F.col("cj"))
        .groupBy("i")
        .agg(F.min("mean_d").alias("b"))
    )
    sil = own.join(other, "i").select(
        ((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))).alias("s")
    )
    row = sil.agg(F.avg("s").alias("sil")).collect()[0]
    return float(row["sil"]) if row["sil"] is not None else 0.0


def silhouette_exact_df(points: DataFrame, assigned: DataFrame, *, include_self: bool = True, ndigits: int = 6) -> DataFrame:
    """1-row DataFrame(sil double) twin of :func:`silhouette_exact`, for
    declarative pipelines / oracle checks."""
    pts = points.select("id", "features").join(assigned.select("id", "cluster"), "id")
    a = pts.select(F.col("id").alias("i"), F.col("features").alias("fi"), F.col("cluster").alias("ci"))
    b = pts.select(F.col("id").alias("j"), F.col("features").alias("fj"), F.col("cluster").alias("cj"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("fi", "fj", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    pairs = a.crossJoin(b)
    if not include_self:
        pairs = pairs.where(F.col("i") != F.col("j"))
    per_cluster = (
        pairs.select("i", "ci", "cj", dist.alias("d"))
        .groupBy("i", "ci", "cj")
        .agg(F.avg("d").alias("mean_d"))
    )
    own = per_cluster.where(F.col("ci") == F.col("cj")).select("i", F.col("mean_d").alias("a"))
    other = per_cluster.where(F.col("ci") != F.col("cj")).groupBy("i").agg(F.min("mean_d").alias("b"))
    return (
        own.join(other, "i")
        .select(((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))).alias("s"))
        .agg(F.round(F.avg("s"), ndigits).alias("sil"))
    )


def silhouette_all_solutions(points: DataFrame, centers_stack) -> np.ndarray:
    """Squared-euclidean silhouette (ml.ClusteringEvaluator's formula) for
    a WHOLE archive of candidate clusterings in TWO distributed passes
    (VERDICT r1 #9 — replaces the per-entry assign + evaluator loop:
    2 jobs instead of 2·|archive|).

    The squared-euclidean silhouette admits sufficient statistics: with
    N_c = |C|, Y_c = Σ_{y∈C} y, ψ_c = Σ_{y∈C} ||y||², the mean squared
    distance of x to cluster C is ||x||² − 2·x·(Y_c/N_c) + ψ_c/N_c. So:

    * pass 1 — per-(solution, cluster) partials (N, Y, ψ) from each
      partition; driver-reduced (S·k rows of control state).
    * pass 2 — per-point coefficient from the broadcast stats; per-
      partition partial sums per solution.

    Matches ClusteringEvaluator exactly: a(x) is computed WITH the point
    itself in its own cluster, b(x) = min over the other non-empty
    clusters, singleton clusters score 0. Returns (S,) mean silhouettes.
    """
    import pandas as pd
    from pyspark.sql.types import ArrayType as _Arr

    from mopso_engine.assign import _distances as _dist

    cs = np.asarray(centers_stack, dtype=np.float64)
    s, k, d_ = cs.shape
    flat = cs.reshape(s * k, d_)

    stats_schema = StructType(
        [
            StructField("solution", IntegerType(), False),
            StructField("cluster", IntegerType(), False),
            StructField("n", LongType(), False),
            StructField("psi", DoubleType(), False),
            StructField("y", _Arr(DoubleType()), False),
        ]
    )

    def stats_kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        own = _dist(x, flat).reshape(n, s, k).argmin(axis=2)  # (n, s)
        xn2 = (x * x).sum(axis=1)
        sols, cls, ns, psis, ys = [], [], [], [], []
        for si in range(s):
            onehot = np.zeros((n, k))
            onehot[np.arange(n), own[:, si]] = 1.0
            cnt = onehot.sum(axis=0)
            ysum = onehot.T @ x  # (k, d)
            psi = onehot.T @ xn2  # (k,)
            for c in np.nonzero(cnt)[0]:
                sols.append(si)
                cls.append(int(c))
                ns.append(int(cnt[c]))
                psis.append(float(psi[c]))
                ys.append(ysum[c].tolist())
        yield pd.DataFrame(
            {"solution": np.array(sols, dtype=np.int32), "cluster": np.array(cls, dtype=np.int32),
             "n": np.array(ns, dtype=np.int64), "psi": psis, "y": ys}
        )

    rows = points.select("features").mapInPandas(stats_kernel, schema=stats_schema).collect()
    cnt = np.zeros((s, k))
    ysum = np.zeros((s, k, d_))
    psi = np.zeros((s, k))
    for r in rows:
        cnt[r["solution"], r["cluster"]] += r["n"]
        psi[r["solution"], r["cluster"]] += r["psi"]
        ysum[r["solution"], r["cluster"]] += np.asarray(r["y"])
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_vec = np.where(cnt[:, :, None] > 0, ysum / np.maximum(cnt, 1)[:, :, None], 0.0)
        mean_psi = np.where(cnt > 0, psi / np.maximum(cnt, 1), np.inf)  # empty → never the min

    part_schema = StructType(
        [
            StructField("solution", IntegerType(), False),
            StructField("coef_sum", DoubleType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def coef_kernel(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        x = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        own = _dist(x, flat).reshape(n, s, k).argmin(axis=2)  # (n, s)
        xn2 = (x * x).sum(axis=1)
        # mean squared distance of every point to every (solution, cluster)
        msd = (
            xn2[:, None, None]
            - 2.0 * np.einsum("nd,skd->nsk", x, mean_vec)
            + mean_psi[None, :, :]
        )
        a = np.take_along_axis(msd, own[:, :, None], axis=2)[:, :, 0]  # (n, s)
        masked = msd.copy()
        np.put_along_axis(masked, own[:, :, None], np.inf, axis=2)
        b = masked.min(axis=2)  # (n, s)
        own_n = np.take_along_axis(cnt[None, :, :].repeat(n, axis=0), own[:, :, None], axis=2)[:, :, 0]
        # ClusteringEvaluator rescales a(x) by N/(N−1): the sufficient-stats
        # mean includes the point's zero self-distance, the correction
        # yields the mean over the OTHER N−1 members
        a = a * own_n / np.maximum(own_n - 1, 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            coef = (b - a) / np.maximum(a, b)
        coef = np.where(own_n <= 1, 0.0, coef)  # singleton clusters score 0
        coef = np.nan_to_num(coef, nan=0.0, posinf=0.0, neginf=0.0)
        yield pd.DataFrame(
            {
                "solution": np.arange(s, dtype=np.int32),
                "coef_sum": coef.sum(axis=0),
                "n": np.full(s, n, dtype=np.int64),
            }
        )

    parts = points.select("features").mapInPandas(coef_kernel, schema=part_schema).collect()
    total = np.zeros(s)
    n_total = 0
    for r in parts:
        total[r["solution"]] += r["coef_sum"]
        if r["solution"] == 0:
            n_total += r["n"]
    return total / max(n_total, 1)


def silhouette_ml(points: DataFrame, assigned: DataFrame) -> float:
    """Squared-euclidean silhouette via ml.ClusteringEvaluator — the cheap,
    scalable alternative kept alongside the exact one (SURVEY A14)."""
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    df = (
        points.select("id", "features")
        .join(assigned.select("id", "cluster"), "id")
        .select(array_to_vector("features").alias("features"), F.col("cluster").alias("prediction"))
    )
    return ClusteringEvaluator(predictionCol="prediction").evaluate(df)


def partition_census(points: DataFrame) -> DataFrame:
    """A16 (showBaseInfo): per-partition label census — how many rows of
    each label landed in each partition (diagnostic for the partitioning
    strategies of §4.2; Spark_MOPSO_Avg.scala:1267-1291). Layout-dependent
    by nature: no oracle, used for partitioning diagnostics only."""
    return (
        points.select(F.spark_partition_id().alias("partition"), "label")
        .groupBy("partition", "label")
        .agg(F.count("*").alias("n"))
        .orderBy("partition", "label")
    )


def minmax_normalize(df: DataFrame, cols: list[str]) -> DataFrame:
    """A15 as a DataFrame plan: (x−min)/(max−min) per column; constant
    columns map to 0. One tiny aggregate + a projection."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        out = out.withColumn(
            f"{c}_norm",
            F.when(hi > lo, (F.col(c) - lo) / (hi - lo)).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"__lo_{c}" for c in cols]).drop(*[f"__hi_{c}" for c in cols])
