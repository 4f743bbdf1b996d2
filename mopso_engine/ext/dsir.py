"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The published recipe a pretraining pipeline uses to skew a raw crawl
toward a target domain WITHOUT a trained classifier: featurize every
document into hashed n-gram buckets, fit two bag-of-buckets unigram
models (target corpus vs raw corpus), and weight each raw document by
its log importance ratio  w(d) = Σ_b c_b(d) · [ln p_target(b) −
ln p_raw(b)].  High-weight documents look like the target domain;
resampling by w reshapes the mixture. (The paper resamples with Gumbel
noise; this operator exposes the deterministic top-k by weight, which
is the reproducible variant a data pipeline can re-run bit-for-bit —
callers wanting stochastic resampling can hash-perturb the key.)

Engine-exactness (the BM25 discipline, VERDICT r8 #1): the per-bucket
log ratio is the ONLY transcendental, and it is data-independent per
bucket — so it is quantized ONCE driver-side by
:func:`dsir_log_ratio_micro` (plain ``math.log`` over the tiny
``(t_b, r_b, T, R)`` integer table, ≤ ``n_buckets`` rows) and injected
as literals into both the Spark plan and the DuckDB oracle; the per-doc
weight is then an exact integer dot product Σ c_b·lr_micro(b), immune
to which libm either engine links.

100 TB shape: featurization is a map-only explode (unigrams + bigrams,
both in-row); ONE (doc, bucket) count shuffle feeds BOTH model fitting
and scoring — the bucket-count table is persisted, the two global
models are a ≤ n_buckets-row aggregate of it (collected driver-side,
bounded by construction), and scoring is a broadcast join of the
pinned lr table back onto the same cache plus one doc_id sum. The
top-k is a TakeOrdered (per-partition heaps, no global sort).

Reference scope note: the reference engine has no data-selection
operator; this extends the LLM-pipeline surface (SURVEY.md §2 extras)
alongside dedup/decontamination.
"""
from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopso_engine.scope import track

__all__ = [
    "dsir_log_ratio_micro",
    "dsir_weights",
    "dsir_topk",
]


def dsir_log_ratio_micro(
    t_by_bucket: Mapping[int, int],
    r_by_bucket: Mapping[int, int],
    n_target: int,
    n_raw: int,
    *,
    alpha: float = 0.5,
    n_buckets: int = 256,
) -> dict[int, int]:
    """Per-bucket importance log-ratio in integer micro-nats:
    ``floor(1e6·[ln((t_b+α)/(T+αB)) − ln((r_b+α)/(R+αB))] + 0.5)``.

    Computed ONCE driver-side with ``math.log`` — the Spark query and
    the DuckDB oracle both call THIS function on the same integer
    count tables, so the pinned literals agree by construction whatever
    libm each engine links (the BM25 treatment). Buckets absent from
    both corpora still get the smoothed ratio (α over α — a constant);
    the dict covers all ``n_buckets`` buckets.
    """
    a = float(alpha)
    dt = float(n_target) + a * n_buckets
    dr = float(n_raw) + a * n_buckets
    out = {}
    for b in range(n_buckets):
        lt = math.log((t_by_bucket.get(b, 0) + a) / dt)
        lr = math.log((r_by_bucket.get(b, 0) + a) / dr)
        out[b] = math.floor((lt - lr) * 1e6 + 0.5)
    return out


def _bucket_col(gram, n_buckets: int):
    """md5-slice hash bucket of a gram string — the repo's engine-exact
    hash: ('0x'||substr(md5(g),1,8))::BIGINT % B in DuckDB terms."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )


def dsir_weights(
    docs: DataFrame,
    target_filter,
    *,
    n_buckets: int = 256,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance weight against the target subset
    selected by ``target_filter`` (a boolean Column over ``docs``; the
    target rows also score, so a caller can sanity-check that targets
    rank high).

    Features: whitespace unigrams AND in-row positional bigrams of the
    lowercased trimmed text, hashed into ``n_buckets`` md5 buckets —
    both gram streams are built with zero shuffle (explode of in-row
    arrays) and share ONE (doc_id, bucket) count aggregate.

    Returns (doc_id, is_target, n_grams, w_micro): weight in integer
    micro-nats — exact Σ c_b·lr_micro(b) over the pinned table.
    """
    if n_buckets < 2 or n_buckets > 65536:
        raise ValueError(f"n_buckets must be in [2, 65536], got {n_buckets}")
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    width = F.greatest(n - 1, F.lit(0))
    z = F.arrays_zip(
        F.slice(toks, 1, width).alias("w1"), F.slice(toks, 2, width).alias("w2")
    )
    bigrams = F.transform(z, lambda s: F.concat_ws(" ", s["w1"], s["w2"]))
    grams = F.concat(toks, bigrams)
    base = docs.select(
        "doc_id",
        target_filter.alias("is_target"),
        F.explode(grams).alias("g"),
    ).where(F.col("g") != "")
    counts = (
        base.select("doc_id", "is_target", _bucket_col(F.col("g"), n_buckets).alias("b"))
        .groupBy("doc_id", "is_target", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    track(counts)
    # the two bag-of-buckets models: one ≤ n_buckets-row aggregate over
    # the SAME cache, collected driver-side (bounded by construction)
    model_rows = (
        counts.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("t"),
            F.sum("c").alias("r"),
        )
        .collect()
    )
    t_by = {int(r["b"]): int(r["t"]) for r in model_rows}
    r_by = {int(r["b"]): int(r["r"]) for r in model_rows}
    lr = dsir_log_ratio_micro(
        t_by, r_by, sum(t_by.values()), sum(r_by.values()),
        alpha=alpha, n_buckets=n_buckets,
    )
    spark = docs.sparkSession
    lr_df = spark.createDataFrame(
        sorted(lr.items()), "b long, lr_micro long"
    )
    return (
        counts.join(F.broadcast(lr_df), "b")
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("lr_micro")).alias("w_micro"),
        )
    )


def dsir_topk(
    docs: DataFrame,
    target_filter,
    *,
    top_k: int = 100,
    n_buckets: int = 256,
    alpha: float = 0.5,
) -> DataFrame:
    """The selection step: top-``top_k`` NON-target documents by DSIR
    weight — the rows a pretraining mixture would pull in to look more
    like the target domain. Deterministic (w desc, doc_id asc) ordering
    via TakeOrdered; emits (doc_id, n_grams, w_micro, rk)."""
    w = dsir_weights(
        docs, target_filter, n_buckets=n_buckets, alpha=alpha
    ).where(~F.col("is_target"))
    ranked = w.orderBy(F.desc("w_micro"), F.asc("doc_id")).limit(int(top_k))
    from pyspark.sql.window import Window

    win = Window.orderBy(F.desc("w_micro"), F.asc("doc_id"))
    return ranked.withColumn("rk", F.row_number().over(win)).select(
        "doc_id", "n_grams", "w_micro", "rk"
    )
