#!/usr/bin/env python
"""10× scale smoke (VERDICT r7 #6): every scale argument in this repo is
a plan-shape argument verified at sf0.1 — this script adds one actual
order-of-magnitude datapoint to catch partition-count and memory cliffs
the sf0.1 bench cannot.

It derives a 10× corpus IN THE REPO (never touching /root/testdata):
``documents`` ×10 (50k docs, re-keyed ids) and ``lineitem`` ×10 (6M
rows, re-keyed orderkeys so the row-hash point ids stay unique), writes
them under ``.scale10/`` with the standard table names, then runs

* ``corpus_curation_v2`` — the flagship dedup/curation composition,
  unchanged, against the scaled dir;
* the lineitem partition-local fit with partitions scaled WITH the data
  (64 → 640, holding per-partition rows constant — exactly what a
  cluster deployment does), tiny budget (2 iterations).

For each it records wall seconds plus total/peak shuffle bytes from the
Spark REST API, and prints one JSON line. Results are transcribed into
BASELINE.md's scale-smoke section.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(_REPO, ".scale10")
OUT100 = os.path.join(_REPO, ".scale100")
#: decades for the MinHash-LSH smoke: replicas are TOKEN-SALTED (every
#: token gets a per-replica suffix) so the scaled corpus models a real
#: mostly-distinct crawl — a plain replication would make every replica
#: a true duplicate of the base, bucket sizes would grow ×N, and
#: Σ bucket² would degenerate to corpus², proving nothing about the
#: banded join's scaling law
OUT_LSH = os.path.join(_REPO, ".scale10lsh")
OUT100_LSH = os.path.join(_REPO, ".scale100lsh")
REPLICAS = 10


def build_corpus(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    scaled_docs = None
    for i in range(REPLICAS):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        scaled_docs = d if scaled_docs is None else scaled_docs.unionByName(d)
    scaled_docs.write.parquet(os.path.join(OUT, "documents.parquet"))

    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    scaled_li = None
    for i in range(REPLICAS):
        d = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
        scaled_li = d if scaled_li is None else scaled_li.unionByName(d)
    scaled_li.write.parquet(os.path.join(OUT, "lineitem.parquet"))

    # orders x10 with BOTH orderkey and custkey re-keyed: the purchase
    # graph then really scales (10x customer nodes, 10x edges, suppliers
    # become 10x-degree hubs) instead of collapsing under distinct()
    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    scaled_o = None
    for i in range(REPLICAS):
        d = orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * 100_000_000)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * 10_000_000))
        scaled_o = d if scaled_o is None else scaled_o.unionByName(d)
    scaled_o.write.parquet(os.path.join(OUT, "orders.parquet"))

    # customer x10 re-keyed to MATCH the orders custkey blocks (keeps
    # the scaled warehouse referentially consistent for the FK audit);
    # small parents verbatim (part/supp/nation keys are never re-keyed)
    cust = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    scaled_c = None
    for i in range(REPLICAS):
        d = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * 10_000_000))
        scaled_c = d if scaled_c is None else scaled_c.unionByName(d)
    scaled_c.write.parquet(os.path.join(OUT, "customer.parquet"))
    for t in ("part", "supplier", "nation"):
        spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).write.parquet(
            os.path.join(OUT, f"{t}.parquet")
        )

    # events ×10: event_id re-keyed (the CDC sequence column must stay
    # unique), user_id deliberately NOT re-keyed — the latest-wins
    # snapshot's scale contract is that shuffle is bounded by KEYS ×
    # map partitions (WindowGroupLimit partial heaps), so the smoke
    # must grow the FEED while holding the key set fixed; a re-keyed
    # build would only show the trivial linear-in-keys law
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    scaled_e = None
    for i in range(REPLICAS):
        d = ev.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
        scaled_e = d if scaled_e is None else scaled_e.unionByName(d)
    scaled_e.write.parquet(os.path.join(OUT, "events.parquet"))


def build_corpus_x100(spark, tables: set[str]) -> None:
    """Two-decade corpus (VERDICT r9 #8): ×100 replicas of only the
    tables the requested flagships read, same re-keying scheme as the
    ×10 build (ids stay unique, dedup keys don't collapse). Written as
    ONE distributed job per table (a 100-way union plans fine; the
    writer parallelizes across partitions)."""
    from pyspark.sql import functions as F

    if os.path.isdir(OUT100):
        shutil.rmtree(OUT100)
    if "documents" in tables:
        docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        scaled = None
        for i in range(100):
            d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
            scaled = d if scaled is None else scaled.unionByName(d)
        scaled.write.parquet(os.path.join(OUT100, "documents.parquet"))
    if "lineitem" in tables:
        li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
        scaled = None
        for i in range(100):
            d = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
            scaled = d if scaled is None else scaled.unionByName(d)
        scaled.repartition(64).write.parquet(os.path.join(OUT100, "lineitem.parquet"))
    if "orders" in tables:
        # same re-keying as the x10 build: orderkey offsets MATCH the
        # lineitem replicas (the join keeps working) and custkeys get
        # their own per-replica blocks, so the purchase graph really
        # grows 100x nodes/edges (suppliers become 100x-degree hubs —
        # the skew the per-iteration map-side combine must absorb).
        # Custkey blocks stay under the +1e9 supplier offset.
        orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
        scaled = None
        for i in range(100):
            d = orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(i * 100_000_000)
            ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * 10_000_000))
            scaled = d if scaled is None else scaled.unionByName(d)
        scaled.repartition(16).write.parquet(os.path.join(OUT100, "orders.parquet"))
    if "customer" in tables:
        # custkey re-keyed with the SAME per-replica blocks as orders, so
        # the x100 warehouse stays referentially CONSISTENT (zero
        # orphans) — the FK audit then measures the probe's cost, not a
        # degenerate everything-is-an-orphan path
        cust = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
        scaled = None
        for i in range(100):
            d = cust.withColumn(
                "c_custkey", F.col("c_custkey") + F.lit(i * 10_000_000)
            )
            scaled = d if scaled is None else scaled.unionByName(d)
        scaled.repartition(8).write.parquet(os.path.join(OUT100, "customer.parquet"))
    if "events" in tables:
        # same fixed-key design as the ×10 build: event_id re-keyed,
        # user_id held constant — 100× feed over the SAME key set
        ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
        scaled = None
        for i in range(100):
            d = ev.withColumn(
                "event_id", F.col("event_id") + F.lit(i * 100_000_000)
            )
            scaled = d if scaled is None else scaled.unionByName(d)
        scaled.repartition(16).write.parquet(os.path.join(OUT100, "events.parquet"))
    # small parents copied verbatim: lineitem part/supp keys and customer
    # nationkeys are NOT re-keyed, so the original dimensions stay valid
    for t in tables & {"part", "supplier", "nation"}:
        spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).write.parquet(
            os.path.join(OUT100, f"{t}.parquet")
        )


def main_x100(names: list[str]) -> None:
    """x1 → x10 → x100 paired curve for the named flagship queries: the
    two-decade datapoint VERDICT r9 #8 asked for. Reuses the standard
    ×10 corpus and builds a ×100 one for just the tables needed."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-100")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    from mopso_engine.scope import query_scope

    TABLES_OF = {
        "corpus_curation_v3": {"documents"},
        "price_deciles": {"lineitem"},
        "corpus_curation_v2": {"documents"},
        "dedup_verified": {"documents"},
        # iterative-loop workload (VERDICT r10 #4): the claim is constant
        # per-round stage count + linear shuffle through x100 edges
        "supplier_pagerank": {"lineitem", "orders"},
        # r11 FK audit: a consistent x100 warehouse (customer re-keyed to
        # match orders; part/supplier/nation verbatim) — the claim is
        # per-constraint one-pass probes with constant stages and
        # child-linear shuffle
        "tpch_ref_integrity": {
            "lineitem", "orders", "customer", "part", "supplier", "nation",
        },
        # r12 CDC latest-wins snapshot: the claim is shuffle bounded by
        # KEYS × map partitions (WindowGroupLimit partial heaps), so
        # the scaled events hold the user set FIXED while the feed
        # grows — expected: constant stages, near-flat shuffle bytes
        # through ×100 input
        "events_cdc_snapshot": {"events"},
        # r12: the as-of join's union+ordered-window claim — ONE key
        # exchange, linear running state, never a range-pair explosion;
        # on the fixed-key events build the exchange carries the whole
        # (filtered) feed, so expected: constant stages, shuffle LINEAR
        # in events (the plan has no quadratic term to expose)
        "events_asof": {"events"},
        # r12: sessionization's one-user-exchange claim shared by both
        # window functions and the session aggregate — constant stages,
        # feed-linear shuffle
        "events_sessionized": {"events"},
    }
    needed = set()
    for n in names:
        needed |= TABLES_OF[n]
    build_corpus(spark)
    build_corpus_x100(spark, needed)
    qs = entry_mod.queries()
    out: dict = {"metric": "scale100_smoke", "queries": names}
    for name in names:
        # warm pass eats codegen/JIT so no timed pass is charged for it
        with query_scope():
            qs[name](spark, SRC).write.format("noop").mode("overwrite").save()
        rec = {}
        for tag, d, mult in (("x1", SRC, 1), ("x10", OUT, 10), ("x100", OUT100, 100)):
            snap0 = stage_writes(spark)
            t0 = time.time()
            with query_scope():
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                t = round(time.time() - t0, 3)
            tot, peak, nst = window_stats(snap0, stage_writes(spark))
            rec[tag] = {
                "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
                "peak_stage_shuffle_bytes": peak, "stages": nst,
            }
            print(f"# {name} {tag}: {t}s shuffle={tot} stages={nst}", file=sys.stderr)
        rec["ratio_x10_vs_x1"] = round(rec["x10"]["wall_sec"] / rec["x1"]["wall_sec"], 2)
        rec["ratio_x100_vs_x10"] = round(rec["x100"]["wall_sec"] / rec["x10"]["wall_sec"], 2)
        rec["ratio_x100_vs_x1"] = round(rec["x100"]["wall_sec"] / rec["x1"]["wall_sec"], 2)
        out[name] = rec
    print(json.dumps(out))
    spark.stop()


def build_corpus_lsh(spark, n: int, dest: str) -> None:
    """×n documents with DECORRELATED replicas for the banded-similarity
    smoke: doc_ids re-keyed per replica AND every token suffixed with
    the replica index, so cross-replica Jaccard is 0 and each replica
    reproduces the base corpus's internal bucket structure — bucket
    COUNT grows ×n while bucket SIZES stay flat, which is what a real
    mostly-distinct 100 TB crawl looks like to the LSH join."""
    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    scaled = None
    for i in range(n):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)).withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda t: F.concat(t, F.lit(f"_r{i}")),
                ),
                " ",
            ),
        )
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(max(8, n // 2)).write.parquet(
        os.path.join(dest, "documents.parquet")
    )


def main_x100_lsh() -> None:
    """×1/×10/×100 curve for the MinHash-LSH dedup path (VERDICT r11
    #5): runs the declared ``dedup_verified`` composition (banding →
    exact Jaccard verify) at each decade and, beside wall/shuffle/stage
    counts, measures the banded join's WORK LAW directly — Σ over
    (band, bucket) of C(bucket, 2) equals sum(n_bands) over the
    candidate-pair output, so the artifact records candidate work ∝
    Σ bucket² (linear in a mostly-distinct corpus), never corpus²."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-lsh")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    from pyspark.sql import functions as F

    from mopso_engine.ext import dedup as dd
    from mopso_engine.scope import query_scope

    build_corpus_lsh(spark, 10, OUT_LSH)
    build_corpus_lsh(spark, 100, OUT100_LSH)
    qs = entry_mod.queries()
    out: dict = {"metric": "scale100_lsh_smoke", "query": "dedup_verified"}
    # warm pass eats codegen/JIT so no timed pass is charged for it
    with query_scope():
        qs["dedup_verified"](spark, SRC).write.format("noop").mode("overwrite").save()
    for tag, d, mult in (("x1", SRC, 1), ("x10", OUT_LSH, 10), ("x100", OUT100_LSH, 100)):
        snap0 = stage_writes(spark)
        t0 = time.time()
        with query_scope():
            qs["dedup_verified"](spark, d).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # the work-law readout (untimed second pass): sum(n_bands) over
        # candidate pairs == Σ_{band,bucket} C(bucket_size, 2)
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        with query_scope():
            cands = dd.minhash_lsh_candidates(docs, k=3, num_hashes=16, bands=4)
            law = cands.agg(
                F.coalesce(F.sum("n_bands"), F.lit(0)).alias("work"),
                F.count(F.lit(1)).alias("pairs"),
            ).collect()[0]
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_docs": docs.count(),
            "candidate_pairs": int(law["pairs"]),
            "bucket_pair_work": int(law["work"]),
        }
        out[tag] = rec
        print(
            f"# dedup_verified {tag}: {t}s shuffle={tot} stages={nst} "
            f"pairs={rec['candidate_pairs']} work={rec['bucket_pair_work']}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(out[a]["wall_sec"] / out[b]["wall_sec"], 2)
        out[f"work_ratio_{a}_vs_{b}"] = round(
            out[a]["bucket_pair_work"] / max(1, out[b]["bucket_pair_work"]), 2
        )
    print(json.dumps(out))
    spark.stop()


def build_docs_xn(spark, n: int, dest: str) -> None:
    """×n documents with PLAIN re-keyed replication (the standard
    x10/x100 scheme, text verbatim): per-term matching-doc counts then
    grow linearly with the corpus, which is exactly what the BM25 work
    law needs to be non-trivial — a token-salted build (the LSH smoke's
    design) would pin every query term to replica 0 and the pruned tf
    would stay flat by construction, proving nothing."""
    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    scaled = None
    for i in range(n):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(max(8, n // 2)).write.parquet(
        os.path.join(dest, "documents.parquet")
    )


OUT_BM25 = os.path.join(_REPO, ".scale10bm25")
OUT100_BM25 = os.path.join(_REPO, ".scale100bm25")


def main_x100_bm25() -> None:
    """×1/×10/×100 curve for the BM25/pruned_tf retrieval path (VERDICT
    r12 #3 — the heaviest non-fit bench family and the last flagship
    plan shape without two-decade evidence). Runs the declared
    ``bm25_search`` at each decade and measures the WORK LAW directly:
    the only corpus-scale shuffle is the (doc_id, term) count of the
    PRUNED tf table, so shuffle ∝ pruned-tf rows = Σ over query terms
    of (docs containing the term) — linear in the corpus for a fixed
    query set, NEVER corpus × queries — while the stage count and the
    driver-side df collect (one row per distinct query term) stay
    CONSTANT at every decade."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-bm25")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    from mopso_engine.ext.retrieval import pruned_tf
    from mopso_engine.scope import query_scope

    build_docs_xn(spark, 10, OUT_BM25)
    build_docs_xn(spark, 100, OUT100_BM25)
    qs = entry_mod.queries()
    out: dict = {"metric": "scale100_bm25_smoke", "query": "bm25_search"}
    # warm pass eats codegen/JIT so no timed pass is charged for it
    with query_scope():
        qs["bm25_search"](spark, SRC).write.format("noop").mode("overwrite").save()
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_BM25, 10), ("x100", OUT100_BM25, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        with query_scope():
            qs["bm25_search"](spark, d).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # the work-law readout (untimed second pass): pruned-tf rows =
        # Σ_term docs-containing-term (the ONLY corpus-scale shuffle's
        # input), and the df-collect bound = distinct query terms
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        qdf = spark.createDataFrame(
            [
                ("q_hashjoin", "hash join scan"),
                ("q_stream", "stream window watermark"),
                ("q_customer", "customer order value"),
            ],
            "query_id string, qtext string",
        )
        with query_scope():
            tf = pruned_tf(docs, qdf).df
            tf_rows = tf.count()
            df_rows = tf.select("term").distinct().count()
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_docs": docs.count(),
            "pruned_tf_rows": int(tf_rows),
            "df_collect_rows": int(df_rows),
        }
        out[tag] = rec
        print(
            f"# bm25_search {tag}: {t}s shuffle={tot} stages={nst} "
            f"tf_rows={tf_rows} df_rows={df_rows}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(out[a]["wall_sec"] / out[b]["wall_sec"], 2)
        out[f"tf_ratio_{a}_vs_{b}"] = round(
            out[a]["pruned_tf_rows"] / max(1, out[b]["pruned_tf_rows"]), 2
        )
    print(json.dumps(out))
    spark.stop()


def main_x100_rerank() -> None:
    """×1/×10/×100 curve for the exact rerank tier (r13-born —
    two-decade evidence in its BIRTH round, pre-empting the
    only-flagship-without-x100 debt class VERDICT r12 flagged for
    BM25). Runs the declared ``hybrid_rerank`` on the same plain
    re-keyed decades as the BM25 smoke and measures the tier's WORK
    LAW directly: the candidate set is bounded by the retrievers'
    top-k × |queries| — CONSTANT in the corpus — so the rerank stage's
    own work (candidate docs scored) must stay FLAT through two
    decades while only the shared candidate-generation pass (the
    pruned-tf law already measured) grows linearly."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-rerank")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    from mopso_engine.ext.retrieval import bm25_topk, pruned_tf, term_coverage_topk
    from mopso_engine.scope import query_scope

    build_docs_xn(spark, 10, OUT_BM25)
    build_docs_xn(spark, 100, OUT100_BM25)
    qs = entry_mod.queries()
    out: dict = {"metric": "scale100_rerank_smoke", "query": "hybrid_rerank"}
    # warm pass eats codegen/JIT so no timed pass is charged for it
    with query_scope():
        qs["hybrid_rerank"](spark, SRC).write.format("noop").mode("overwrite").save()
    qdf_rows = [
        ("q_hashjoin", "hash join scan"),
        ("q_stream", "stream window watermark"),
        ("q_customer", "customer order value"),
    ]
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_BM25, 10), ("x100", OUT100_BM25, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        with query_scope():
            qs["hybrid_rerank"](spark, d).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # the work-law readout (untimed second pass): candidate pairs
        # and distinct candidate docs — the rerank stage's own input,
        # which must be top-k-bounded, never corpus-bounded
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        qdf = spark.createDataFrame(qdf_rows, "query_id string, qtext string")
        with query_scope():
            tf = pruned_tf(docs, qdf)
            bm = bm25_topk(docs, qdf, k1=1.2, b=0.75, top_k=20, tf=tf)
            cov = term_coverage_topk(docs, qdf, top_k=20, tf=tf)
            cand = bm.select("query_id", "doc_id").unionByName(
                cov.select("query_id", "doc_id")
            ).distinct()
            n_pairs = cand.count()
            n_docs_cand = cand.select("doc_id").distinct().count()
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_docs": docs.count(),
            "candidate_pairs": int(n_pairs),
            "candidate_docs": int(n_docs_cand),
        }
        out[tag] = rec
        print(
            f"# hybrid_rerank {tag}: {t}s shuffle={tot} stages={nst} "
            f"cand_pairs={n_pairs} cand_docs={n_docs_cand}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(out[a]["wall_sec"] / out[b]["wall_sec"], 2)
        out[f"cand_ratio_{a}_vs_{b}"] = round(
            out[a]["candidate_pairs"] / max(1, out[b]["candidate_pairs"]), 2
        )
    print(json.dumps(out))
    spark.stop()


OUT_ATTR = os.path.join(_REPO, ".scale10attr")
OUT100_ATTR = os.path.join(_REPO, ".scale100attr")
OUT_BOOT = os.path.join(_REPO, ".scale10boot")
OUT100_BOOT = os.path.join(_REPO, ".scale100boot")


def build_events_fixedkey_xn(spark, n: int, dest: str) -> None:
    """×n events with the CDC smoke's FIXED-KEY selection (event_id
    re-keyed, user_id held constant): the feed grows ×n over a CONSTANT
    key set — the only selection that can separate a units-bounded work
    term from a feed-bounded one."""
    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    scaled = None
    for i in range(n):
        d = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 100_000_000)
        )
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(max(16, n // 4)).write.parquet(
        os.path.join(dest, "events.parquet")
    )


def main_x100_bootstrap() -> None:
    """×1/×10/×100 curve for the Poisson-bootstrap CI (the causal
    family's heaviest plan): the docstring claim under test is "ONE
    corpus exchange (the (type, user) partial aggregate); replicates
    explode the UNIT-LEVEL table only". On the fixed-key decades the
    unit table is CONSTANT while the feed grows 100×, so the R×200
    explode+md5 work — the stage the r13 restructure pinned to
    explicit-N parallelism — must stay FLAT through two decades; only
    the one partial-aggregate exchange may grow, and it combines
    map-side so its shuffle is units-bounded too (near-flat bytes,
    feed-linear scan)."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-boot")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    build_events_fixedkey_xn(spark, 10, OUT_BOOT)
    build_events_fixedkey_xn(spark, 100, OUT100_BOOT)
    qs = entry_mod.queries()
    out: dict = {
        "metric": "scale100_bootstrap_smoke",
        "query": "events_bootstrap_ci",
        "replicates": 200,
    }
    qs["events_bootstrap_ci"](spark, SRC).write.format("noop").mode(
        "overwrite"
    ).save()
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_BOOT, 10), ("x100", OUT100_BOOT, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        qs["events_bootstrap_ci"](spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
        t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # work-law readout (untimed): the unit table the explode runs
        # over — constant by the fixed-key construction — and the
        # explode's own row count (units × R)
        from mopso_engine.ext.streaming import read_events

        ev = read_events(spark, os.path.join(d, "events.parquet"))
        n_units = (
            ev.select("event_type", "user_id").distinct().count()
        )
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_events": ev.count(),
            "n_units": int(n_units),
            "explode_rows": int(n_units) * 200,
        }
        out[tag] = rec
        print(
            f"# events_bootstrap_ci {tag}: {t}s shuffle={tot} "
            f"stages={nst} units={n_units}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"unit_ratio_{a}_vs_{b}"] = round(
            out[a]["n_units"] / max(1, out[b]["n_units"]), 2
        )
    print(json.dumps(out))
    spark.stop()


def build_events_users_xn(spark, n: int, dest: str) -> None:
    """×n events with USER-REKEYED replicas (user_id AND event_id
    offset per replica, timestamps/values verbatim): users grow ×n at
    CONSTANT per-user journey density — the realistic 100× growth for
    an attribution workload, and the only selection that can separate
    the claimed pair law (pairs ∝ conversions × in-window touches,
    linear here) from the users² / per-user cross-join anti-claims
    (which would grow ×n² / stay ∝ conv_u×touch_u per user). The
    CDC smoke's FIXED-key selection is deliberately not reused: with
    shared keys and verbatim timestamps every conversion replica pairs
    with every touch replica, so pairs grow ×n² BY THE LAW ITSELF —
    correct but untenable at ×100 and unrepresentative (real growth
    adds journeys, not 100×-denser ones)."""
    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    scaled = None
    for i in range(n):
        d = ev.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 100_000_000)
        ).withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(max(16, n // 4)).write.parquet(
        os.path.join(dest, "events.parquet")
    )


def main_x100_attribution() -> None:
    """×1/×10/×100 curve for the multi-touch attribution family
    (VERDICT r13 #5 — the only r13-born family without two-decade
    evidence). Runs the declared ``events_attribution_multi`` at each
    decade over user-rekeyed events and measures the WORK LAW
    directly: pair rows = Σ over conversions of in-window prior
    touches (LINEAR in users at constant journey density — never the
    per-user conv×touch cross-join bound, never users²), constant
    stages, and per-decade credit that sums EXACTLY to the total value
    of touched conversions (the integer remainder rule loses nothing
    at any scale)."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-attr")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from mopso_engine.ext.pipeline import _attribution_pairs

    build_events_users_xn(spark, 10, OUT_ATTR)
    build_events_users_xn(spark, 100, OUT100_ATTR)
    qs = entry_mod.queries()
    out: dict = {
        "metric": "scale100_attribution_smoke",
        "query": "events_attribution_multi",
    }
    # warm pass eats codegen/JIT so no timed pass is charged for it
    qs["events_attribution_multi"](spark, SRC).write.format("noop").mode(
        "overwrite"
    ).save()
    vexpr = F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)")
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_ATTR, 10), ("x100", OUT100_ATTR, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        res = qs["events_attribution_multi"](spark, d).collect()
        t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # work-law readouts (untimed second pass): the actual pair-join
        # cardinality vs the per-user cross-join bound it must stay
        # under, and the exact-credit invariant
        from mopso_engine.ext.streaming import read_events

        ev = read_events(spark, os.path.join(d, "events.parquet"))
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        pairs = _attribution_pairs(
            ev, vexpr, convert_type="purchase", touch_type="click",
            window_s=259_200, ts_col="ts", key="user_id",
            seq_col="event_id", caller="smoke",
        )
        n_pairs = pairs.count()
        touched_v = (
            pairs.select("__cid", "__v").distinct()
            .agg(F.sum("__v")).first()[0]
        )
        per_user = (
            ev.where(F.col("event_type").isin("purchase", "click"))
            .groupBy(
                "user_id",
                (F.col("event_type") == "purchase").alias("is_c"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(
                F.max(F.when(F.col("is_c"), F.col("n"))).alias("nc"),
                F.max(F.when(~F.col("is_c"), F.col("n"))).alias("nt"),
            )
            .agg(F.sum(F.col("nc") * F.col("nt"))).first()[0]
        )
        credit = sum(r["credit_micro"] for r in res)
        # the ladder's other credit models share the pair law by
        # construction (same join); what is distinct per model is the
        # integer remainder rule — verify EACH sums exactly to the
        # touched-conversion value at every decade (untimed walls
        # recorded for context)
        from mopso_engine.ext.pipeline import (
            position_attribution,
            time_decay_attribution,
        )

        models = {}
        for mname, fn, kw in (
            ("position", position_attribution, {}),
            ("decay", time_decay_attribution, {"half_life_s": 86_400}),
        ):
            t1 = time.time()
            mres = fn(ev, vexpr, window_s=259_200, **kw).collect()
            mwall = round(time.time() - t1, 3)
            mcredit = sum(r["credit_micro"] for r in mres)
            models[mname] = {
                "wall_sec": mwall,
                "credit_micro_total": int(mcredit),
                "credit_exact": int(mcredit) == int(touched_v or 0),
            }
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_events": ev.count(),
            "pair_rows": int(n_pairs),
            "per_user_crossjoin_bound": int(per_user or 0),
            "credit_micro_total": int(credit),
            "touched_conversion_value_micro": int(touched_v or 0),
            "credit_exact": int(credit) == int(touched_v or 0),
            "models": models,
        }
        out[tag] = rec
        print(
            f"# events_attribution_multi {tag}: {t}s shuffle={tot} "
            f"stages={nst} pairs={n_pairs} xbound={per_user} "
            f"credit_exact={rec['credit_exact']}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"pair_ratio_{a}_vs_{b}"] = round(
            out[a]["pair_rows"] / max(1, out[b]["pair_rows"]), 2
        )
    print(json.dumps(out))
    spark.stop()


OUT_ANN = os.path.join(_REPO, ".scale10ann")
OUT100_ANN = os.path.join(_REPO, ".scale100ann")


def build_embeddings_xn(spark, n: int, dest: str) -> None:
    """×n embeddings (vec_id re-keyed per replica, vectors VERBATIM):
    every replica lands in the same coarse cells, so the corpus grows
    ×n with stable codebook geometry — the selection that lets the
    probe law (probed rows ∝ corpus/|cells| × nprobe × |queries|) be
    read directly off linear growth."""
    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    scaled = None
    for i in range(n):
        d = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(max(16, n // 2)).write.parquet(
        os.path.join(dest, "embeddings.parquet")
    )


def main_x100_ann() -> None:
    """×1/×10/×100 curve for the IVF ANN serving path
    (`ann_ivf_unlabeled` — train a sampled-k-means codebook, assign
    cells in ONE kernel scan, probe nprobe cells per query): the law
    under test is that the scored candidate set is the PROBED-cell
    rows — ∝ corpus/|cells| × nprobe × |queries|, linear in the corpus
    at fixed settings — never the corpus × |queries| full-scan bound
    the cell join exists to avoid; stages constant (training included:
    the trainer is a fixed number of sampled Lloyd iterations)."""
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-ann")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from mopso_engine.ext import simsearch as ss

    build_embeddings_xn(spark, 10, OUT_ANN)
    build_embeddings_xn(spark, 100, OUT100_ANN)
    qs = entry_mod.queries()
    out: dict = {
        "metric": "scale100_ann_smoke",
        "query": "ann_ivf_unlabeled",
        "k": 5, "nprobe": 3, "cells": 8, "n_queries": 5,
    }
    qs["ann_ivf_unlabeled"](spark, SRC).write.format("noop").mode(
        "overwrite"
    ).save()
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_ANN, 10), ("x100", OUT100_ANN, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        qs["ann_ivf_unlabeled"](spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
        t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # work-law readout (untimed): the probed candidate rows the
        # rank window actually scores, vs the full-scan anti-claim
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet")).drop(
            "label"
        )
        n_corpus = emb.count()
        cb = ss.train_codebook(
            emb, k=8, iters=2, sample_fraction=0.5, seed=11
        )
        import numpy as np

        C = np.asarray(cb, dtype=np.float64)
        vecs = ss.as_double_vecs(
            emb.withColumn("label", F.lit(0))
        ).select("vec_id", "vec")
        cells = vecs.withColumn("cell", ss._argmax_cell_kernel(C)("vec"))
        cell_rows = {
            r["cell"]: r["n"]
            for r in cells.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        # probe selection replay: per query, the nprobe most-similar
        # cells (cosine vs the codebook literals, driver-side)
        qv = {
            r["vec_id"]: np.asarray(r["vec"], dtype=np.float64)
            for r in vecs.where(F.col("vec_id").isin([0, 1, 2, 3, 4])).collect()
        }
        probed = 0
        for _, v in qv.items():
            sims = (C @ v) / (np.linalg.norm(C, axis=1) * np.linalg.norm(v))
            order = sorted(range(len(sims)), key=lambda c: (-sims[c], c))
            probed += sum(cell_rows.get(c, 0) for c in order[:3])
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_corpus": int(n_corpus),
            "probed_rows": int(probed),
            "full_scan_bound": int(n_corpus) * 5,
        }
        out[tag] = rec
        print(
            f"# ann_ivf_unlabeled {tag}: {t}s shuffle={tot} stages={nst} "
            f"probed={probed} full_bound={n_corpus*5}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"probe_ratio_{a}_vs_{b}"] = round(
            out[a]["probed_rows"] / max(1, out[b]["probed_rows"]), 2
        )
    print(json.dumps(out))
    spark.stop()


def main_x100_markov() -> None:
    """×1/×10/×100 curve for the Markov removal-effect model (r15 birth
    — two-decade evidence in its birth round, the r13-rerank
    precedent). Reuses the attribution smoke's USER-REKEYED decades
    (users ×N at constant journey density — channels fixed). The laws
    under test:

    * TRANSITION TABLE BOUNDED: distinct (src, dst) rows stay at the
      states² bound (≤ (channels+1)·(channels+2)) at every decade —
      the driver-side solve's input NEVER grows with the feed.
    * SOLVE INVARIANT: user-rekeyed replicas preserve every transition
      PROBABILITY (counts ×N, same rationals), so the fitted
      removal_ppm per channel must be IDENTICAL across decades — the
      exact-Fraction solve is scale-free by construction.
    * EXACT CREDIT: Σ credit_micro == Σ conversion value at every
      decade (the remainder rule loses nothing).
    * Constant stages; wall ∝ the one user-key window exchange.
    """
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-markov")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from mopso_engine.scope import query_scope

    build_events_users_xn(spark, 10, OUT_ATTR)
    build_events_users_xn(spark, 100, OUT100_ATTR)
    qs = entry_mod.queries()
    out: dict = {
        "metric": "scale100_markov_smoke",
        "query": "events_attribution_markov",
    }
    # warm pass eats codegen/JIT so no timed pass is charged for it
    with query_scope():
        qs["events_attribution_markov"](spark, SRC).write.format("noop").mode(
            "overwrite"
        ).save()
    vexpr = "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_ATTR, 10), ("x100", OUT100_ATTR, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        with query_scope():
            res = qs["events_attribution_markov"](spark, d).collect()
            t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        from mopso_engine.ext.streaming import read_events

        ev = read_events(spark, os.path.join(d, "events.parquet"))
        v_total = int(
            ev.where(F.col("event_type") == "purchase")
            .agg(F.coalesce(F.sum(F.expr(vexpr)), F.lit(0)))
            .first()[0]
        )
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_events": ev.count(),
            "n_channels": len(res),
            "removal_ppm": {
                r["channel"]: int(r["removal_ppm"]) for r in res
            },
            "credit_sum_micro": int(sum(r["credit_micro"] for r in res)),
            "v_total_micro": v_total,
            "credit_exact": int(
                sum(r["credit_micro"] for r in res)
            ) == v_total,
        }
        out[tag] = rec
        print(
            f"# markov {tag}: {t}s shuffle={tot} stages={nst} "
            f"channels={rec['n_channels']} exact={rec['credit_exact']}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
    out["removal_ppm_scale_free"] = (
        out["x1"]["removal_ppm"]
        == out["x10"]["removal_ppm"]
        == out["x100"]["removal_ppm"]
    )
    print(json.dumps(out))
    spark.stop()


def main_x100_funnel() -> None:
    """×1/×10/×100 curve for the funnel/session family (VERDICT r15
    #7): `events_funnel`, `session_paths` and `events_concurrency` all
    ride the proven ONE-user-exchange gap-merge/greedy-fold shape, but
    the family had no two-decade law row — the attribution smoke
    covers the pair JOIN, not the per-user in-row FOLD. Over the
    user-rekeyed decades (users ×n at CONSTANT per-user journey
    density — replicas are verbatim timelines under offset ids) the
    family's laws are BIT-EXACT, not just bounded:

    * per-user state is CONSTANT: the greedy fold's in-row list and
      the session fold's struct list are bounded by one user's events,
      which do not grow — measured as max events/user per decade.
    * funnel step counts, session-path counts and per-hour concurrent
      sessions scale EXACTLY ×n (each replica user walks the identical
      journey), with the path set, ranks and hour grid IDENTICAL.
    * constant stages; the one user-key exchange carries ×n rows.
    """
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-funnel")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    for dest, n in ((OUT_ATTR, 10), (OUT100_ATTR, 100)):
        if not os.path.isdir(dest):
            build_events_users_xn(spark, n, dest)
    qs = entry_mod.queries()
    FAMILY = ("events_funnel", "session_paths", "events_concurrency")
    out: dict = {"metric": "scale100_funnel_smoke", "queries": list(FAMILY)}
    # warm pass eats codegen/JIT so no timed pass is charged for it
    for qname in FAMILY:
        qs[qname](spark, SRC).write.format("noop").mode("overwrite").save()
    base: dict = {}
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_ATTR, 10), ("x100", OUT100_ATTR, 100)
    ):
        rec: dict = {"scale": mult}
        for qname in FAMILY:
            snap0 = stage_writes(spark)
            t0 = time.time()
            rows = qs[qname](spark, d).collect()
            t = round(time.time() - t0, 3)
            tot, peak, nst = window_stats(snap0, stage_writes(spark))
            qrec = {
                "wall_sec": t, "shuffle_write_bytes": tot,
                "peak_stage_shuffle_bytes": peak, "stages": nst,
                "rows": len(rows),
            }
            if qname == "events_funnel":
                vals = {r["step"]: int(r["n_users"]) for r in rows}
            elif qname == "session_paths":
                vals = {(r["path"], int(r["rk"])): int(r["n_sessions"])
                        for r in rows}
            else:
                vals = {int(r["hour_id"]): int(r["n_sessions"])
                        for r in rows}
            if tag == "x1":
                base[qname] = vals
            else:
                # the bit-exact family law: identical key set, every
                # count exactly ×mult the x1 reading
                qrec["keys_identical"] = set(vals) == set(base[qname])
                qrec["counts_exact_xn"] = qrec["keys_identical"] and all(
                    vals[k] == mult * base[qname][k] for k in vals
                )
            if qname == "events_funnel":
                qrec["step_n_users"] = {
                    str(k): v for k, v in sorted(vals.items())
                }
            rec[qname] = qrec
            print(
                f"# {qname} {tag}: {t}s shuffle={tot} stages={nst} "
                f"rows={len(rows)}"
                + (
                    f" exact_xn={rec[qname].get('counts_exact_xn')}"
                    if tag != "x1" else ""
                ),
                file=sys.stderr,
            )
        # per-user state boundedness: the fold's in-row list is capped
        # by one user's event count, which must NOT grow with the decade
        ev = spark.read.parquet(os.path.join(d, "events.parquet"))
        rec["max_events_per_user"] = int(
            ev.groupBy("user_id").count().agg(F.max("count")).first()[0]
        )
        out[tag] = rec
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        for qname in FAMILY:
            out[f"{qname}_ratio_{a}_vs_{b}"] = round(
                out[a][qname]["wall_sec"] / out[b][qname]["wall_sec"], 2
            )
    out["per_user_state_flat"] = (
        out["x1"]["max_events_per_user"]
        == out["x10"]["max_events_per_user"]
        == out["x100"]["max_events_per_user"]
    )
    print(json.dumps(out))
    spark.stop()


def main_x100_crossmodal() -> None:
    """×1/×10/×100 curve for cross-modal retrieval (r15 birth — birth-
    round two-decade evidence, the r13-rerank precedent). Decades are
    the plain re-keyed document builds (text verbatim → the decode
    features duplicate across replicas — a corpus full of identical
    images, which only makes the cell join's law HARDER: every probed
    cell is ×N bigger). The laws under test:

    * PROBED-ROWS LAW: the scored candidate set is the probed-cell
      membership — ∝ corpus × (nprobe/cells) × |queries|, measured
      against the corpus × |queries| full-scan bound it must stay
      under at every decade.
    * DECODE MAP-ONLY: the corpus reaches the cell join through ONE
      Arrow kernel scan — constant stages, no corpus-side exchange
      (plan-pinned in tests; here the stage count carries it).
    """
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-xmodal")
    spark.sparkContext.setLogLevel("ERROR")
    import numpy as np

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from mopso_engine.ext import simsearch as ss
    from mopso_engine.ext.multimodal import (
        assets_from_documents,
        decode_and_featurize,
        fake_features_local,
    )

    for n, dest in ((10, OUT_BM25), (100, OUT100_BM25)):
        if not os.path.isdir(dest):
            build_docs_xn(spark, n, dest)
    qs = entry_mod.queries()
    out: dict = {
        "metric": "scale100_crossmodal_smoke",
        "query": "crossmodal_ann",
        "k": 5, "nprobe": 3, "cells": 8, "n_queries": 3,
    }
    qs["crossmodal_ann"](spark, SRC).write.format("noop").mode(
        "overwrite"
    ).save()
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_BM25, 10), ("x100", OUT100_BM25, 100)
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        qs["crossmodal_ann"](spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
        t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        # work-law readout (untimed): probed-cell membership per query
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        feats = decode_and_featurize(
            assets_from_documents(docs), decode="fake", dim=8
        ).select(
            F.col("asset_id").alias("vec_id"),
            F.col("features").alias("embedding"),
        )
        cb = ss.train_codebook(
            feats, k=8, iters=2, sample_fraction=0.5, seed=11
        )
        C = np.asarray(cb, dtype=np.float64)
        cells = feats.select("embedding").withColumn(
            "cell", ss._argmax_cell_kernel(C)(F.col("embedding"))
        )
        cell_rows = {
            r["cell"]: r["n"]
            for r in cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_corpus = docs.count()
        probed = 0
        for _, qt in (
            ("q_hashjoin", "hash join scan"),
            ("q_stream", "stream window watermark"),
            ("q_customer", "customer order value"),
        ):
            v = np.asarray(fake_features_local(qt.encode("utf-8")))
            sims = (C @ v) / (
                np.linalg.norm(C, axis=1) * np.linalg.norm(v)
            )
            order = sorted(range(len(sims)), key=lambda c: (-sims[c], c))
            probed += sum(cell_rows.get(c, 0) for c in order[:3])
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "n_corpus": int(n_corpus),
            "probed_rows": int(probed),
            "full_scan_bound": int(n_corpus) * 3,
            "probed_frac": round(probed / (n_corpus * 3), 3),
        }
        out[tag] = rec
        print(
            f"# crossmodal {tag}: {t}s shuffle={tot} stages={nst} "
            f"probed={probed} frac={rec['probed_frac']}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"probe_ratio_{a}_vs_{b}"] = round(
            out[a]["probed_rows"] / max(1, out[b]["probed_rows"]), 2
        )
    print(json.dumps(out))
    spark.stop()


def main_x100_bloom() -> None:
    """×1/×10/×100 curve for the Bloom-prefilter incremental dedup
    (VERDICT r14 #4 — `dedup_bloom_prefilter`, the most expensive
    non-fit non-graph bench entry, whose prefilter claims were
    docstring-only). Decades are the TOKEN-SALTED builds (the LSH
    smoke's design): verbatim replicas would share fingerprints and the
    known index would collapse to the base size, proving nothing.

    The filter is sized like a DEPLOYMENT sizes it — bits-per-key held
    CONSTANT as the index grows (m_bits × the decade; the declared
    entry's default is the x1 point's family) at ~8 bits/key so the
    false-positive rate is measurable instead of vanishing. The laws
    under test, each recorded per decade:

    * FP RATE BOUNDED: fp_rate (maybe & !known over genuinely-new
      rows) stays FLAT across decades at constant bits-per-key.
    * CANDIDATE REDUCTION HOLDS: the exact semi-join's probe side is
      maybe_rows = true dups + fp_rate × new — a small fraction of the
      increment at every decade, never the increment itself.
    * PROBE COST LINEAR + BROADCAST-SIZED FILTER: the probe is
      map-only (no join against the index for proven-new rows); filter
      words grow ∝ index (KB→MB), crossing from the plan-literal
      rendering to the broadcast Arrow kernel at
      LITERAL_BLOOM_WORDS_MAX (the x100 decade exercises the kernel).
    """
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-bloom")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from mopso_engine.ext import dedup as dd

    for n, dest in ((10, OUT_LSH), (100, OUT100_LSH)):
        if not os.path.isdir(dest):
            build_corpus_lsh(spark, n, dest)
    out: dict = {
        "metric": "scale100_bloom_smoke",
        "query": "dedup_bloom_prefilter",
        "bits_per_key_target": 7.94,
        "literal_words_max": dd.LITERAL_BLOOM_WORDS_MAX,
    }

    def run(d: str, m_bits: int):
        """The declared entry's planted fixture (__spark_entry__
        dedup_bloom_prefilter) at the given filter size."""
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        is_new = F.col("doc_id") % 5 == 0
        known = docs.where(~is_new)
        new = (
            docs.where(is_new)
            .unionByName(
                docs.where(~is_new & (F.col("doc_id") < 50)).withColumn(
                    "doc_id", F.col("doc_id") + F.lit(100000)
                )
            )
            .unionByName(
                docs.where(is_new & (F.col("doc_id") < 50)).withColumn(
                    "doc_id", F.col("doc_id") + F.lit(200000)
                )
            )
        )
        known_fps = known.select(
            F.md5(dd.normalized_text()).alias("fp")
        ).distinct()
        return dd.incremental_dedup_bloom(new, known_fps, m_bits=m_bits), known_fps

    from mopso_engine.scope import query_scope

    # warm pass eats codegen/JIT so no timed pass is charged for it
    with query_scope():
        run(SRC, 62 * 512)[0].write.format("noop").mode("overwrite").save()
    for tag, d, mult in (
        ("x1", SRC, 1), ("x10", OUT_LSH, 10), ("x100", OUT100_LSH, 100)
    ):
        m_bits = 62 * 512 * mult
        snap0 = stage_writes(spark)
        t0 = time.time()
        # one scope per decade: it destroys the decade's broadcast word
        # arrays once both probing DataFrames below are consumed
        with query_scope():
            res, known_fps = run(d, m_bits)
            res.write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
            tot, peak, nst = window_stats(snap0, stage_writes(spark))
            # work-law readout (untimed second pass): the decision table's
            # own counters ARE the law — maybe rows (the semi-join's probe
            # side), true dups, false positives over genuinely-new rows
            res2, known_fps2 = run(d, m_bits)
            law = res2.agg(
                F.count(F.lit(1)).alias("increment"),
                F.sum(F.col("maybe_known").cast("long")).alias("maybe"),
                F.sum(F.col("is_known").cast("long")).alias("dups"),
                F.sum(
                    (F.col("maybe_known") & ~F.col("is_known")).cast("long")
                ).alias("fp"),
            ).collect()[0]
            n_index = known_fps2.count()
        genuinely_new = int(law["increment"]) - int(law["dups"])
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "m_bits": m_bits,
            "filter_words": m_bits // dd.BLOOM_WORD_BITS,
            "probe_rendering": (
                "kernel"
                if m_bits // dd.BLOOM_WORD_BITS > dd.LITERAL_BLOOM_WORDS_MAX
                else "literal"
            ),
            "n_index_fps": int(n_index),
            "n_increment": int(law["increment"]),
            "maybe_rows": int(law["maybe"]),
            "true_dups": int(law["dups"]),
            "false_positives": int(law["fp"]),
            "fp_rate": round(int(law["fp"]) / max(1, genuinely_new), 5),
            "maybe_frac_of_increment": round(
                int(law["maybe"]) / max(1, int(law["increment"])), 5
            ),
        }
        out[tag] = rec
        print(
            f"# bloom {tag}: {t}s shuffle={tot} stages={nst} "
            f"index={n_index} maybe={rec['maybe_rows']} "
            f"fp_rate={rec['fp_rate']} via {rec['probe_rendering']}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"fp_rate_ratio_{a}_vs_{b}"] = round(
            out[a]["fp_rate"] / max(1e-9, out[b]["fp_rate"]), 2
        )
    print(json.dumps(out))
    spark.stop()


OUT_CURATE = os.path.join(_REPO, ".scale10curate")
OUT100_CURATE = os.path.join(_REPO, ".scale100curate")


def build_curate_feed_xn(spark, n: int, dest: str) -> None:
    """×n documents as a streaming FEED: n replica FILES of base-corpus
    size (flat ``docs_NNN.parquet`` files, the testdata layout the file
    stream source reads) — a crawler at ×n scale delivers ×n files of
    the same size, so micro-batch COUNT grows with the decade while
    per-batch size stays constant.

    Replicas are decorrelated by ONE appended per-replica nonce token
    (``zqr<i>``), NOT the LSH smoke's full token-salting: fingerprints
    must be distinct across replicas (the dedup state really grows ∝
    feed) but the GATES must see the base corpus's content — full
    salting un-matches every blocklist term, so the cheap blocklist
    stage stops shielding the expensive per-doc repetition expressions
    and per-batch cost balloons ~10× (measured: 65 s/batch salted vs
    ~6 s/batch nonce'd), which would measure the fixture, not the
    operator. Every decade (including ×1) carries the nonce so the
    per-batch work is comparable across decades."""
    import glob as _glob

    from pyspark.sql import functions as F

    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    for i in range(n):
        d = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
        ).withColumn(
            "text", F.concat(F.col("text"), F.lit(f" zqr{i}"))
        )
        tmp = os.path.join(dest, f"_tmp_{i}")
        d.coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(dest, f"docs_{i:03d}.parquet"))
        shutil.rmtree(tmp)


def main_x100_curate() -> None:
    """×1/×10/×100 curve for the streaming curation flagship
    (VERDICT r14 #5 — `stream_curate_docs_v3`, the largest benched
    streaming entry; stream==batch parity is oracled but the
    per-micro-batch law was claimed, not measured). The feed is paced
    at ONE file per micro-batch (maxFilesPerTrigger — the file source's
    standard rate limit), so the decades deliver 1/10/100 micro-batches
    of CONSTANT size. The laws under test, from the query's own
    StreamingQueryProgress:

    * PER-BATCH WORK FLAT: mean per-micro-batch input rows and the
      peak stage shuffle stay constant across decades (the gates are
      stateless codegen; the only exchange is the dedup state's
      fp-hash partitioning of one batch at a time).
    * STATE = FINGERPRINT SET: state numRowsTotal after the drain
      equals the cumulative distinct fingerprints (feed-linear — the
      DOCUMENTED posture; unbounded production streams swap the tail
      for the watermark-TTL dedup).
    * STAGES ∝ BATCHES: constant stages per micro-batch, so total
      stages grow with the batch count, not the corpus size.
    """
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke-curate")
    spark.sparkContext.setLogLevel("ERROR")
    from mopso_engine.ext.streaming import stream_curate_v3

    build_curate_feed_xn(spark, 1, OUT_CURATE + "1")
    build_curate_feed_xn(spark, 10, OUT_CURATE)
    build_curate_feed_xn(spark, 100, OUT100_CURATE)
    out: dict = {
        "metric": "scale100_curate_smoke",
        "query": "stream_curate_docs_v3",
        "max_files_per_trigger": 1,
    }

    def drain(d: str, name: str):
        sdf = stream_curate_v3(
            spark,
            os.path.join(d, "docs_*.parquet"),
            max_files_per_trigger=1,
        )
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [json.loads(p.json) for p in q.recentProgress]
        return spark.table(name), progress

    # warm pass eats codegen/JIT so no timed pass is charged for it
    drain(OUT_CURATE + "1", "curate_warm")
    for tag, d, mult in (
        ("x1", OUT_CURATE + "1", 1),
        ("x10", OUT_CURATE, 10),
        ("x100", OUT100_CURATE, 100),
    ):
        snap0 = stage_writes(spark)
        t0 = time.time()
        res, progress = drain(d, f"curate_{tag}")
        n_out = res.count()
        t = round(time.time() - t0, 3)
        tot, peak, nst = window_stats(snap0, stage_writes(spark))
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        state_rows = 0
        rows_per_batch = []
        for p in batches:
            rows_per_batch.append(p["numInputRows"])
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = max(state_rows, ops[0].get("numRowsTotal", 0))
        rec = {
            "scale": mult, "wall_sec": t, "shuffle_write_bytes": tot,
            "peak_stage_shuffle_bytes": peak, "stages": nst,
            "micro_batches": len(batches),
            "mean_rows_per_batch": round(
                sum(rows_per_batch) / max(1, len(rows_per_batch)), 1
            ),
            "state_rows_final": int(state_rows),
            "survivors": int(n_out),
            "stages_per_batch": round(nst / max(1, len(batches)), 1),
        }
        out[tag] = rec
        print(
            f"# curate {tag}: {t}s batches={rec['micro_batches']} "
            f"rows/batch={rec['mean_rows_per_batch']} "
            f"state={rec['state_rows_final']} stages/batch="
            f"{rec['stages_per_batch']} peak_shuffle={peak}",
            file=sys.stderr,
        )
    for a, b in (("x10", "x1"), ("x100", "x10"), ("x100", "x1")):
        out[f"ratio_{a}_vs_{b}"] = round(
            out[a]["wall_sec"] / out[b]["wall_sec"], 2
        )
        out[f"peak_shuffle_ratio_{a}_vs_{b}"] = round(
            out[a]["peak_stage_shuffle_bytes"]
            / max(1, out[b]["peak_stage_shuffle_bytes"]),
            2,
        )
        out[f"stages_per_batch_ratio_{a}_vs_{b}"] = round(
            out[a]["stages_per_batch"] / max(0.1, out[b]["stages_per_batch"]),
            2,
        )
    print(json.dumps(out))
    spark.stop()


def stage_writes(spark) -> dict:
    """{(stageId, attemptId): shuffleWriteBytes} for completed stages via
    the REST API — callers diff two snapshots so totals AND peaks are
    computed over exactly the stages a query ran (a global max would
    leak earlier queries' peaks into later windows)."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages?status=complete") as r:
        stages = json.load(r)
    return {
        (s["stageId"], s.get("attemptId", 0)): s.get("shuffleWriteBytes", 0)
        for s in stages
    }


def window_stats(before: dict, after: dict) -> tuple[int, int, int]:
    new = {k: v for k, v in after.items() if k not in before}
    return sum(new.values()), max(new.values(), default=0), len(new)


def main() -> None:
    from mopso_engine.session import build_session

    spark = build_session(master="local[32]", app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    build_corpus(spark)
    out: dict = {"metric": "scale10_smoke", "replicas": REPLICAS}

    # flagship paths, unchanged queries: x1 (sf0.1) then x10 in the SAME
    # session — the paired ratio is host-drift-resistant in a way one
    # cold absolute number is not. A warm x1 pass first eats the
    # codegen/JIT cost so neither timed pass is charged for it.
    qs = entry_mod.queries()
    from mopso_engine.scope import query_scope

    ROWS_IN = {
        "corpus_curation_v2": (5_000, 50_000),
        # r9: the FUSED v3 ladder (one corpus scan, zero doc_id joins) —
        # the fusion claim needs its own 10x datapoint
        "corpus_curation_v3": (5_000, 50_000),
        "dedup_verified": (5_000, 50_000),
        "training_epoch_mix": (5_000, 50_000),
        # graph: edges scale 10x (custkeys re-keyed per replica)
        "supplier_pagerank": (600_000, 6_000_000),
        # r9: BFS over the same 10x-grown graph (marginal-exchange loop)
        "supplier_bfs": (600_000, 6_000_000),
        # r9: the bucketed_global_rank decomposition at 6M ranked rows —
        # the no-single-partition-sort claim needs the 10x datapoint
        "price_deciles": (600_000, 6_000_000),
        # r9: RFM chains three rank decompositions over 10x customers
        # (orders custkeys re-keyed per replica)
        "customer_rfm": (150_000, 1_500_000),
        # r10: the GROUPED rank decomposition (per-source quantile
        # normalization) — 10x docs per source, same source count
        "docs_quality_qnorm": (5_000, 50_000),
    }
    for name in (
        "corpus_curation_v2", "corpus_curation_v3", "dedup_verified",
        "training_epoch_mix", "supplier_pagerank", "supplier_bfs",
        "price_deciles", "customer_rfm", "docs_quality_qnorm",
    ):
        with query_scope():
            qs[name](spark, SRC).write.format("noop").mode("overwrite").save()
        rec = {}
        for tag, d, rows in (
            ("x1", SRC, ROWS_IN[name][0]), ("x10", OUT, ROWS_IN[name][1])
        ):
            snap0 = stage_writes(spark)
            t0 = time.time()
            with query_scope():
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                t = round(time.time() - t0, 3)
            tot, peak, n = window_stats(snap0, stage_writes(spark))
            rec[tag] = {
                "rows_in": rows, "wall_sec": t,
                "shuffle_write_bytes": tot,
                "peak_stage_shuffle_bytes": peak, "stages": n,
            }
            print(f"# {name} {tag}: {t}s", file=sys.stderr)
        rec["ratio_x10_vs_x1"] = round(
            rec["x10"]["wall_sec"] / rec["x1"]["wall_sec"], 2
        )
        out[name] = rec

    # lineitem partition-local fit, partitions scaled WITH the data
    from pyspark.sql import functions as F

    from mopso_engine.engine import MopsoEngine
    from mopso_engine.io import points_from_columns, read_table
    from mopso_engine.schema import MopsoConfig

    li = read_table(spark, OUT, "lineitem").withColumn(
        "pid",
        F.xxhash64(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        ),
    )
    pts = points_from_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], None, id_col="pid"
    ).repartition(640, "id").sortWithinPartitions("id")
    cfg = MopsoConfig(
        k=4, n_particles=5, iter_max=2, knn_l=5, seed=42,
        fitness_mode="partition_local",
    )
    snap0 = stage_writes(spark)
    t0 = time.time()
    res = MopsoEngine(cfg).fit(pts)
    t_fit = round(time.time() - t0, 3)
    tot, peak, n = window_stats(snap0, stage_writes(spark))
    out["fit_lineitem_x10"] = {
        "rows_in": 6_000_000, "partitions": 640, "wall_sec": t_fit,
        "archive_size": len(res.archive_positions),
        "shuffle_write_bytes": tot, "peak_stage_shuffle_bytes": peak,
        "stages": n,
    }
    print(f"# fit_lineitem x10: {t_fit}s archive={len(res.archive_positions)}", file=sys.stderr)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--x100",
        default=None,
        help="comma-list of flagship queries to run at x1/x10/x100 "
        "(builds .scale100 for just their tables; skips the x10 suite)",
    )
    ap.add_argument(
        "--x100-lsh",
        action="store_true",
        help="run the MinHash-LSH dedup x1/x10/x100 curve on token-"
        "salted decades (builds .scale10lsh/.scale100lsh)",
    )
    ap.add_argument(
        "--x100-bm25",
        action="store_true",
        help="run the BM25/pruned-tf x1/x10/x100 curve on plain "
        "re-keyed decades (builds .scale10bm25/.scale100bm25)",
    )
    ap.add_argument(
        "--x100-rerank",
        action="store_true",
        help="run the exact-rerank-tier x1/x10/x100 curve on plain "
        "re-keyed decades (reuses .scale10bm25/.scale100bm25)",
    )
    ap.add_argument(
        "--x100-ann",
        action="store_true",
        help="run the IVF ANN x1/x10/x100 curve on re-keyed embedding "
        "decades (builds .scale10ann/.scale100ann)",
    )
    ap.add_argument(
        "--x100-bootstrap",
        action="store_true",
        help="run the Poisson-bootstrap x1/x10/x100 curve on fixed-key "
        "decades (builds .scale10boot/.scale100boot)",
    )
    ap.add_argument(
        "--x100-attribution",
        action="store_true",
        help="run the multi-touch attribution x1/x10/x100 curve on "
        "user-rekeyed decades (builds .scale10attr/.scale100attr)",
    )
    ap.add_argument(
        "--x100-bloom",
        action="store_true",
        help="run the Bloom-prefilter dedup x1/x10/x100 curve on "
        "token-salted decades (reuses .scale10lsh/.scale100lsh; "
        "bits-per-key held constant)",
    )
    ap.add_argument(
        "--x100-curate",
        action="store_true",
        help="run the streaming-curation x1/x10/x100 curve on a "
        "file-paced salted feed (builds .scale10curate/.scale100curate)",
    )
    ap.add_argument(
        "--x100-markov",
        action="store_true",
        help="run the Markov removal-effect x1/x10/x100 curve on the "
        "user-rekeyed decades (reuses .scale10attr/.scale100attr)",
    )
    ap.add_argument(
        "--x100-funnel",
        action="store_true",
        help="run the funnel/session family x1/x10/x100 curve on "
        "user-rekeyed decades (reuses .scale10attr/.scale100attr)",
    )
    ap.add_argument(
        "--x100-crossmodal",
        action="store_true",
        help="run the cross-modal retrieval x1/x10/x100 curve on plain "
        "re-keyed decades (reuses .scale10bm25/.scale100bm25)",
    )
    args = ap.parse_args()
    if args.x100_funnel:
        main_x100_funnel()
    elif args.x100_crossmodal:
        main_x100_crossmodal()
    elif args.x100_markov:
        main_x100_markov()
    elif args.x100_bloom:
        main_x100_bloom()
    elif args.x100_curate:
        main_x100_curate()
    elif args.x100_ann:
        main_x100_ann()
    elif args.x100_bootstrap:
        main_x100_bootstrap()
    elif args.x100_attribution:
        main_x100_attribution()
    elif args.x100_lsh:
        main_x100_lsh()
    elif args.x100_rerank:
        main_x100_rerank()
    elif args.x100_bm25:
        main_x100_bm25()
    elif args.x100:
        main_x100(args.x100.split(","))
    else:
        main()
