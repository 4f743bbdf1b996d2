#!/usr/bin/env python
"""Scale-evidence mini-bench (VERDICT r16 #3): the 10 heaviest bench
paths at a ×3 corpus ("sf0.3"), 8 vs 32 cores, so the round's at-scale
claims carry numbers instead of plan arguments.

Corpus (``--build`` writes ``.scale_sf03/`` in the repo, never touching
/root/testdata):

* documents ×3 TOKEN-SALTED per replica (the LSH smoke's decorrelated
  scheme — cross-replica Jaccard 0, bucket count grows ×3 while bucket
  sizes stay flat, i.e. a real mostly-distinct crawl; plain replication
  would make every doc a true 3-way duplicate and degenerate the dedup
  entries to corpus²);
* lineitem/orders ×3 with matching orderkey blocks and per-replica
  custkey blocks (the purchase graph really grows ×3 nodes/edges);
* customer re-keyed to match; part/supplier/nation/region verbatim.

Run (``--cpus N``): fresh session on local[N] with the bench warmups,
then per query ATTEMPTS timed runs through the noop sink with the
micro spark calib adjacent to every attempt, query-lifetime caches
cleared between attempts exactly as bench.py's run_once does. Fit and
graph phase decompositions are recorded per attempt. One JSON line +
artifact file. This tool never touches bench.py; the env contract
(SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) stays as the driver knows it.

Usage:
  python tools/scale_bench_r17.py --build
  python tools/scale_bench_r17.py --cpus 32 --out scale_bench_r17_c32.json
  python tools/scale_bench_r17.py --cpus 8  --out scale_bench_r17_c8.json
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(_REPO, ".scale_sf03")
REPLICAS = 3

#: the 10 heaviest bench paths (VERDICT r16 #3's list), attempts each —
#: the uncapped skew twin is single-attempt (its cost IS quadratic by
#: design: ~9× its sf0.1 wall here)
QUERIES: list[tuple[str, int]] = [
    ("mopso_fit_lineitem_only", 2),
    ("mopso_fit_lineitem", 2),
    ("supplier_pagerank", 2),
    ("supplier_ppr", 2),
    ("supplier_bfs", 2),
    ("dedup_incremental_fuzzy", 2),
    ("dedup_prefix_filter", 2),
    ("hybrid_rerank_eval", 2),
    ("dedup_jaccard_skewed", 2),
    ("dedup_jaccard_skewed_uncapped", 1),
]


def build(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    scaled = None
    for i in range(REPLICAS):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        if i > 0:  # replica 0 verbatim so query-term retrievers still match
            d = d.withColumn(
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
    scaled.repartition(8).write.parquet(os.path.join(OUT, "documents.parquet"))

    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    scaled = None
    for i in range(REPLICAS):
        d = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(16).write.parquet(os.path.join(OUT, "lineitem.parquet"))

    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    scaled = None
    for i in range(REPLICAS):
        d = orders.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(i * 100_000_000)
        ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * 10_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.repartition(8).write.parquet(os.path.join(OUT, "orders.parquet"))

    cust = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    scaled = None
    for i in range(REPLICAS):
        d = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * 10_000_000))
        scaled = d if scaled is None else scaled.unionByName(d)
    scaled.write.parquet(os.path.join(OUT, "customer.parquet"))
    for t in ("part", "supplier", "nation", "region"):
        spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).write.parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
    print(f"# built {OUT}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--only", default=None,
        help="comma-separated subset of the query list (long low-core "
        "passes can be split across invocations)",
    )
    args = ap.parse_args()

    from mopso_engine.session import build_session

    spark = build_session(
        master=f"local[{args.cpus}]", app_name=f"scale-bench-r17-c{args.cpus}"
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.build:
        build(spark)
        spark.stop()
        return

    from bench import (
        _cpu_calibration,
        _micro_spark_calibration,
        _spark_calibration,
    )

    import __spark_entry__ as entry_mod
    from mopso_engine.scope import PHASES, query_scope

    sf_dir = OUT
    spark.range(1000).repartition(args.cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    import numpy as np

    from mopso_engine.ext.dedup import jaccard_pairs
    from mopso_engine.io import points_from_embeddings
    from mopso_engine.objectives import evaluate_solutions, with_neighbors

    docs_small = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).limit(300)
    jaccard_pairs(docs_small, threshold=0.5).write.format("noop").mode(
        "overwrite"
    ).save()
    pts_small = points_from_embeddings(spark, SRC).limit(300)
    nbr_small = with_neighbors(pts_small.repartition(4, "id"), 3, mode="partition_local")
    evaluate_solutions(nbr_small, np.zeros((2, 3, 64)))

    _cpu_calibration(), _spark_calibration(spark), _micro_spark_calibration(spark)
    res: dict = {
        "metric": "scale_bench_r17",
        "sf_dir": sf_dir,
        "replicas": REPLICAS,
        "cpus": args.cpus,
        "cpu_calib": _cpu_calibration(),
        "spark_calib": _spark_calibration(spark),
        "queries": {},
    }
    qs = entry_mod.queries()

    def run_once(name: str) -> float:
        t0 = time.time()
        with query_scope():
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
        return t

    only = set(args.only.split(",")) if args.only else None
    for name, attempts in QUERIES:
        if only is not None and name not in only:
            continue
        rec: dict = {"attempts": [], "micro_calibs": [], "phases": None}
        for _ in range(attempts):
            rec["micro_calibs"].append(_micro_spark_calibration(spark))
            try:
                t = run_once(name)
            except Exception as exc:  # noqa: BLE001
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                break
            rec["attempts"].append(t)
            if name.startswith("mopso_fit") and PHASES:
                rec["phases"] = dict(PHASES)
            if name.startswith("supplier_") and PHASES:
                rec["phases"] = {
                    k: (list(v) if isinstance(v, list) else v)
                    for k, v in PHASES.items()
                }
        rec["micro_calibs"].append(_micro_spark_calibration(spark))
        if rec["attempts"]:
            rec["best"] = min(rec["attempts"])
        res["queries"][name] = rec
        print(f"# {name}: {rec.get('best')} {rec['attempts']} "
              f"calibs {rec['micro_calibs']}", file=sys.stderr)
    res["spark_calib_post"] = _spark_calibration(spark)
    res["cpu_calib_post"] = _cpu_calibration()
    line = json.dumps(res, separators=(",", ":"))
    out_path = args.out or os.path.join(_REPO, f"scale_bench_r17_c{args.cpus}.json")
    with open(out_path, "w") as fh:
        fh.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
