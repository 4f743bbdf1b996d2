"""DSIR importance resampling (ext.dsir) vs a from-scratch python
replay: hashed unigram+bigram bucket counts, pinned micro-nat log
ratios, exact integer dot-product weights, deterministic top-k."""
import hashlib
import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mopso_engine.ext.dsir import (
    dsir_log_ratio_micro,
    dsir_topk,
    dsir_weights,
)
from mopso_engine.scope import query_scope

# two "domains": target docs talk about joins/scans, the rest about
# weather/cooking; doc 6 is a non-target doc written in target language
CORPUS = [
    (0, "hash join scan join", True),
    (1, "scan filter join hash", True),
    (2, "rain cloud storm wind", False),
    (3, "bake flour sugar oven", False),
    (4, "storm rain wind cloud rain", False),
    (5, "hash join filter scan scan", True),
    (6, "join scan hash filter", False),
    (7, "oven sugar bake", False),
]


def _bucket(g: str, n_buckets: int) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def _grams(text: str) -> list[str]:
    t = re.split(r"\s+", text.lower().strip())
    return [g for g in t + [f"{a} {b}" for a, b in zip(t, t[1:])] if g != ""]


def replay(corpus, n_buckets=64, alpha=0.5):
    per_doc = {}
    t_by, r_by = Counter(), Counter()
    for doc_id, text, is_t in corpus:
        c = Counter(_bucket(g, n_buckets) for g in _grams(text))
        per_doc[doc_id] = (is_t, c)
        r_by.update(c)
        if is_t:
            t_by.update(c)
    lr = dsir_log_ratio_micro(
        t_by, r_by, sum(t_by.values()), sum(r_by.values()),
        alpha=alpha, n_buckets=n_buckets,
    )
    return {
        d: (is_t, sum(c.values()), sum(n * lr[b] for b, n in c.items()))
        for d, (is_t, c) in per_doc.items()
    }


class TestDsirWeights:
    @pytest.fixture(scope="class")
    def result(self, spark):
        docs = spark.createDataFrame(
            [(d, t) for d, t, _ in CORPUS], "doc_id long, text string"
        )
        target_ids = [d for d, _, it in CORPUS if it]
        with query_scope():
            return dsir_weights(
                docs, F.col("doc_id").isin(target_ids), n_buckets=64
            ).collect()

    def test_matches_python_replay_exactly(self, result):
        want = replay(CORPUS)
        got = {
            r["doc_id"]: (r["is_target"], r["n_grams"], r["w_micro"])
            for r in result
        }
        assert got == want

    def test_target_lookalike_outranks_off_domain(self, result):
        # doc 6 uses target vocabulary; docs 2-4, 7 do not — DSIR's whole
        # point is that 6 scores higher than every off-domain doc
        w = {r["doc_id"]: r["w_micro"] for r in result}
        assert all(w[6] > w[d] for d in (2, 3, 4, 7))

    def test_topk_excludes_targets_and_ranks_deterministically(self, spark):
        docs = spark.createDataFrame(
            [(d, t) for d, t, _ in CORPUS], "doc_id long, text string"
        )
        target_ids = [d for d, _, it in CORPUS if it]
        with query_scope():
            out = dsir_topk(
                docs, F.col("doc_id").isin(target_ids), top_k=3, n_buckets=64
            ).collect()
        assert [r["rk"] for r in out] == [1, 2, 3]
        assert all(r["doc_id"] not in target_ids for r in out)
        assert out[0]["doc_id"] == 6  # the lookalike wins

    def test_log_ratio_table_covers_all_buckets(self):
        lr = dsir_log_ratio_micro({0: 5}, {0: 5, 1: 3}, 5, 8, n_buckets=4)
        assert set(lr) == {0, 1, 2, 3}
        # a bucket absent from both corpora gets the smoothed constant
        # ln((0+a)/(T+aB)) - ln((0+a)/(R+aB)) = ln((R+aB)/(T+aB))
        want = math.floor(math.log((8 + 2.0) / (5 + 2.0)) * 1e6 + 0.5)
        assert lr[2] == lr[3] == want

    def test_guard(self, spark):
        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dsir_weights(docs, F.lit(True), n_buckets=1)
