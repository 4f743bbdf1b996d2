"""Tests for the data-pipeline extensions (dedup/simsearch/text/
multimodal/streaming) against python/numpy oracles and the sf0.001
testdata."""

import hashlib
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from mopso_engine.ext import dedup as dd
from mopso_engine.ext import simsearch as ss
from mopso_engine.ext import text as tx
from mopso_engine.ext.multimodal import (
    assets_from_documents,
    asset_stats,
    decode_and_featurize,
    frame_sample,
)
from mopso_engine.io import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings").cache()


def _norm_text(t: str) -> str:
    return " ".join(t.strip().split()).lower()


class TestText:
    def test_text_stats_oracle(self, docs):
        rows = {r["doc_id"]: r for r in tx.text_stats(docs).collect()}
        for r in docs.limit(20).collect():
            toks = r["text"].strip().split()
            got = rows[r["doc_id"]]
            assert got["n_chars"] == len(r["text"])
            assert got["n_tokens"] == len(toks)
            assert got["mean_token_len"] == pytest.approx(
                round(sum(map(len, toks)) / len(toks), 6)
            )
            assert got["distinct_ratio"] == pytest.approx(round(len(set(toks)) / len(toks), 6))

    def test_token_count_oracle(self, docs):
        rows = {r["doc_id"]: r for r in tx.token_count(docs).collect()}
        pat = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")
        for r in docs.limit(20).collect():
            got = rows[r["doc_id"]]
            assert got["ws_tokens"] == len(r["text"].strip().split())
            assert got["bpe_ish_tokens"] == len(pat.findall(r["text"]))

    def test_fingerprint_is_md5_of_normalized(self, docs):
        rows = {r["doc_id"]: r["fp"] for r in tx.fingerprint(docs).collect()}
        for r in docs.limit(10).collect():
            assert rows[r["doc_id"]] == hashlib.md5(_norm_text(r["text"]).encode()).hexdigest()

    def test_lang_id_deterministic_and_scored(self, docs):
        a = {(r["doc_id"], r["pred_lang"], r["lang_score"]) for r in tx.lang_id(docs).collect()}
        b = {(r["doc_id"], r["pred_lang"], r["lang_score"]) for r in tx.lang_id(docs).collect()}
        assert a == b
        assert all(0.0 <= s <= 1.0 for _, _, s in a)


class TestDedup:
    def test_shingles_oracle(self, docs):
        got = (
            dd.word_shingles(docs.where(F.col("doc_id") < 5), k=3)
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("shingle")).alias("sh"))
            .collect()
        )
        for r in docs.where(F.col("doc_id") < 5).collect():
            toks = _norm_text(r["text"]).split(" ")
            exp = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
            got_r = next(g["sh"] for g in got if g["doc_id"] == r["doc_id"])
            assert got_r == exp

    def test_exact_dedup_finds_planted_dups(self, spark, docs):
        dup = docs.where(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 5000)
        groups = dd.exact_dedup(docs.unionByName(dup)).collect()
        assert len(groups) == 10
        assert all(g["n_docs"] == 2 for g in groups)
        assert all(g["keep_id"] < 5000 for g in groups)

    def test_jaccard_stop_shingle_cap_underestimates(self, spark, docs):
        """max_shingle_df drops hot shingles from the join: surviving pairs
        report ≤ the uncapped jaccard and no new pairs appear."""
        sub = docs.where(F.col("doc_id") < 100)
        full = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_pairs(sub, threshold=0.0).collect()}
        capped = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_pairs(sub, threshold=0.0, max_shingle_df=5).collect()}
        assert set(capped) <= set(full)
        assert all(capped[p] <= full[p] + 1e-9 for p in capped)

    def test_jaccard_planted_hot_shingle_is_dropped_by_cap(self, spark, docs):
        """A stop-shingle shared by EVERY doc would contribute n² candidate
        pairs; with the cap engaged the hot key vanishes from the join and
        docs with no other overlap produce no pair at all."""
        n = 12
        rows = [
            (i, "common tag line " + " ".join(f"u{i}w{j}" for j in range(10)), "en", "t", 0)
            for i in range(n)
        ]
        hot = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
        full = dd.jaccard_pairs(hot, threshold=0.0).collect()
        assert len(full) == n * (n - 1) // 2  # every pair co-shingled via the hot prefix
        capped = dd.jaccard_pairs(hot, threshold=0.0, max_shingle_df=5).collect()
        assert capped == []  # hot shingles dropped; no residual overlap

    def test_jaccard_capped_universe_scores_ignore_boilerplate(self, spark):
        """stop_shingles_in_sizes=False computes jaccard over the CAPPED
        shingle universe: two docs identical except for a shared
        boilerplate footer (hot shingles) must score 1.0 — the default
        rendering would dilute them by the dropped footer shingles."""
        footer = " alpha beta gamma delta epsilon zeta"
        rows = [(i, " ".join(f"u{i}w{j}" for j in range(8)) + footer, "en", "t", 0) for i in range(8)]
        # docs 6 and 7 share their core text too (true near-dups)
        rows[7] = (7, " ".join(f"u6w{j}" for j in range(8)) + footer, "en", "t", 0)
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        filtered = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.jaccard_pairs(
                docs, threshold=0.0, max_shingle_df=5, stop_shingles_in_sizes=False
            ).collect()
        }
        # only the true near-dup pair survives, at full similarity
        assert filtered == {(6, 7): 1.0}
        # the default rendering keeps the footer in |∪| → diluted score
        diluted = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.jaccard_pairs(docs, threshold=0.0, max_shingle_df=5).collect()
        }
        assert diluted[(6, 7)] < 1.0

    def test_jaccard_on_candidates_matches_full(self, spark, docs):
        sub = docs.where(F.col("doc_id") < 100)
        cands = dd.minhash_lsh_candidates(sub)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_on_candidates(sub, cands).collect()}
        full = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_pairs(sub, threshold=0.0).collect()}
        for p, j in got.items():
            assert j == pytest.approx(full.get(p, 0.0), abs=1e-9)

    def test_jaccard_identical_docs_is_one(self, spark, docs):
        dup = docs.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 5000)
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.jaccard_pairs(docs.unionByName(dup), k=3, threshold=0.99).collect()
        }
        for i in range(5):
            assert pairs[(i, i + 5000)] == 1.0

    def test_band_signatures_match_collect_sort_formulation(self, spark, docs):
        """The r16 fixed-permutation band concat must reproduce the
        historical collect_list+array_sort strings byte-for-byte —
        including band 2 of the 16/4 default, whose indices [8,9,10,11]
        sort lexicographically as 10,11,8,9 (digits < ':')."""
        sub = docs.where(F.col("doc_id") < 40)
        got = {
            (r["doc_id"], r["band"]): r["band_sig"]
            for r in dd.band_signatures(sub, k=3, num_hashes=16, bands=4).collect()
        }
        rows_per_band = 4
        sig = dd.minhash_signatures(sub, k=3, num_hashes=16).withColumn(
            "band", (F.col("hash_idx") / rows_per_band).cast("int")
        )
        want = {
            (r["doc_id"], r["band"]): r["band_sig"]
            for r in sig.groupBy("doc_id", "band")
            .agg(
                F.concat_ws(
                    "|",
                    F.array_sort(
                        F.collect_list(F.concat_ws(":", "hash_idx", "minhash"))
                    ),
                ).alias("band_sig")
            )
            .collect()
        }
        assert got == want and len(got) > 0

    def test_minhash_identical_docs_same_signature(self, spark, docs):
        dup = docs.where(F.col("doc_id") < 3).withColumn("doc_id", F.col("doc_id") + 5000)
        sigs = dd.minhash_signatures(docs.unionByName(dup), k=3, num_hashes=8).collect()
        by_doc = {}
        for r in sigs:
            by_doc.setdefault(r["doc_id"], {})[r["hash_idx"]] = r["minhash"]
        for i in range(3):
            assert by_doc[i] == by_doc[i + 5000]

    def test_lsh_finds_planted_dups(self, spark, docs):
        dup = docs.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 5000)
        cands = {
            (r["doc_a"], r["doc_b"])
            for r in dd.minhash_lsh_candidates(docs.unionByName(dup)).collect()
        }
        for i in range(5):
            assert (i, i + 5000) in cands

    def test_simhash_identical_equal_and_in_range(self, spark, docs):
        dup = docs.where(F.col("doc_id") < 3).withColumn("doc_id", F.col("doc_id") + 5000)
        h = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs.unionByName(dup), bits=16).collect()}
        for i in range(3):
            assert h[i] == h[i + 5000]
        assert all(0 <= v < 2**16 for v in h.values())


class TestSimsearch:
    def test_bruteforce_matches_numpy(self, emb):
        rows = emb.collect()
        ids = np.array([r["vec_id"] for r in rows])
        x = np.array([r["embedding"] for r in rows], dtype=np.float64)
        got = ss.cosine_topk_bruteforce(emb, [0, 1], k=5).collect()
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        for q in (0, 1):
            qi = int(np.where(ids == q)[0][0])
            cos = xn @ xn[qi]
            cos[qi] = -np.inf
            exp = ids[np.argsort(-cos, kind="stable")[:5]]
            got_q = sorted(
                [(r["rank"], r["nbr_id"], r["cos_sim"]) for r in got if r["query_id"] == q]
            )
            assert [g[1] for g in got_q] == list(exp)
            for rank, nbr, sim in got_q:
                qj = int(np.where(ids == nbr)[0][0])
                assert sim == pytest.approx(round(float(xn[qj] @ xn[qi]), 6), abs=1e-6)

    def test_ivf_matches_numpy_oracle(self, emb):
        """IVF = exact top-k restricted to the nprobe nearest label cells —
        verified against a numpy re-implementation (recall vs brute force
        depends on the data's label/cosine alignment; here labels are not
        cosine-clustered, so we check the semantics, not recall)."""
        rows = emb.collect()
        ids = np.array([r["vec_id"] for r in rows])
        labels = np.array([r["label"] for r in rows])
        x = np.array([r["embedding"] for r in rows], dtype=np.float64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        cents = np.stack([x[labels == l].mean(axis=0) for l in range(labels.max() + 1)])
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        got = ss.cosine_topk_ivf(emb, [0, 1, 2], k=5, nprobe=3).collect()
        for q in (0, 1, 2):
            qi = int(np.where(ids == q)[0][0])
            cells = np.argsort(-(cn @ xn[qi]), kind="stable")[:3]
            mask = np.isin(labels, cells) & (ids != q)
            cos = xn[mask] @ xn[qi]
            cand_ids = ids[mask]
            exp = set(cand_ids[np.argsort(-cos, kind="stable")[:5]])
            got_q = {r["nbr_id"] for r in got if r["query_id"] == q}
            assert got_q == exp

    def test_band_kernel_matches_expression_twin(self, emb):
        """The Arrow band-signature kernel's sequential-over-dims
        accumulation must be BIT-IDENTICAL to the interpreted Catalyst
        fold (same IEEE-754 op order) — bucket assignments feed the SQL
        oracle, so even a single flipped sign bit would surface as a
        correctness mismatch."""
        a = sorted(map(tuple, ss.sign_lsh_bands(emb, dim=64).collect()))
        b = sorted(map(tuple, ss._sign_lsh_bands_expr(emb, dim=64).collect()))
        assert a == b

    def test_neardup_symmetric_bounds(self, emb):
        pairs = ss.cosine_neardup_pairs(emb, threshold=0.3).collect()
        assert all(r["id_a"] < r["id_b"] for r in pairs)
        assert all(r["cos_sim"] >= 0.3 for r in pairs)

    def test_neardup_blocked_is_subset_of_bruteforce_with_recall(self, emb):
        """Sign-LSH blocking: every reported pair is a true ≥-threshold
        pair (verification is exact), and recall against the O(N²)
        baseline is substantial at this band/row setting."""
        full = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in ss.cosine_neardup_bruteforce(emb, threshold=0.3).collect()
        }
        blocked = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in ss.cosine_neardup_pairs(emb, threshold=0.3).collect()
        }
        assert blocked  # non-degenerate
        assert set(blocked) <= set(full)
        for k, v in blocked.items():
            assert v == full[k]  # scores are exact, only recall is approximate
        assert len(blocked) / len(full) >= 0.4


class TestCodebook:
    """Sampled-k-means IVF codebook for unlabeled corpora."""

    def test_spark_and_local_trainers_bit_identical(self, emb):
        """The Spark-side trainer (hash sample → collect → seeded Lloyd)
        and the oracle twin (DuckDB reads the same parquet with the same
        md5 predicate) must produce the SAME codebook bit-for-bit — the
        property the ann_ivf_unlabeled value oracle stands on."""
        cb_spark = ss.train_codebook(emb.drop("label"), k=4, iters=2, sample_fraction=0.9, seed=11)
        cb_local = ss.train_codebook_local(
            f"{SF}/embeddings.parquet", k=4, iters=2, sample_fraction=0.9, seed=11
        )
        assert np.array_equal(np.asarray(cb_spark), np.asarray(cb_local))

    def test_lloyd_deterministic_and_shaped(self):
        rng = np.random.default_rng(3)
        X = rng.normal(size=(100, 8))
        a = ss.lloyd_codebook(X, 5, iters=3, seed=11)
        b = ss.lloyd_codebook(X.copy(), 5, iters=3, seed=11)
        assert np.array_equal(a, b)
        assert np.asarray(a).shape == (5, 8)
        with pytest.raises(ValueError, match="rows < k"):
            ss.lloyd_codebook(X[:3], 5)

    def test_ivf_codebook_topk_exact_scores_and_recall(self, emb):
        """Returned neighbors carry EXACT cosine scores (verification is
        exact — only cell pruning is approximate), and overlap with the
        brute-force top-5 is substantial on the blobby corpus."""
        cb = ss.train_codebook(emb.drop("label"), k=4, iters=2, sample_fraction=0.9, seed=11)
        got = ss.cosine_topk_ivf_codebook(emb.drop("label"), cb, [0, 1, 2], k=5, nprobe=2).collect()
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        x = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        exact = ss.cosine_topk_bruteforce(emb, [0, 1, 2], k=5).collect()
        for q in (0, 1, 2):
            got_q = {r["nbr_id"]: r["cos_sim"] for r in got if r["query_id"] == q}
            assert len(got_q) == 5
            qi = int(np.where(ids == q)[0][0])
            for nbr, cs in got_q.items():
                ni = int(np.where(ids == nbr)[0][0])
                assert cs == pytest.approx(float(xn[qi] @ xn[ni]), abs=1e-6)
            exact_q = {r["nbr_id"] for r in exact if r["query_id"] == q}
            assert len(got_q.keys() & exact_q) >= 3  # nprobe=2 of 4 cells

    def test_crossmodal_topk_matches_probed_bruteforce(self, spark, emb):
        """r15 (VERDICT r14 #8a): cross-modal IVF — external query
        vectors (the other modality's encoder output) retrieve corpus
        items. Verification is exact within the probed cells: a numpy
        replay of cell assignment, probe selection, and cosine top-k
        must reproduce rows exactly; scores are exact cosines; a query
        vector EQUAL to a corpus item must return that item at rank 1
        with cos 1.0 when its cell is probed (it always is: the query's
        most-similar cell IS the item's own)."""
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        X = np.stack(
            [np.array(r["embedding"], dtype=np.float64) for r in rows]
        )
        corpus = spark.createDataFrame(
            [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
            "item_id long, vec array<double>",
        )
        cb = ss.train_codebook(
            emb.drop("label"), k=4, iters=2, sample_fraction=0.9, seed=11
        )
        qvecs = {100: X[0], 101: (X[1] + X[2]) / 2.0}
        queries = spark.createDataFrame(
            [(q, [float(v) for v in x]) for q, x in qvecs.items()],
            "query_id long, qvec array<double>",
        )
        got = ss.crossmodal_topk_ivf(corpus, cb, queries, k=5, nprobe=2)
        got_rows = got.collect()
        # numpy replay
        C = np.asarray(cb, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        cells = (Xn @ Cn.T).argmax(axis=1)
        for q, xq in qvecs.items():
            xqn = xq / np.linalg.norm(xq)
            sims = Cn @ xqn
            probe = sorted(range(len(C)), key=lambda c: (-sims[c], c))[:2]
            cand = [
                (ids[i], float(Xn[i] @ xqn))
                for i in range(len(ids))
                if cells[i] in probe
            ]
            cand.sort(key=lambda t: (-round(t[1], 6), t[0]))
            expect = [
                (q, item, rk + 1, round(cs, 6))
                for rk, (item, cs) in enumerate(cand[:5])
            ]
            assert [
                (r["query_id"], r["item_id"], r["rank"], r["cos_sim"])
                for r in sorted(
                    (r for r in got_rows if r["query_id"] == q),
                    key=lambda r: r["rank"],
                )
            ] == expect
        # the identical-vector query retrieves its item at rank 1, cos 1
        top = [r for r in got_rows if r["query_id"] == 100 and r["rank"] == 1]
        assert top[0]["item_id"] == ids[0] and top[0]["cos_sim"] == 1.0

    def test_crossmodal_exact_twin_and_guard(self, spark, emb):
        """r16 (VERDICT r15 #3): the brute-force cross-modal twin must
        equal the full numpy ranking on every query (it IS the qrel
        ground truth crossmodal_eval grades the IVF path against), an
        identical-vector query must self-retrieve at rank 1 / cos 1.0,
        and an over-bound query set must raise at the
        MAX_CROSSMODAL_QUERIES guard instead of planning a
        corpus-times-queries scoring job."""
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        X = np.stack(
            [np.array(r["embedding"], dtype=np.float64) for r in rows]
        )
        corpus = spark.createDataFrame(
            [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
            "item_id long, vec array<double>",
        )
        qvecs = {100: X[0], 101: (X[1] + X[2]) / 2.0}
        queries = spark.createDataFrame(
            [(q, [float(v) for v in x]) for q, x in qvecs.items()],
            "query_id long, qvec array<double>",
        )
        got = ss.crossmodal_topk_exact(corpus, queries, k=4).collect()
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        for q, xq in qvecs.items():
            xqn = xq / np.linalg.norm(xq)
            cand = [(ids[i], float(Xn[i] @ xqn)) for i in range(len(ids))]
            cand.sort(key=lambda t: (-round(t[1], 6), t[0]))
            expect = [
                (q, item, rk + 1, round(cs, 6))
                for rk, (item, cs) in enumerate(cand[:4])
            ]
            assert [
                (r["query_id"], r["item_id"], r["rank"], r["cos_sim"])
                for r in sorted(
                    (r for r in got if r["query_id"] == q),
                    key=lambda r: r["rank"],
                )
            ] == expect
        top = [r for r in got if r["query_id"] == 100 and r["rank"] == 1]
        assert top[0]["item_id"] == ids[0] and top[0]["cos_sim"] == 1.0
        import pyspark.sql.functions as _F

        big_q = spark.range(ss.MAX_CROSSMODAL_QUERIES + 1).select(
            F.col("id").alias("query_id"),
            F.array(_F.lit(1.0), _F.lit(0.0)).alias("qvec"),
        )
        with pytest.raises(ValueError, match="MAX_CROSSMODAL_QUERIES"):
            ss.crossmodal_topk_exact(corpus, big_q, k=1)

    def test_fake_features_local_matches_kernel(self, spark, docs):
        """The driver-side joint-encoder stub must equal the Arrow decode
        kernel's features byte-for-byte (same md5-digest map) — the
        contract that puts both modalities in one space."""
        from mopso_engine.ext.multimodal import (
            assets_from_documents,
            decode_and_featurize,
            fake_features_local,
        )

        sample = docs.limit(5)
        kern = {
            r["asset_id"]: list(r["features"])
            for r in decode_and_featurize(
                assets_from_documents(sample), decode="fake", dim=8
            ).collect()
        }
        for r in sample.select("doc_id", "text").collect():
            assert kern[r["doc_id"]] == fake_features_local(
                r["text"].encode("utf-8")
            )

    def test_ml_kmeans_trainer_smoke(self, emb):
        """The distributed ml.KMeans trainer variant: right shape, sorted
        canonical center order (not bit-reproducible across engines — use
        with the rows-only gate, per the docstring)."""
        cb = ss.train_codebook(emb.drop("label"), k=3, iters=2, sample_fraction=0.9, method="ml")
        C = np.asarray(cb)
        assert C.shape == (3, 64)
        assert np.array_equal(C, C[np.lexsort(C.T[::-1])])


class TestIvfIndexMaintain:
    """r16 (VERDICT r15 #8a): the incremental IVF index maintainer —
    foreachBatch upsert into a versioned cell-assignment ledger, served
    through the indexed probe."""

    def _write_batches(self, spark, tmp_path, batches):
        """Write each batch as one mtime-ordered parquet file so the
        file source's micro-batch order is deterministic."""
        import glob as _glob
        import time as _time

        src = str(tmp_path / "feed")
        written = []
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "item_id long, vec array<double>"
            ).coalesce(1).write.mode("append").parquet(src)
            files = sorted(set(_glob.glob(src + "/*.parquet")) - set(written))
            past = _time.time() - 3600 + i * 60
            for f in files:
                os.utime(f, (past, past))
            written.extend(files)
        return src

    def _stream(self, spark, src):
        return (
            spark.readStream.schema("item_id long, vec array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def test_upsert_retention_and_serve_parity(self, spark, tmp_path):
        """Two increments with overlapping ids: the re-embedded items
        must carry batch-2's vectors (latest-wins), only keep_versions
        ledger versions survive, and serving the latest index through
        crossmodal_topk_ivf_indexed must equal the per-run rebuild
        (crossmodal_topk_ivf) on the merged corpus row-for-row."""
        import uuid as _uuid

        from mopso_engine.ext.streaming import (
            ivf_index_latest,
            ivf_index_maintain_stream,
        )

        def vec(i, salt):
            return [float((i * 7 + d * 3 + salt) % 13) + 0.5 for d in range(8)]

        b1 = [(i, vec(i, 0)) for i in range(30)]
        b2 = [(i, vec(i, 5)) for i in range(20, 40)]  # 20-29 re-embedded
        src = self._write_batches(spark, tmp_path, [b1, b2])
        cb = [[float((c + d) % 5) + 0.25 for d in range(8)] for c in range(4)]
        idx_path = str(tmp_path / "index")
        ivf_index_maintain_stream(
            self._stream(spark, src),
            idx_path,
            str(tmp_path / "cp"),
            codebook=cb,
            query_name=f"ivfidx_t_{_uuid.uuid4().hex[:8]}",
        )
        # ledger: exactly keep_versions=2 versions survive (v=0, v=1)
        vs = sorted(
            d for d in os.listdir(idx_path) if d.startswith("v=")
        )
        assert vs == ["v=0", "v=1"]
        idx = ivf_index_latest(spark, idx_path)
        got = {r["item_id"]: (list(r["vec"]), r["cell"]) for r in idx.collect()}
        assert len(got) == 40
        merged = {i: vec(i, 0) for i in range(30)}
        merged.update({i: vec(i, 5) for i in range(20, 40)})
        assert {i: v for i, (v, _) in got.items()} == merged
        # a replay of the LAST batch merges against v<1 — v=0 must
        # still exist (the keep_versions >= 2 invariant)
        assert (
            ivf_index_latest(spark, idx_path, below=1)
            .where(F.col("item_id") == 25)
            .first()["vec"]
            == vec(25, 0)
        )
        # serve parity vs the per-run rebuild on the merged corpus
        corpus = spark.createDataFrame(
            sorted(merged.items()), "item_id long, vec array<double>"
        )
        queries = spark.createDataFrame(
            [(100, vec(3, 0)), (101, vec(25, 5))],
            "query_id long, qvec array<double>",
        )
        a = sorted(
            map(
                tuple,
                ss.crossmodal_topk_ivf_indexed(
                    idx, cb, queries, k=5, nprobe=2
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                ss.crossmodal_topk_ivf(
                    corpus, cb, queries, k=5, nprobe=2
                ).collect(),
            )
        )
        assert a == b and len(a) == 10

    def test_duplicate_item_in_batch_raises(self, spark, tmp_path):
        import uuid as _uuid

        from mopso_engine.ext.streaming import ivf_index_maintain_stream

        rows = [(1, [1.0] * 8), (1, [2.0] * 8), (2, [3.0] * 8)]
        src = self._write_batches(spark, tmp_path, [rows])
        cb = [[1.0] * 8, [2.0] * 8]
        with pytest.raises(Exception, match="duplicate item_id"):
            ivf_index_maintain_stream(
                self._stream(spark, src),
                str(tmp_path / "index"),
                str(tmp_path / "cp"),
                codebook=cb,
                query_name=f"ivfidx_d_{_uuid.uuid4().hex[:8]}",
            )

    def test_keep_versions_guard(self, spark):
        from mopso_engine.ext.streaming import ivf_index_maintain_stream

        with pytest.raises(ValueError, match="keep_versions"):
            ivf_index_maintain_stream(
                None, "/tmp/x", "/tmp/y", codebook=[[1.0]], keep_versions=1
            )


class TestMultimodal:
    def test_fake_decode_deterministic(self, docs):
        assets = assets_from_documents(docs)
        a = {r["asset_id"]: (r["width"], r["height"], tuple(r["features"])) for r in decode_and_featurize(assets).collect()}
        b = {r["asset_id"]: (r["width"], r["height"], tuple(r["features"])) for r in decode_and_featurize(assets).collect()}
        assert a == b
        w, h, f = a[0]
        assert 16 <= w < 32 and 16 <= h < 32 and len(f) == 8

    def test_real_decode_import_guarded(self, docs):
        """decode='real' needs Pillow: clear driver-side ImportError when
        absent; decode='auto' falls back to the fake decoder cleanly."""
        from mopso_engine.ext.multimodal import pil_available

        assets = assets_from_documents(docs)
        if not pil_available():
            with pytest.raises(ImportError, match="Pillow"):
                decode_and_featurize(assets, decode="real")
        # auto never raises, whatever the container ships
        out = decode_and_featurize(assets.limit(5), decode="auto").collect()
        assert len(out) == 5

    def test_real_decode_with_pil(self, spark):
        """Runs IFF Pillow imports (this container ships none — the test
        skips; on an imaging-enabled cluster it exercises the real path
        end-to-end on genuine PNG bytes)."""
        from mopso_engine.ext.multimodal import pil_available

        if not pil_available():
            pytest.skip("Pillow not available in this container")
        import io

        import PIL.Image

        def png_bytes(w, h, shade):
            img = PIL.Image.new("L", (w, h), color=shade)
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()

        rows = [(i, "image", png_bytes(8 + i, 4 + i, 32 * i), "image/png", 0) for i in range(3)]
        assets = spark.createDataFrame(
            rows, "asset_id long, modality string, payload binary, mime string, n_bytes long"
        )
        got = {r["asset_id"]: r for r in decode_and_featurize(assets, decode="real").collect()}
        for i in range(3):
            assert (got[i]["width"], got[i]["height"]) == (8 + i, 4 + i)
            feats = np.array(got[i]["features"])
            assert feats.sum() == pytest.approx(1.0)
            # a constant-shade image concentrates its histogram in one bin
            assert feats.max() == pytest.approx(1.0)

    def test_frame_sample_counts(self, docs):
        assets = assets_from_documents(docs.where(F.col("doc_id") < 5))
        frames = frame_sample(assets, every_n_bytes=64).collect()
        sizes = {r["asset_id"]: r["n_bytes"] for r in assets.collect()}
        by_asset = {}
        for r in frames:
            by_asset.setdefault(r["asset_id"], []).append(r["frame_no"])
        for aid, fns in by_asset.items():
            assert len(fns) == -(-sizes[aid] // 64)

    def test_asset_stats(self, docs):
        row = asset_stats(assets_from_documents(docs)).collect()[0]
        assert row["modality"] == "image"
        assert row["n_assets"] == docs.count()


class TestStreaming:
    def test_stream_equals_batch(self, spark):
        from mopso_engine.ext.streaming import (
            read_events,
            run_available_now,
            windowed_counts_batch,
            windowed_counts_stream,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = read_events(spark, f"{SF}/events.parquet")
        batch = {
            (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in windowed_counts_batch(ev, minutes=60).collect()
        }
        out = run_available_now(
            windowed_counts_stream(spark, f"{SF}/events.parquet", minutes=60),
            query_name="evw_test",
        )
        stream = {
            (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in out.collect()
        }
        assert stream == batch

    def test_asof_stream_static_equals_batch(self, spark):
        """The stream-static point-in-time lookup must reproduce the
        batch asof_join exactly — same strict semantics, same
        deterministic tie winner — with zero streaming state."""
        from mopso_engine.ext.pipeline import asof_join
        from mopso_engine.ext.streaming import (
            asof_join_stream_static,
            events_stream_source,
            read_events,
            run_available_now,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = read_events(spark, f"{SF}/events.parquet")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
        batch = {
            r["event_id"]: r["asof_value"]
            for r in asof_join(
                clicks, purchases, key="user_id", time="ts", payload=["value"]
            ).collect()
        }
        clicks_stream = (
            events_stream_source(spark, f"{SF}/events.parquet")
            .where(F.col("event_type") == "click")
            .select("event_id", "user_id", "ts", "value")
        )
        out = run_available_now(
            asof_join_stream_static(
                clicks_stream, purchases, key="user_id", time="ts", payload=["value"]
            ),
            query_name="asof_ss_test",
            output_mode="append",
        )
        stream = {r["event_id"]: r["asof_value"] for r in out.collect()}
        assert len(stream) == len(batch)
        for eid, v in batch.items():
            sv = stream[eid]
            assert (v is None and (sv is None or sv != sv)) or sv == pytest.approx(v)

    def test_attribution_stream_equals_batch(self, spark):
        """r14: the streaming last-touch attribution twin (purchases
        stream against the static click timeline, then the staleness
        bound + day rollup over the drained output) must equal the
        batch attribution_report row-for-row — the same stream==batch
        contract every other twin carries."""
        import __spark_entry__ as em

        qs = em.queries()
        batch = {
            r["day"]: (r["n_conversions"], r["n_attributed"])
            for r in qs["events_attribution"](spark, SF).collect()
        }
        stream = {
            r["day"]: (r["n_conversions"], r["n_attributed"])
            for r in qs["events_attribution_stream"](spark, SF).collect()
        }
        assert stream == batch and batch

    def test_asof_stream_static_null_payload_matches_batch(self, spark, tmp_path):
        """A static right row with a NULL payload must be invisible to
        that payload column (batch last(..., ignorenulls=True) semantics)
        instead of shadowing an older non-null row (r3 ADVICE): click at
        t=30 must resolve to the t=10 purchase value, skipping the null
        purchase at t=20."""
        import datetime as _dt

        from mopso_engine.ext.pipeline import asof_join
        from mopso_engine.ext.streaming import (
            asof_join_stream_static,
            run_available_now,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        t = lambda s: _dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
        clicks = spark.createDataFrame(
            [(1, 100, t(30)), (2, 100, t(15)), (3, 200, t(30))],
            "event_id long, user_id long, ts timestamp",
        )
        purchases = spark.createDataFrame(
            [(100, t(10), 7.5), (100, t(20), None), (200, t(5), None)],
            "user_id long, ts timestamp, value double",
        )
        batch = {
            r["event_id"]: r["asof_value"]
            for r in asof_join(
                clicks, purchases, key="user_id", time="ts", payload=["value"]
            ).collect()
        }
        assert batch == {1: 7.5, 2: 7.5, 3: None}
        path = str(tmp_path / "clicks_nullpay")
        clicks.coalesce(1).write.parquet(path)
        clicks_stream = spark.readStream.schema(clicks.schema).parquet(path)
        out = run_available_now(
            asof_join_stream_static(
                clicks_stream, purchases, key="user_id", time="ts", payload=["value"]
            ),
            query_name="asof_ss_nullpay_test",
            output_mode="append",
        )
        stream = {
            r["event_id"]: r["asof_value"] for r in out.collect()
        }
        nn = lambda v: None if v != v else v  # noqa: E731  (NaN → None)
        assert {k: nn(v) for k, v in stream.items()} == batch

    def test_asof_stream_static_large_dim_no_broadcast(self, spark, tmp_path):
        """VERDICT r5 #2: the stream-static as-of must survive a dim too
        big to broadcast — autoBroadcastJoinThreshold=-1 forces the
        shuffled stream-static join path (the 100 TB shape; the pre-r6
        kernel would have driver-snapshotted the whole dim) and the
        result must still equal the batch twin on a 30k-row dim."""
        import datetime as _dt

        from mopso_engine.ext.pipeline import asof_join
        from mopso_engine.ext.streaming import (
            asof_join_stream_static,
            run_available_now,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        base = _dt.datetime(2024, 1, 1)
        dim = spark.range(30000).select(
            (F.col("id") % 500).alias("user_id"),
            (F.lit(base) + F.make_interval(secs=F.col("id") % 997)).alias("ts"),
            F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(F.col("id").cast("double")).alias("value"),
        )
        clicks = spark.range(2000).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 700).alias("user_id"),
            (F.lit(base) + F.make_interval(secs=(F.col("id") * 7) % 1200)).alias("ts"),
        )
        batch = {
            r["event_id"]: r["asof_value"]
            for r in asof_join(clicks, dim, key="user_id", time="ts", payload=["value"]).collect()
        }
        path = str(tmp_path / "clicks_bigdim")
        clicks.coalesce(2).write.parquet(path)
        clicks_stream = spark.readStream.schema(clicks.schema).parquet(path)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = run_available_now(
                asof_join_stream_static(
                    clicks_stream, dim, key="user_id", time="ts", payload=["value"]
                ),
                query_name="asof_ss_bigdim_test",
                output_mode="append",
            )
            stream = {r["event_id"]: r["asof_value"] for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert stream == batch

    def test_foreach_batch_parquet_sink_is_idempotent(self, spark, tmp_path):
        """The foreachBatch parquet sink must be EXACTLY-ONCE: draining
        the same source into the same sink+checkpoint twice (a restart
        replay) yields no duplicate rows, and a fresh checkpoint over the
        same sink path overwrites its batch dirs instead of appending."""
        from mopso_engine.ext.streaming import (
            events_stream_source,
            write_stream_parquet_idempotent,
        )

        out = str(tmp_path / "ev_sink")
        ckpt = str(tmp_path / "ckpt")
        src = events_stream_source(spark, f"{SF}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        write_stream_parquet_idempotent(src, out, ckpt, query_name="sink_t1")
        n_expected = spark.read.parquet(f"{SF}/events.parquet").count()
        first = spark.read.parquet(out)
        assert first.count() == n_expected
        # same checkpoint: the drained source has nothing new -> no change
        src2 = events_stream_source(spark, f"{SF}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        write_stream_parquet_idempotent(src2, out, ckpt, query_name="sink_t2")
        assert spark.read.parquet(out).count() == n_expected
        # FRESH checkpoint (worst-case replay from zero): batch dirs are
        # overwritten per batch_id, not appended
        # plant a stale high-batch_id partition an aborted earlier run
        # could have left: a fresh checkpoint renumbers from 0 and would
        # never overwrite it (ADVICE r5) — the sink must clear it on start
        import os as _os

        stale = _os.path.join(out, "batch_id=999")
        _os.makedirs(stale, exist_ok=True)
        spark.createDataFrame(
            [(10**9, 1, 1.0)], "event_id long, user_id long, value double"
        ).write.mode("overwrite").parquet(stale)
        src3 = events_stream_source(spark, f"{SF}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        write_stream_parquet_idempotent(src3, out, str(tmp_path / "ckpt2"), query_name="sink_t3")
        assert not _os.path.exists(stale)
        replay = spark.read.parquet(out)
        assert replay.count() == n_expected
        assert replay.select("event_id").distinct().count() == n_expected

    def test_stream_runs_twice_in_one_session(self, spark):
        """The driver may invoke a streaming query repeatedly in one
        session — unique memory-sink names must make that safe."""
        import os
        import sys

        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as em

        q = em.queries()["events_stream"]
        a = q(spark, SF).count()
        b = q(spark, SF).count()
        assert a == b > 0

    def test_stream_dedup_keeps_distinct_fingerprints(self, spark):
        from mopso_engine.ext.streaming import run_available_now, stream_dedup

        out = run_available_now(
            stream_dedup(spark, f"{SF}/documents.parquet"),
            query_name="dedup_stream_test",
            output_mode="append",
        )
        rows = out.collect()
        n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
        assert len(rows) == len({r["fp"] for r in rows})  # one row per fp
        assert 0 < len(rows) <= n_docs

    def test_stream_dedup_ttl_drops_in_watermark_dups(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark path (VERDICT r1 #10): duplicates
        arriving within the watermark horizon are dropped and state is
        watermark-bounded; distinct fingerprints all pass."""
        import datetime as dt

        from mopso_engine.ext.streaming import run_available_now, stream_dedup_ttl

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            (i, f"unique text number {i} with words", "en", "t", 0, t0 + dt.timedelta(minutes=i))
            for i in range(5)
        ]
        # duplicates of docs 0 and 1, minutes later — inside the 1h horizon
        rows += [
            (100, rows[0][1], "en", "t", 0, t0 + dt.timedelta(minutes=10)),
            (101, rows[1][1], "en", "t", 0, t0 + dt.timedelta(minutes=20)),
        ]
        path = str(tmp_path / "docs_ts")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long, ts timestamp"
        ).coalesce(1).write.parquet(path)
        out = run_available_now(
            stream_dedup_ttl(spark, f"{path}/*.parquet", watermark="1 hour"),
            query_name="dedup_ttl_test",
            output_mode="append",
        )
        got = out.collect()
        assert len(got) == 5  # the two in-horizon duplicates were dropped
        assert len({r["fp"] for r in got}) == 5

    def test_stateful_user_stats_matches_batch(self, spark):
        """The applyInPandasWithState operator's drained state equals the
        batch groupBy over the same events."""
        from pyspark.sql import functions as F

        from mopso_engine.ext.streaming import (
            read_events,
            run_available_now,
            user_running_stats_stream,
        )

        out = run_available_now(
            user_running_stats_stream(spark, f"{SF}/events.parquet"),
            query_name="user_stats_test",
            output_mode="update",
        )
        # keep the LAST update per user (availableNow may run >1 batch)
        got = {}
        for r in out.collect():
            got[r["user_id"]] = (r["n_events"], round(r["sum_value"], 4))
        ev = read_events(spark, f"{SF}/events.parquet")
        exp = {
            r["user_id"]: (r["n"], round(r["sv"], 4))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
            .collect()
        }
        assert got == exp


class TestRepetitionStats:
    def test_repeated_doc_fails_varied_doc_passes(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam"),
                (2, " ".join(f"w{i}" for i in range(30))),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in tx.repetition_stats(docs).collect()}
        assert out[1]["n_tokens"] == 6
        assert out[1]["top_word_frac"] == 1.0
        assert out[1]["top_2gram_frac"] == 1.0  # clamped: 2*5/6 > 1
        assert out[1]["dup_word_frac"] == round(5 / 6, 6)
        assert not out[1]["gopher_pass"]
        assert out[2]["top_word_frac"] == round(1 / 30, 6)
        assert out[2]["top_2gram_frac"] == round(2 / 30, 6)
        assert out[2]["dup_word_frac"] == 0.0
        assert out[2]["gopher_pass"]

    def test_top_bigram_counts_repeats(self, spark):
        # "x y" occurs twice among 5 bigrams of 6 tokens -> 2*2/6
        docs = spark.createDataFrame([(7, "x y z x y w")], "doc_id long, text string")
        row = tx.repetition_stats(docs).collect()[0]
        assert row["top_2gram_frac"] == round(4 / 6, 6)
        assert row["top_word_frac"] == round(2 / 6, 6)

    def test_single_token_doc_has_zero_bigram_frac(self, spark):
        docs = spark.createDataFrame([(9, "  solo  ")], "doc_id long, text string")
        row = tx.repetition_stats(docs).collect()[0]
        assert row["n_tokens"] == 1
        assert row["top_2gram_frac"] == 0.0


def _bench_member(doc_id: int, fraction: float, salt: str = "bench") -> bool:
    """Python twin of pipeline.hash_uniform membership."""
    h = int(hashlib.md5(f"{doc_id}#{salt}".encode()).hexdigest()[:8], 16)
    return h / 2**32 < fraction


class TestDecontaminate:
    def test_copies_of_benchmark_docs_are_flagged(self, spark):
        # every doc shares doc 0's text except doc 99 (unique): any
        # non-benchmark copy is contaminated iff some benchmark member
        # carries the shared text; doc 99 never is
        shared = "one two three four five six seven eight nine ten"
        rows = [(i, shared) for i in range(12)] + [(99, "totally different words " * 3)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        frac = 0.3
        out = {r["doc_id"]: r for r in dd.ngram_decontaminate(
            docs, k=5, bench_fraction=frac
        ).collect()}
        bench = {i for i, _ in rows if _bench_member(i, frac)}
        assert bench, "fixture needs at least one benchmark member"
        assert {i for i, r in out.items() if r["in_benchmark"]} == bench
        shared_bench = bench & set(range(12))
        for i in range(12):
            expect = bool(shared_bench) and i not in bench
            assert out[i]["contaminated"] == expect, i
            if expect:
                assert out[i]["n_hit_grams"] == 6  # 10 tokens -> 6 distinct 5-grams
        assert not out[99]["contaminated"]

    def test_benchmark_members_not_flagged(self, spark):
        docs = spark.createDataFrame(
            [(i, " ".join(f"d{i}t{j}" for j in range(10))) for i in range(30)],
            "doc_id long, text string",
        )
        out = dd.ngram_decontaminate(docs, k=5, bench_fraction=0.5).collect()
        for r in out:
            assert not r["contaminated"]  # unique texts never overlap
            if r["in_benchmark"]:
                assert r["n_hit_grams"] > 0  # self-overlap counted, not flagged


class TestSemDedup:
    def test_in_cell_near_duplicates_pruned_keep_lowest_id(self, spark):
        cb = [[1.0, 0.0], [0.0, 1.0]]
        rows = [
            (0, [1.0, 0.01]),
            (1, [1.0, 0.011]),   # cell 0, cos≈1 with 0 -> dropped
            (2, [0.9, 0.012]),   # cell 0, cos≈1 with 0 -> dropped
            (3, [0.0, 1.0]),     # cell 1, alone -> kept
            (4, [0.03, 1.0]),    # cell 1, cos≈1 with 3 -> dropped
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in ss.semdedup(emb, cb, threshold=0.99).collect()}
        assert {i: r["cell"] for i, r in out.items()} == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}
        assert {i for i, r in out.items() if r["keep"]} == {0, 3}

    def test_cross_cell_duplicates_survive(self, spark):
        # identical vectors in DIFFERENT cells are both kept: SemDedup
        # prunes within cells only (the paper's documented approximation)
        cb = [[1.0, 0.0], [0.0, 1.0]]
        emb = spark.createDataFrame(
            [(0, [1.0, 0.9]), (1, [0.9, 1.0])], "vec_id long, embedding array<double>"
        )
        out = {r["vec_id"]: r for r in ss.semdedup(emb, cb, threshold=0.5).collect()}
        assert out[0]["cell"] == 0 and out[1]["cell"] == 1
        assert out[0]["keep"] and out[1]["keep"]

    def test_no_cartesian_product_in_plan(self, spark):
        cb = np.eye(4).tolist()
        emb = read_table(spark, SF, "embeddings").drop("label")
        plan = ss.semdedup(emb, np.asarray(cb)[:, :1] * np.ones((1, 64)), threshold=0.9)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestDuplicateComponents:
    def test_chain_and_island_components(self, spark):
        pairs = spark.createDataFrame(
            [(2, 3), (3, 4), (4, 5), (8, 9)], "doc_a long, doc_b long"
        )
        out = {r["doc_id"]: r["component"] for r in dd.duplicate_components(pairs).collect()}
        assert out == {2: 2, 3: 2, 4: 2, 5: 2, 8: 8, 9: 8}

    def test_long_chain_needs_multiple_rounds(self, spark):
        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
        )
        out = {r["doc_id"]: r["component"] for r in dd.duplicate_components(pairs).collect()}
        assert out == {i: 0 for i in range(n + 1)}

    def test_reversed_pair_direction_irrelevant(self, spark):
        pairs = spark.createDataFrame([(7, 1), (1, 5)], "doc_a long, doc_b long")
        out = {r["doc_id"]: r["component"] for r in dd.duplicate_components(pairs).collect()}
        assert out == {1: 1, 5: 1, 7: 1}

    def test_star_method_matches_label_method(self, spark):
        """Kiveris star rounds (VERDICT r6 #4) label identically to
        min-label propagation on a mixed graph: chain + clique + island
        + reversed directions."""
        pairs = spark.createDataFrame(
            [(2, 3), (3, 4), (4, 5), (8, 9), (20, 21), (21, 22), (22, 20), (31, 30)],
            "doc_a long, doc_b long",
        )
        label = {r["doc_id"]: r["component"] for r in dd.duplicate_components(pairs).collect()}
        star = {
            r["doc_id"]: r["component"]
            for r in dd.duplicate_components(pairs, method="star").collect()
        }
        assert star == label

    def test_star_path_graph_converges_in_polylog_rounds(self, spark):
        """The adversarial case star rounds exist for: a 200-vertex path
        has diameter 199 (min-label would need ~199 rounds); the
        alternating large/small-star two-phase must converge within
        2·log₂²(n) rounds and still produce exact component minima."""
        import math

        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        stats: dict = {}
        out = {
            r["doc_id"]: r["component"]
            for r in dd.duplicate_components(
                pairs, method="star", max_iter=64, stats=stats
            ).collect()
        }
        assert out == {i: 0 for i in range(n)}
        assert stats["converged"]
        bound = 2 * math.ceil(math.log2(n)) ** 2
        assert stats["rounds"] <= bound, stats

    def test_star_rejects_unknown_method(self, spark):
        import pytest as _pytest

        pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        with _pytest.raises(ValueError, match="method"):
            dd.duplicate_components(pairs, method="bogus")


class TestChunkDocuments:
    def test_windows_and_overlap(self, spark):
        text = " ".join(f"t{i}" for i in range(10))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = sorted(
            tx.chunk_documents(docs, chunk_tokens=4, overlap=1).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # stride 3, starts 1,4,7 -> [t0..t3],[t3..t6],[t6..t9]
        assert [r["chunk_text"].split() for r in out] == [
            ["t0", "t1", "t2", "t3"],
            ["t3", "t4", "t5", "t6"],
            ["t6", "t7", "t8", "t9"],
        ]
        assert [r["chunk_tokens"] for r in out] == [4, 4, 4]

    def test_reconstruction_property(self, spark, docs):
        """Dropping each non-first chunk's leading overlap tokens and
        concatenating reconstructs the original token stream."""
        overlap = 8
        chunks = tx.chunk_documents(docs, chunk_tokens=32, overlap=overlap).collect()
        by_doc = {}
        for r in chunks:
            by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"].split()
        for r in docs.limit(20).collect():
            toks = r["text"].strip().split()
            got = []
            for idx in sorted(by_doc[r["doc_id"]]):
                c = by_doc[r["doc_id"]][idx]
                got.extend(c if idx == 0 else c[overlap:])
            assert got == toks, r["doc_id"]

    def test_short_doc_single_chunk(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        out = tx.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
        assert len(out) == 1
        assert out[0]["chunk_text"] == "a b" and out[0]["chunk_tokens"] == 2


class TestPackSequences:
    def test_contiguous_offsets_and_seq_spans(self, spark, docs):
        from mopso_engine.ext.pipeline import pack_sequences

        out = pack_sequences(docs, seq_len=256, buckets=4).collect()
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["bucket"], []).append(r)
        total = 0
        for b, rows in by_bucket.items():
            rows.sort(key=lambda r: r["start_offset"])
            off = 0
            for r in rows:
                assert r["start_offset"] == off  # contiguous, zero gaps
                assert r["first_seq"] == off // 256
                assert r["last_seq"] == (off + r["n_tokens"] - 1) // 256
                off += r["n_tokens"]
            total += len(rows)
        assert total == docs.count()

    def test_bucket_is_md5_hash_mod(self, spark, docs):
        from mopso_engine.ext.pipeline import pack_sequences

        out = pack_sequences(docs, seq_len=256, buckets=4).collect()
        for r in out[:50]:
            h = int(hashlib.md5(f"{r['doc_id']}#pack".encode()).hexdigest()[:8], 16)
            assert r["bucket"] == h % 4


class TestRepetitionStatsExpr:
    def test_matches_relational_twin_exactly(self, docs):
        a = {r["doc_id"]: tuple(r) for r in tx.repetition_stats(docs).collect()}
        b = {r["doc_id"]: tuple(r) for r in tx.repetition_stats_expr(docs).collect()}
        assert a == b

    def test_zero_shuffle_plan(self, docs):
        plan = (
            tx.repetition_stats_expr(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_repetition_gate_stream_equals_batch(self, spark):
        """The expression-only repetition gate is stateless, so it drops
        into a readStream unchanged and reproduces the batch gate row
        for row."""
        from mopso_engine.ext.streaming import run_available_now

        batch = {tuple(r) for r in tx.repetition_stats_expr(
            read_table(spark, SF, "documents")).collect()}
        schema = spark.read.parquet(f"{SF}/documents.parquet").schema
        stream_src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(SF)
        )
        out = run_available_now(
            tx.repetition_stats_expr(stream_src),
            query_name="repgate_test",
            output_mode="append",  # stateless map — no aggregation state
        )
        assert {tuple(r) for r in out.collect()} == batch


class TestProductQuantization:
    def test_trainer_twins_bit_identical(self, spark):
        a = ss.train_pq(read_table(spark, SF, "embeddings"), m=4, k=4, dims=16)
        b = ss.train_pq_local(
            f"{SF}/embeddings.parquet", m=4, k=4, dims=16
        )
        assert (np.asarray(a) == np.asarray(b)).all()

    def test_encode_matches_numpy_argmin(self, spark, emb):
        cb = ss.train_pq(emb, m=4, k=4, dims=16)
        C = np.asarray(cb)
        got = {}
        for r in ss.pq_encode(emb.limit(30), cb).collect():
            got.setdefault(r["vec_id"], {})[r["subspace"]] = r["code"]
        for r in emb.limit(30).collect():
            x = np.asarray(r["embedding"], dtype=np.float64)[:16]
            for s in range(4):
                d = ((x[s * 4 : (s + 1) * 4][None, :] - C[s]) ** 2).sum(axis=1)
                assert got[r["vec_id"]][s] == int(d.argmin()), (r["vec_id"], s)

    def test_adc_topk_matches_numpy(self, spark, emb):
        cb = ss.train_pq(emb, m=4, k=4, dims=16)
        C = np.asarray(cb)
        rows = emb.collect()
        X = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)[:16] for r in rows}
        codes = {
            v: np.array([((x[s * 4:(s + 1) * 4][None] - C[s]) ** 2).sum(1).argmin() for s in range(4)])
            for v, x in X.items()
        }
        got = {}
        for r in ss.pq_topk(emb, cb, [0, 1], topk=3).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["nbr_id"]))
        for qid in (0, 1):
            qv = X[qid]
            lut = np.stack([((qv[s * 4:(s + 1) * 4][None] - C[s]) ** 2).sum(1) for s in range(4)])
            adc = sorted(
                (round(sum(lut[s, codes[v][s]] for s in range(4)), 6), v)
                for v in X if v != qid
            )[:3]
            assert sorted(got[qid]) == [(i + 1, v) for i, (_, v) in enumerate(adc)]


class TestIvfPq:
    def test_results_subset_of_pq_topk_universe_and_cell_pruned(self, spark, emb):
        """IVF+PQ returns PQ-ADC rankings restricted to the probed
        cells: every neighbor's cell must be among its query's probes,
        and the ADC values must equal the full pq_topk's for the same
        (query, nbr) pairs."""
        e = emb.drop("label")
        ccb = ss.train_codebook(e, k=4, iters=2, sample_fraction=0.5, seed=11)
        pcb = ss.train_pq(e, m=4, k=4, dims=16)
        # dims=16 PQ over 64-dim vecs: encode uses the first 16 dims only
        ivf = ss.pq_topk_ivf(e, ccb, pcb, [0, 1], topk=5, nprobe=2)
        full = ss.pq_topk(e, pcb, [0, 1], topk=10**6)
        fvals = {(r["query_id"], r["nbr_id"]): r["adc_dist"] for r in full.collect()}
        rows = ivf.collect()
        assert rows
        for r in rows:
            assert fvals[(r["query_id"], r["nbr_id"])] == r["adc_dist"]

    def test_no_cartesian_in_plan(self, spark, emb):
        e = emb.drop("label")
        ccb = ss.train_codebook(e, k=4, iters=2, sample_fraction=0.5, seed=11)
        pcb = ss.train_pq(e, m=4, k=4, dims=16)
        plan = (
            ss.pq_topk_ivf(e, ccb, pcb, [0, 1], topk=5, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan


class TestStreamStreamJoin:
    def test_interval_join_stream_equals_batch(self, spark):
        """The watermarked stream-stream interval join must reproduce
        the batch range join exactly once drained (AvailableNow): same
        (click, purchase) pairs, same values."""
        from mopso_engine.ext.streaming import (
            interval_join_stream,
            read_events,
            run_available_now,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = read_events(spark, f"{SF}/events.parquet")
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
        )
        buys = ev.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("bts"), "value"
        )
        batch = {
            (r["click_id"], str(r["bts"]), r["value"])
            for r in clicks.join(
                buys,
                (F.col("user_id") == F.col("b_user"))
                & (F.col("bts") < F.col("cts"))
                & (F.col("bts") >= F.col("cts") - F.expr("INTERVAL 30 MINUTES")),
            )
            .select("click_id", "bts", "value")
            .collect()
        }
        out = run_available_now(
            interval_join_stream(spark, f"{SF}/events.parquet", minutes=30),
            query_name="ivj_test",
            output_mode="append",
        )
        stream = {(r["click_id"], str(r["bts"]), r["value"]) for r in out.collect()}
        assert stream == batch and len(stream) > 0


class TestSourceKL:
    def test_kl_matches_numpy_replay(self, spark):
        """KL(P_src || P_corpus) equals a driver-side numpy replay on a
        tiny corpus with known distributions."""
        docs = spark.createDataFrame(
            [
                (1, "a a b", "s1"),
                (2, "a b b c", "s1"),
                (3, "c c c d", "s2"),
            ],
            "doc_id long, text string, source string",
        )
        out = {r["source"]: r for r in tx.source_unigram_kl(docs).collect()}
        import collections

        toks = {"s1": "a a b a b b c".split(), "s2": "c c c d".split()}
        corpus = collections.Counter(sum(toks.values(), []))
        n_c = sum(corpus.values())
        for src, tk in toks.items():
            cs = collections.Counter(tk)
            n_s = len(tk)
            kl = sum(
                (c / n_s) * np.log((c / n_s) / (corpus[t] / n_c)) for t, c in cs.items()
            )
            assert out[src]["n_tokens"] == n_s
            assert abs(out[src]["kl"] - round(kl, 6)) < 1e-9

    def test_identical_distribution_zero_kl(self, spark):
        """A source distributed exactly like the corpus has KL == 0."""
        docs = spark.createDataFrame(
            [(1, "x y", "s1"), (2, "x y", "s2")],
            "doc_id long, text string, source string",
        )
        out = {r["source"]: r["kl"] for r in tx.source_unigram_kl(docs).collect()}
        assert out == {"s1": 0.0, "s2": 0.0}


class TestDupSpanStats:
    def test_clone_scores_one_clean_scores_zero(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),        # full clone of 1
                (3, "q w e r t y u i o p"),        # unique
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dd.duplicated_span_stats(docs, k=8).collect()}
        assert out[1]["dup_frac"] == 1.0 and out[2]["dup_frac"] == 1.0
        assert out[3]["dup_frac"] == 0.0
        assert out[3]["n_spans"] == 3  # 10 tokens, k=8 -> 3 rolling spans

    def test_partial_overlap_fraction(self, spark):
        """Doc 2 shares exactly its first 8-token span with doc 1."""
        shared = "s1 s2 s3 s4 s5 s6 s7 s8"
        docs = spark.createDataFrame(
            [(1, shared + " x1 x2"), (2, shared + " y1 y2")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dd.duplicated_span_stats(docs, k=8).collect()}
        # each doc: 3 spans, 1 shared -> 1/3
        assert out[1]["n_spans"] == 3
        assert abs(out[1]["dup_frac"] - round(1 / 3, 6)) < 1e-9
        assert abs(out[2]["dup_frac"] - round(1 / 3, 6)) < 1e-9


class TestRemoveDuplicatedSpans:
    def test_clones_emptied_unique_untouched(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),  # full clone of 1
                (3, "q w e r t y u i o p"),  # unique
                (4, "tiny doc"),             # < k tokens: no spans
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dd.remove_duplicated_spans(docs, k=8).collect()}
        assert out[1]["text_clean"] == "" and out[1]["n_removed"] == 10
        assert out[2]["text_clean"] == "" and out[2]["n_removed"] == 10
        assert out[3]["text_clean"] == "q w e r t y u i o p"
        assert out[3]["n_removed"] == 0 and out[3]["n_tokens"] == 10
        assert out[4]["text_clean"] == "tiny doc" and out[4]["n_removed"] == 0

    def test_shared_footer_scrubbed_prefix_kept(self, spark):
        """Only the tokens covered by the duplicated footer span vanish."""
        footer = "f1 f2 f3 f4 f5 f6 f7 f8"
        docs = spark.createDataFrame(
            [(1, "u1 u2 " + footer), (2, "v1 v2 " + footer)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dd.remove_duplicated_spans(docs, k=8).collect()}
        assert out[1]["text_clean"] == "u1 u2" and out[1]["n_removed"] == 8
        assert out[2]["text_clean"] == "v1 v2" and out[2]["n_removed"] == 8

    def test_self_repetition_within_one_doc_scrubbed(self, spark):
        """df counts every occurrence, including same-doc repeats."""
        span = "r1 r2 r3 r4 r5 r6 r7 r8"
        docs = spark.createDataFrame(
            [(1, span + " mid " + span), (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dd.remove_duplicated_spans(docs, k=8).collect()}
        # the repeated span occurs twice -> all its tokens (both copies) go;
        # 'mid' is covered by no duplicated span start
        assert out[1]["text_clean"] == "mid"
        assert out[2]["n_removed"] == 0

    def test_interval_rebuild_equals_naive_mask(self, spark):
        """The interval-merge rebuild (VERDICT r6 #5) must keep exactly
        the tokens the naive per-token mask keeps — randomized docs with
        planted shared spans at varied offsets, checked against a driver
        recompute of the covered-position set."""
        import random

        rng = random.Random(5)
        k = 4
        shared = ["p1 p2 p3 p4", "q1 q2 q3 q4 q5"]
        rows = []
        for d in range(12):
            toks = [f"u{d}_{i}" for i in range(rng.randint(0, 14))]
            for s in shared:
                pos = rng.randint(0, len(toks))
                toks[pos:pos] = s.split()
            rows.append((d, " ".join(toks)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dd.remove_duplicated_spans(docs, k=k).collect()}
        # driver-side naive recompute: df over all k-gram spans
        from collections import Counter

        texts = {d: t.lower().split() for d, t in rows}
        df_counts = Counter()
        for toks in texts.values():
            for i in range(len(toks) - k + 1):
                df_counts[" ".join(toks[i : i + k])] += 1
        for d, toks in texts.items():
            covered = set()
            for i in range(len(toks) - k + 1):
                if df_counts[" ".join(toks[i : i + k])] > 1:
                    covered.update(range(i, i + k))
            want = " ".join(t for i, t in enumerate(toks) if i not in covered)
            assert out[d]["text_clean"] == want, d
            assert out[d]["n_removed"] == len(covered), d

    def test_pathological_fully_duplicated_giant_doc_bounded(self, spark):
        """A fully-duplicated 40k-token doc pair was the documented
        quadratic corner (40k tokens × 40k dup starts ≈ 1.6e9 lambda
        evaluations per row under the old index-aware filter); the
        interval rebuild collapses it to one covered interval. The test
        is the runtime bound: it completes inside the suite's patience
        and returns both clones emptied."""
        n = 40_000
        body = " ".join(f"t{i % 97}_{i % 389}" for i in range(n))
        docs = spark.createDataFrame(
            [(1, body), (2, body)], "doc_id long, text string"
        ).repartition(2)
        out = {r["doc_id"]: r for r in dd.remove_duplicated_spans(docs, k=8).collect()}
        assert out[1]["n_removed"] == n and out[1]["text_clean"] == ""
        assert out[2]["n_removed"] == n and out[2]["text_clean"] == ""


class TestStreamCurate:
    def test_stream_curate_equals_batch_composition(self, spark):
        """The composed streaming curation (repetition gate → length
        gate → exact dedup) drains to exactly the batch composition's
        survivor set."""
        from mopso_engine.ext.dedup import normalized_text
        from mopso_engine.ext.streaming import run_available_now, stream_curate

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        stats = tx.repetition_stats_expr(
            docs.withColumn("fp", F.md5(normalized_text())), keep=["fp"]
        )
        gated = stats.where(F.col("gopher_pass") & (F.col("n_tokens") >= 5))
        w_batch = {
            r["fp"]: r["doc_id"]
            for r in gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).collect()
        }
        out = run_available_now(
            stream_curate(spark, f"{SF}/documents.parquet"),
            query_name="curate_test",
            output_mode="append",
        )
        got = {r["fp"]: r["doc_id"] for r in out.collect()}
        # same surviving fingerprint set; the batch winner is min(doc_id)
        # while the stream keeps FIRST ARRIVAL - compare fp sets, and that
        # each kept doc passes the gates
        assert set(got) == set(w_batch) and len(got) > 0
        kept_ids = set(got.values())
        ok_ids = {r["doc_id"] for r in gated.collect()}
        assert kept_ids <= ok_ids


def test_dup_span_stats_covers_short_docs(spark):
    """Docs shorter than k tokens appear with n_spans=0, dup_frac=0.0."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "too short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dd.duplicated_span_stats(docs, k=8).collect()}
    assert out[2]["n_spans"] == 0 and out[2]["dup_frac"] == 0.0
    assert out[1]["n_spans"] == 3


def test_repetition_keep_collision_rejected(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="collide"):
        tx.repetition_stats_expr(docs, keep=["n_tokens"])


class TestQualityModel:
    """ext.quality — trained quality classifier with bit-identical
    trainer twins."""

    def test_trainer_twins_bit_identical(self, spark):
        import numpy as np
        from mopso_engine.ext.quality import train_quality, train_quality_local

        path = "/root/testdata/sf0.001/documents.parquet"
        import os, pytest as _pt
        if not os.path.exists(path):
            _pt.skip("driver testdata absent")
        w_spark = train_quality(spark.read.parquet(path))
        w_local = train_quality_local(path)
        assert np.array_equal(w_spark, w_local)

    def test_fit_partition_invariant(self, spark):
        import numpy as np
        from mopso_engine.ext.quality import train_quality

        path = "/root/testdata/sf0.001/documents.parquet"
        import os, pytest as _pt
        if not os.path.exists(path):
            _pt.skip("driver testdata absent")
        docs = spark.read.parquet(path)
        w1 = train_quality(docs)
        w2 = train_quality(docs.repartition(13))
        assert np.array_equal(w1, w2)

    def test_fit_layout_invariant(self):
        """The GD must ignore input memory layout: OpenBLAS dispatches
        different reduction orders for C- vs F-contiguous operands
        (measured last-ulp weight drift on this container without the
        ascontiguousarray normalization)."""
        import numpy as np
        from mopso_engine.ext.quality import _fit_logreg

        rng = np.random.RandomState(7)
        X = rng.rand(200, 3)
        y = (rng.rand(200) > 0.5).astype(float)
        assert np.array_equal(_fit_logreg(X, y), _fit_logreg(np.asfortranarray(X), y))

    def test_score_separates_weak_labels(self, spark):
        """Sanity: the fitted model must rank positives above negatives
        on average (AUC-ish gap) — it is trained to mimic the gate."""
        from mopso_engine.ext.quality import train_quality, score_quality

        path = "/root/testdata/sf0.001/documents.parquet"
        import os, pytest as _pt
        if not os.path.exists(path):
            _pt.skip("driver testdata absent")
        docs = spark.read.parquet(path)
        s = score_quality(docs, train_quality(docs)).toPandas()
        assert s[s.y == 1].score.mean() > s[s.y == 0].score.mean() + 0.05

    def test_score_plan_is_map_only(self, spark):
        import numpy as np
        from mopso_engine.ext.quality import score_quality

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta " * 10)], "doc_id long, text string"
        )
        plan = (
            score_quality(df, np.array([0.1, 0.2, 0.3, 0.4]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestScd2Stream:
    """scd2_maintain_stream — continuous SCD2 build, stream == batch."""

    def test_stream_matches_batch_history(self, spark, tmp_path):
        from mopso_engine.ext.pipeline import scd2_history
        from mopso_engine.ext.streaming import scd2_history_latest, scd2_maintain_stream

        early = [(1, "2024-01-01 00:00:00", 1, 10.0), (2, "2024-01-01 06:00:00", 2, 5.0)]
        late = [(1, "2024-01-02 00:00:00", 3, 20.0), (3, "2024-01-02 12:00:00", 4, 1.0)]
        src = str(tmp_path / "updates")
        for i, rows in enumerate([early, late]):
            df = spark.createDataFrame(rows, "k long, ts string, seq long, v double")
            df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        hist_path = str(tmp_path / "hist")
        scd2_maintain_stream(
            stream, hist_path, str(tmp_path / "cp"),
            key="k", time="ts", payload=["v"], seq="seq",
        )
        got = scd2_history_latest(spark, hist_path)
        assert got is not None
        batch = scd2_history(
            spark.read.parquet(src), key="k", time="ts", payload=["v"], seq="seq"
        )
        canon = lambda df: sorted(
            (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )
        assert canon(got) == canon(batch)
        # the maintainer saw ≥2 micro-batches: multiple versions existed;
        # retention keeps the latest two
        import glob
        assert len(glob.glob(f"{hist_path}/v=*")) <= 2

    def test_reorder_buffer_repairs_bounded_disorder(self, spark, tmp_path):
        """VERDICT r6 #7: with reorder_horizon_sec set, a key's updates
        delivered OUT of per-key time order across micro-batches (t3
        before t2, both within the horizon) must produce the SAME
        collapsed history as a full batch recompute over the time-sorted
        updates."""
        import time as _time

        from mopso_engine.ext.pipeline import scd2_history
        from mopso_engine.ext.streaming import (
            scd2_history_latest,
            scd2_late_rows,
            scd2_maintain_stream,
        )

        src = str(tmp_path / "updates")
        batches = [
            # batch 0: t1 and t3 (t2 missing -> disorder)
            [(1, "2024-01-01 01:00:00", 1, 10.0), (1, "2024-01-01 03:00:00", 3, 30.0)],
            # batch 1: the late-but-within-horizon t2
            [(1, "2024-01-01 02:30:00", 2, 20.0)],
            # batch 2: far-future flush row advances the watermark so
            # t2/t3 release (stays buffered itself)
            [(99, "2024-01-01 10:00:00", 9, 0.0)],
        ]
        for rows in batches:
            df = spark.createDataFrame(rows, "k long, ts string, seq long, v double")
            df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        hist_path = str(tmp_path / "hist")
        scd2_maintain_stream(
            stream, hist_path, str(tmp_path / "cp"),
            key="k", time="ts", payload=["v"], seq="seq",
            reorder_horizon_sec=3600.0,
        )
        got = scd2_history_latest(spark, hist_path)
        assert got is not None
        want = scd2_history(
            spark.createDataFrame(
                [r for b in batches[:2] for r in b], "k long, ts string, seq long, v double"
            ).withColumn("ts", F.col("ts").cast("timestamp")),
            key="k", time="ts", payload=["v"], seq="seq",
        )
        canon = lambda df: sorted(
            (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )
        assert canon(got) == canon(want)
        # nothing was quarantined: the disorder stayed inside the horizon
        late = scd2_late_rows(spark, hist_path)
        assert late is None or late.count() == 0

    def test_reorder_buffer_quarantines_too_late_rows(self, spark, tmp_path):
        """A row arriving at/below the already-released horizon cannot be
        merged in order any more: it must land in the dead-letter ledger,
        and the history must not contain it."""
        import time as _time

        from mopso_engine.ext.streaming import (
            scd2_history_latest,
            scd2_late_rows,
            scd2_maintain_stream,
        )

        src = str(tmp_path / "updates")
        batches = [
            # batch 0: old row + far-future row -> horizon passes 01:00
            [(1, "2024-01-01 01:00:00", 1, 10.0), (2, "2024-01-01 12:00:00", 2, 5.0)],
            # batch 1: hopelessly late row (02:00 <= released horizon 11:00)
            [(1, "2024-01-01 02:00:00", 3, 99.0)],
        ]
        for rows in batches:
            df = spark.createDataFrame(rows, "k long, ts string, seq long, v double")
            df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.1)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        hist_path = str(tmp_path / "hist")
        scd2_maintain_stream(
            stream, hist_path, str(tmp_path / "cp"),
            key="k", time="ts", payload=["v"], seq="seq",
            reorder_horizon_sec=3600.0,
        )
        late = scd2_late_rows(spark, hist_path)
        assert late is not None
        lrows = late.collect()
        assert [(r["k"], r["v"]) for r in lrows] == [(1, 99.0)]
        got = scd2_history_latest(spark, hist_path)
        vals = {(r["k"], r["v"]) for r in got.collect()}
        assert (1, 99.0) not in vals and (1, 10.0) in vals

    def test_replay_merges_below_own_version(self, spark, tmp_path):
        """A replayed batch id must merge against the version BELOW it,
        not its own partial output: seed v=0 and a bogus v=1, then ask
        for latest below 1."""
        from mopso_engine.ext.streaming import scd2_history_latest

        base = str(tmp_path / "h")
        df0 = spark.createDataFrame([(1,)], "marker long")
        df0.write.parquet(f"{base}/v=0")
        spark.createDataFrame([(2,)], "marker long").write.parquet(f"{base}/v=1")
        got = scd2_history_latest(spark, base, below=1)
        assert got.collect()[0]["marker"] == 1
        assert scd2_history_latest(spark, base).collect()[0]["marker"] == 2
        assert scd2_history_latest(spark, str(tmp_path / "missing")) is None


class TestUnigramLogppl:
    """ext.text.unigram_logppl — CCNet-style LM quality filter."""

    def test_tiny_corpus_hand_computed(self, spark):
        import math
        from mopso_engine.ext.text import unigram_logppl

        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a zz")], "doc_id long, text string"
        )
        # counts: a=3, b=1, zz=1; N=5; V=2 keeps {a, b} (count desc,
        # token asc drops zz); denom = 5 + 0.5*3 = 6.5
        out = {r["doc_id"]: r for r in unigram_logppl(docs, vocab_size=2).collect()}
        pa, pb, poov = 3.5 / 6.5, 1.5 / 6.5, 0.5 / 6.5
        q = lambda p: math.floor(math.log(p) * 1e6 + 0.5)
        exp1 = round(-(2 * q(pa) + q(pb)) / (1e6 * 3), 6)
        exp2 = round(-(q(pa) + q(poov)) / (1e6 * 2), 6)
        assert out[1]["n_tokens"] == 3 and abs(out[1]["logppl"] - exp1) < 1e-9
        assert out[2]["n_tokens"] == 2 and abs(out[2]["logppl"] - exp2) < 1e-9

    def test_oov_scores_worse_than_common(self, spark):
        from mopso_engine.ext.text import unigram_logppl

        rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
        rows.append((99, "zqx wvu tsr qpo nml"))  # all-OOV gibberish
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["logppl"] for r in unigram_logppl(docs, vocab_size=9).collect()}
        assert out[99] > out[0] + 1.0

    def test_plan_vocab_topv_and_broadcast_scoring(self, spark):
        from mopso_engine.ext.text import unigram_logppl

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = unigram_logppl(docs)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        # the SCORING side joins the vocab broadcast — the only
        # token-key Exchange allowed is the count aggregation's own
        # (one per counts-subtree evaluation), never a shuffle of the
        # scored token stream into a join
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


class TestObserved:
    """ext.observe — accumulator metrics riding the main action."""

    def test_counters_match_direct_aggregation(self, spark):
        from mopso_engine.ext.observe import observed

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, ""), (3, None), (4, "x y")],
            "doc_id long, text string",
        )
        df, obs = observed(docs)
        kept = df.where(F.col("text").isNotNull()).count()  # the main action
        m = obs.get
        assert kept == 3
        assert m["rows"] == 4
        assert m["null_or_empty"] == 2
        # "" trims/splits to one empty token in Spark (size 1); 6 + 1 + 2
        assert m["tokens"] == 9
        assert m["short_docs"] == 2  # "" and "x y"

    def test_both_sides_of_a_gate_one_scan(self, spark):
        """Observing upstream and downstream of a filter yields the drop
        rate from ONE action."""
        from mopso_engine.ext.observe import observed, corpus_counters

        docs = spark.createDataFrame(
            [(i, "w " * (i + 1)) for i in range(10)], "doc_id long, text string"
        )
        pre, obs_pre = observed(docs)
        gated = pre.where(F.size(F.split(F.trim("text"), r"\s+")) >= 5)
        post, obs_post = observed(gated)
        post.count()
        assert obs_pre.get["rows"] == 10
        assert obs_post.get["rows"] == 6


class TestEmbeddingOutliers:
    def test_planted_outlier_flagged(self, spark):
        import numpy as np
        from mopso_engine.ext.simsearch import embedding_outliers

        rng = np.random.RandomState(3)
        # two tight clusters + one far point per cluster
        rows = []
        for vid in range(40):
            c = vid % 2
            base = np.array([5.0, 0.0] if c == 0 else [0.0, 5.0])
            rows.append((vid, (base + rng.normal(0, 0.05, 2)).tolist()))
        rows.append((100, [5.0, 3.0]))   # off-manifold near cluster 0
        rows.append((101, [3.0, 5.0]))   # off-manifold near cluster 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cb = [[5.0, 0.0], [0.0, 5.0]]
        out = {r["vec_id"]: r for r in embedding_outliers(emb, cb, frac=0.05).collect()}
        assert len(out) == 42
        assert out[100]["is_outlier"] and out[101]["is_outlier"]
        flagged = [v for v, r in out.items() if r["is_outlier"]]
        # ceil(0.05·21) = 2 flags per cell; the planted point is rank 1
        # in each, one in-cluster straggler takes rank 2
        assert len(flagged) == 4 and {100, 101} <= set(flagged)
        # the planted points carry the largest distance in their cells
        assert out[100]["dist"] == max(r["dist"] for v, r in out.items() if r["cell"] == out[100]["cell"])

    def test_rank_deterministic_under_partitioning(self, spark):
        import numpy as np
        from mopso_engine.ext.simsearch import embedding_outliers

        rng = np.random.RandomState(5)
        rows = [(i, rng.normal(0, 1, 4).tolist()) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cb = rng.normal(0, 1, (4, 4)).tolist()
        a = sorted(map(tuple, embedding_outliers(emb, cb).collect()))
        b = sorted(map(tuple, embedding_outliers(emb.repartition(23), cb).collect()))
        assert a == b

    def test_single_exchange_for_rank_windows(self, spark):
        from mopso_engine.ext.simsearch import embedding_outliers

        emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        plan = embedding_outliers(emb, [[1.0, 0.0], [0.0, 1.0]])._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(cell") == 1


def test_quality_scorer_runs_on_stream_unchanged(spark):
    """score_quality is a stateless expression stack, so the SAME code
    scores an unbounded stream micro-batch-by-micro-batch; the stream
    result must equal the batch result row-for-row."""
    import os
    import pytest as _pt

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        _pt.skip("driver testdata absent")
    from mopso_engine.ext.quality import train_quality, score_quality
    from mopso_engine.ext.streaming import docs_stream_source, run_available_now

    batch = spark.read.parquet(path)
    w = train_quality(batch)
    expect = {(r["doc_id"], r["score"], r["y"]) for r in score_quality(batch, w).collect()}
    stream = docs_stream_source(spark, path)
    got_df = run_available_now(
        score_quality(stream, w), "q_scores_stream", output_mode="append"
    )
    got = {(r["doc_id"], r["score"], r["y"]) for r in got_df.collect()}
    assert got == expect


class TestAssetNearDup:
    def _assets(self, spark):
        rows = [(i, "image", bytes(f"payload-{i % 7}", "utf8"), "image/fake") for i in range(21)]
        df = spark.createDataFrame(rows, "asset_id long, modality string, payload binary, mime string")
        return df.withColumn("n_bytes", F.length("payload").cast("long"))

    def test_identical_payloads_pair_at_hamming_zero(self, spark):
        from mopso_engine.ext.multimodal import asset_neardup

        out = asset_neardup(self._assets(spark), max_hamming=0).collect()
        got = {(r["asset_a"], r["asset_b"]) for r in out}
        # ids i and i+7 and i+14 share a payload → 3 pairs per residue
        expect = {(i, i + 7) for i in range(7)} | {(i, i + 14) for i in range(7)} | {
            (i + 7, i + 14) for i in range(7)
        }
        assert expect <= got
        assert all(r["hamming"] == 0 for r in out)

    def test_banding_matches_bruteforce(self, spark):
        """Pigeonhole recall: banded pairs == brute-force xor pairs."""
        from mopso_engine.ext.multimodal import asset_neardup, perceptual_hash

        assets = self._assets(spark)
        banded = {(r["asset_a"], r["asset_b"], r["hamming"])
                  for r in asset_neardup(assets, max_hamming=3).collect()}
        fps = perceptual_hash(assets).collect()
        brute = set()
        for i, a in enumerate(fps):
            for b in fps[i + 1:]:
                x, y = (a, b) if a["asset_id"] < b["asset_id"] else (b, a)
                h = bin(x["phash"] ^ y["phash"]).count("1")
                if h <= 3:
                    brute.add((x["asset_id"], y["asset_id"], h))
        assert banded == brute

    def test_phash_is_deterministic_and_bounded(self, spark):
        from mopso_engine.ext.multimodal import perceptual_hash

        a = {r["asset_id"]: r["phash"] for r in perceptual_hash(self._assets(spark)).collect()}
        b = {r["asset_id"]: r["phash"]
             for r in perceptual_hash(self._assets(spark).repartition(5)).collect()}
        assert a == b
        assert all(0 <= v < (1 << 16) for v in a.values())


def test_observed_stream_metrics_in_progress(spark, tmp_path):
    """Streaming observe: each micro-batch's counters surface in the
    query progress — the per-batch quality telemetry the batch twin
    provides via Observation.get."""
    import os
    import pytest as _pt

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        _pt.skip("driver testdata absent")
    from mopso_engine.ext.observe import observed_stream
    from mopso_engine.ext.streaming import docs_stream_source

    stream = observed_stream(docs_stream_source(spark, path), "docq")
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "cp_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = [
        p["observedMetrics"]["docq"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("docq")
    ]
    assert metrics, "no observed metrics surfaced in progress"
    total_rows = sum(m["rows"] for m in metrics)
    assert total_rows == spark.read.parquet(path).count()
    assert all(m["null_or_empty"] == 0 for m in metrics)


class TestParagraphDedup:
    def test_blocks_partition_the_doc(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j")], "doc_id long, text string"
        )
        blk = dd.paragraph_blocks(docs, para_tokens=4).orderBy("para_idx").collect()
        assert [r["block"] for r in blk] == ["a b c d", "e f g h", "i j"]
        assert [r["n_tokens"] for r in blk] == [4, 4, 2]
        # rebuild from blocks == normalized original
        assert " ".join(r["block"] for r in blk) == "a b c d e f g h i j"

    def test_cross_doc_duplicate_blocks_dropped_everywhere(self, spark):
        shared = "s1 s2 s3 s4"
        docs = spark.createDataFrame(
            [
                (1, "u1 u2 u3 u4 " + shared),
                (2, "v1 v2 v3 v4 " + shared),
                (3, "w1 w2 w3 w4 x1 x2 x3 x4"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in dd.remove_duplicate_paragraphs(
                docs, para_tokens=4, min_docs=2
            ).collect()
        }
        assert out[1]["text_clean"] == "u1 u2 u3 u4" and out[1]["n_kept"] == 1
        assert out[2]["text_clean"] == "v1 v2 v3 v4" and out[2]["n_kept"] == 1
        assert out[3]["text_clean"] == "w1 w2 w3 w4 x1 x2 x3 x4"
        assert out[1]["n_paras"] == 2 and out[3]["n_kept"] == 2

    def test_same_doc_repeat_not_cross_doc_kept(self, spark):
        """min_docs counts DISTINCT docs: a block repeated within ONE doc
        survives (contrast remove_duplicated_spans, which counts every
        occurrence)."""
        rep = "r1 r2 r3 r4"
        docs = spark.createDataFrame(
            [(1, rep + " " + rep), (2, "z1 z2 z3 z4")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in dd.remove_duplicate_paragraphs(
                docs, para_tokens=4, min_docs=2
            ).collect()
        }
        assert out[1]["text_clean"] == rep + " " + rep and out[1]["n_kept"] == 2

    def test_fully_duplicated_doc_comes_back_empty(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in dd.remove_duplicate_paragraphs(
                docs, para_tokens=4, min_docs=2
            ).collect()
        }
        assert out[1]["text_clean"] == "" and out[1]["n_kept"] == 0
        assert out[2]["text_clean"] == "" and out[2]["n_paras"] == 1
        assert len(out) == 2  # left join keeps every input doc

    def test_stats_match_scrub(self, spark):
        shared = "s1 s2 s3 s4"
        docs = spark.createDataFrame(
            [(1, "u1 u2 u3 u4 " + shared), (2, shared)],
            "doc_id long, text string",
        )
        st = {
            r["doc_id"]: r
            for r in dd.paragraph_dup_stats(docs, para_tokens=4).collect()
        }
        assert st[1]["n_paras"] == 2 and st[1]["n_dup_paras"] == 1
        assert st[1]["dup_frac"] == 0.5
        assert st[2]["n_dup_paras"] == 1 and st[2]["dup_frac"] == 1.0

    def test_guards(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dd.remove_duplicate_paragraphs(docs, min_docs=1)
        with pytest.raises(ValueError):
            dd.paragraph_blocks(docs, para_tokens=0)


class TestCanonicalByScore:
    def test_highest_score_wins_ties_to_min_id(self, spark):
        members = spark.createDataFrame(
            [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2)],
            "doc_id long, component long",
        )
        scores = spark.createDataFrame(
            [(10, 0.2), (11, 0.9), (12, 0.9), (20, 0.5), (21, 0.5)],
            "doc_id long, score double",
        )
        out = {r["doc_id"]: r for r in dd.canonical_by_score(members, scores).collect()}
        # component 1: 11 and 12 tie at 0.9 -> min id 11 wins
        assert all(out[i]["canon_id"] == 11 for i in (10, 11, 12))
        assert out[11]["is_canon"] and not out[10]["is_canon"] and not out[12]["is_canon"]
        # component 2: tie at 0.5 -> min id 20
        assert out[20]["canon_id"] == 20 and out[21]["canon_id"] == 20
        assert out[20]["is_canon"] and not out[21]["is_canon"]

    def test_composes_with_components(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b c a b c a b c a b c"),
                (2, "a b c a b c a b c a b c"),
                (3, "z y x w v u t s r q p o"),
            ],
            "doc_id long, text string",
        )
        pairs = dd.jaccard_pairs(docs, threshold=0.5, k=3)
        members = dd.duplicate_components(pairs)
        from mopso_engine.ext.text import quality_score

        out = dd.canonical_by_score(
            members, quality_score(docs), score_col="quality"
        ).collect()
        ids = {r["doc_id"] for r in out}
        assert ids == {1, 2}  # doc 3 is in no pair -> not a component member
        canon = {r["canon_id"] for r in out}
        assert canon == {1}  # equal quality -> min doc_id

    def test_string_ids_elect_correctly(self, spark):
        # ADVICE r7: string ids must elect (not NULL out under a numeric
        # negation) — min_by on the (negated-score, id) struct is
        # type-agnostic
        members = spark.createDataFrame(
            [("a", 1), ("b", 1), ("c", 2), ("d", 2)],
            "doc_id string, component long",
        )
        scores = spark.createDataFrame(
            [("a", 0.1), ("b", 0.9), ("c", 0.5), ("d", 0.5)],
            "doc_id string, score double",
        )
        out = {r["doc_id"]: r for r in dd.canonical_by_score(members, scores).collect()}
        assert out["a"]["canon_id"] == "b" and out["b"]["is_canon"]
        assert out["c"]["canon_id"] == "c"  # tie -> min id ("c" < "d")
        assert not out["d"]["is_canon"]

    def test_missing_score_raises(self, spark):
        members = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, component long")
        scores = spark.createDataFrame([(1, 0.5)], "doc_id long, score double")
        df = dd.canonical_by_score(members, scores)
        with pytest.raises(Exception, match="no score row for member id"):
            df.collect()


class TestSemanticDecontaminate:
    def _mk(self, spark, n=40, d=8, seed=3):
        rng = np.random.default_rng(seed)
        X = rng.normal(size=(n, d))
        # plant a near-clone pair so high-cos structure exists
        X[1] = X[0] + 1e-3
        rows = [(i, [float(x) for x in X[i]], 0) for i in range(n)]
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"),
            X,
        )

    def test_matches_numpy_brute_force(self, spark):
        from mopso_engine.ext.pipeline import hash_uniform

        docs, X = self._mk(spark)
        frac, thr = 0.4, 0.5
        out = {
            r["vec_id"]: r
            for r in ss.semantic_decontaminate(
                docs, bench_fraction=frac, threshold=thr
            ).collect()
        }
        # replicate the hash membership with the SAME Spark expression
        bench = {
            r["vec_id"]
            for r in docs.select("vec_id")
            .where(hash_uniform("vec_id", salt="sembench") < frac)
            .collect()
        }
        assert 2 <= len(bench) < len(out)
        # floats came back through array<float>: replay from the stored
        # (downcast) values, folding dims sequentially like the kernel
        Xf = X.astype(np.float32).astype(np.float64)
        for vid, r in out.items():
            best_q, best_id = None, None
            for b in sorted(bench):
                if b == vid:
                    continue
                dot = na = nb = 0.0
                for i in range(Xf.shape[1]):
                    dot += Xf[vid, i] * Xf[b, i]
                    na += Xf[vid, i] * Xf[vid, i]
                    nb += Xf[b, i] * Xf[b, i]
                q = np.floor(dot / (np.sqrt(na) * np.sqrt(nb)) * 1e6 + 0.5)
                if best_q is None or q > best_q:
                    best_q, best_id = q, b
            assert r["nearest_bench_id"] == best_id, vid
            assert r["max_cos"] == round(best_q / 1e6, 6)
            assert r["in_benchmark"] == (vid in bench)
            assert r["contaminated"] == (vid not in bench and r["max_cos"] >= thr)

    def test_planted_clone_contaminates_when_partner_in_bench(self, spark):
        """If one of the clone pair lands in the benchmark, the other is
        flagged at a high threshold."""
        docs, _ = self._mk(spark)
        out = {
            r["vec_id"]: r
            for r in ss.semantic_decontaminate(
                docs, bench_fraction=0.4, threshold=0.999
            ).collect()
        }
        pair = (out[0], out[1])
        if out[0]["in_benchmark"] != out[1]["in_benchmark"]:
            nonb = pair[0] if not pair[0]["in_benchmark"] else pair[1]
            assert nonb["contaminated"] and nonb["max_cos"] >= 0.999

    def test_guards(self, spark):
        from mopso_engine.ext.pipeline import hash_uniform

        docs, _ = self._mk(spark, n=10)
        with pytest.raises(ValueError):
            ss.semantic_decontaminate(docs, bench_fraction=1e-9)
        # exactly ONE bench member must also raise (ADVICE r7: a single
        # member self-masks every candidate -> -inf + oracle divergence):
        # pick a fraction between the two smallest hash values
        hs = sorted(
            r["h"]
            for r in docs.select(
                hash_uniform("vec_id", salt="sembench").alias("h")
            ).collect()
        )
        one_frac = (hs[0] + hs[1]) / 2.0
        with pytest.raises(ValueError, match="need >= 2"):
            ss.semantic_decontaminate(docs, bench_fraction=one_frac)
        old = ss.MAX_BENCH_ROWS
        ss.MAX_BENCH_ROWS = 1
        try:
            with pytest.raises(ValueError):
                ss.semantic_decontaminate(docs, bench_fraction=0.9)
        finally:
            ss.MAX_BENCH_ROWS = old


class TestBigramLogppl:
    def test_matches_python_replay(self, spark):
        import math
        from collections import Counter

        corpus = {1: "a b a b a b", 2: "a a a a", 3: "x", 4: "b a b a"}
        docs = spark.createDataFrame(
            list(corpus.items()), "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in tx.bigram_logppl(docs, vocab_size=2, alpha=0.5, lam=0.75).collect()
        }
        toks = {k: v.split() for k, v in corpus.items()}
        allt = [w for t in toks.values() for w in t]
        c = Counter(allt)
        vocab = {w for w, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]}
        m = {k: [w if w in vocab else "<oov>" for w in t] for k, t in toks.items()}
        N, v1 = len(allt), 0.5 * 3
        cm = Counter(w for t in m.values() for w in t)
        p1 = {w: (cm[w] + 0.5) / (N + v1) for w in cm}
        c2 = Counter((t[i], t[i + 1]) for t in m.values() for i in range(len(t) - 1))
        ctx = Counter()
        for (a, _), n in c2.items():
            ctx[a] += n
        for k, t in m.items():
            s = math.floor(math.log(p1[t[0]]) * 1e6 + 0.5)
            for i in range(len(t) - 1):
                a, b = t[i], t[i + 1]
                p2 = (c2[(a, b)] + 0.5) / (ctx[a] + v1)
                s += math.floor(math.log(0.75 * p2 + 0.25 * p1[b]) * 1e6 + 0.5)
            assert out[k]["logppl"] == round(-s / (1e6 * len(t)), 6), k
            assert out[k]["n_tokens"] == len(t)

    def test_word_order_sensitivity(self, spark):
        """The bigram term separates texts the unigram model cannot: same
        token multiset, coherent vs shuffled order."""
        coherent = " ".join(["the cat sat on the mat"] * 10)
        words = coherent.split()
        shuffled = " ".join(words[::2] + words[1::2][::-1])
        docs = spark.createDataFrame(
            [(1, coherent), (2, shuffled)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["logppl"]
            for r in tx.bigram_logppl(docs, vocab_size=10, alpha=0.5, lam=0.75).collect()
        }
        uni = {
            r["doc_id"]: r["logppl"]
            for r in tx.unigram_logppl(docs, vocab_size=10, alpha=0.5).collect()
        }
        assert out[1] < out[2]  # repeated-phrase text is more predictable
        assert abs(uni[1] - uni[2]) < 1e-9  # unigram model is order-blind

    def test_oov_symbol_collision_raises(self, spark):
        docs = spark.createDataFrame(
            [(1, "<oov> appears here " + "filler " * 5)], "doc_id long, text string"
        )
        # the guard lives IN the lazy plan (no eager job at construction)
        df = tx.bigram_logppl(docs, vocab_size=50)
        with pytest.raises(Exception, match="reserved OOV symbol"):
            df.collect()


class TestHtmlExtract:
    TEMPLATE = (
        '<html><head><title>Doc {i}</title><style>p {{ color: red; }}</style>'
        "</head><body><nav>home products pricing contact</nav>"
        '<div class="main"><p>{body}</p></div>'
        '<script>var x = "</div>"; alert(1);</script>'
        "<footer>copyright example corp</footer></body></html>"
    )

    def test_boilerplate_dies_content_survives(self, spark):
        from mopso_engine.ext.extract import html_extract

        body = "the quick brown fox jumps over the lazy dog today."
        rows = [(1, self.TEMPLATE.format(i=1, body=body))]
        docs = spark.createDataFrame(rows, "doc_id long, html string")
        out = html_extract(docs).collect()[0]
        assert out["text_clean"] == body
        assert out["n_kept"] == 1
        # nav (4 words), title (2), footer (3, no punct) all dropped;
        # script text never counts as a line at all
        assert out["n_lines"] >= 3
        assert out["n_words"] == 10
        # 'the' x2 + 'over' is not a stopword -> 2/10
        assert abs(out["stopword_frac"] - 0.2) < 1e-9

    def test_entities_and_br_lines(self, spark):
        from mopso_engine.ext.extract import html_extract

        html = (
            "<p>short</p><p>alpha &amp; beta &lt;tag&gt; gamma delta epsilon</p>"
            "<p>one two three four five six<br>a b</p>"
        )
        docs = spark.createDataFrame([(1, html)], "doc_id long, html string")
        out = html_extract(docs).collect()[0]
        lines = out["text_clean"].split("\n")
        assert "alpha & beta <tag> gamma delta epsilon" in lines
        assert "one two three four five six" in lines  # br splits the line
        assert "short" not in lines and "a b" not in lines
        assert out["n_lines"] == 4 and out["n_kept"] == 2

    def test_punctuation_rule_keeps_short_sentence(self, spark):
        from mopso_engine.ext.extract import html_extract

        docs = spark.createDataFrame(
            [(1, "<p>it really works.</p><p>it really works</p>")],
            "doc_id long, html string",
        )
        out = html_extract(docs).collect()[0]
        assert out["text_clean"] == "it really works."
        assert out["n_kept"] == 1 and out["n_lines"] == 2

    def test_composes_into_curation(self, spark):
        """The extracted text feeds the curation primitives unchanged:
        plant two docs whose HTML bodies are identical -> after
        extraction, exact_dedup finds exactly that dup group."""
        from mopso_engine.ext.extract import html_extract

        body_dup = "every distributed shuffle should be keyed and combined early."
        body_uniq = "broadcast the small side and let the optimizer prune columns."
        rows = [
            (1, self.TEMPLATE.format(i=1, body=body_dup)),
            (2, self.TEMPLATE.format(i=2, body=body_dup)),
            (3, self.TEMPLATE.format(i=3, body=body_uniq)),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, html string")
        cleaned = html_extract(docs).select(
            "doc_id", F.col("text_clean").alias("text")
        )
        groups = dd.exact_dedup(cleaned).collect()
        assert len(groups) == 1
        assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1
        # and the quality stack runs on the extracted column directly
        q = tx.quality_score(cleaned).collect()
        assert len(q) == 3

    def test_min_words_guard(self, spark):
        from mopso_engine.ext.extract import html_extract

        docs = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
        with pytest.raises(ValueError):
            html_extract(docs, min_words=0)

    def test_stream_equals_batch(self, spark):
        """The extractor is a stateless expression chain, so the SAME
        code drops into a streaming ingest: drained stream output ==
        batch output on the real corpus."""
        from mopso_engine.ext.extract import html_extract
        from mopso_engine.ext.streaming import docs_stream_source, run_available_now

        def wrap(df):
            return df.select(
                "doc_id",
                F.concat(
                    F.lit("<nav>home products pricing contact</nav><p>"),
                    F.col("text"),
                    F.lit(".</p><footer>copyright example corp</footer>"),
                ).alias("html"),
            )

        batch = {
            r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"])
            for r in html_extract(wrap(spark.read.parquet(f"{SF}/documents.parquet"))).collect()
        }
        out = run_available_now(
            html_extract(wrap(docs_stream_source(spark, f"{SF}/documents.parquet"))),
            query_name="extract_stream_test",
            output_mode="append",
        )
        got = {
            r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"])
            for r in out.collect()
        }
        assert got == batch and len(got) == 500

    def test_extraction_is_transparent_to_curation_v2(self, spark, tmp_path):
        """End-to-end ladder (VERDICT r7 #7): HTML-wrap the real sf0.001
        corpus, extract, and feed the result to the UNCHANGED
        corpus_curation_v2 query — its manifest must equal the one from
        a corpus whose text is the recovered content directly, because
        extraction is exactly text + '.' for this deterministic wrap."""
        import __spark_entry__ as entry_mod
        from mopso_engine.ext.extract import html_extract

        docs = read_table(spark, "/root/testdata/sf0.001", "documents")
        html = docs.select(
            "doc_id", "lang", "source", "n_chars",
            F.concat(
                F.lit("<html><head><title>Doc </title></head><body>"
                      "<nav>home products pricing contact</nav><p>"),
                F.col("text"),
                F.lit(".</p><footer>copyright example corp</footer></body></html>"),
            ).alias("html"),
        )
        extracted = html_extract(html).join(
            docs.select("doc_id", "lang", "source", "n_chars"), "doc_id"
        ).select("doc_id", F.col("text_clean").alias("text"), "lang", "source", "n_chars")
        direct = docs.withColumn("text", F.concat(F.col("text"), F.lit(".")))
        d_ext, d_dir = str(tmp_path / "ext"), str(tmp_path / "dir")
        extracted.write.parquet(f"{d_ext}/documents.parquet")
        direct.write.parquet(f"{d_dir}/documents.parquet")
        qs = entry_mod.queries()
        got = sorted(
            (r["doc_id"], r["lang"], r["n_tokens"])
            for r in qs["corpus_curation_v2"](spark, d_ext).collect()
        )
        want = sorted(
            (r["doc_id"], r["lang"], r["n_tokens"])
            for r in qs["corpus_curation_v2"](spark, d_dir).collect()
        )
        assert got == want and len(got) > 0


class TestBlocklistAndMojibake:
    def test_blocklist_whole_token_matching(self, spark):
        from mopso_engine.ext.text import blocklist_filter

        docs = spark.createDataFrame(
            [
                (1, "a clean document about tables"),
                (2, "the vector column and another VECTOR here"),
                (3, "classy subvectors do not count"),  # substrings must not trip
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in blocklist_filter(docs, ["vector"]).collect()}
        assert out[1]["blocklist_pass"] and out[1]["n_blocked_hits"] == 0
        assert not out[2]["blocklist_pass"] and out[2]["n_blocked_hits"] == 2
        assert out[3]["blocklist_pass"]
        with pytest.raises(ValueError):
            blocklist_filter(docs, [])

    def test_mojibake_repair_and_counts(self, spark):
        from mopso_engine.ext.extract import MOJIBAKE_TABLE, fix_mojibake

        art = dict(MOJIBAKE_TABLE)
        rsq = MOJIBAKE_TABLE[0][0]   # -> '
        eacute = MOJIBAKE_TABLE[7][0]  # -> é
        text = f"caf{eacute} don{rsq}t stop\x07 now"
        docs = spark.createDataFrame([(1, text), (2, "clean text")],
                                     "doc_id long, text string")
        out = {r["doc_id"]: r for r in fix_mojibake(docs).collect()}
        assert out[1]["text_fixed"] == "café don't stop now"
        assert out[1]["n_fixed"] == 2 and out[1]["n_ctrl"] == 1
        assert out[2]["n_fixed"] == 0 and out[2]["n_ctrl"] == 0
        assert out[2]["text_fixed"] == "clean text"

    def test_mojibake_progressive_counts_no_double(self, spark):
        """Entries sharing the 'â€' head must each count exactly once."""
        from mopso_engine.ext.extract import MOJIBAKE_TABLE, fix_mojibake

        seqs = [s for s, _ in MOJIBAKE_TABLE[:7]]
        text = " ".join(seqs)
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = fix_mojibake(docs).collect()[0]
        assert out["n_fixed"] == 7

    def test_mojibake_table_no_prefix_hazard(self):
        from mopso_engine.ext.extract import MOJIBAKE_TABLE

        for i, (a, _) in enumerate(MOJIBAKE_TABLE):
            for b, _ in MOJIBAKE_TABLE[i + 1 :]:
                assert not b.startswith(a), f"{a!r} would eat {b!r}'s prefix"


class TestStreamCurateV3:
    def test_stream_v3_equals_batch_with_planted_artifacts(self, spark, tmp_path):
        """Mojibake'd clone dedups against its clean twin (fingerprint is
        over REPAIRED text), the blocklisted doc dies, and the drained
        stream equals the batch composition of the same gates."""
        from mopso_engine.ext.dedup import normalized_text
        from mopso_engine.ext.extract import MOJIBAKE_TABLE, fix_mojibake
        from mopso_engine.ext.streaming import run_available_now, stream_curate_v3
        from mopso_engine.ext.text import blocklist_filter, repetition_stats_expr

        base = ("a fine document with plenty of distinct ordinary words "
                "inside it covering engines plans shuffles partitions "
                "buckets windows joins scans filters projections aggregates "
                "and other assorted machinery")
        moji = base.replace("fine", "fin" + MOJIBAKE_TABLE[7][0])  # repairs to "finé"? no: fin + Ã© -> finé
        rows = [
            (1, base),
            (2, base),                              # exact dup of 1
            (3, base.replace("fine", "fin" + MOJIBAKE_TABLE[7][0].replace("Ã©", "Ã©"))),
            (4, "the casino word sinks this otherwise long document that "
                "would have passed every other quality gate with its many "
                "distinct ordinary words about engines plans shuffles "
                "partitions buckets and windows"),
            (5, "completely different content that survives every single "
                "gate easily by containing very many distinct ordinary "
                "words about scans filters projections aggregates shuffles "
                "exchanges and assorted closing machinery"),
        ]
        # doc 3: plant an artifact whose REPAIR equals doc 1's text is
        # hard to craft; instead verify repair-then-fingerprint pipeline
        # on its own terms below
        import glob as _glob

        p = str(tmp_path / "docs")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(p)
        part = _glob.glob(p + "/part-*.parquet")[0]  # the source takes a FILE path
        got = {
            r["doc_id"]: (r["fp"], r["n_tokens"])
            for r in run_available_now(
                stream_curate_v3(spark, part), query_name="curate3_test",
                output_mode="append",
            ).collect()
        }
        # batch composition of the same gates
        docs = spark.read.parquet(p)
        fixed = fix_mojibake(docs).select("doc_id", F.col("text_fixed").alias("text"))
        clean = (
            blocklist_filter(fixed, keep=["text"])
            .where(F.col("blocklist_pass")).select("doc_id", "text")
        )
        gated = repetition_stats_expr(
            clean.withColumn("fp", F.md5(normalized_text())), keep=["fp"]
        ).where(F.col("gopher_pass") & (F.col("n_tokens") >= 5))
        batch_fps = {r["fp"]: r for r in gated.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"), F.first("n_tokens").alias("n_tokens")
        ).collect()}
        assert 4 not in got                      # blocklisted
        assert set(f for f, _ in got.values()) == set(batch_fps)
        # exact dups 1/2 collapse to ONE surviving fingerprint
        fps = [f for f, _ in got.values()]
        assert len(fps) == len(set(fps))

    def test_mojibake_clone_dedups_after_repair(self, spark, tmp_path):
        """A doc that differs from its twin ONLY by encoding artifacts
        fingerprints identically after repair -> dedup collapses them."""
        from mopso_engine.ext.extract import MOJIBAKE_TABLE
        from mopso_engine.ext.streaming import run_available_now, stream_curate_v3

        rsq = MOJIBAKE_TABLE[0][0]  # repairs to '
        clean = ("it's a perfectly ordinary sentence that keeps going with "
                 "many plain distinct words about engines plans shuffles "
                 "partitions buckets windows joins scans filters projections "
                 "aggregates and other machinery")
        moji = clean.replace("it's", "it" + rsq + "s")
        assert moji != clean
        import glob as _glob

        p = str(tmp_path / "docs")
        spark.createDataFrame(
            [(1, clean), (2, moji)], "doc_id long, text string"
        ).coalesce(1).write.parquet(p)
        part = _glob.glob(p + "/part-*.parquet")[0]
        out = run_available_now(
            stream_curate_v3(spark, part), query_name="curate3_dedup_test",
            output_mode="append",
        ).collect()
        assert len(out) == 1  # the artifact clone collapsed onto its twin


class TestBloomPrefilter:
    """ext.dedup Bloom-filter incremental-dedup fast path."""

    @staticmethod
    def _py_positions(fp_hex: str, k: int, m: int) -> list[int]:
        h1 = int(fp_hex[0:8], 16)
        h2 = int(fp_hex[8:16], 16) * 2 + 1
        return [(h1 + i * h2) % m for i in range(k)]

    def test_words_match_python_reference(self, spark, docs):
        m, k = 62 * 32, 4
        fps = docs.select(F.md5(dd.normalized_text()).alias("fp")).distinct()
        got = {
            r["word_idx"]: r["word"]
            for r in dd.bloom_build(fps, m_bits=m, k_hashes=k).collect()
        }
        exp: dict[int, int] = {}
        for r in fps.collect():
            for p in self._py_positions(r["fp"], k, m):
                exp[p // 62] = exp.get(p // 62, 0) | (1 << (p % 62))
        assert got == exp
        # 62-bit words: every word fits a signed 64-bit int positively
        assert all(0 <= w < (1 << 62) for w in got.values())

    def test_no_false_negatives_and_exact_check_clears_fps(self, spark, docs):
        # tiny filter → false positives certain; correctness must rest
        # on the exact semi-join, and false NEGATIVES must be impossible
        m = 62 * 8
        known = docs.where(F.col("doc_id") % 5 != 0)
        new = docs.where(F.col("doc_id") % 5 == 0).unionByName(
            known.where(F.col("doc_id") < 30).withColumn(
                "doc_id", F.col("doc_id") + F.lit(100000)
            )
        )
        known_fps = known.select(F.md5(dd.normalized_text()).alias("fp")).distinct()
        out = dd.incremental_dedup_bloom(new, known_fps, m_bits=m).cache()
        rows = out.collect()
        known_set = {r["fp"] for r in known_fps.collect()}
        for r in rows:
            truly = r["fp"] in known_set
            assert r["is_known"] == truly
            if truly:  # no false negatives, ever
                assert r["maybe_known"]
            if r["is_known"]:
                assert not r["kept"]
        # survivors identical to the plain anti-join + window path
        kept = sorted(r["doc_id"] for r in rows if r["kept"])
        w_fp = new.select("doc_id", F.md5(dd.normalized_text()).alias("fp"))
        from pyspark.sql.window import Window as W

        plain = (
            w_fp.join(known_fps, "fp", "left_anti")
            .withColumn(
                "rn",
                F.row_number().over(W.partitionBy("fp").orderBy(F.col("doc_id"))),
            )
            .where(F.col("rn") == 1)
        )
        assert kept == sorted(r["doc_id"] for r in plain.collect())
        out.unpersist()

    def test_guards(self, spark, docs):
        fps = docs.limit(5).select(F.md5(dd.normalized_text()).alias("fp"))
        with pytest.raises(ValueError, match="multiple"):
            dd.bloom_build(fps, m_bits=100)
        with pytest.raises(ValueError, match="broadcast"):
            dd.bloom_build(fps, m_bits=62 * ((1 << 21) + 1))
        with pytest.raises(ValueError, match="k_hashes"):
            dd.bloom_build(fps, k_hashes=0)
        # the probe side enforces the same plan-literal bound (VERDICT
        # r8 #8): an oversized word list must raise, pointing at the
        # broadcast-variable-in-Arrow-kernel alternative
        with pytest.raises(ValueError, match="broadcast variable"):
            dd.bloom_maybe_col(
                F.col("fp"),
                [0] * (dd.MAX_BLOOM_WORDS + 1),
                m_bits=62 * (dd.MAX_BLOOM_WORDS + 1),
            )

    def test_probe_is_map_only(self, spark, docs):
        """The membership probe must add NO exchange: words ride as an
        array literal, so the probed plan has exactly the exchanges of
        the input (none for a plain scan+project)."""
        fps = docs.select(F.md5(dd.normalized_text()).alias("fp")).distinct()
        words = dd.bloom_words_local(dd.bloom_build(fps), 62 * 4096)
        probed = docs.select(
            "doc_id", F.md5(dd.normalized_text()).alias("fp")
        ).withColumn("maybe", dd.bloom_maybe_col(F.col("fp"), words, m_bits=62 * 4096))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_kernel_probe_matches_expression_probe(self, spark, docs):
        """r15 (VERDICT r14 #4): the broadcast Arrow-kernel probe
        (`bloom_maybe_kernel` — the deployment rendering for filters
        beyond the plan-literal bound) must be BIT-IDENTICAL to the
        expression probe on the same words — including NULL
        fingerprints probing NULL (the expression path's
        null-propagating conv/getbit chain) — and must stay map-only."""
        m = 62 * 64
        fps = docs.select(F.md5(dd.normalized_text()).alias("fp")).distinct()
        words = dd.bloom_words_local(dd.bloom_build(fps, m_bits=m), m)
        probe_in = docs.select(
            "doc_id", F.md5(dd.normalized_text()).alias("fp")
        ).unionByName(
            spark.createDataFrame([(999999, None)], "doc_id long, fp string")
        )
        expr_out = {
            r["doc_id"]: r["m"]
            for r in probe_in.withColumn(
                "m", dd.bloom_maybe_col(F.col("fp"), words, m_bits=m)
            ).collect()
        }
        kern_df = probe_in.withColumn(
            "m", dd.bloom_maybe_kernel(spark, words, m_bits=m)(F.col("fp"))
        )
        kern_out = {r["doc_id"]: r["m"] for r in kern_df.collect()}
        assert expr_out == kern_out
        assert expr_out[999999] is None
        plan = kern_df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_incremental_crossover_uses_kernel_and_matches(
        self, spark, docs, monkeypatch
    ):
        """Above LITERAL_BLOOM_WORDS_MAX, incremental_dedup_bloom must
        route through the Arrow kernel (a plan literal that size costs
        seconds of py4j at plan build) and produce the IDENTICAL
        decision table — same filter, same words, either rendering."""
        known = docs.where(F.col("doc_id") % 5 != 0)
        new = docs.where(F.col("doc_id") % 5 == 0)
        known_fps = known.select(
            F.md5(dd.normalized_text()).alias("fp")
        ).distinct()
        cols = ["doc_id", "fp", "maybe_known", "is_known", "kept"]
        small = sorted(
            map(
                tuple,
                dd.incremental_dedup_bloom(
                    new, known_fps, m_bits=62 * 64
                ).select(*cols).collect(),
            )
        )
        monkeypatch.setattr(dd, "LITERAL_BLOOM_WORDS_MAX", 8)
        called = {}
        real = dd.bloom_maybe_kernel

        def spy(spark_, words, **kw):
            called["n_words"] = len(words)
            return real(spark_, words, **kw)

        monkeypatch.setattr(dd, "bloom_maybe_kernel", spy)
        big = sorted(
            map(
                tuple,
                dd.incremental_dedup_bloom(
                    new, known_fps, m_bits=62 * 64
                ).select(*cols).collect(),
            )
        )
        assert called["n_words"] == 64
        assert small == big

    def test_kernel_case_fold_and_bad_fp_guards(self, spark, docs):
        """ADVICE r15: the kernel's vectorized decode must case-fold
        (the expression path's conv() is case-insensitive, so UPPERCASE
        hex must probe the same bits), must RAISE on non-32-char or
        non-hex fingerprints instead of silently probing wrong bits,
        and must track every broadcast it creates, so the query scope
        destroys them."""
        from pyspark import Broadcast

        from mopso_engine.scope import _open, query_scope

        m = 62 * 64
        fps = docs.select(F.md5(dd.normalized_text()).alias("fp")).distinct()
        words = dd.bloom_words_local(dd.bloom_build(fps, m_bits=m), m)
        with query_scope() as held:
            probe_in = docs.select(
                "doc_id", F.md5(dd.normalized_text()).alias("fp")
            )
            lower = {
                r["doc_id"]: r["m"]
                for r in probe_in.withColumn(
                    "m", dd.bloom_maybe_kernel(spark, words, m_bits=m)(F.col("fp"))
                ).collect()
            }
            upper_in = probe_in.withColumn("fp", F.upper("fp"))
            upper_kern = {
                r["doc_id"]: r["m"]
                for r in upper_in.withColumn(
                    "m", dd.bloom_maybe_kernel(spark, words, m_bits=m)(F.col("fp"))
                ).collect()
            }
            upper_expr = {
                r["doc_id"]: r["m"]
                for r in upper_in.withColumn(
                    "m", dd.bloom_maybe_col(F.col("fp"), words, m_bits=m)
                ).collect()
            }
            assert lower == upper_kern == upper_expr
            for bad, msg in (
                ("deadbeef", "32 hex"),
                ("z" * 32, "non-hex"),
            ):
                bad_df = spark.createDataFrame(
                    [(1, bad)], "doc_id long, fp string"
                )
                with pytest.raises(Exception, match=msg):
                    bad_df.withColumn(
                        "m",
                        dd.bloom_maybe_kernel(spark, words, m_bits=m)(
                            F.col("fp")
                        ),
                    ).collect()
            # 4 kernels built above → 4 tracked broadcasts
            bcs = [o for o in held if isinstance(o, Broadcast)]
            assert len(held) == len(bcs) == 4
        # the scope destroyed all four and left nothing tracked
        assert not any(bc._jbroadcast.isValid() for bc in bcs)
        assert _open == []


class TestPerplexityBuckets:
    """ext.text.perplexity_buckets — CCNet head/middle/tail terciles."""

    def test_matches_python_replay_full_sample(self, spark, docs):
        out = tx.perplexity_buckets(docs, sample_fraction=1.0).collect()
        scored = {
            (r["doc_id"]): r for r in tx.unigram_logppl(docs).collect()
        }
        langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
        # python replay: rank per lang by (logppl, doc_id), integer cuts
        by_lang: dict[str, list] = {}
        for did, r in scored.items():
            by_lang.setdefault(langs[did], []).append((r["logppl"], did))
        thr = {}
        for lang, vals in by_lang.items():
            vals.sort()
            n = len(vals)
            t1 = max(v for i, (v, _) in enumerate(vals, 1) if i * 3 <= n + 2)
            t2 = max(v for i, (v, _) in enumerate(vals, 1) if i * 3 <= n * 2 + 2)
            thr[lang] = (t1, t2)
        for r in out:
            t1, t2 = thr[r["lang"]]
            exp = "head" if r["logppl"] <= t1 else ("middle" if r["logppl"] <= t2 else "tail")
            assert r["bucket"] == exp, (r, t1, t2)
        # tercile sizes roughly balanced (ties only skew)
        from collections import Counter

        for lang in by_lang:
            c = Counter(r["bucket"] for r in out if r["lang"] == lang)
            n = sum(c.values())
            assert c["head"] >= 1 and c["tail"] >= 0
            assert abs(c["head"] - n / 3) <= max(3, 0.2 * n)

    def test_sampled_thresholds_cover_all_docs(self, spark, docs):
        out = tx.perplexity_buckets(docs, sample_fraction=0.25).collect()
        assert len(out) == docs.count()
        assert all(r["bucket"] in ("head", "middle", "tail", "unsampled") for r in out)
        # with a quarter sample of 500 docs every lang present in the
        # corpus should have sampled members
        assert not any(r["bucket"] == "unsampled" for r in out)

    def test_guard(self, spark, docs):
        with pytest.raises(ValueError, match="sample_fraction"):
            tx.perplexity_buckets(docs, sample_fraction=0.0)


class TestClusterBalancedSample:
    def test_cap_and_python_replay(self, spark, emb):
        import hashlib as _h

        cb = ss.train_codebook(emb.drop("label"), k=4, iters=2, sample_fraction=0.5, seed=11)
        out = ss.cluster_balanced_sample(emb.drop("label"), cb, per_cell=25).collect()
        from collections import Counter

        per = Counter(r["cell"] for r in out)
        assert all(v <= 25 for v in per.values())
        assert all(1 <= r["rk"] <= 25 for r in out)
        # python replay: assign cells by argmax cosine (ties -> lowest
        # cell), md5-rank within cell, cap
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        C = np.asarray(cb, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        exp_cells = {}
        for vid, v in vecs.items():
            cs = Cn @ (v / np.linalg.norm(v))
            exp_cells[vid] = int(np.argmax(cs))  # numpy argmax = first max = lowest cell
        got_cells = {}
        for r in out:
            got_cells[r["vec_id"]] = r["cell"]
        by_cell: dict[int, list] = {}
        for vid, c in exp_cells.items():
            h = int(_h.md5(f"{vid}#s0".encode()).hexdigest()[:8], 16)
            by_cell.setdefault(c, []).append((h, vid))
        exp_kept = {}
        for c, members in by_cell.items():
            members.sort()
            for rk, (_, vid) in enumerate(members[:25], 1):
                exp_kept[vid] = (c, rk)
        assert {r["vec_id"]: (r["cell"], r["rk"]) for r in out} == exp_kept

    def test_deterministic_and_window_group_limit(self, spark, emb):
        cb = ss.train_codebook(emb.drop("label"), k=4, iters=2, sample_fraction=0.5, seed=11)
        df = ss.cluster_balanced_sample(emb.drop("label"), cb, per_cell=10)
        a = sorted((r["vec_id"], r["cell"], r["rk"]) for r in df.collect())
        b = sorted((r["vec_id"], r["cell"], r["rk"]) for r in df.collect())
        assert a == b
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        with pytest.raises(ValueError, match="per_cell"):
            ss.cluster_balanced_sample(emb.drop("label"), cb, per_cell=0)


class TestStreamSourceDrift:
    def _fixture(self, spark, tmp_path):
        import glob as _glob

        normal = ("plain ordinary words about engines plans shuffles "
                  "partitions buckets windows joins scans filters")
        drifted = ("zqx vrb plk mnt wxy qqj zzt kkp rrv bbn glf hhd "
                   "jjw ccx vvz nnq ppk llt ssm rrd")
        rows = []
        for i in range(20):
            rows.append((i, normal, "en", "web", len(normal)))
            rows.append((100 + i, normal, "en", "books", len(normal)))
            rows.append((200 + i, drifted, "en", "spam", len(drifted)))
        p = str(tmp_path / "docs")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(p)
        return _glob.glob(p + "/part-*.parquet")[0]

    def test_stream_equals_batch_and_flags_drifted_source(self, spark, tmp_path):
        from mopso_engine.ext.streaming import (
            drift_bucket_counts,
            drift_finalize,
            reference_unigram,
            stream_source_drift,
        )

        part = self._fixture(spark, tmp_path)
        got = {
            r["source"]: (r["n_tokens"], r["kl"])
            for r in stream_source_drift(
                spark, part, vocab_size=50, query_name="drift_test_a"
            ).collect()
        }
        batch = spark.read.parquet(part)
        ref = reference_unigram(batch, vocab_size=50)
        exp = {
            r["source"]: (r["n_tokens"], r["kl"])
            for r in drift_finalize(drift_bucket_counts(batch, ref), ref).collect()
        }
        assert got == exp
        assert set(got) == {"web", "books", "spam"}
        # identical sources score identically; the gibberish source
        # drifts measurably further from the mixed-corpus reference
        # (with V=50 its tokens make the vocab, so the gap is moderate
        # — the ORDERING is the monitored signal)
        assert got["web"][1] == got["books"][1]
        assert got["spam"][1] > got["web"][1] + 0.1


class TestPrefixFilterJoin:
    def test_equals_exhaustive_jaccard_at_threshold(self, spark, docs):
        """The prefix-filtered path must find EXACTLY the pairs the
        exhaustive shingle join finds at the same threshold — the
        guaranteed-recall property (no banding probability)."""
        dup = docs.where(F.col("doc_id") < 25).withColumn(
            "doc_id", F.col("doc_id") + 5000
        )
        corpus = docs.unionByName(dup)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.jaccard_prefix_pairs(corpus, threshold=0.8).collect()
        }
        exp = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dd.jaccard_pairs(corpus, 3, threshold=0.8).collect()
        }
        assert got == exp
        # the planted clones are all found at jaccard 1.0
        assert all(got[(i, i + 5000)] == 1.0 for i in range(25) if (i, i + 5000) in exp)
        assert sum(1 for (a, b) in got if b - a == 5000) == 25

    def test_threshold_guard(self, spark, docs):
        with pytest.raises(ValueError, match="threshold"):
            dd.jaccard_prefix_pairs(docs, threshold=1.0)
        with pytest.raises(ValueError, match="threshold"):
            dd.jaccard_prefix_pairs(docs, threshold=0.0)


class TestCrossSourceDupMatrix:
    def test_planted_mirror_and_python_replay(self, spark, docs):
        import hashlib
        from collections import Counter

        mirror = (
            docs.where(F.col("doc_id") < 40)
            .withColumn("doc_id", F.col("doc_id") + 9000)
            .withColumn("source", F.lit("zmirror"))
        )
        full = docs.unionByName(mirror)
        got = {
            (r["source_a"], r["source_b"]): r["n_shared"]
            for r in dd.cross_source_dup_matrix(full).collect()
        }
        fps = set()
        for r in full.select("text", "source").collect():
            fp = hashlib.md5(
                " ".join(r["text"].strip().split()).lower().encode()
            ).hexdigest()
            fps.add((fp, r["source"]))
        by_fp: dict[str, list] = {}
        for fp, s in fps:
            by_fp.setdefault(fp, []).append(s)
        exp: Counter = Counter()
        for fp, sources in by_fp.items():
            ss = sorted(set(sources))
            for i in range(len(ss)):
                for j in range(i + 1, len(ss)):
                    exp[(ss[i], ss[j])] += 1
        assert got == dict(exp)
        # the mirror source shares with every source that owned a doc<40
        mirrored_sources = {
            r["source"] for r in docs.where(F.col("doc_id") < 40).select("source").collect()
        }
        for s in mirrored_sources:
            assert (min(s, "zmirror"), max(s, "zmirror")) in got


class TestGopherFullGate:
    def test_planted_failures_each_rule(self, spark):
        from mopso_engine.ext.text import gopher_quality_stats

        base = ("the quick brown fox jumps over the lazy dog and that is "
                "to be of note with " + "plain ordinary words here " * 10)
        rows = [
            (1, base),                                   # passes
            (2, "too short to be of use with the and"),  # word count
            (3, "# " * 60 + base),                       # symbol ratio
            (4, "\n".join(["- bullet " + w for w in base.split()[:40]])),  # bullets
            (5, "\n".join([w + " trail..." for w in base.split()[:40]])),  # ellipsis lines
            (6, " ".join(["1234"] * 60)),                # alpha ratio + stopwords
            (7, base.replace(" ", "  ")),                # same content, still passes
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in gopher_quality_stats(df, min_words=30).collect()}
        assert out[1]["gopher_full_pass"]
        assert out[7]["gopher_full_pass"]
        for bad in (2, 3, 4, 5, 6):
            assert not out[bad]["gopher_full_pass"], bad
        # the per-rule counters say WHY each failed
        assert out[2]["n_words"] < 30
        assert 10 * out[3]["n_symbols"] > out[3]["n_words"]
        assert 10 * out[4]["n_bullet_lines"] > 9 * out[4]["n_lines"]
        assert 10 * out[5]["n_ellipsis_end_lines"] > 3 * out[5]["n_lines"]
        assert 10 * out[6]["n_alpha_words"] < 8 * out[6]["n_words"]
        assert out[6]["n_stop_words"] < 2


class TestIncrementalNeardup:
    def test_near_copies_caught_exact_missed(self, spark, docs):
        known = docs.where(F.col("doc_id") % 5 != 0)
        near = (
            known.where(F.col("doc_id") < 30)
            .withColumn("doc_id", F.col("doc_id") + 5000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz9x")))
        )
        new = docs.where(F.col("doc_id") % 5 == 0).unionByName(near)
        out = dd.incremental_neardup(new, known, threshold=0.5).collect()
        pairs = {(r["new_id"], r["known_id"]) for r in out}
        # every planted near-copy pairs with its source
        planted = {r["doc_id"] for r in near.select("doc_id").collect()}
        assert {(p, p - 5000) for p in planted} <= pairs
        assert all(r["jaccard"] >= 0.5 for r in out)
        # near-copies are NOT exact copies: jaccard < 1 for the planted
        jmap = {(r["new_id"], r["known_id"]): r["jaccard"] for r in out}
        assert all(jmap[(p, p - 5000)] < 1.0 for p in planted)
        # the exact anti-join would have kept them (fp differs)
        known_fps = {
            r["fp"]
            for r in known.select(F.md5(dd.normalized_text()).alias("fp")).collect()
        }
        near_fps = {
            r["fp"]
            for r in near.select(F.md5(dd.normalized_text()).alias("fp")).collect()
        }
        assert not (near_fps & known_fps)
        # output is new x known only
        new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
        known_ids = {r["doc_id"] for r in known.select("doc_id").collect()}
        assert all(a in new_ids and b in known_ids for a, b in pairs)

    def test_shared_shingle_rendering_matches_per_stage_composition(self, spark, docs):
        """r16 internals pin: incremental_neardup shingles each side ONCE
        (distinct table feeds banding AND verify). Must equal the
        historical composition — raw-shingle banding per side + verify
        over distinct-of-union — value for value: min over the distinct
        shingle set == min over the multiset, and per-side-distinct
        union == distinct of union when doc_ids are disjoint."""
        known = docs.where(F.col("doc_id") % 5 != 0)
        near = (
            known.where(F.col("doc_id") < 30)
            .withColumn("doc_id", F.col("doc_id") + 5000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zz9x")))
        )
        new = docs.where(F.col("doc_id") % 5 == 0).unionByName(near)
        got = sorted(
            map(tuple, dd.incremental_neardup(new, known, threshold=0.5).collect())
        )
        # historical composition, inlined
        a = dd.band_signatures(new, 3, 16, 4).select(
            F.col("doc_id").alias("new_id"), "band", "band_sig"
        )
        b = dd.band_signatures(known, 3, 16, 4).select(
            F.col("doc_id").alias("known_id"), "band", "band_sig"
        )
        cand = (
            a.join(b, ["band", "band_sig"])
            .groupBy("new_id", "known_id")
            .agg(F.count("*").alias("n_bands"))
        )
        verified = dd.jaccard_on_candidates(
            new.unionByName(known),
            cand.select(
                F.col("new_id").alias("doc_a"), F.col("known_id").alias("doc_b")
            ),
            3,
        )
        want = sorted(
            map(
                tuple,
                cand.join(
                    verified.select(
                        F.col("doc_a").alias("new_id"),
                        F.col("doc_b").alias("known_id"),
                        "jaccard",
                    ),
                    ["new_id", "known_id"],
                )
                .where(F.col("jaccard") >= F.lit(0.5))
                .select("new_id", "known_id", "n_bands", "jaccard")
                .collect(),
            )
        )
        assert got == want and len(got) > 0


class TestInt8Recall:
    @staticmethod
    def _replay(X, ids, qids, k):
        """From-scratch numpy replay of the documented SQ8 audit."""
        out = {}
        for qi in qids:
            qv = X[list(ids).index(qi)]
            qs = np.abs(qv).max()
            qc = np.floor(qv / qs * 127.0 + 0.5).astype(np.int64) if qs > 0 else np.zeros_like(qv, dtype=np.int64)
            rows = []
            for vid, v in zip(ids, X):
                if vid == qi:
                    continue
                dm = int(np.floor(v * qv * 1e6 + 0.5).astype(np.int64).sum())
                cs = np.abs(v).max()
                cc = np.floor(v / cs * 127.0 + 0.5).astype(np.int64) if cs > 0 else np.zeros_like(v, dtype=np.int64)
                rows.append((vid, dm, int(cc @ qc) * cs))
            topk_e = {vid for vid, _, _ in sorted(rows, key=lambda r: (-r[1], r[0]))[:k]}
            topk_a = {vid for vid, _, _ in sorted(rows, key=lambda r: (-r[2], r[0]))[:k]}
            out[qi] = len(topk_e & topk_a)
        return out

    def test_matches_python_replay_on_testdata(self, emb):
        sample = emb.orderBy("vec_id").limit(60).cache()
        rows = sample.collect()
        ids = [r["vec_id"] for r in rows]
        X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        got = {
            r["query_id"]: r["overlap"]
            for r in ss.int8_topk_recall(sample, [0, 1, 2], k=7).collect()
        }
        want = self._replay(X, ids, [0, 1, 2], 7)
        assert got == want
        assert all(0 <= v <= 7 for v in got.values())

    def test_perfect_recall_on_separated_axes(self, spark):
        # orthogonal one-hot-ish vectors: int8 codes preserve the exact
        # ranking, overlap must be k
        rows = [(i, [0.0] * i + [1.0] + [0.0] * (7 - i)) for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["query_id"]: r for r in ss.int8_topk_recall(df, [0], k=3).collect()}
        assert out[0]["overlap"] == 3 and out[0]["k"] == 3

    def test_zero_vector_is_safe(self, spark):
        rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [2.0, 1.0]), (3, [1.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["query_id"]: r["overlap"] for r in ss.int8_topk_recall(df, [0, 1], k=2).collect()}
        assert set(out) == {0, 1}
        # the zero query scores every candidate 0 on both keys -> ties
        # resolve identically by nbr_id, perfect (degenerate) overlap
        assert out[1] == 2

    def test_guards(self, spark):
        df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            ss.int8_topk_recall(df, [])
        with pytest.raises(ValueError):
            ss.int8_topk_recall(df, list(range(ss.MAX_INT8_QUERIES + 1)))


class TestMatryoshkaRecall:
    def test_python_replay_on_testdata(self, emb):
        sample = emb.orderBy("vec_id").limit(50).cache()
        rows = sample.collect()
        ids = [r["vec_id"] for r in rows]
        X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
        got = {
            r["query_id"]: r["overlap"]
            for r in ss.prefix_topk_recall(
                sample, [0, 1], k=6, prefix_dims=8
            ).collect()
        }
        want = {}
        for qi in (0, 1):
            qv = X[ids.index(qi)]
            rowsr = []
            for vid, v in zip(ids, X):
                if vid == qi:
                    continue
                c = np.floor(v * qv * 1e6 + 0.5).astype(np.int64)
                rowsr.append((vid, int(c.sum()), int(c[:8].sum())))
            top_f = {v for v, _, _ in sorted(rowsr, key=lambda r: (-r[1], r[0]))[:6]}
            top_p = {v for v, _, _ in sorted(rowsr, key=lambda r: (-r[2], r[0]))[:6]}
            want[qi] = len(top_f & top_p)
        assert got == want

    def test_full_prefix_is_perfect_recall(self, spark):
        rows = [(i, [float(j + i) for j in range(4)]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["query_id"]: r for r in ss.prefix_topk_recall(
            df, [0], k=4, prefix_dims=4
        ).collect()}
        assert out[0]["overlap"] == 4

    def test_guards(self, spark):
        df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            ss.prefix_topk_recall(df, [])
        with pytest.raises(ValueError):
            ss.prefix_topk_recall(df, [0], prefix_dims=0)


class TestFixedKeyNeardup:
    def test_recovers_all_planted_hamming_pairs(self, spark):
        import random

        rng = random.Random(23)
        alpha = "abcdefghijklmnop"
        rows = []
        want = set()
        for i in range(60):
            s = "".join(rng.choice(alpha) for _ in range(12))
            rows.append((i, s))
            if i % 3 == 0:
                # twin at hamming 1 or 2 (mutate to chars outside alpha)
                t = list(s)
                t[rng.randrange(12)] = "Z"
                if i % 6 == 0:
                    t[rng.randrange(12)] = "Q"
                rows.append((1000 + i, "".join(t)))
        df = spark.createDataFrame(rows, "doc_id long, code string")
        got = {
            (r["id_a"], r["id_b"]): r["lev"]
            for r in dd.fixed_key_neardup_pairs(df, "doc_id", "code", max_dist=2).collect()
        }
        # brute-force: every pair at hamming <= 2 MUST be present
        # (levenshtein <= hamming), with the exact levenshtein value
        import itertools

        def ham(a, b):
            return sum(x != y for x, y in zip(a, b)) if len(a) == len(b) else 99

        def lev(a, b):
            d = list(range(len(b) + 1))
            for i2, ca in enumerate(a, 1):
                prev, d[0] = d[0], i2
                for j2, cb in enumerate(b, 1):
                    prev, d[j2] = d[j2], min(d[j2] + 1, d[j2 - 1] + 1, prev + (ca != cb))
            return d[-1]

        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
            a2, b2 = min(ia, ib), max(ia, ib)
            if ham(sa, sb) <= 2:
                assert (a2, b2) in got, (a2, b2)
                assert got[(a2, b2)] == lev(sa, sb)
        # and nothing reported above the distance bound
        assert all(v <= 2 for v in got.values())

    def test_band_cap_with_extra_segments_keeps_recall(self, spark):
        # keys share hot constant regions; with 6 segments and a cap
        # that drops every >10-member band, the planted pair (mutations
        # confined to a HOT segment) still agrees on the rare final
        # segment ("000" shared only by the twins), so recall survives
        # the cap exactly as documented.
        rows = [(i, "CONSTPRE" + f"{i:08d}") for i in range(40)]
        rows.append((100, "CONSTPRE" + "xy" + "000000"))  # twin of id 0
        df = spark.createDataFrame(rows, "doc_id long, code string")
        got = dd.fixed_key_neardup_pairs(
            df, "doc_id", "code", max_dist=2, segments=6, max_band_df=10
        ).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in got}
        assert (0, 100) in pairs

    def test_guards(self, spark):
        df = spark.createDataFrame([(1, "ab")], "doc_id long, code string")
        with pytest.raises(ValueError):
            dd.fixed_key_neardup_pairs(df, "doc_id", "code", max_dist=0)
        with pytest.raises(ValueError):
            dd.fixed_key_neardup_pairs(df, "doc_id", "code", max_dist=2, segments=2)


class TestCurationFunnel:
    def test_cumulative_monotone_and_consistent_with_v3(self, spark):
        """The funnel's cumulative counts must be monotone nonincreasing
        per source, and its final (canonical) total must equal the
        pre-quota survivor count of the v3 ladder on the same corpus."""
        import __spark_entry__ as entry

        qs = entry.queries()
        fun = qs["curation_funnel"](spark, "/root/testdata/sf0.001").collect()
        assert fun, "funnel must emit one row per source"
        for r in fun:
            assert (
                r["n_total"] >= r["n_blocklist"] >= r["n_fertility"]
                >= r["n_gopher"] >= r["n_canonical"] >= 0
            ), r
        total_canon = sum(r["n_canonical"] for r in fun)
        # rebuild the v3 survivor set WITHOUT the quota stage
        from mopso_engine.ext import bpe
        from mopso_engine.ext import dedup as dd2
        from mopso_engine.ext import text as tx2
        from mopso_engine.ext.extract import fix_mojibake
        from mopso_engine.io import read_table as rt
        from pyspark.sql import Window as W2

        from mopso_engine.ext.extract import MOJIBAKE_TABLE

        docs = rt(spark, "/root/testdata/sf0.001", "documents")
        art = "caf" + MOJIBAKE_TABLE[7][0] + " don" + MOJIBAKE_TABLE[0][0] + "t "
        tail = " " + MOJIBAKE_TABLE[5][0] + " fin"
        planted = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(art), F.col("text"), F.lit(tail)),
            ).otherwise(F.col("text")).alias("text"),
        ).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("\x07"))
            ).otherwise(F.col("text")).alias("text"),
        )
        fixed = (
            fix_mojibake(planted)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select("doc_id", F.col("text_fixed").alias("text"), "lang")
        )
        fp = fixed.select("doc_id", F.md5(dd2.normalized_text()).alias("fp"))
        keep = fp.withColumn(
            "k", F.col("doc_id") == F.min("doc_id").over(W2.partitionBy("fp"))
        ).where("k")
        surv = (
            keep.join(tx2.repetition_stats_expr(fixed), "doc_id")
            .join(tx2.blocklist_filter(fixed), "doc_id")
            .join(bpe.bpe_fertility(fixed).select("doc_id", "fertility_pass"), "doc_id")
            .where("gopher_pass AND blocklist_pass AND fertility_pass")
            .count()
        )
        assert total_canon == surv


class TestStreamWindowTopk:
    def test_stream_equals_batch_rank(self, spark):
        import os
        import uuid

        from pyspark.sql.window import Window as W2

        from mopso_engine.ext.streaming import read_events, stream_window_topk

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        path = "/root/testdata/sf0.001/events.parquet"
        got = {
            (r["window_start"], r["rk"]): (r["event_type"], r["n_events"])
            for r in stream_window_topk(
                spark, path, minutes=60, k=3,
                query_name=f"t_{uuid.uuid4().hex[:8]}",
            ).collect()
        }
        ev = read_events(spark, path)
        counts = ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
        w = W2.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        want = {
            (r["window_start"], r["rk"]): (r["event_type"], r["n_events"])
            for r in counts.withColumn("rk", F.row_number().over(w))
            .where("rk <= 3")
            .collect()
        }
        assert got == want and got

    def test_guard(self, spark):
        import pytest as _pt

        from mopso_engine.ext.streaming import stream_window_topk

        with _pt.raises(ValueError):
            stream_window_topk(spark, "/tmp/x", k=0)


class TestStreamWindowTopkUpdate:
    """The update-mode + upsert-sink production path (VERDICT r8 #5):
    parity with the complete-mode twin AND the watermark state bound the
    update design exists to deliver."""

    def test_update_equals_complete_equals_batch(self, spark):
        import uuid

        from mopso_engine.ext.streaming import (
            stream_window_topk,
            stream_window_topk_update,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        path = "/root/testdata/sf0.001/events.parquet"
        key = lambda rows: {
            (r["window_start"], r["rk"]): (r["event_type"], r["n_events"])
            for r in rows
        }
        upd = key(
            stream_window_topk_update(
                spark, path, minutes=60, k=3,
                query_name=f"u_{uuid.uuid4().hex[:8]}",
            ).collect()
        )
        comp = key(
            stream_window_topk(
                spark, path, minutes=60, k=3,
                query_name=f"c_{uuid.uuid4().hex[:8]}",
            ).collect()
        )
        assert upd == comp and upd

    def test_watermark_evicts_state_multi_batch(self, spark, tmp_path):
        """Feed 4 hours of time-ordered events as 4 files drained one
        file per trigger: by the last micro-batch the watermark (30 min)
        has passed the early windows, so update-mode state holds FEWER
        rows than windows-ever-seen × types — the eviction complete mode
        cannot do — while the upsert store still reconstructs every
        window's final counts exactly."""
        import uuid
        from datetime import datetime, timedelta

        from mopso_engine.ext.streaming import (
            _rank_at_read_topk,
            run_update_upsert,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        base = datetime(2024, 1, 1, 0, 0, 0)
        types = ["click", "view"]
        n_hours = 4
        d = str(tmp_path / "ev")
        for h in range(n_hours):
            rows = [
                (base + timedelta(hours=h, minutes=5 * i), t, 1.0)
                for i in range(6)
                for t in types
            ]
            spark.createDataFrame(
                rows, "ts timestamp, event_type string, value double"
            ).coalesce(1).write.mode("overwrite").parquet(f"{d}/h={h}")
        # one hour-file per trigger, time-ordered -> watermark advances
        # between micro-batches and evicts closed windows
        schema = spark.read.parquet(f"{d}/h=0").schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/h=*")
        )
        counts = (
            src.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "60 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"), "event_type", "n_events"
            )
        )
        store, progress = run_update_upsert(
            counts,
            ["window_start", "event_type"],
            query_name=f"ev_{uuid.uuid4().hex[:8]}",
            return_progress=True,
        )
        # every window's final count survives in the upsert store
        got = {
            (r["window_start"].hour, r["event_type"]): r["n_events"]
            for r in store.collect()
        }
        assert got == {(h, t): 6 for h in range(n_hours) for t in types}
        # the state bound: the LAST batch with state metrics must hold
        # fewer rows than windows-ever-seen x types (eviction fired),
        # and no batch may exceed that complete-mode ceiling
        state_rows = [
            op["numRowsTotal"]
            for p in progress
            for op in p.get("stateOperators", [])
            if op.get("numRowsTotal") is not None
        ]
        assert state_rows, progress
        ceiling = n_hours * len(types)
        assert max(state_rows) <= ceiling
        assert state_rows[-1] < ceiling, state_rows
        # rank-at-read over the store stays deterministic
        topk = _rank_at_read_topk(store, 1).collect()
        assert all(r["rk"] == 1 and r["event_type"] == "click" for r in topk)


class TestThresholdCurve:
    def test_python_replay_and_monotone(self, spark):
        import itertools
        import math

        rng = np.random.default_rng(9)
        X = rng.normal(size=(30, 16)).astype(np.float32)
        # plant a few true near-dups
        X[1] = X[0] + 0.01 * rng.normal(size=16).astype(np.float32)
        X[5] = X[4]
        rows = [(i, [float(x) for x in X[i]]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            r["threshold_pct"]: r["n_pairs"]
            for r in ss.neardup_threshold_curve(df, sample_ids_below=30).collect()
        }
        Q = np.floor(X.astype(np.float64) * 1e6 + 0.5).astype(object)  # exact ints
        want = {p: 0 for p in (80, 85, 90, 95, 99)}
        for a, b in itertools.combinations(range(30), 2):
            dot = int(sum(Q[a][i] * Q[b][i] for i in range(16)))
            na2 = int(sum(q * q for q in Q[a]))
            nb2 = int(sum(q * q for q in Q[b]))
            for p in want:
                if dot > 0 and (100 * dot) ** 2 >= p * p * na2 * nb2:
                    want[p] += 1
        assert got == want
        vals = [got[p] for p in sorted(got)]
        assert vals == sorted(vals, reverse=True)  # monotone in threshold
        assert got[99] >= 2  # the planted near-identical pairs

    def test_guards(self, spark):
        df = spark.createDataFrame([(0, [1.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError):
            ss.neardup_threshold_curve(df, sample_ids_below=ss.MAX_CALIB_SAMPLE + 1)
        with pytest.raises(ValueError):
            ss.neardup_threshold_curve(df, thresholds_pct=[])


def test_recall_audits_reject_missing_query_ids(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not present"):
        ss.int8_topk_recall(df, [0, 99], k=1)
    with pytest.raises(ValueError, match="not present"):
        ss.prefix_topk_recall(df, [42], k=1, prefix_dims=1)


def test_docs_length_hist_bucket_semantics(spark):
    """Bit-length buckets: n in [2^(b-1), 2^b - 1] lands in bucket b;
    the reported [lo, hi] ranges bound every member; totals reconcile."""
    import __spark_entry__ as entry

    out = entry.queries()["docs_length_hist"](spark, "/root/testdata/sf0.001").collect()
    assert out
    total_docs = sum(r["n_docs"] for r in out)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert total_docs == docs.count()
    for r in out:
        b = r["bucket"]
        if b == 0:
            assert r["lo_tokens"] == 0
            continue
        assert r["lo_tokens"] == 1 << (b - 1)
        assert r["hi_tokens"] == (1 << b) - 1
        # token mass consistent with the bucket's bounds
        assert r["lo_tokens"] * r["n_docs"] <= r["total_tokens"] <= r["hi_tokens"] * r["n_docs"]


def test_fixed_key_neardup_short_keys_keep_recall(spark):
    """Keys shorter than the segment count: empty segments act as
    universal bands, so hamming-close SHORT pairs are still found
    (the review-caught contract gap)."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, "cd"), (3, "ax"), (4, "abcdefgh")],
        "doc_id long, code string",
    )
    got = {(r["id_a"], r["id_b"]): r["lev"]
           for r in dd.fixed_key_neardup_pairs(df, "doc_id", "code", max_dist=2).collect()}
    # 'ab'/'cd' hamming 2, 'ab'/'ax' hamming 1, 'cd'/'ax' hamming 2
    assert got[(1, 2)] == 2 and got[(1, 3)] == 1 and got[(2, 3)] == 2
    # the long key pairs with nothing (nothing within distance 2)
    assert not any(4 in p for p in got)


class TestEdit1Pairs:
    def test_matches_brute_force_replay(self, spark):
        from mopso_engine.ext.dedup import edit1_pairs

        # substitution, deletion, insertion, a transposition pair at
        # distance 2 that SHARES a deletion variant ("ab"/"ba" via "b")
        # and must be verified away, plus unrelated words and a dup row.
        vocab = [
            "kitten", "mitten",          # substitution
            "cart", "car", "carts",      # deletion / insertion chain
            "ab", "ba",                  # false candidate (distance 2)
            "a", "b",                    # 1-char: both delete to ""
            "zebra",
        ]
        rows = [(w,) for w in vocab] + [("kitten",)]
        df = spark.createDataFrame(rows, "c_name string")
        got = {
            (r["name_a"], r["name_b"])
            for r in edit1_pairs(df, "c_name").collect()
        }

        def lev(s, t):
            d = list(range(len(t) + 1))
            for i, cs in enumerate(s, 1):
                prev, d[0] = d[0], i
                for j, ct in enumerate(t, 1):
                    prev, d[j] = d[j], min(
                        d[j] + 1, d[j - 1] + 1, prev + (cs != ct)
                    )
            return d[len(t)]

        want = {
            (a, b)
            for a in vocab
            for b in vocab
            if a < b and lev(a, b) <= 1
        }
        assert got == want
        assert ("ab", "ba") not in got  # the shared-variant false pair
        assert ("a", "b") in want and ("a", "b") in got  # substitution
        assert ("cart", "carts") in got and ("car", "cart") in got

    def test_long_key_raises_in_plan(self, spark):
        from mopso_engine.ext.dedup import edit1_pairs

        df = spark.createDataFrame([("x" * 80,)], "c_name string")
        with pytest.raises(Exception) as ei:
            edit1_pairs(df, "c_name", max_len=64).collect()
        assert "longer than max_len" in str(ei.value)

    def test_cross_position_collisions_on_id_vocab(self, spark):
        """The r16 position-keyed refinement's correctness boundary:
        zero-run ID keys whose deletions at DIFFERENT positions collide
        ("C#000123" del a leading zero == "C#001230" del the trailing
        zero) are distance 2 and must not pair, while same-position
        substitutions and insert/delete neighbors in the same vocabulary
        must all still be found."""
        from mopso_engine.ext.dedup import edit1_pairs

        vocab = [
            "C#000123", "C#001230",   # cross-position collision, dist 2
            "C#000124",               # substitution of C#000123
            "C#00123",                # one deletion from BOTH collision keys
            "C#0001234",              # insertion on C#000123
        ]
        df = spark.createDataFrame([(w,) for w in vocab], "c_name string")
        got = {
            (r["name_a"], r["name_b"])
            for r in edit1_pairs(df, "c_name").collect()
        }
        assert ("C#000123", "C#001230") not in got
        assert ("C#000123", "C#000124") in got        # substitution
        assert ("C#000123", "C#00123") in got         # deletion
        assert ("C#000123", "C#0001234") in got       # insertion
        assert ("C#00123", "C#001230") in got         # trailing-0 insertion


class TestVocabGrowth:
    def test_matches_python_replay(self, spark):
        from collections import defaultdict

        from mopso_engine.ext.text import vocab_growth

        # src a: 6 docs, 3 buckets -> slices of 2 docs; vocabulary
        # repeats so late slices add few types. src b: 1 doc.
        docs = [
            (1, "a", "x y"),
            (2, "a", "x z"),       # z new in slice 0
            (3, "a", "x y z"),     # nothing new in slice 1
            (4, "a", "w"),         # w new in slice 1
            (5, "a", "  x   y  "), # ragged whitespace, nothing new
            (6, "a", "v v v"),     # v new in slice 2, mass 3
            (7, "b", "only words here"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, source string, text string")
        got = {
            (r["stratum"], r["bucket"]): (r["new_types"], r["n_tokens"])
            for r in vocab_growth(df, buckets=3).collect()
        }
        # replay
        by = defaultdict(list)
        for i, s, t in sorted(docs):
            by[s].append(t.split())
        want = {}
        for s, texts in by.items():
            n = len(texts)
            seen = set()
            agg = defaultdict(lambda: [0, 0])
            for rk, toks in enumerate(texts, 1):
                b = ((rk - 1) * 3) // n
                agg[b][1] += len(toks)
                for tok in toks:
                    if tok not in seen:
                        seen.add(tok)
                        agg[b][0] += 1
            for b, (nt, mass) in agg.items():
                want[(s, b)] = (nt, mass)
        assert got == want
        # per-source new_types totals the vocabulary exactly once
        assert sum(v[0] for (s, _), v in got.items() if s == "a") == 5
        assert got[("b", 0)] == (3, 3)

    def test_guard(self, spark):
        from mopso_engine.ext.text import vocab_growth

        df = spark.createDataFrame([(1, "a", "x")], "doc_id long, source string, text string")
        with pytest.raises(ValueError):
            vocab_growth(df, buckets=0)


class TestCdcStream:
    """cdc_maintain_stream — continuous latest-wins snapshot,
    stream == batch for ANY split (the fold is commutative/associative,
    unlike SCD2's order-sensitive period stitching)."""

    @staticmethod
    def _run(spark, tmp_path, batches, sub):
        import time as _time

        from mopso_engine.ext.streaming import cdc_maintain_stream

        src = str(tmp_path / f"changes_{sub}")
        for rows in batches:
            df = spark.createDataFrame(
                rows, "k long, ts string, seq long, op string, v double"
            )
            df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        snap = str(tmp_path / f"snap_{sub}")
        cdc_maintain_stream(
            stream, snap, str(tmp_path / f"cp_{sub}"),
            key="k", ts="ts", seq="seq", op="op", payload=["v"],
        )
        return src, snap

    @staticmethod
    def _canon(df):
        return sorted(
            (r["k"], str(r["ts"]), r["seq"], r["v"]) for r in df.collect()
        )

    def test_stream_matches_batch_snapshot(self, spark, tmp_path):
        from mopso_engine.ext.pipeline import cdc_latest_snapshot
        from mopso_engine.ext.streaming import cdc_snapshot_live

        batches = [
            [(1, "2024-01-01 00:00:00", 1, "U", 10.0),
             (2, "2024-01-01 06:00:00", 2, "U", 5.0),
             (3, "2024-01-01 07:00:00", 3, "U", 7.0)],
            [(1, "2024-01-02 00:00:00", 4, "U", 20.0),
             (3, "2024-01-02 12:00:00", 5, "D", 0.0)],
        ]
        src, snap = self._run(spark, tmp_path, batches, "eq")
        live = cdc_snapshot_live(spark, snap)
        batch = cdc_latest_snapshot(
            spark.read.parquet(src), "k", "ts", "seq", "op", ["v"]
        )
        assert self._canon(live) == self._canon(batch)
        assert {r[0] for r in self._canon(live)} == {1, 2}  # 3 tombstoned
        import glob

        assert len(glob.glob(f"{snap}/v=*")) <= 2  # retention

    def test_out_of_order_split_still_matches_batch(self, spark, tmp_path):
        """The associativity claim: batch 2 delivers EARLIER rows than
        batch 1 — including a stale update to a key batch 1 deleted
        (must NOT resurrect: the tombstone is retained in state) —
        and the maintained snapshot still equals the one-shot."""
        from mopso_engine.ext.pipeline import cdc_latest_snapshot
        from mopso_engine.ext.streaming import cdc_snapshot_live

        batches = [
            [(1, "2024-01-05 00:00:00", 9, "U", 50.0),
             (2, "2024-01-05 00:00:00", 10, "D", 0.0)],
            # all older than batch 1; key 2's stale update must lose
            # to the retained tombstone
            [(1, "2024-01-01 00:00:00", 1, "U", 10.0),
             (2, "2024-01-02 00:00:00", 2, "U", 99.0)],
        ]
        src, snap = self._run(spark, tmp_path, batches, "ooo")
        live = cdc_snapshot_live(spark, snap)
        batch = cdc_latest_snapshot(
            spark.read.parquet(src), "k", "ts", "seq", "op", ["v"]
        )
        assert self._canon(live) == self._canon(batch)
        got = {r[0]: r[3] for r in self._canon(live)}
        assert got == {1: 50.0}  # key 2 stays deleted

    def test_keep_versions_guard(self, spark, tmp_path):
        import pytest as _pt

        from mopso_engine.ext.streaming import cdc_maintain_stream

        with _pt.raises(ValueError):
            cdc_maintain_stream(
                None, "x", "y", key="k", ts="ts", seq="s", op="op",
                payload=[], keep_versions=1,
            )

    def test_version_read_equals_prefix_fold_and_retired_raises(
        self, spark, tmp_path
    ):
        """AS OF batch N: the v=0 read must equal the one-shot
        latest-wins fold over batch 0's rows alone; a never-committed
        version raises instead of serving a different state."""
        import pytest as _pt

        from mopso_engine.ext.pipeline import cdc_latest_snapshot
        from mopso_engine.ext.streaming import cdc_snapshot_version

        batches = [
            [(1, "2024-01-01 00:00:00", 1, "U", 10.0),
             (2, "2024-01-01 06:00:00", 2, "U", 5.0),
             (3, "2024-01-01 07:00:00", 3, "D", 0.0)],
            [(1, "2024-01-02 00:00:00", 4, "U", 20.0),
             (2, "2024-01-02 12:00:00", 5, "D", 0.0)],
        ]
        src, snap = self._run(spark, tmp_path, batches, "vr")
        v0 = cdc_snapshot_version(spark, snap, 0)
        rows0 = spark.createDataFrame(
            batches[0], "k long, ts string, seq long, op string, v double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        batch0 = cdc_latest_snapshot(rows0, "k", "ts", "seq", "op", ["v"])
        assert self._canon(v0) == self._canon(batch0)
        assert {r[0] for r in self._canon(v0)} == {1, 2}  # 3's delete in batch 0
        with _pt.raises(ValueError) as ei:
            cdc_snapshot_version(spark, snap, 7)
        assert "not in the ledger" in str(ei.value)

    def test_ledger_vacuum_audit_dry_run(self, spark, tmp_path):
        """r14 (VERDICT r13 #8b): the VACUUM-style retention audit —
        per-version row/live/tombstone counts with the dry-run action a
        keep policy WOULD take; reads only (all versions still on disk
        after), late quarantine always 'keep', and the maintainer's
        keep≥2 replay floor enforced on the audit itself."""
        import glob
        import time as _time

        import pytest as _pt

        from mopso_engine.ext.streaming import (
            cdc_maintain_stream,
            ledger_vacuum_audit,
        )

        src = str(tmp_path / "changes_vac")
        batches = [
            [(1, "2024-01-01 00:00:00", 1, "U", 10.0),
             (2, "2024-01-01 06:00:00", 2, "U", 5.0)],
            [(3, "2024-01-02 00:00:00", 3, "D", 0.0),
             (1, "2024-01-02 06:00:00", 4, "U", 20.0)],
            [(2, "2024-01-03 00:00:00", 5, "D", 0.0)],
        ]
        for rows in batches:
            df = spark.createDataFrame(
                rows, "k long, ts string, seq long, op string, v double"
            )
            df.withColumn("ts", df.ts.cast("timestamp")).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.1)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        snap = str(tmp_path / "snap_vac")
        cdc_maintain_stream(
            stream, snap, str(tmp_path / "cp_vac"),
            key="k", ts="ts", seq="seq", op="op", payload=["v"],
            keep_versions=3,
        )
        # a synthetic late-quarantine version rides along in the audit
        spark.createDataFrame(
            [(9, "x"), (10, "y")], "k long, pay string"
        ).write.parquet(f"{snap}/late/v=5")
        got = [
            (r["kind"], r["version"], r["n_rows"], r["n_live"],
             r["n_tombstones"], r["action"])
            for r in ledger_vacuum_audit(
                spark, snap, keep_versions=2
            ).collect()
        ]
        assert got == [
            ("history", 0, 2, 2, 0, "retire"),
            ("history", 1, 3, 2, 1, "keep"),
            ("history", 2, 3, 1, 2, "keep"),
            ("late", 5, 2, 2, 0, "keep"),
        ]
        # DRY RUN: nothing was deleted
        assert len(glob.glob(f"{snap}/v=*")) == 3
        assert len(glob.glob(f"{snap}/late/v=*")) == 1
        with _pt.raises(ValueError) as ei:
            ledger_vacuum_audit(spark, snap, keep_versions=1)
        assert "replay-safety floor" in str(ei.value)

    def test_ledger_vacuum_audit_hostile_version_count_constant_jobs(
        self, spark, tmp_path
    ):
        """r15 (VERDICT r14 #6): a ledger drifted to ~50 versions — the
        exact failure the audit exists to catch — must be reported in a
        CONSTANT number of Spark jobs (one grouped read over all
        history versions + one over late + the result collect), not one
        sequential job per version. Also pins the two seams the single
        read must survive: a payload column literally named ``v`` (the
        version id parses from input_file_name, partition discovery
        would collide) and early epochs that PREDATE the ``op`` column
        (footer-merged; counted tombstone-free)."""
        from mopso_engine.ext.streaming import ledger_vacuum_audit

        snap = str(tmp_path / "snap_vac50")
        n_versions = 50
        for v in range(n_versions):
            if v < 3:  # pre-op epochs: schema without the op column
                df = spark.createDataFrame(
                    [(v, 1.0), (v, 2.0)], "k long, v double"
                )
            else:
                df = spark.createDataFrame(
                    [(v, "U", 1.0), (v, "D", 0.0)]
                    + ([(v, "D", 0.0)] if v % 2 else []),
                    "k long, op string, v double",
                )
            df.coalesce(1).write.parquet(f"{snap}/v={v}")
        spark.createDataFrame(
            [(9, "x"), (10, "y")], "k long, pay string"
        ).write.parquet(f"{snap}/late/v=7")

        sc = spark.sparkContext
        sc.setJobGroup("vac50", "hostile-version-count audit")
        try:
            got = {
                (r["kind"], r["version"]): (
                    r["n_rows"], r["n_live"], r["n_tombstones"], r["action"]
                )
                for r in ledger_vacuum_audit(
                    spark, snap, keep_versions=2
                ).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("vac50")
        assert 1 <= len(jobs) <= 10, (
            f"{len(jobs)} jobs for {n_versions} versions — the audit "
            f"must be constant-job, not one job per version"
        )

        assert len(got) == n_versions + 1
        for v in range(3):
            assert got[("history", v)] == (2, 2, 0, "retire")
        for v in range(3, n_versions):
            d = 2 if v % 2 else 1
            n = 2 + (1 if v % 2 else 0)
            action = "keep" if v >= n_versions - 2 else "retire"
            assert got[("history", v)] == (n, n - d, d, action), v
        assert got[("late", 7)] == (2, 2, 0, "keep")

    def test_scd2_history_version_reads_exact_and_retired_raises(
        self, spark, tmp_path
    ):
        """The SCD2 ledger twin: scd2_history_version must serve the
        EXACT requested version (scd2_history_latest's below=N+1
        fallback would silently serve an older survivor) and raise on
        a never-committed one."""
        import pytest as _pt

        from mopso_engine.ext.streaming import scd2_history_version

        hist = str(tmp_path / "hist")
        spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
            f"{hist}/v=0"
        )
        spark.createDataFrame([(1, "b")], "k long, v string").write.parquet(
            f"{hist}/v=3"
        )
        assert scd2_history_version(spark, hist, 0).collect()[0]["v"] == "a"
        assert scd2_history_version(spark, hist, 3).collect()[0]["v"] == "b"
        with _pt.raises(ValueError) as ei:
            scd2_history_version(spark, hist, 2)  # 0 and 3 exist; 2 never did
        assert "not in the ledger" in str(ei.value)


def test_state_width_for_keys_bounds():
    """The key-scale stream shard derivation (r17): 1 at the floor,
    proportional in the middle, capped at the session width."""
    from mopso_engine.ext.streaming import (
        _STATE_ROWS_PER_PARTITION,
        state_width_for_keys,
    )

    assert state_width_for_keys(0, 64) == 1
    assert state_width_for_keys(1, 64) == 1
    assert state_width_for_keys(_STATE_ROWS_PER_PARTITION, 64) == 1
    assert state_width_for_keys(_STATE_ROWS_PER_PARTITION + 1, 64) == 2
    assert state_width_for_keys(10**12, 64) == 64  # session cap holds
