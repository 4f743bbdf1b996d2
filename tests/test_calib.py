"""Isotonic calibration (ext.calib): exact-integer PAVA + the
distributed bucket aggregation, against from-scratch replays."""

import random
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from mopso_engine.ext.calib import (
    isotonic_calibrate,
    pava_fit,
    rate_micro,
)
from mopso_engine.scope import query_scope


def _reference_pava(rows):
    """Independent replay: repeatedly merge the FIRST adjacent
    violation (different traversal than the production stack-based
    scan — the isotonic L2 projection is unique, so they must agree).
    Pool rates handled as exact Fractions."""
    pools = [
        {"n": n, "p": p, "bs": [b], "r": Fraction(p, n)}
        for b, n, p in sorted(rows)
    ]
    changed = True
    while changed:
        changed = False
        for i in range(len(pools) - 1):
            if pools[i]["r"] > pools[i + 1]["r"]:
                a, b = pools[i], pools.pop(i + 1)
                a["n"] += b["n"]
                a["p"] += b["p"]
                a["bs"] += b["bs"]
                a["r"] = Fraction(a["p"], a["n"])
                changed = True
                break
    out = {}
    for pl in pools:
        m = rate_micro(pl["p"], pl["n"])
        for b in pl["bs"]:
            out[b] = m
    return out


class TestPavaFit:
    def test_matches_independent_replay_on_random_tables(self):
        random.seed(11)
        for trial in range(50):
            rows = [
                (b, n, random.randint(0, n))
                for b, n in enumerate(
                    random.randint(1, 40) for _ in range(random.randint(1, 30))
                )
            ]
            got = pava_fit(rows)
            assert got == _reference_pava(rows), rows
            # non-decreasing in bucket
            vals = [got[b] for b, _, _ in sorted(rows)]
            assert vals == sorted(vals)

    def test_monotone_input_is_untouched_and_reversal_pools_fully(self):
        inc = [(0, 10, 1), (1, 10, 5), (2, 10, 9)]
        assert pava_fit(inc) == {0: 100000, 1: 500000, 2: 900000}
        dec = [(0, 10, 9), (1, 10, 5), (2, 10, 1)]
        # total pool: 15/30 = 0.5
        assert pava_fit(dec) == {0: 500000, 1: 500000, 2: 500000}

    def test_guards(self):
        with pytest.raises(ValueError):
            pava_fit([(0, 5, 1), (0, 3, 1)])  # duplicate bucket
        with pytest.raises(ValueError):
            pava_fit([(0, 0, 0)])  # empty bucket
        with pytest.raises(ValueError):
            pava_fit([(0, 3, 4)])  # positives > n
        with pytest.raises(ValueError):
            rate_micro(1, 0)


class TestIsotonicCalibrate:
    def test_end_to_end_matches_python(self, spark):
        random.seed(3)
        rows = []
        # planted: positive rate rises with bucket but bucket 2 dips
        rates = {0: 0.1, 1: 0.4, 2: 0.2, 3: 0.8}
        for b, r in rates.items():
            for i in range(50):
                rows.append((b, 1 if random.random() < r else 0))
        df = spark.createDataFrame(rows, "vb long, y int")
        with query_scope():
            out = {
                r["bucket"]: (r["n"], r["positives"], r["raw_micro"], r["iso_micro"])
                for r in isotonic_calibrate(df, "vb", "y").collect()
            }
        # exact python replay of the aggregation + shared pava
        from collections import Counter

        n = Counter(b for b, _ in rows)
        p = Counter(b for b, y in rows if y)
        fit = pava_fit([(b, n[b], p[b]) for b in n])
        want = {
            b: (n[b], p[b], rate_micro(p[b], n[b]), fit[b]) for b in n
        }
        assert out == want
        iso = [v[3] for _, v in sorted(out.items())]
        assert iso == sorted(iso)  # the monotone contract


class TestWoeIv:
    def test_fit_matches_fraction_replay(self):
        """woe_micro vs an independent Fraction/math replay; iv from the
        quantized woe by exact rational round-half-up."""
        import math
        import random

        from mopso_engine.ext.calib import woe_iv_fit

        random.seed(23)
        for _ in range(30):
            cats = random.randint(2, 8)
            rows = []
            for c in range(cats):
                n = random.randint(2, 500)
                p = random.randint(1, n - 1)  # both classes present
                rows.append((f"c{c}", n, p))
            got = woe_iv_fit(rows)
            P = sum(p for _, _, p in rows)
            N = sum(n - p for _, n, p in rows)
            for c, n, p in rows:
                q = n - p
                woe = math.floor(math.log((p * N) / (q * P)) * 1_000_000 + 0.5)
                num = (p * N - q * P) * woe
                den = P * N
                iv = (2 * num + den) // (2 * den)
                assert got[c] == (woe, iv), (c, n, p)
            # IV contribution signs: a category with dist_pos > dist_neg
            # has positive woe AND positive iv (both factors flip
            # together), so iv >= 0 up to the one-microunit quantization
            for c, n, p in rows:
                assert got[c][1] >= -1

    def test_fit_guards(self):
        from mopso_engine.ext.calib import woe_iv_fit

        with pytest.raises(ValueError, match="duplicate"):
            woe_iv_fit([("a", 5, 1), ("a", 5, 2)])
        with pytest.raises(ValueError, match="zero class"):
            woe_iv_fit([("a", 5, 0), ("b", 5, 2)])
        with pytest.raises(ValueError, match="zero class"):
            woe_iv_fit([("a", 5, 5), ("b", 5, 2)])
        with pytest.raises(ValueError, match="bad row"):
            woe_iv_fit([("a", 0, 0)])

    def test_encode_matches_python_replay(self, spark):
        """The distributed aggregate + literal join equals a from-scratch
        Counter replay through the same shared fit."""
        import random
        from collections import Counter

        from mopso_engine.ext.calib import woe_iv_encode, woe_iv_fit

        random.seed(31)
        rows = [
            (random.choice("abcd"), 1 if random.random() < 0.3 else 0)
            for _ in range(2000)
        ]
        # ensure both classes per category for the fixture
        rows += [(c, 0) for c in "abcd"] + [(c, 1) for c in "abcd"]
        df = spark.createDataFrame(rows, "cat string, y int")
        with query_scope():
            out = {
                r["category"]: (r["n"], r["pos"], r["woe_micro"], r["iv_micro"])
                for r in woe_iv_encode(df, "cat", "y").collect()
            }
        n = Counter(c for c, _ in rows)
        p = Counter(c for c, y in rows if y)
        fit = woe_iv_fit([(c, n[c], p[c]) for c in n])
        want = {c: (n[c], p[c], fit[c][0], fit[c][1]) for c in n}
        assert out == want
