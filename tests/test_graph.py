"""ext.graph.pagerank: from-scratch python replay + invariants."""
import pytest
from pyspark.sql import functions as F

from mopso_engine.ext.graph import pagerank


def _pagerank_py(edges, iters=6, damping_pct=85, unit=1_000_000):
    """Independent integer replay of the documented update rule."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    teleport = (100 - damping_pct) * unit // 100
    units = {n: unit for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += units[s] // outdeg[s]
        units = {n: teleport + (damping_pct * inc[n]) // 100 for n in nodes}
    return units


FIXTURE = [
    # a hub (1) feeding 2..5, a 2-cycle, a sink-only node 9
    (1, 2), (1, 3), (1, 4), (1, 5),
    (2, 1), (3, 1), (4, 1), (5, 1),
    (6, 7), (7, 6),
    (2, 9), (3, 9),
]


def test_pagerank_matches_python_replay(spark):
    df = spark.createDataFrame(FIXTURE, "src long, dst long")
    got = {r["node"]: r["units"] for r in pagerank(df, iters=6).collect()}
    want = _pagerank_py(FIXTURE, iters=6)
    assert got == want


def test_pagerank_hub_ranks_highest_and_sink_receives(spark):
    df = spark.createDataFrame(FIXTURE, "src long, dst long")
    got = {r["node"]: r["units"] for r in pagerank(df, iters=6).collect()}
    # node 1 receives the full rank of four spokes -> strictly the max
    assert got[1] == max(got.values())
    # sink-only node 9 still gets teleport + damped inflow, > teleport
    assert got[9] > 150_000
    # all nodes present (including the sink that never appears as src)
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 9}


def test_pagerank_dedups_and_ignores_nulls(spark):
    dup = FIXTURE + FIXTURE  # duplicate every edge
    df = spark.createDataFrame(
        dup + [(None, 1), (1, None)], "src long, dst long"
    )
    got = {r["node"]: r["units"] for r in pagerank(df, iters=3).collect()}
    want = _pagerank_py(FIXTURE, iters=3)
    assert got == want


def test_pagerank_rejects_bad_params(spark):
    df = spark.createDataFrame(FIXTURE, "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=0)
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


def _tree_exchange_count(df):
    """Count live ShuffleExchange nodes by traversing the physical-plan
    TREE (cached relations' stored plans are only rendered in toString,
    they are not children, so persisted inputs do not pollute the count)."""
    def walk(node):
        n = 1 if "ShuffleExchange" in node.getClass().getSimpleName() else 0
        kids = node.children()
        for i in range(kids.size()):
            n += walk(kids.apply(i))
        return n

    return walk(df._jdf.queryExecution().executedPlan())


def test_pagerank_iteration_plan_has_one_live_exchange(spark):
    """The per-iteration shape: the ONLY live Exchange between the cached
    inputs and the next rank vector is the groupBy(dst) hash aggregate --
    the ranks-by-edges probe and the nodes-by-incoming patch reuse the
    node/src hash partitionings established once up front (persist keeps
    outputPartitioning visible to Catalyst; localCheckpoint would hide it
    behind an ExistingRDD scan and force three shuffles per round).
    Mirrors ext.graph.pagerank's loop body exactly; AQE + broadcast are
    disabled so the count reflects the at-scale SMJ static plan."""
    df = spark.createDataFrame(FIXTURE, "src long, dst long")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    e = df.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    esrc = e.join(deg, "src").repartition(8, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(8, "node")
        .persist()
    )
    r1 = None
    try:
        r0 = nodes.select("node", F.lit(1_000_000).cast("long").alias("units"))

        def one_round(r):
            inc = (
                r.join(esrc, r["node"] == esrc["src"])
                .select(
                    F.col("dst").alias("node"),
                    F.expr("units div outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("inc"))
            )
            return nodes.join(inc, "node", "left").select(
                "node",
                (F.lit(150_000) + F.expr("(85 * coalesce(inc, 0L)) div 100"))
                .cast("long")
                .alias("units"),
            )

        r1 = one_round(r0).persist()
        r1.count()
        # the NEXT round, planned on top of the cached rank vector
        assert _tree_exchange_count(one_round(r1)) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        if r1 is not None:
            r1.unpersist()
        esrc.unpersist()
        nodes.unpersist()


def test_pagerank_unpersists_internals_and_registry_clears(spark):
    from mopso_engine.scope import query_scope

    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(FIXTURE, "src long, dst long")
    with query_scope():
        out = pagerank(df, iters=2)
        assert out.count() == 8
        # only the returned rank vector remains cached
        assert jsc.getPersistentRDDs().size() == base + 1
    # the scope released it
    assert jsc.getPersistentRDDs().size() == base


class TestCooccurrenceAffinity:
    def test_python_replay(self, spark):
        from itertools import combinations

        from mopso_engine.ext.graph import cooccurrence_affinity

        baskets = {
            1: [10, 20, 30],
            2: [10, 20],
            3: [10, 40],
            4: [20, 30, 40, 40],  # dup item must collapse
            5: [50],  # singleton basket contributes no pairs
        }
        rows = [(b, i) for b, items in baskets.items() for i in items]
        df = spark.createDataFrame(rows, "basket long, item long")
        got = {
            (r["item_a"], r["item_b"]): (r["cnt"], r["lift_micro"])
            for r in cooccurrence_affinity(
                df, basket_col="basket", item_col="item", top_k=100
            ).collect()
        }

        import math
        from collections import Counter

        sets = {b: sorted(set(v)) for b, v in baskets.items()}
        cnt = Counter()
        for items in sets.values():
            for a, b in combinations(items, 2):
                cnt[(a, b)] += 1
        sup = Counter(i for items in sets.values() for i in items)
        n = len(sets)
        want = {
            p: (c, math.floor(float(c) * n / (sup[p[0]] * sup[p[1]]) * 1e6 + 0.5))
            for p, c in cnt.items()
        }
        assert got == want
        # lift sanity: (10,20) co-occur 2 of 5 baskets, sup 3*3
        assert got[(10, 20)] == (2, math.floor(2 * 5 / 9 * 1e6 + 0.5))

    def test_topk_cut_is_deterministic(self, spark):
        from mopso_engine.ext.graph import cooccurrence_affinity

        rows = [(b, i) for b in range(6) for i in (1, 2, 3)]
        df = spark.createDataFrame(rows, "basket long, item long")
        out = cooccurrence_affinity(
            df, basket_col="basket", item_col="item", top_k=2
        ).collect()
        # all three pairs tie at cnt=6 -> (item_a, item_b) breaks the cut
        assert [(r["item_a"], r["item_b"]) for r in out] == [(1, 2), (1, 3)]


class TestTriangleCounts:
    @staticmethod
    def _replay(edges):
        """Brute-force: count triangles per node via set intersection."""
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        tri = defaultdict(int)
        seen = set()
        for u in adj:
            for v in adj[u]:
                for w in adj[u] & adj[v]:
                    key = tuple(sorted((u, v, w)))
                    if key not in seen:
                        seen.add(key)
                        for n in key:
                            tri[n] += 1
        return dict(tri)

    def test_matches_bruteforce_on_random_graph(self, spark):
        import random

        from mopso_engine.ext.graph import triangle_counts

        rng = random.Random(17)
        edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(120)}
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
        assert got == self._replay(edges)
        assert got, "fixture should contain at least one triangle"

    def test_counts_each_triangle_once_with_hubs(self, spark):
        from mopso_engine.ext.graph import triangle_counts

        # hub 0 connected to everyone; spokes form a path 1-2-3-4 ->
        # triangles (0,1,2), (0,2,3), (0,3,4); duplicate + reversed
        # edges must not double-count
        edges = [(0, i) for i in range(1, 5)] + [(1, 2), (2, 3), (3, 4)]
        edges += [(b, a) for a, b in edges] + edges
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
        assert got == {0: 3, 1: 1, 2: 2, 3: 2, 4: 1}

    def test_triangle_free_graph_yields_empty(self, spark):
        from mopso_engine.ext.graph import triangle_counts

        # bipartite = triangle-free
        edges = [(a, 100 + b) for a in range(5) for b in range(5)]
        df = spark.createDataFrame(edges, "src long, dst long")
        assert triangle_counts(df).count() == 0


def _ppr_py(edges, seeds, iters=6, damping_pct=85, unit=1_000_000):
    """Integer replay of the seed-personalized update rule."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    teleport = (100 - damping_pct) * unit // 100
    units = {n: (unit if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += units[s] // outdeg[s]
        units = {
            n: (teleport if n in seeds else 0) + (damping_pct * inc[n]) // 100
            for n in nodes
        }
    return units


class TestPersonalizedPagerank:
    def test_matches_python_replay(self, spark):
        df = spark.createDataFrame(FIXTURE, "src long, dst long")
        got = {
            r["node"]: r["units"]
            for r in pagerank(df, iters=5, seeds=[6]).collect()
        }
        assert got == _ppr_py(FIXTURE, {6}, iters=5)

    def test_mass_localizes_to_seed_component(self, spark):
        df = spark.createDataFrame(FIXTURE, "src long, dst long")
        got = {
            r["node"]: r["units"]
            for r in pagerank(df, iters=6, seeds=[6]).collect()
        }
        # the 6-7 cycle holds all the mass; the disconnected hub
        # component receives none
        assert got[6] > 0 and got[7] > 0
        assert all(got[n] == 0 for n in (1, 2, 3, 4, 5, 9))

    def test_empty_seed_list_rejected(self, spark):
        df = spark.createDataFrame(FIXTURE, "src long, dst long")
        with pytest.raises(ValueError):
            pagerank(df, seeds=[])


class TestKcore:
    @staticmethod
    def _kcore_py(edges, k):
        E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        while True:
            from collections import Counter

            deg = Counter()
            for a, b in E:
                deg[a] += 1
                deg[b] += 1
            keep = {n for n, d in deg.items() if d >= k}
            E2 = {(a, b) for a, b in E if a in keep and b in keep}
            if E2 == E:
                return {n: d for n, d in deg.items() if n in keep and d >= k}
            E = E2

    def test_matches_exact_kcore_when_converged(self, spark):
        import random

        from mopso_engine.ext.graph import kcore

        rng = random.Random(31)
        edges = {(rng.randrange(25), rng.randrange(25)) for _ in range(90)}
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["deg"] for r in kcore(df, k=3, rounds=25).collect()}
        assert got == self._kcore_py(edges, 3)

    def test_cascading_peel_and_monotone_extra_rounds(self, spark):
        from mopso_engine.ext.graph import kcore

        # K4 core {0,1,2,3} + a pendant chain 3-10-11-12: the chain
        # peels one node per round (cascade depth 3)
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        chain = [(3, 10), (10, 11), (11, 12)]
        df = spark.createDataFrame(k4 + chain, "src long, dst long")
        got = {r["node"]: r["deg"] for r in kcore(df, k=2, rounds=5).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}
        # monotone: extra rounds change nothing once converged
        again = {r["node"]: r["deg"] for r in kcore(df, k=2, rounds=8).collect()}
        assert again == got

    def test_guards(self, spark):
        from mopso_engine.ext.graph import kcore

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            kcore(df, k=0)
        with pytest.raises(ValueError):
            kcore(df, rounds=0)


class TestLabelPropagation:
    @staticmethod
    def _lpa_py(edges, rounds):
        from collections import Counter, defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        lab = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n in adj:
                cnt = Counter(lab[v] for v in adj[n])
                best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            lab = new
        return lab

    def test_matches_python_replay(self, spark):
        import random

        from mopso_engine.ext.graph import label_propagation

        rng = random.Random(41)
        edges = {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["label"] for r in label_propagation(df, rounds=4).collect()}
        assert got == self._lpa_py(edges, 4)

    def test_two_cliques_converge_to_two_communities(self, spark):
        from mopso_engine.ext.graph import label_propagation

        c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        c2 = [(10 + a, 10 + b) for a in range(5) for b in range(a + 1, 5)]
        bridge = [(4, 10)]
        df = spark.createDataFrame(c1 + c2 + bridge, "src long, dst long")
        got = {r["node"]: r["label"] for r in label_propagation(df, rounds=6).collect()}
        # each clique agrees internally on the min label (ties -> min)
        assert len({got[n] for n in range(5)}) == 1
        assert len({got[n] for n in range(10, 15)}) == 1
        assert got[0] != got[11]

    def test_guard(self, spark):
        from mopso_engine.ext.graph import label_propagation

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            label_propagation(df, rounds=0)


class TestBfsLevels:
    def test_matches_python_replay_on_path_and_unreached(self, spark):
        from collections import deque

        from mopso_engine.ext.graph import bfs_levels
        from mopso_engine.scope import query_scope

        # chain 1->2->3->4->5->6->7 (directed), a shortcut 1->4, a
        # 2-node island {100->101}, and a duplicate + null edge to drop
        edges = [
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
            (1, 4), (1, 2), (100, 101), (None, 9),
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        with query_scope():
            got = {
                r["node"]: r["dist"]
                for r in bfs_levels(df, [1], iters=6).collect()
            }
        adj = {}
        for s, d in edges:
            if s is not None and d is not None:
                adj.setdefault(s, set()).add(d)
        want = {n: None for n in set(adj) | {d for v in adj.values() for d in v}}
        want[1] = 0
        q = deque([1])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if want[v] is None:
                    want[v] = want[u] + 1
                    q.append(v)
        assert got == want
        assert got[4] == 1  # direct shortcut wins over the 3-hop chain
        assert got[100] is None and got[101] is None  # island unreached

    def test_multi_source_takes_nearest_seed(self, spark):
        from mopso_engine.ext.graph import bfs_levels
        from mopso_engine.scope import query_scope

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 4)], "src long, dst long"
        )
        with query_scope():
            got = {
                r["node"]: r["dist"]
                for r in bfs_levels(df, [1, 10], iters=4).collect()
            }
        assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 2}

    def test_guards(self, spark):
        from mopso_engine.ext.graph import bfs_levels

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            bfs_levels(df, [], iters=3)
        with pytest.raises(ValueError):
            bfs_levels(df, [1], iters=0)
        with pytest.raises(ValueError):
            bfs_levels(df, [1], materialize_every=0)


def test_graph_phase_telemetry_covers_all_rounds(spark):
    """VERDICT r11 #2: pagerank and bfs_levels report a setup/blocks
    wall decomposition through the query scope's PHASES so a slow bench
    entry self-adjudicates. The blocks must tile the whole loop: one entry
    per materialization, the last one at the final executed round."""
    from mopso_engine.ext.graph import bfs_levels, pagerank
    from mopso_engine.scope import PHASES, query_scope

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)], "src long, dst long"
    )
    with query_scope():
        bfs_levels(df, [1], iters=6, materialize_every=3).collect()
    ph = dict(PHASES)
    assert ph["op"] == "bfs_levels" and ph["setup"] >= 0
    assert [b["through_round"] for b in ph["blocks"]] == [3, 6]
    assert ph["n_rounds_run"] == 6

    with query_scope():
        pagerank(df, iters=6, materialize_every=3).collect()
    ph = dict(PHASES)
    assert ph["op"] == "pagerank"
    assert [b["through_iter"] for b in ph["blocks"]] == [3, 6]
    assert ph["n_iters_run"] == 6
