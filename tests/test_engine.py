import numpy as np
import pytest

from mopso_engine import MopsoConfig, MopsoEngine
from mopso_engine.pareto import non_dominated_mask


@pytest.fixture(scope="module")
def small_cfg():
    return MopsoConfig(n_particles=8, iter_max=3, knn_l=5, seed=42, init_sample_size=300)


def test_fit_end_to_end(blobs_df, small_cfg, blobs):
    _, x, labels, _ = blobs
    eng = MopsoEngine(small_cfg)
    res = eng.fit(blobs_df)
    assert res.n_points == len(x)
    assert res.k == 3
    assert 1 <= len(res.archive_positions) <= small_cfg.archive_capacity
    assert non_dominated_mask(res.archive_fitness).all()
    assert res.archive_fitness_normalized.min() >= 0.0
    assert res.archive_fitness_normalized.max() <= 1.0
    ev = eng.evaluate(blobs_df, res)
    assert ev["purity"] > 0.9  # easy blobs: near-perfect clustering


def test_fit_deterministic_same_seed(blobs_df, small_cfg):
    r1 = MopsoEngine(small_cfg).fit(blobs_df)
    r2 = MopsoEngine(small_cfg).fit(blobs_df)
    np.testing.assert_allclose(r1.archive_fitness, r2.archive_fitness, rtol=1e-12)
    np.testing.assert_allclose(r1.best_position, r2.best_position, rtol=1e-12)


def test_fit_partition_count_invariance_exact_mode(spark, blobs_df, small_cfg):
    """exact fitness mode: results independent of partitioning (SURVEY §5.5)."""
    r1 = MopsoEngine(small_cfg).fit(blobs_df.repartition(2))
    r2 = MopsoEngine(small_cfg).fit(blobs_df.repartition(7))
    np.testing.assert_allclose(
        np.sort(r1.archive_fitness, axis=0), np.sort(r2.archive_fitness, axis=0), rtol=1e-9
    )


def test_variant_factory_flags():
    s = MopsoConfig.variant("single")
    assert (s.w_schedule, s.crowding_formula, s.c1, s.c2) == ("decreasing", "product", 1.42, 1.63)
    assert s.position_bounds and s.bug_compat.pbest_inverted and not s.bug_compat.pbest_frozen
    a = MopsoConfig.variant("avg")
    assert (a.w_schedule, a.crowding_formula, a.fitness_mode) == ("increasing", "avg", "partition_local")
    assert a.bug_compat.pbest_frozen
    p = MopsoConfig.variant("particle")
    assert not p.velocity_resample and p.fitness_mode == "exact"
    assert MopsoConfig.variant("avg_label", iter_max=7).iter_max == 7
    with pytest.raises(ValueError):
        MopsoConfig.variant("nope")


def test_variant_avg_runs_e2e(blobs_df):
    cfg = MopsoConfig.variant("avg", n_particles=4, iter_max=2, knn_l=5, seed=2)
    res = MopsoEngine(cfg).fit(blobs_df.repartition(3))
    assert len(res.archive_positions) >= 1


def test_w_schedules():
    cfg = MopsoConfig(iter_max=30)
    assert cfg.w_at(0) == pytest.approx(0.9)
    assert cfg.w_at(30) == pytest.approx(0.4)
    inc = MopsoConfig(iter_max=30, w_schedule="increasing")
    # as-implemented reference formula grows past 1 (Spark_MOPSO_Avg.scala:199)
    assert inc.w_at(30) == pytest.approx((0.9 + 30 * 0.5) / 30)


def test_silhouette_selection(blobs_df):
    cfg = MopsoConfig(n_particles=4, iter_max=1, knn_l=5, seed=3, select_best="silhouette")
    res = MopsoEngine(cfg).fit(blobs_df)
    assert 0 <= res.best_index < len(res.archive_positions)


def test_partition_census(blobs_df):
    from mopso_engine.metrics import partition_census

    rows = partition_census(blobs_df.repartition(3)).collect()
    assert sum(r["n"] for r in rows) == blobs_df.count()
    assert {r["partition"] for r in rows} <= {0, 1, 2}


def test_partition_local_mode_runs(blobs_df):
    cfg = MopsoConfig(n_particles=4, iter_max=2, knn_l=5, fitness_mode="partition_local", seed=1)
    res = MopsoEngine(cfg).fit(blobs_df.repartition(3))
    assert len(res.archive_positions) >= 1


def test_avg_label_layout_reproducible(blobs_df):
    """AvgLabel semantics (SURVEY §7.4.4): with a DETERMINISTIC layout —
    repartition(n, 'label') — partition_local fitness is reproducible
    run-to-run (random round-robin layouts are documented as not)."""
    cfg = MopsoConfig.variant("avg_label", n_particles=4, iter_max=2, knn_l=5, seed=9)
    r1 = MopsoEngine(cfg).fit(blobs_df.repartition(2, "label"))
    r2 = MopsoEngine(cfg).fit(blobs_df.repartition(2, "label"))
    np.testing.assert_allclose(
        np.sort(r1.archive_fitness, axis=0), np.sort(r2.archive_fitness, axis=0), rtol=1e-12
    )


def test_lsh_knn_mode_fit_runs(blobs_df):
    """knn_mode='lsh' — the approximate big-N Conn path — end to end."""
    cfg = MopsoConfig(n_particles=3, iter_max=1, knn_l=5, knn_mode="lsh", seed=5)
    res = MopsoEngine(cfg).fit(blobs_df)
    assert len(res.archive_positions) >= 1
    assert np.isfinite(res.archive_fitness).all()


def test_partition_local_survives_empty_and_singleton_partitions(spark):
    """More partitions than rows → empty partitions and 1-row partitions
    (no neighbors) must not crash the local-kNN kernel."""
    rows = [(i, [float(i), 0.0], 1 + i % 2) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label int").repartition(10)
    cfg = MopsoConfig(k=2, n_particles=3, iter_max=1, knn_l=3, fitness_mode="partition_local", seed=0)
    res = MopsoEngine(cfg).fit(df)
    assert len(res.archive_positions) >= 1


def test_avg_label_engine_affordance_replays_identically(blobs_df):
    """partition_by_label=True: the ENGINE owns the label co-location
    (Spark_MOPSO_Avg_labelPartition.scala:77-85) — no caller repartition —
    and two seeded fits produce bit-identical archives."""
    cfg = MopsoConfig.variant("avg_label", n_particles=4, iter_max=2, knn_l=5, seed=9)
    assert cfg.partition_by_label
    r1 = MopsoEngine(cfg).fit(blobs_df)
    r2 = MopsoEngine(cfg).fit(blobs_df)
    np.testing.assert_array_equal(r1.archive_fitness, r2.archive_fitness)
    for p1, p2 in zip(r1.archive_positions, r2.archive_positions):
        np.testing.assert_array_equal(p1, p2)


def test_rescore_agrees_beyond_exact_knn_ceiling(blobs_df, small_cfg, monkeypatch):
    """VERDICT r2 #4: a fit whose N exceeds MAX_EXACT_KNN_ROWS falls back
    to partition-local neighbors — the rescore must replay THOSE
    semantics (same layout, same pair generator) instead of raising in
    knn_pairs_exact. Force the fallback by shrinking the ceiling, then
    check the relational rescore agrees with the fitness kernel."""
    import math

    import mopso_engine.objectives as obj
    from mopso_engine.rescore import rescore_archive

    monkeypatch.setattr(obj, "MAX_EXACT_KNN_ROWS", 50)  # blobs >> 50 rows
    res = MopsoEngine(small_cfg).fit(blobs_df)
    assert res.knn_mode_used == "partition_local"
    assert res.layout_partitions is not None
    rows = rescore_archive(
        blobs_df,
        res.archive_positions,
        knn_l=small_cfg.knn_l,
        n_rows=res.n_points,
        knn_mode=res.knn_mode_used,
        layout_partitions=res.layout_partitions,
    )
    assert len(rows) == len(res.archive_positions)
    for s, dev, conn in rows:
        kd, kc = (float(v) for v in res.archive_fitness[s])
        assert math.isclose(kd, dev, rel_tol=1e-6)
        assert math.isclose(kc, conn, rel_tol=1e-6)


def test_exact_mode_layout_invariance_bitwise(blobs_df, small_cfg):
    """The engine's hash-by-id layout makes an exact-mode fit BIT-identical
    regardless of the caller's partitioning (the property the post-hoc fit
    oracle relies on)."""
    r1 = MopsoEngine(small_cfg).fit(blobs_df.repartition(2))
    r2 = MopsoEngine(small_cfg).fit(blobs_df.repartition(7))
    np.testing.assert_array_equal(r1.archive_fitness, r2.archive_fitness)
    np.testing.assert_array_equal(r1.best_position, r2.best_position)


class TestCheckpointResume:
    def test_resume_bit_identical(self, blobs_df, tmp_path):
        """fit(6 iters) == fit(3 iters, checkpoint) + resume(to 6),
        bit-for-bit: archive positions, fitness, and history."""
        import numpy as np
        from mopso_engine import MopsoConfig, MopsoEngine

        cfg = MopsoConfig(iter_max=6, n_particles=6, knn_l=5, seed=42, init_sample_size=300)
        straight = MopsoEngine(cfg).fit(blobs_df)

        cp = str(tmp_path / "cp")
        import os
        os.makedirs(cp, exist_ok=True)
        # interrupt after 3 of the SAME 6-iteration schedule (stop_after,
        # not a smaller iter_max: the w schedule is a function of
        # iter_max, so a 3-budget fit is not a prefix of a 6-budget one)
        partial = MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, stop_after=3)
        assert partial.iterations == 3
        resumed = MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, resume=True)
        np.testing.assert_array_equal(
            np.stack(straight.archive_positions), np.stack(resumed.archive_positions)
        )
        np.testing.assert_array_equal(straight.archive_fitness, resumed.archive_fitness)
        assert straight.history == resumed.history
        assert resumed.best_index == straight.best_index
        # ADVICE r11: the one-off checkpoint load + kNN cache build is
        # reported as its own resume_load phase INSIDE setup, so a
        # resumed fit's sec_per_iter stays a pure kernel number
        assert resumed.phase_sec.get("resume_load") is not None
        assert resumed.phase_sec["resume_load"] <= resumed.phase_sec["setup"] + 1e-9
        assert "resume_load" not in straight.phase_sec

    def test_resume_rejects_foreign_checkpoint(self, blobs_df, tmp_path):
        import os
        import pytest as _pt
        from mopso_engine import MopsoConfig, MopsoEngine

        cp = str(tmp_path / "cp2")
        os.makedirs(cp, exist_ok=True)
        kw = dict(iter_max=4, n_particles=6, knn_l=5, init_sample_size=300)
        MopsoEngine(MopsoConfig(seed=42, **kw)).fit(
            blobs_df, checkpoint_dir=cp, stop_after=2
        )
        with _pt.raises(ValueError, match="different fit"):
            MopsoEngine(MopsoConfig(seed=43, **kw)).fit(
                blobs_df, checkpoint_dir=cp, resume=True
            )


def test_early_stop_triggers_on_constant_front(blobs_df, monkeypatch):
    """With the fitness forced constant the front still GROWS while the
    archive fills (4 equal-fitness entries join per iteration: 4 pre-loop
    → 8 → 12 → capacity 15 at iter 3), then freezes — so patience=2
    stops the loop at iteration 5 (first two consecutive identical
    fronts: iters 4 and 5). With early stopping OFF the same fit runs
    the full budget."""
    import numpy as np
    import mopso_engine.engine as eng_mod
    from mopso_engine import MopsoConfig, MopsoEngine

    def const_fitness(nbr, positions, **kw):
        return np.tile(np.array([100.0, 50.0]), (len(positions), 1))

    monkeypatch.setattr(eng_mod, "evaluate_solutions", const_fitness)
    cfg = MopsoConfig(iter_max=10, n_particles=4, knn_l=5, seed=7, init_sample_size=300)
    stopped = MopsoEngine(cfg).fit(blobs_df, early_stop_patience=2)
    assert stopped.iterations == 5
    assert all(h["best_dev"] == 100.0 for h in stopped.history)
    full = MopsoEngine(cfg).fit(blobs_df)
    assert full.iterations == 10


def test_early_stop_prefix_exact(blobs_df):
    """When early stop fires on a real fit it must truncate, never
    perturb: the stopped run's history is a prefix of the straight
    run's. (If the fixture never converges inside the budget, the two
    runs are identical end-to-end — the assertion still holds.)"""
    from mopso_engine import MopsoConfig, MopsoEngine

    cfg = MopsoConfig(iter_max=12, n_particles=6, knn_l=5, seed=7, init_sample_size=300)
    stopped = MopsoEngine(cfg).fit(blobs_df, early_stop_patience=2)
    straight = MopsoEngine(cfg).fit(blobs_df)
    k = stopped.iterations
    assert [h["best_dev"] for h in straight.history[:k]] == [
        h["best_dev"] for h in stopped.history
    ]


def test_early_stop_streak_survives_resume(blobs_df, tmp_path, monkeypatch):
    """The early-stop streak is checkpointed: interrupting mid-streak and
    resuming must stop at the SAME iteration as the uninterrupted run
    (with constant fitness: stop at iteration 5, see above)."""
    import os
    import numpy as np
    import mopso_engine.engine as eng_mod
    from mopso_engine import MopsoConfig, MopsoEngine

    def const_fitness(nbr, positions, **kw):
        return np.tile(np.array([100.0, 50.0]), (len(positions), 1))

    monkeypatch.setattr(eng_mod, "evaluate_solutions", const_fitness)
    cfg = MopsoConfig(iter_max=10, n_particles=4, knn_l=5, seed=7, init_sample_size=300)
    cp = str(tmp_path / "cp_es")
    os.makedirs(cp, exist_ok=True)
    # interrupt at iteration 4: streak is 1 (fronts identical at 3→4)
    MopsoEngine(cfg).fit(blobs_df, checkpoint_dir=cp, stop_after=4, early_stop_patience=2)
    resumed = MopsoEngine(cfg).fit(
        blobs_df, checkpoint_dir=cp, resume=True, early_stop_patience=2
    )
    assert resumed.iterations == 5  # not 6: the pre-interrupt streak counted


def test_fit_releases_persisted_tables_when_it_raises(spark, blobs_df, monkeypatch):
    """fit persists its points and neighbor tables; a fit that raises
    part-way must still unpersist both."""
    import mopso_engine.engine as eng_mod

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    blobs_df.count()  # the session fixture's own cache is not the fit's
    before = persisted()
    held_during_fit = []

    def failing_fitness(nbr, positions, **kw):
        held_during_fit.append(persisted() - before)
        raise RuntimeError("fitness pass failed")

    monkeypatch.setattr(eng_mod, "evaluate_solutions", failing_fitness)
    cfg = MopsoConfig(n_particles=4, iter_max=2, knn_l=5, seed=3, init_sample_size=300)
    with pytest.raises(RuntimeError, match="fitness pass failed"):
        MopsoEngine(cfg).fit(blobs_df)
    assert len(held_during_fit[0]) >= 2  # points + neighbor tables were cached
    assert persisted() == before
