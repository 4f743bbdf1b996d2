"""mopso_engine.scope: one query scope releases what a query persisted or
broadcast, and carries the query's phase walls."""

import os

import pytest

from mopso_engine import MopsoConfig, MopsoEngine
from mopso_engine import scope
from mopso_engine.rescore import rescore_archive, rescore_dev
from mopso_engine.scope import PHASES, query_scope, track

SF = "/root/testdata/sf0.001"


class Table:
    """Stands in for a persisted DataFrame: records its release."""

    def __init__(self, name, log, fail=False):
        self.name, self.log, self.fail = name, log, fail

    def unpersist(self):
        self.log.append(self.name)
        if self.fail:
            raise RuntimeError(f"{self.name} failed to release")


def test_nested_scope_releases_only_its_own_entries():
    log = []
    with query_scope():
        track(Table("a", log))
        with query_scope() as inner:
            track(Table("b", log))
            track(Table("c", log))
            assert [t.name for t in inner] == ["b", "c"]
        assert log == ["c", "b"]
    assert log == ["c", "b", "a"]
    assert scope._open == []


def test_release_continues_past_a_failure_and_when_the_body_raises():
    log = []
    with pytest.raises(ValueError, match="body"):
        with query_scope():
            track(Table("a", log))
            track(Table("b", log, fail=True))
            track(Table("c", log))
            raise ValueError("body")
    assert log == ["c", "b", "a"]
    assert scope._open == []


def test_track_outside_a_scope_keeps_nothing():
    log = []
    t = Table("a", log)
    assert track(t) is t
    with query_scope():
        pass
    assert log == [] and scope._open == []


def test_scope_destroys_tracked_broadcasts(spark):
    with query_scope():
        bc = track(spark.sparkContext.broadcast([1, 2, 3]))
        assert bc._jbroadcast.isValid()
    assert not bc._jbroadcast.isValid()


@pytest.fixture(scope="module")
def cfg():
    return MopsoConfig(n_particles=4, iter_max=2, knn_l=5, seed=3, init_sample_size=300)


def test_fit_and_rescore_in_one_scope_record_both_phases(blobs_df, cfg):
    """The bench contract: a fit+rescore query leaves the fit's phases and
    the rescore wall side by side."""
    with query_scope():
        res = MopsoEngine(cfg).fit(blobs_df)
        rescore_archive(blobs_df, res.archive_positions, cfg.knn_l, n_rows=res.n_points)
    assert {"setup", "iter_loop", "rescore"} <= set(PHASES)
    assert PHASES["setup"] == res.phase_sec["setup"]


def test_rescore_in_a_later_scope_sees_no_earlier_fit_phases(blobs_df, cfg):
    """A rescore after a fit in an earlier scope records nothing: the
    outermost scope starts with empty phases, so no fit's keys get
    stamped with a later query's rescore."""
    with query_scope():
        res = MopsoEngine(cfg).fit(blobs_df)
    assert "setup" in PHASES
    with query_scope():
        rescore_dev(blobs_df, res.archive_positions)
    assert PHASES == {}


#: every query that persisted or broadcast through the old per-module
#: registries, plus the flagship fit
SWEEP_SAMPLE = [
    "supplier_pagerank",
    "part_triangles",
    "part_copurchase",
    "bm25_search",
    "docs_dsir_topk",
    "events_isotonic",
    "orders_woe_iv",
    "semdedup",
    "crossmodal_eval",
    "dedup_prefix_filter",
    "dedup_bloom_prefilter",
    "mopso_fit",
]


@pytest.mark.parametrize("name", SWEEP_SAMPLE)
def test_sweep_query_leaves_nothing_persisted(spark, name):
    """Run as the runners run it (the query and its action inside one
    scope), a query leaves the persisted-RDD set as it found it."""
    if not os.path.isdir(SF):
        pytest.skip("sf0.001 testdata absent (see TESTDATA.md)")
    import __spark_entry__ as entry

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    with query_scope() as held:
        entry.queries()[name](spark, SF).write.format("noop").mode("overwrite").save()
        n_tracked = len(held)
    assert persisted() == before, f"{name} left {len(persisted() - before)} persisted RDDs"
    assert scope._open == []
    if name != "mopso_fit":  # the fit and rescore release in scopes of their own
        assert n_tracked >= 1
