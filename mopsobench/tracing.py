"""Layer spans for a traced fit, recorded from outside the engine.

``Tracer.install`` replaces the names ``mopso_engine.engine`` calls into
(``evaluate_solutions``, ``with_neighbors``, ``update_swarm``,
``pbest_update``, ``init_mod.*`` and ``Archive.update``/``global_best``)
with timing wrappers, and ``Tracer.restore`` puts the originals back. A
layer that runs Spark jobs gets its own job group per span, so once the
timing has stopped its jobs, stages and task metrics are read from the
status store. Spans stay in memory until the run ends.

``with_neighbors`` only builds a lazy plan; the engine materializes it with
the next action. The kNN layer is therefore the ``with_neighbors`` call plus
the span from its return to the next wrapped call, which covers that
materialization.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from mopso_engine import engine as engine_mod
from mopso_engine import init as init_mod
from mopso_engine.pareto import Archive

KNN = "objectives.knn"

#: (owner, attribute, layer, runs Spark jobs)
WRAPPED = (
    (engine_mod, "evaluate_solutions", "objectives.fitness", True),
    (engine_mod, "with_neighbors", KNN, True),
    (engine_mod, "update_swarm", "pso.update", False),
    (engine_mod, "pbest_update", "pareto.archive", False),
    (init_mod, "corpus_stats", "init.corpus_stats", True),
    (init_mod, "sample_features", "init.sample", True),
    (init_mod, "init_swarm", "init.swarm", False),
    (Archive, "update", "pareto.archive", False),
    (Archive, "global_best", "pareto.archive", False),
)

#: Which end-to-end metric each layer should move, and on which workload.
MOVES = {
    "objectives.fitness": "fit_s on loop_small (driver gap, tasks); gflop_per_s on both",
    KNN: "fit_s on scale_local; ~none on loop_small",
    "init.corpus_stats": "fit_s on scale_local",
    "init.sample": "fit_s on scale_local",
    "init.swarm": "fit_s on loop_small (driver numpy)",
    "pso.update": "fit_s on loop_small only",
    "pareto.archive": "fit_s on loop_small only",
    "fit.glue": "fit_s (driver glue between layers)",
    "rescore": "report_s on both",
    "metrics.evaluate": "report_s on both",
    "report.glue": "report_s",
}


@dataclass
class Span:
    layer: str
    t0: float
    t1: float
    #: Spark job group of the span, for layers that run jobs
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._seq = 0
        self._groups: list[str | None] = [None]
        self._knn_open: tuple[float, str] | None = None
        self._originals: list[tuple[object, str, object]] = []

    # -- job groups ---------------------------------------------------------
    def _new_group(self, layer: str) -> str:
        self._seq += 1
        gid = f"mopsobench-{self._seq}-{layer}"
        self.sc.setJobGroup(gid, layer)
        return gid

    def _restore_group(self) -> None:
        gid = self._groups[-1]
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def _close_knn(self) -> None:
        if self._knn_open is not None:
            t0, gid = self._knn_open
            self._knn_open = None
            self.spans.append(Span(KNN, t0, time.perf_counter(), gid))
            self._restore_group()

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        """A span with its own job group that later spans nest in."""
        self._close_knn()
        t0 = time.perf_counter()
        gid = self._new_group(layer)
        self._groups.append(gid)
        try:
            yield
        finally:
            self._close_knn()
            t1 = time.perf_counter()
            self._groups.pop()
            self._restore_group()
            self.spans.append(Span(layer, t0, t1, gid))

    def _wrap(self, fn, layer: str, runs_jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            tracer._close_knn()
            t0 = time.perf_counter()
            gid = tracer._new_group(layer) if runs_jobs else None
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.spans.append(Span(layer, t0, t1, gid))
                if layer == KNN:
                    tracer._knn_open = (t1, tracer._new_group(layer))
                elif runs_jobs:
                    tracer._restore_group()

        return wrapped

    def install(self) -> None:
        for owner, attr, layer, runs_jobs in WRAPPED:
            fn = owner.__dict__[attr]
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer, runs_jobs))

    def restore(self) -> None:
        while self._originals:
            owner, attr, fn = self._originals.pop()
            setattr(owner, attr, fn)

    # -- Spark metrics, read after the timing stops -----------------------------
    def spark_counters(self, groups: list[str]) -> dict:
        """Jobs, stages and task metrics of every job in ``groups``, from the
        status store. ``stage_span_s`` is the length of the union of the stage
        intervals, so ``wall - stage_span_s`` is time no stage was running."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict(jobs=0, stages=0, tasks=0, exec_run_s=0.0, jvm_cpu_s=0.0,
                   shuffle_write_bytes=0, spill_bytes=0, stage_span_s=0.0)
        seen: set[int] = set()
        intervals = []
        for gid in groups:
            for jid in tracker.getJobIdsForGroup(gid):
                out["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["exec_run_s"] += sd.executorRunTime() / 1e3
                    out["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                        intervals.append(
                            (sd.submissionTime().get().getTime(), sd.completionTime().get().getTime())
                        )
        end = float("-inf")
        for a, b in sorted(intervals):
            a = max(a, end)
            if b > a:
                out["stage_span_s"] += (b - a) / 1e3
            end = max(end, b)
        return out


def children(root: Span, spans: list[Span]) -> list[Span]:
    return [s for s in spans if s is not root and root.t0 <= s.t0 and s.t1 <= root.t1]


def self_times(root: Span, spans: list[Span]) -> dict[str, float]:
    """Seconds per layer inside ``root`` (children do not overlap), plus the
    root's own self time under ``<root>.glue``."""
    out: dict[str, float] = {}
    for s in children(root, spans):
        out[s.layer] = out.get(s.layer, 0.0) + s.seconds
    out[f"{root.layer}.glue"] = root.seconds - sum(out.values())
    return out
