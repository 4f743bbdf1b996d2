"""The measured part of a run: set-up, the closed loop of fit → report →
checks, and the per-layer numbers of a traced fit."""

from __future__ import annotations

import hashlib
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from pyspark.sql import functions as F

from mopso_engine import MopsoEngine
from mopso_engine.rescore import rescore_archive, rescore_dev
from mopsobench import checks, tracing, workloads

#: the input generation and parquet write repeat this often in set-up;
#: set-up counts their median
SETUP_REPEATS = 3


def job_floor_s(spark, partitions: int) -> float:
    """Median wall of an identity ``mapInPandas`` job over ``partitions``
    one-row partitions: the fixed cost every Spark job pays here."""

    def identity(batches):
        yield from batches

    df = spark.range(partitions, numPartitions=partitions)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        df.mapInPandas(identity, "id long").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Bench:
    """One workload on one session: set-up, requests, checks, counts."""

    def __init__(self, spark, wl: workloads.Workload, seed: int, work: Path):
        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.cfg = wl.config(seed)
        self.path = work / f"{wl.name}-{seed}.parquet"
        # keyed by the whole definition: an edited workload gets a new reference
        key = hashlib.sha256(repr((wl, self.cfg)).encode()).hexdigest()[:16]
        self.fingerprint_file = work / "fingerprints" / f"{wl.name}-{seed}-{key}.sha256"
        self.attempted = 0
        self.failed = 0

    def setup(self) -> dict:
        """Write the inputs SETUP_REPEATS times (median), read them and run
        one untimed warm-up request, which pays the first-in-session costs
        (Python workers, JIT, the first job of each kind). A one-iteration
        warm-up leaves fit_s falling ~15% over the next six requests; a
        full one leaves it flat."""
        gen = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            nbytes = workloads.write_points(str(self.path), self.wl, self.seed)
            gen.append(time.perf_counter() - t)
        self.pts = workloads.read_points(self.spark, str(self.path), self.wl)
        t = time.perf_counter()
        warm = self.fit_once()
        if warm is None:
            raise RuntimeError("the warm-up request failed")
        self.n = warm["result"].n_points
        return {"gen_write_s": statistics.median(gen), "warmup_s": time.perf_counter() - t,
                "bytes_on_disk": nbytes}

    def _stored_fingerprint(self, fp: str) -> str:
        """The archive fingerprint of the first fit with this seed in this
        checkout; the first call stores ``fp``."""
        self.fingerprint_file.parent.mkdir(parents=True, exist_ok=True)
        if not self.fingerprint_file.exists():
            tmp = self.fingerprint_file.with_suffix(".tmp")
            tmp.write_text(fp)
            tmp.replace(self.fingerprint_file)
        return self.fingerprint_file.read_text().strip()

    def fit_once(self, tracer: tracing.Tracer | None = None) -> dict | None:
        """fit → report → checks, one closed-loop request. Returns the
        timings, purity and fit result; None when the fit or report raised."""

        def span(layer):
            return tracer.span(layer) if tracer else nullcontext()

        self.attempted += 1
        engine = MopsoEngine(self.cfg)
        try:
            t = time.perf_counter()
            with span("fit"):
                res = engine.fit(self.pts)
            fit_s = time.perf_counter() - t
            t = time.perf_counter()
            with span("report"):
                with span("rescore"):
                    if self.wl.mode == "exact":
                        rescored = rescore_archive(
                            self.pts, res.archive_positions, self.cfg.knn_l, n_rows=res.n_points,
                            knn_mode=res.knn_mode_used, layout_partitions=res.layout_partitions,
                        )
                    else:
                        rescored = rescore_dev(self.pts, res.archive_positions)
                with span("metrics.evaluate"):
                    ev = engine.evaluate(self.pts, res)
            report_s = time.perf_counter() - t
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        if self.wl.mode == "exact":
            errs = checks.check_exact(res.archive_fitness, rescored)
        else:
            weighted, total = checks.partition_dev(self.pts, res.archive_positions, res.n_points)
            errs = checks.check_partition_local(res.archive_fitness, rescored, weighted, total)
        errs += checks.check_front(
            res.archive_fitness, self._stored_fingerprint(checks.fingerprint(res.archive_fitness))
        )
        if errs:
            self.failed += 1
            for e in errs:
                print(f"CHECK FAILED (request {self.attempted}): {e}", file=sys.stderr)
        return {"fit_s": fit_s, "report_s": report_s, "purity": ev["purity"], "result": res}


def layer_metrics(bench: Bench, tracer: tracing.Tracer, rec: dict, untraced_fit_s: float) -> tuple[dict, dict, dict]:
    """Per-layer numbers of the last traced request, read after its timing,
    and the self time per layer inside its fit and its report."""
    spans = tracer.spans
    fit_root = next(s for s in reversed(spans) if s.layer == "fit")
    report_root = next(s for s in reversed(spans) if s.layer == "report")
    in_fit = tracing.children(fit_root, spans)
    in_report = tracing.children(report_root, spans)

    def total(layer, among=in_fit):
        return sum(s.seconds for s in among if s.layer == layer)

    def groups(layer, among=in_fit):
        return [s.group for s in among if s.layer == layer and s.group]

    fitness = tracer.spark_counters(groups("objectives.fitness"))
    knn = tracer.spark_counters(groups(tracing.KNN))
    rescore = tracer.spark_counters(groups("rescore", in_report))
    whole = tracer.spark_counters([fit_root.group] + [s.group for s in in_fit if s.group])
    calls = sum(1 for s in in_fit if s.layer == "objectives.fitness")
    fitness_s = total("objectives.fitness")
    c, d = bench.cfg, bench.wl.d
    # per call: every row and its L neighbours against S·k centres, d-dim,
    # ~3 flops per coordinate (subtract, multiply, add)
    gflop = calls * bench.n * (1 + c.knn_l) * c.n_particles * c.k * d * 3 / 1e9
    in_fit_s = sum(s.seconds for s in in_fit)
    metrics = {
        "objectives.fitness_s": fitness_s,
        "objectives.fitness_calls": calls,
        "objectives.fitness_s_per_call": fitness_s / calls,
        "objectives.fitness_tasks": fitness["tasks"],
        "objectives.fitness_exec_run_s": fitness["exec_run_s"],
        "objectives.fitness_jvm_cpu_s": fitness["jvm_cpu_s"],
        "objectives.fitness_driver_gap_s": fitness_s - fitness["stage_span_s"],
        "objectives.fitness_gflop": gflop,
        "objectives.fitness_gflop_per_s": gflop / fitness_s,
        "objectives.fitness_bytes_scanned": calls * bench.n * (1 + c.knn_l) * d * 8,
        "objectives.knn_s": total(tracing.KNN),
        "objectives.knn_tasks": knn["tasks"],
        "objectives.knn_exec_run_s": knn["exec_run_s"],
        "init.corpus_stats_s": total("init.corpus_stats"),
        "init.sample_s": total("init.sample"),
        "init.swarm_s": total("init.swarm"),
        "pso.update_s": total("pso.update"),
        "pareto.archive_s": total("pareto.archive"),
        "pareto.archive_size": len(rec["result"].archive_fitness),
        "rescore.s": total("rescore", in_report),
        "rescore.jobs": rescore["jobs"],
        "rescore.shuffle_write_bytes": rescore["shuffle_write_bytes"],
        "metrics.evaluate_s": total("metrics.evaluate", in_report),
        "spark.jobs": whole["jobs"],
        "spark.stages": whole["stages"],
        "spark.tasks": whole["tasks"],
        "spark.exec_run_s": whole["exec_run_s"],
        "spark.shuffle_write_bytes": whole["shuffle_write_bytes"],
        "spark.spill_bytes": whole["spill_bytes"],
        "fit.glue_s": fit_root.seconds - in_fit_s,
        "trace.span_coverage": in_fit_s / fit_root.seconds,
        "trace.fit_s": rec["fit_s"],
        "trace.overhead_s": rec["fit_s"] - untraced_fit_s,
    }
    return metrics, tracing.self_times(fit_root, spans), tracing.self_times(report_root, spans)


def summary_table(name: str, fit_s: float, report_s: float, self_fit: dict, self_report: dict) -> list[str]:
    """Self time per layer as a share of the traced fit_s and report_s."""
    lines = [f"traced self time per layer, {name} (fit_s {fit_s:.3f} s, report_s {report_s:.3f} s):",
             f"  {'layer':<20} {'self_s':>8} {'share':>7}  moves"]
    for table, whole, of in ((self_fit, fit_s, "fit_s"), (self_report, report_s, "report_s")):
        for layer, sec in sorted(table.items(), key=lambda kv: -kv[1]):
            lines.append(f"  {layer:<20} {sec:8.3f} {sec / whole:7.1%}  of {of}; {tracing.MOVES.get(layer, '')}")
    return lines


def measure(spark, wl: workloads.Workload, seed: int, seconds: float, trace: bool, work: Path) -> tuple[dict, list[str], dict]:
    """Set-up, then requests back to back until ``seconds`` have passed
    (at least one; with ``trace``, untraced and traced in turn, at least one
    of each). Returns (metrics, report lines, run record); the metrics lack
    the ones the process measures."""
    bench = Bench(spark, wl, seed, work)
    try:
        setup = bench.setup()
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        plain, traced, layers = [], [], []
        deadline = time.perf_counter() + seconds
        while True:
            use_tracer = tracer is not None and len(traced) < len(plain)
            if use_tracer:
                tracer.install()
                try:
                    rec = bench.fit_once(tracer)
                finally:
                    tracer.restore()
            else:
                rec = bench.fit_once()
            if rec is not None:
                (traced if use_tracer else plain).append(rec)
                if use_tracer:
                    layers.append(layer_metrics(bench, tracer, rec, statistics.median(r["fit_s"] for r in plain)))
            # past the deadline, stop once every kind of request has
            # completed, or when the last one raised
            if time.perf_counter() >= deadline and (rec is None or (plain and (tracer is None or traced))):
                break
        if not plain or (tracer is not None and not traced):
            raise RuntimeError("no request completed")
        lines = [f"requests: {len(plain)} untraced, {len(traced)} traced; attempted {bench.attempted}, "
                 f"failed {bench.failed}, fail_frac {bench.failed / bench.attempted:.4f} (warm-up included)"]
        metrics = {
            "fit_s": statistics.median(r["fit_s"] for r in plain),
            "report_s": statistics.median(r["report_s"] for r in plain),
            "best_purity": statistics.median(r["purity"] for r in plain),
        }
        if tracer is not None:
            metrics = {k: statistics.median(m[k] for m, _, _ in layers) for k in layers[0][0]}
            if wl.partitions is None:
                metrics["objectives.knn_dist_cells"] = bench.n * bench.n
            else:
                sizes = bench.pts.groupBy(F.spark_partition_id()).count().collect()
                metrics["objectives.knn_dist_cells"] = sum(r["count"] ** 2 for r in sizes)
            per_call = metrics["objectives.fitness_tasks"] / metrics["objectives.fitness_calls"]
            metrics["spark.job_floor_s"] = job_floor_s(spark, max(1, round(per_call)))
            metrics["objectives.fitness_floor_share"] = (
                metrics["spark.job_floor_s"] / metrics["objectives.fitness_s_per_call"]
            )
            metrics["spark.persisted_rdds_after"] = len(spark.sparkContext._jsc.getPersistentRDDs())
            last, self_fit, self_report = layers[-1]
            lines += summary_table(wl.name, last["trace.fit_s"], traced[-1]["report_s"], self_fit, self_report)
        return metrics, lines, {**setup, "n": bench.n, "attempted": bench.attempted, "failed": bench.failed}
    finally:
        bench.path.unlink(missing_ok=True)
