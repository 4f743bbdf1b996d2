"""Correctness checks run on every fit. Each returns a list of failure
messages; an empty list is a pass. They run after the timed region."""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mopso_engine.assign import assign_all_solutions
from mopso_engine.pareto import non_dominated_mask

#: kernel fitness vs the relational recomputation, as the repo's own
#: post-hoc fit checks use
REL_TOL = 1e-6


def fingerprint(archive_fitness: np.ndarray) -> str:
    """sha256 of the archive fitness bytes: the fit is bit-deterministic
    for a seed, so any change to its trajectory changes this."""
    return hashlib.sha256(np.ascontiguousarray(archive_fitness, dtype=np.float64).tobytes()).hexdigest()


def partition_dev(pts: DataFrame, positions: list[np.ndarray], n_total: int) -> tuple[np.ndarray, np.ndarray]:
    """(weighted, total) Dev per archive solution, recomputed relationally
    per input partition: weighted = Σ_p (n_p/N)·Dev_p, the partition-local
    kernel's definition; total = Σ_p Dev_p, what ``rescore_dev`` returns."""
    rows = (
        assign_all_solutions(pts, np.stack(positions), exact_math=True)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p", "solution")
        .agg(F.sum("dist").alias("dev"), F.count("*").alias("n"))
        .collect()
    )
    weighted = np.zeros(len(positions))
    total = np.zeros(len(positions))
    for r in rows:
        weighted[r["solution"]] += r["n"] / float(n_total) * r["dev"]
        total[r["solution"]] += r["dev"]
    return weighted, total


def _close(kernel: float, relational: float) -> bool:
    return math.isclose(kernel, relational, rel_tol=REL_TOL)


def check_exact(archive_fitness: np.ndarray, rescored: list[tuple[int, float, float]]) -> list[str]:
    """Kernel [Dev, Conn] against ``rescore_archive``'s rows."""
    errs = []
    if len(rescored) != len(archive_fitness):
        errs.append(f"rescore returned {len(rescored)} rows for {len(archive_fitness)} archive entries")
    for s, dev, conn in rescored:
        kd, kc = (float(v) for v in archive_fitness[s])
        if not (_close(kd, dev) and _close(kc, conn)):
            errs.append(f"solution {s}: kernel ({kd!r}, {kc!r}) vs rescore ({dev!r}, {conn!r})")
    return errs


def check_partition_local(
    archive_fitness: np.ndarray,
    rescored: list[tuple[int, float]],
    weighted: np.ndarray,
    total: np.ndarray,
) -> list[str]:
    """Kernel Dev against the per-partition relational Dev, and that Dev's
    total against ``rescore_dev``. Partition-local Conn depends on the
    layout and has no relational twin here, so it is not checked."""
    errs = []
    if len(rescored) != len(archive_fitness):
        errs.append(f"rescore returned {len(rescored)} rows for {len(archive_fitness)} archive entries")
    for s, dev in rescored:
        kd = float(archive_fitness[s][0])
        if not _close(kd, float(weighted[s])):
            errs.append(f"solution {s}: kernel Dev {kd!r} vs partition-weighted Dev {weighted[s]!r}")
        if not _close(float(total[s]), dev):
            errs.append(f"solution {s}: Σ partition Dev {total[s]!r} vs rescore_dev {dev!r}")
    return errs


def check_front(archive_fitness: np.ndarray, expected_fingerprint: str | None) -> list[str]:
    """The archive is mutually non-dominated and, when a reference fit with
    the same seed exists, bit-identical to it."""
    errs = []
    if len(archive_fitness) == 0:
        errs.append("empty archive")
    elif not non_dominated_mask(archive_fitness).all():
        errs.append("archive holds a dominated entry")
    if expected_fingerprint is not None and fingerprint(archive_fitness) != expected_fingerprint:
        errs.append("archive fitness bytes differ from the first fit with this seed")
    return errs
