"""Query scope: the one lifecycle for what a query persists or broadcasts.

Lifecycle rule. Every persisted DataFrame and every ``Broadcast`` an
operator creates goes through :func:`track`. Whoever runs a query (a
runner, a test, a library caller) wraps the query *and the action that
consumes it* in ``with query_scope():``. On exit, also when the body
raises, everything tracked since the scope opened is unpersisted or
destroyed, so nothing outlives the query that made it. A nested scope
releases only its own entries. A function opens a scope of its own only
when everything it tracks is consumed before it returns (``fit``,
``rescore_archive``, ``evaluate``, ``build_report``). An operator that
returns a lazy plan over a tracked table (``pagerank``, ``pruned_tf``)
only tracks and leaves the release to the caller's scope: a destroyed
broadcast cannot be re-read, and an unpersisted table is recomputed. With
no scope open, ``track`` keeps nothing and the caller owns the object, as
with a plain ``persist()``.

:data:`PHASES` holds the phase walls the fit, the rescore and the graph
loops record. The outermost scope empties it when it opens, so reading it
after the scope closes shows that query's phases and no earlier one's.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark import Broadcast

#: phase walls of the current query (fit ``setup``/``iter_loop``/…,
#: ``rescore``, graph ``setup``/``blocks``)
PHASES: dict = {}

#: tracked objects of each open scope, innermost last
_open: list[list] = []


def track(obj):
    """Register a persisted DataFrame or a Broadcast with the innermost
    open scope, and return it."""
    if _open:
        _open[-1].append(obj)
    return obj


@contextmanager
def query_scope():
    """Release everything tracked inside the ``with`` block on exit; the
    block gets the list of this scope's tracked objects."""
    if not _open:
        PHASES.clear()
    held: list = []
    _open.append(held)
    try:
        yield held
    finally:
        _open.pop()
        for obj in reversed(held):
            try:
                if isinstance(obj, Broadcast):
                    obj.destroy()
                else:
                    obj.unpersist()
            except Exception:  # noqa: BLE001 — one failed release must not skip the rest
                logging.getLogger(__name__).warning("could not release %r", obj, exc_info=True)
