"""The scaffolding every iterative operator shares: one pinned round, one
byte gate, one round loop.

* :func:`pin` eagerly ``localCheckpoint``s a frame with ``observe()``
  metrics attached, so the lineage cut and the driver-side scalars (a
  convergence count, a size probe) come from ONE Spark job. On a
  multi-executor cluster ``localCheckpoint`` blocks die with their
  executor; this is the one place to swap in ``checkpoint()``.
* The byte gate reads the :func:`size` metrics of a pin (the one
  :func:`estimate` of its broadcast bytes) and has three outcomes.
  :func:`local` hands a pin that fits :data:`BROADCAST_BYTES`
  to the driver as one Arrow table, for a caller that can solve its
  whole fixpoint there (a broadcast collects the same table to the
  driver anyway); the result goes back as a ``session.local_frame``, so
  no round runs a Spark job. :func:`gate` turns the same test into the
  ``bc`` join hint: checkpointed frames carry no statistics, so without
  it the planner sort-merges a vertex-sized table against the graph
  every round. Past the budget the shuffled join stays, which is the
  unbounded-scale shape. ``linking.link_entities`` reads the same gate
  off its dictionary's pin to pick a tier and, past it, a shard count.
* :func:`fixpoint` runs one pinned job per round until a stop rule holds.
"""

from __future__ import annotations

from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

BROADCAST_BYTES = 64 << 20
ROW_OVERHEAD_BYTES = 24  # per-row/hash-entry cost of a broadcast table


def pin(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """(materialized ``df``, {name: value} of ``metrics``) from one job."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    return df.localCheckpoint(eager=True), obs.get


def size(*keys: str) -> dict[str, Column]:
    """Pin metrics for :func:`gate`: ``rows`` and the avg bytes of ``keys``."""
    width = sum((F.length(k) for k in keys), F.lit(0))
    return {"rows": F.count(F.lit(1)), "width": F.avg(width)}


def estimate(m: dict) -> float:
    """Broadcast bytes of a table pinned with :func:`size`: rows × (avg
    key bytes + row overhead)."""
    return m["rows"] * ((m["width"] or 0.0) + ROW_OVERHEAD_BYTES)


def _fits(m: dict) -> bool:
    return estimate(m) <= BROADCAST_BYTES


def gate(m: dict) -> Callable[[DataFrame], DataFrame]:
    """``bc`` for a table pinned with :func:`size`: a broadcast hint when
    it fits the byte budget."""
    return F.broadcast if _fits(m) else (lambda df: df)


def local(pinned: DataFrame, m: dict) -> pa.Table | None:
    """``pinned`` (sized with :func:`size`) collected to the driver as one
    Arrow table when it fits the byte budget, else ``None``."""
    return pinned.toArrow() if _fits(m) else None


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, Any], DataFrame],
    metric: Column,
    stop: Callable[[Any, Any], bool],
    max_iter: int,
    on_cap: str | None = None,
    value: Any = None,
) -> tuple[DataFrame, int]:
    """Iterate ``state = pin(step(state, value))``; the round's one job
    also observes ``metric``, the new state's ``value``. Stops once
    ``stop(new value, old value)`` holds and returns ``(state, rounds)``.
    ``value`` starts as the initial state's metric, when the caller
    observed one. After ``max_iter`` rounds without a stop it raises
    ``RuntimeError(on_cap)`` if given, else returns the state reached."""
    for rounds in range(1, max_iter + 1):
        state, m = pin(step(state, value), v=metric)
        new = m["v"] or 0
        if stop(new, value):
            return state, rounds
        value = new
    if on_cap:
        raise RuntimeError(on_cap)
    return state, max_iter
