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
  no round runs a Spark job. :func:`relax` holds the shared driver
  kernel of that outcome; ``redirects.transitive_closure`` has its own.
  :func:`gate` turns the same test into the ``bc`` join hint:
  checkpointed frames carry no statistics, so without it the planner
  sort-merges a vertex-sized table against the graph every round. Past
  the budget the shuffled join stays, which is the unbounded-scale
  shape. ``linking.link_entities`` reads the same gate off its
  dictionary's pin to pick a tier and, past it, a shard count.
* :func:`fixpoint` runs one pinned job per round until a stop rule holds.
* :func:`relax` is the min-plus vertex program (GraphX's
  ``aggregateMessages`` with a min reduce) behind connected components,
  SCC colouring, BFS and SSSP, with both tiers: numpy rounds on the
  driver under the gate, one :func:`fixpoint` round per job past it.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..session import local_frame

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


def relax(
    edges: DataFrame,
    m: dict,
    max_iter: int,
    on_cap: str | None = None,
    sources: list[str] | None = None,
) -> DataFrame:
    """``(vertex, value)`` at the fixpoint of the min-plus relaxation
    ``value[v] = min(value[v], min over edges u→v of value[u] + w)``.

    ``edges(src, dst[, w])`` is pinned with :func:`size` into ``m``;
    with no ``w`` column a value travels unchanged. Without ``sources``
    every vertex starts labelled by itself (a min label); with them the
    sources start at 0 of ``w``'s type, every other vertex unreached,
    and only reached vertices are answered. Rounds and the cap follow
    :func:`fixpoint`: a round that lowers no value stops, and after
    ``max_iter`` rounds that did it raises ``RuntimeError(on_cap)`` if
    given, else answers the values reached.

    Local tier: edges that fit the byte gate go to the driver once and
    :func:`_min_plus` runs the same rounds in numpy. Loop tier: the state
    ``(vertex, value, changed)`` is pinned once; each round sends from
    the vertices whose value fell in the last round (any other vertex
    sent the same message already), joins over the ``gate``-broadcast
    state, and min-reduces the messages with the old values in one
    ``groupBy``, observing the changed count in the round's pin.
    """
    spark = edges.sparkSession
    ends = edges.select(F.col("src").alias("vertex")).union(edges.select("dst"))
    if sources is None:
        value = F.col("vertex")
    else:
        ends = ends.union(local_frame(spark, [(s,) for s in sources], "vertex string"))
        value = F.when(F.col("vertex").isin(sources),
                       F.lit(0).cast(edges.schema["w"].dataType))
    seed = ends.distinct().select("vertex", value.alias("value"))
    table = local(edges, m)
    if table is not None:
        return local_frame(spark, _min_plus(table, sources, max_iter, on_cap),
                           seed.schema)
    # a distance's bytes ride the row overhead; a label is a second key
    keys = ("vertex", "value") if sources is None else ("vertex",)
    state, ms = pin(seed.withColumn("changed", F.col("value").isNotNull()),
                    **size(*keys))
    bc = gate(ms)
    msg = F.col("value") + F.col("w") if "w" in edges.columns else F.col("value")

    def step(state: DataFrame, _) -> DataFrame:
        sent = state.where("changed").select(F.col("vertex").alias("src"), "value")
        return (
            state.select("vertex", "value", F.lit(True).alias("old"))
            .union(edges.join(bc(sent), "src").select(
                F.col("dst").alias("vertex"), msg.alias("value"), F.lit(False)))
            .groupBy("vertex")
            .agg(F.min("value").alias("value"),
                 F.max(F.when(F.col("old"), F.col("value"))).alias("prev"))
            .select("vertex", "value",
                    F.coalesce(F.col("value") < F.col("prev"),
                               F.col("value").isNotNull()).alias("changed"))
        )

    state, _ = fixpoint(state, step, F.sum(F.col("changed").cast("long")),
                        lambda n, _: n == 0, max_iter, on_cap)
    return state.where(F.col("value").isNotNull()).select("vertex", "value")


def _min_plus(t: pa.Table, sources: list[str] | None, max_iter: int,
              on_cap: str | None) -> pa.Table:
    """:func:`relax`'s rounds on the driver. Vertex ids follow Arrow's
    sort, which is Spark's ``min`` order (byte order for strings), so a
    label is its vertex's id; an unreached distance is ``inf``, and
    ``fmin`` drops the NaN of a null weight as Spark's ``min`` drops a
    null."""
    seeds = pa.array(sources or [], t["src"].type)
    verts = pc.unique(pa.chunked_array(
        [*t["src"].chunks, *t["dst"].chunks, seeds], seeds.type))
    verts = verts.take(pc.array_sort_indices(verts))
    src, dst = (pc.index_in(t[c], value_set=verts).to_numpy() for c in ("src", "dst"))
    if sources is None:
        value = np.arange(len(verts))
    else:
        value = np.full(len(verts), np.inf)
        value[pc.index_in(seeds, value_set=verts).to_numpy()] = 0
    w = t["w"].to_numpy() if "w" in t.column_names else 0
    for _ in range(max_iter):
        new = value.copy()
        np.fmin.at(new, dst, value[src] + w)
        if np.array_equal(new, value):
            break
        value = new
    else:
        if on_cap:
            raise RuntimeError(on_cap)
    if sources is None:
        return pa.table({"vertex": verts, "value": verts.take(value)})
    hit = np.isfinite(value)
    return pa.table({"vertex": verts.filter(pa.array(hit)), "value": value[hit]})
