"""Canonicalization: connected components over sameAs/redirect edges.

north_star requirement: "canonicalization an iterative connected-components
redirect/sameAs resolution over DataFrame self-joins". The reference has no
distributed equivalent (its redirect map fits on the driver); at 10^12
documents the sameAs graph does not, so this is a genuinely distributed
min-label-propagation CC:

* vertices are URIs, the component representative is the lexicographic
  minimum member (stable, deterministic);
* each round propagates labels across edges in both directions with two
  hash joins + a groupBy-min, all on the same key — Catalyst/AQE reuses
  the exchange where possible;
* rounds needed = graph diameter; sameAs graphs are near-star-shaped so
  this converges in a handful of rounds. An edge table that fits the
  shared byte gate runs those rounds on the driver in numpy and comes
  back as a ``LocalRelation``; past it every round is one pinned job
  (``operators.fixpoint``), which truncates join lineage (the classic
  iterative-Spark failure mode).

For adversarial long-chain graphs switch to the pointer-doubling closure in
operators/redirects.py (log-diameter rounds) — CC over undirected sameAs
needs the propagation form, chains are directed and use the doubling form.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import local_frame
from .fixpoint import fixpoint, gate, local, pin, size


def connected_components(
    edges: DataFrame,
    max_iter: int = 15,
    strict: bool = True,
) -> DataFrame:
    """(vertex, component) for the undirected graph given by edges(src, dst).

    Component id = lexicographically smallest URI in the component.

    Local tier: when the symmetrized edge table fits the shared byte gate
    it goes to the driver once and :func:`_min_labels` runs the same
    synchronous rounds in numpy, so no round runs a Spark job.

    Loop tier: ONE job per round (VERDICT r3 #4). The old-vs-new
    comparison is folded into the propagation aggregate itself — label
    rows carry an ``_old`` tag, the groupBy emits both the new min-label
    and the previous label, and the changed count is the ``fixpoint``
    metric observed by the round's pin — no second labels-vs-labels
    join+count job re-reading both label sets each iteration. The
    vertex-sized label table, which can fit when the edges do not,
    broadcasts into each round's propagation join under the same gate.

    ``max_iter`` is a SAFETY CAP, not a silent truncation: min-label
    propagation needs ~diameter rounds, and a long chain of near-duplicates
    (versioned/boilerplate docs at scale) can exceed any fixed budget. If
    the labels have not converged when the cap is hit, ``strict=True``
    (default) raises instead of returning wrong components — callers that
    want best-effort labels pass ``strict=False``.
    """
    on_cap = (
        f"connected_components did not converge in {max_iter} rounds "
        f"(graph diameter exceeds the iteration budget); raise "
        f"max_iter or pass strict=False for best-effort labels"
    ) if strict else None
    sym, m = pin(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        **size("u", "v"),
    )
    table = local(sym, m)
    if table is not None:
        t = sym.schema["u"].dataType
        return local_frame(
            sym.sparkSession, _min_labels(table, max_iter, on_cap),
            StructType([StructField("vertex", t), StructField("component", t)]))
    labels, m = pin(
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex")),
        **size("vertex", "component"),
    )
    bc = gate(m)

    def step(labels: DataFrame, _) -> DataFrame:
        labels = labels.select("vertex", "component")
        # candidate labels arriving over edges: neighbor's current component
        incoming = (
            sym.join(bc(labels), sym["v"] == labels["vertex"], "inner")
            .select(sym["u"].alias("vertex"), F.col("component"),
                    F.lit(False).alias("_old"))
        )
        return (
            labels.select("vertex", "component", F.lit(True).alias("_old"))
            .union(incoming)
            .groupBy("vertex")
            .agg(
                F.min("component").alias("component"),
                # every vertex has exactly one _old row → its previous label
                F.max(F.when(F.col("_old"), F.col("component"))).alias("_prev"),
            )
            .withColumn(
                "_changed", (F.col("component") != F.col("_prev")).cast("int")
            )
        )

    labels, _ = fixpoint(
        labels, step, F.sum("_changed"), lambda changed, _: changed == 0,
        max_iter, on_cap,
    )
    return labels.select("vertex", "component")


def _min_labels(sym: pa.Table, max_iter: int, on_cap: str | None) -> pa.Table:
    """The loop tier's rounds on the driver, for distinct symmetric (u, v)
    edges. Vertex ids follow Arrow's sort, which is Spark's ``min`` order
    (byte order for strings), so the min id is the min label."""
    verts = pc.unique(sym["u"])
    verts = verts.take(pc.array_sort_indices(verts))
    u, v = (pc.index_in(sym[c], value_set=verts).to_numpy() for c in ("u", "v"))
    label = np.arange(len(verts))
    for _ in range(max_iter):
        new = label.copy()
        np.minimum.at(new, u, label[v])
        if np.array_equal(new, label):
            break
        label = new
    else:
        if on_cap:
            raise RuntimeError(on_cap)
    return pa.table({"vertex": verts, "component": verts.take(label)})


def canonical_mapping(labels: DataFrame) -> DataFrame:
    """(uri, canonical) pairs for non-representative members only — the
    broadcast-sized rewrite dictionary."""
    return labels.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("src"), F.col("component").alias("dst")
    )


def canonicalize_quads(quads: DataFrame, labels: DataFrame) -> DataFrame:
    """Rewrite subj and obj through the canonical mapping (broadcast joins)."""
    m = canonical_mapping(labels)
    s = F.broadcast(m.select(F.col("src").alias("_c_s"), F.col("dst").alias("_c_sd")))
    o = F.broadcast(m.select(F.col("src").alias("_c_o"), F.col("dst").alias("_c_od")))
    return (
        quads.join(s, quads["subj"] == F.col("_c_s"), "left")
        .join(o, quads["obj"] == F.col("_c_o"), "left")
        .withColumn("subj", F.coalesce(F.col("_c_sd"), F.col("subj")))
        .withColumn("obj", F.coalesce(F.col("_c_od"), F.col("obj")))
        .drop("_c_s", "_c_sd", "_c_o", "_c_od")
    )
