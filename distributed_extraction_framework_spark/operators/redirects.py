"""Redirect harvesting + transitive resolution.

Reference: the only distributed aggregation in the original —
``DistRedirects.loadFromRDD`` (DistRedirects.scala:103-153) flatMaps pages
through a #REDIRECT regex, keeps template→template pairs, and
``collectAsMap``s to the driver; the upstream ``Redirects.resolveMap``
then resolves chains transitively with cycle detection.

Spark-native re-design:

* the harvest is a filter + projection over the already-prepared pages —
  no regex re-scan if the extraction pass already ran (it reuses the same
  ``redirect_target`` expression);
* transitive resolution is an **iterative DataFrame self-join with pointer
  doubling** (north_rule): chains of length L resolve in ⌈log2 L⌉ joins,
  not L; 2-cycles collapse to self-loops after one doubling and are
  dropped (the reference's cycle detection);
* application to quads is a **broadcast** left join (redirect maps are
  ≪ pages — the same reasoning that let the reference collectAsMap), so
  resolving object URIs adds zero shuffles to the main pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from .extractors import base_norm, prepare_pages, resource_uri, ucfirst
from ..functions import wikitext as W
from .fixpoint import fixpoint, gate, pin, size


def harvest_redirects(
    pages: DataFrame,
    namespaces: tuple[int, ...] | None = (S.NS_TEMPLATE,),
) -> DataFrame:
    """(src, dst) resource-URI redirect pairs.

    ``namespaces=(NS_TEMPLATE,)`` reproduces the reference's template-only
    gate (DistRedirects.scala:139-146: keep only when both source and
    target are Namespace.Template); pass ``None`` for all namespaces.
    """
    p = prepare_pages(pages)
    tgt_raw = F.regexp_extract("text", W.REDIRECT_PATTERN, 1)
    df = p.withColumn("_tgt", ucfirst(base_norm(tgt_raw))).filter(F.col("_tgt") != "")
    if namespaces is not None:
        df = df.filter(F.col("ns").isin(*namespaces))
        if namespaces == (S.NS_TEMPLATE,):
            df = df.filter(F.col("_tgt").startswith("Template:"))
    return df.select(
        F.col("subj").alias("src"),
        resource_uri(F.col("lang"), F.col("_tgt")).alias("dst"),
    )


def transitive_closure(redirects: DataFrame, max_iter: int = 12) -> DataFrame:
    """Resolve redirect chains to their final target; drop cycles.

    Pointer doubling: each iteration rewrites dst → dst's dst, so
    ``max_iter=12`` covers chains up to 2^12 hops. Early-exits when an
    iteration changes nothing. Each round is one pinned job
    (``fixpoint``): the closure table is small (redirects ≪ pages), the
    convergence count is observed by the checkpoint job itself, and the
    join chain never re-runs (the iterative-self-join cost driver at
    scale, SURVEY.md §7). While the redirect table fits the shared byte
    gate (the smallness that let the reference ``collectAsMap`` the whole
    map, DistRedirects.scala:103-153) the self-join broadcasts its build
    side — zero shuffles in the loop; above it the shuffled self-join is
    the 10^12-page-safe shape.
    """
    cur, m = pin(
        redirects.select("src", "dst").filter(F.col("src") != F.col("dst")),
        **size("src", "dst"),
    )
    bc = gate(m)

    def step(cur: DataFrame, _) -> DataFrame:
        cur = cur.select("src", "dst")
        right = cur.select(
            F.col("src").alias("j_src"), F.col("dst").alias("j_dst")
        ).alias("b")
        return (
            cur.alias("a")
            .join(bc(right), F.col("a.dst") == F.col("b.j_src"), "left")
            .select(
                F.col("a.src").alias("src"),
                F.coalesce(F.col("b.j_dst"), F.col("a.dst")).alias("dst"),
                F.col("b.j_dst").isNotNull().alias("_jumped"),
            )
            # cycles degenerate to self-loops after a doubling → drop (the
            # reference's resolveMap cycle detection)
            .filter(F.col("src") != F.col("dst"))
        )

    cur, _ = fixpoint(cur, step, F.sum(F.col("_jumped").cast("int")),
                      lambda jumps, _: jumps == 0, max_iter)
    return cur.select("src", "dst")


def resolve_objects(
    quads: DataFrame,
    closure: DataFrame,
    datasets: tuple[str, ...] | None = None,
) -> DataFrame:
    """Rewrite quad objects through the (small, broadcast) redirect closure.

    Equivalent of the reference shipping the redirect map inside the
    extractor closure (DistConfigLoader.scala:217-225) — here a broadcast
    hash join, so Catalyst keeps the main pipeline shuffle-free.
    """
    cl = F.broadcast(closure.select(F.col("src").alias("_r_src"),
                                    F.col("dst").alias("_r_dst")))
    joined = quads.join(cl, quads["obj"] == F.col("_r_src"), "left")
    resolved = F.coalesce(F.col("_r_dst"), quads["obj"])
    if datasets is not None:
        in_scope = F.col("dataset").isin(*datasets)
        resolved = F.when(in_scope, resolved).otherwise(quads["obj"])
    return joined.withColumn("obj", resolved).drop("_r_src", "_r_dst")
