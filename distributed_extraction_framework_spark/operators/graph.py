"""Graph analytics over the materialized edge table.

The reference stops at emitting triples; a KG engine needs at least the
standard link-analysis pass over the page_links graph. Implemented as
iterative DataFrame joins (no GraphX/GraphFrames dependency):

* ``bfs_distances``, ``weighted_sssp`` and the colouring step of
  ``strongly_connected_components`` are one min-plus relaxation,
  ``operators.fixpoint.relax`` (as is ``canonicalize.connected_components``),
  with a driver tier under the byte gate;
* ``pagerank``, ``hits`` and ``kcore`` are sum/count programs and
  ``label_propagation`` a mode reduce, each with its own round;
  ``reachability`` and ``k_truss`` iterate edge sets, not vertex values;
* ``degrees`` — one union + groupBy (map-side partial agg);
  ``triangles``, ``edge_support`` and ``cocitation_pmi`` are one pass
  each, ``random_walks`` one join per step.

Every convergence loop runs on ``operators.fixpoint``: one pinned job
per round (the lineage cut and its observed convergence metric) and one
byte gate that broadcasts vertex-sized tables and keeps the shuffled
join above it.

At 100 TB scale the edges DataFrame would be bucketed by ``src`` in the
warehouse so the per-iteration join is co-located (SURVEY.md §4 skew
notes apply to hub pages: AQE skew-join splits the hot partitions).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint, gate, pin, relax, size


def _unchanged(n, prev) -> bool:
    return n == prev


def _peeled(n, prev) -> bool:
    """k-core/k-truss stop: a round peeled nothing, or nothing is left."""
    return n == prev or n == 0


def _empty(n, _) -> bool:
    return n == 0


def degrees(edges: DataFrame) -> DataFrame:
    """(uri, out_deg, in_deg) from edges(src, dst)."""
    out_d = edges.select(F.col("src").alias("uri"), F.lit(1).alias("o"), F.lit(0).alias("i"))
    in_d = edges.select(F.col("dst").alias("uri"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    return (
        out_d.union(in_d)
        .groupBy("uri")
        .agg(F.sum("o").alias("out_deg"), F.sum("i").alias("in_deg"))
    )


def _dedup_edges_and_vertices(edges: DataFrame):
    """(deduped edges lazily pinned, pinned vertex table, its size metrics)
    — the pagerank/hits setup, one job for both pins.

    The dedup is repartition("dst") + dropDuplicates on the full column
    set: hash(dst) satisfies the (src,dst) clustering (equal pair ⇒ equal
    dst), so the aggregate runs in ONE phase with no second exchange where
    ``.distinct()`` pays partial-agg + exchange + final-agg (A/B'd at
    237k edges: 4/5 pairwise wins, min 3.71 → 3.24 s). The checkpointed
    RDD carries no partitioning metadata, so this helps setup, not the
    rounds."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    verts, m = pin(
        e.select(F.col("src").alias("uri"))
        .union(e.select(F.col("dst").alias("uri")))
        .distinct(),
        **size("uri"),
    )
    return e, verts, m


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(uri, rank) — standard power iteration, sum(rank) == 1.

    Dangling nodes (no out-edges) redistribute their mass uniformly each
    round, so total mass is conserved (testable invariant).

    Scale shape:
    * the per-round dangling mass is the ``fixpoint`` metric, observed BY
      the round's pin and inlined as a literal into the next round — no
      extra aggregate job, no broadcast exchange for it;
    * under the shared byte gate the per-vertex tables (ranks, out_deg,
      contribs) broadcast, so the only exchange per round is the
      contribution groupBy — the shuffle PageRank cannot avoid; above it
      every join degrades to the shuffled form, which is the
      10^12-edge-safe shape (edges bucketed by src in the warehouse make
      it co-located — module docstring);
    * state is pinned EVERY round: it has three consumers per iteration
      (the contribution projection, the dangling scalar, and the rank
      carry), so deferring the pin re-executes the un-materialized chain
      ~3× per extra deferred round — measured 6.3s (every 3rd round) vs
      4.5s (every round) at 237k edges.
    """
    e, verts, m = _dedup_edges_and_vertices(edges)
    n = m["rows"]
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    bc = gate(m)

    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # out-degree is loop-invariant: fold it into the iterated state ONCE
    # (uri, out_deg, rank) so each round needs no ranks⋈out_deg join and
    # the dangling filter is a local predicate on the state table
    dm = F.sum(F.when(F.col("out_deg").isNull(), F.col("rank")))
    state, m = pin(
        verts.join(out_deg, verts["uri"] == out_deg["src"], "left")
        .select("uri", "out_deg", F.lit(1.0 / n).alias("rank")),
        dm=dm,
    )

    def step(state: DataFrame, dangling) -> DataFrame:
        c_df = (
            state.filter(F.col("out_deg").isNotNull())
            .select("uri", (F.col("rank") / F.col("out_deg")).alias("c"))
        )
        contribs = (
            e.join(bc(c_df), c_df["uri"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        return (
            state.drop("rank")
            .join(bc(contribs), state["uri"] == contribs["dst"], "left")
            .select(
                "uri",
                "out_deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping / n * float(dangling))
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    state, _ = fixpoint(state, step, dm, lambda *_: False, iterations,
                        value=m["dm"] or 0.0)
    return state.select("uri", "rank")


def reachability(
    edges: DataFrame, max_iter: int = 12, key: str | None = None
) -> DataFrame:
    """(src, dst) all-pairs reachability — the transitive closure of the
    edge RELATION, keeping every reachable pair (strict: no self-pairs).

    Differs from ``redirects.transitive_closure`` (pointer doubling over a
    functional map that keeps only FINAL targets): this is the shape
    ontology ``subClassOf`` closure (the reference corpus's published
    instance-types-transitive dataset) and SPARQL 1.1 ``<p>+`` property
    paths need — an instance typed C must surface EVERY ancestor of C,
    not just the root.

    Repeated squaring: R_{k+1} = R_k ∪ (R_k ∘ R_k), so paths of length up
    to 2^max_iter close in ``max_iter`` rounds. Per round: one self-join
    (broadcast build side under the shared byte gate, shuffled equi-join
    above — the unbounded-scale shape) + one distinct, pinned with its
    row count; the closure stops when a round adds no pair.

    ``key`` closes ``(key, src, dst)`` rows within each key group (a
    SPARQL named graph, an OWL transitive property): nodes are ENCODED
    as key + NUL + node, so one run closes every group at once and equal
    nodes under different keys never connect. NUL is a safe separator
    (it cannot occur in an IRI or a lexical form), and the decode splits
    with limit 2 so node text is preserved verbatim. NULL keys are
    dropped BEFORE encoding: concat_ws skips NULLs, so a NULL key would
    encode as the bare node text and decode into corrupted
    (key=node, src=NULL) rows.

    Scale contract: output is O(V × avg reachable set); intended for
    bounded-depth relations — class hierarchies, redirect chains,
    category trees — not dense social graphs, where the closure itself
    is the blow-up regardless of engine.
    """
    if key is not None:
        sep = "\x00"
        enc = edges.filter(F.col(key).isNotNull()).select(
            F.concat_ws(sep, key, "src").alias("src"),
            F.concat_ws(sep, key, "dst").alias("dst"),
        )
        return reachability(enc, max_iter).select(
            F.split("src", sep, 2)[0].alias(key),
            F.split("src", sep, 2)[1].alias("src"),
            F.split("dst", sep, 2)[1].alias("dst"),
        )
    cur, m = pin(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct(),
        **size("src", "dst"),
    )
    bc = gate(m)

    def step(cur: DataFrame, _) -> DataFrame:
        right = cur.select(
            F.col("src").alias("j_src"), F.col("dst").alias("j_dst")
        ).alias("b")
        return (
            cur.alias("a")
            .unionByName(
                cur.alias("a2")
                .join(bc(right), F.col("a2.dst") == F.col("b.j_src"))
                .select(F.col("a2.src").alias("src"), F.col("b.j_dst").alias("dst"))
            )
            # cycles yield self-pairs — drop them (strict reachability)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    cur, _ = fixpoint(cur, step, F.count(F.lit(1)), _unchanged, max_iter,
                      value=m["rows"])
    return cur


def top_hubs(edges: DataFrame, k: int = 20) -> DataFrame:
    """Highest in-degree resources — the head-entity skew diagnostic that
    motivates the salted linking join (FIXTURES.md §3)."""
    return (
        degrees(edges)
        .orderBy(F.desc("in_deg"), F.asc("uri"))
        .limit(k)
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: ``(u, v)`` with ``u < v``, self-loops
    dropped, parallel/reverse duplicates collapsed."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle ``(x, y, z)`` with ``x < y < z``, once.

    Compact-forward enumeration (Latapy, TCS 2008; the MapReduce form is
    Suri & Vassilvitskii's "node-iterator++", WWW'11): over the
    canonical u<v edge set, join wedges u→v→w and close them against the
    edge u→w. The lexicographic orientation makes each triangle appear
    exactly once (u<v<w), so no post-hoc dedup of 3!-fold copies — the
    wedge join IS the shuffle, and AQE broadcast-joins the closing edge
    probe when the graph is small.

    Scale note: wedge count is Σ_v deg_out(v)², bounded here by the
    lexicographic orientation; for adversarially skewed graphs orient by
    (degree, id) instead — same output, O(m^1.5) wedges — by swapping the
    orientation key. Web-link KGs canonicalized to u<v stay far from the
    bound, and the oracle (a 3-way self-join in ANSI SQL) mirrors the
    lexicographic form exactly.
    """
    und = undirected_edges(edges)
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = und.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = und.select(F.col("u").alias("x"), F.col("v").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation ``(uri, triangles)`` — the local
    clustering building block; vertices in no triangle are absent."""
    return (
        triangles(edges)
        .select(F.explode(F.array("x", "y", "z")).alias("uri"))
        .groupBy("uri")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def _support_of(und: DataFrame) -> DataFrame:
    """Triangle support per canonical ``(u, v)`` edge of an already-
    canonical undirected edge set (``u < v``): each x<y<z triangle
    contributes 1 to each of its three edges. Same compact-forward wedge
    join as :func:`triangles`, then a 3-way projection + one groupBy."""
    e1 = und.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = und.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = und.select(F.col("u").alias("x"), F.col("v").alias("z"))
    # the triangle list feeds THREE side projections — un-pinned, the
    # wedge join (the expensive pass) re-executed per side; one lazy
    # materialization of the triangle-count-sized set instead
    tri = (
        e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
        .localCheckpoint(eager=False)
    )
    sides = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
    )
    return sides.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over the canonical undirected edge set →
    ``(u, v, support)`` with ``u < v``; edges in no triangle carry 0.

    The edge-strength signal under k-truss decomposition (Cohen,
    "Trusses: cohesive subgraphs for social network analysis", NSA TR
    2008, public): an edge's support is how many triangles close over
    it — 0 for bridges/spam links, high inside genuinely cohesive
    communities. Scale shape: one wedge shuffle (bounded by the
    lexicographic orientation, see :func:`triangles`) + one (u, v)
    groupBy; the zero-support fill is a broadcast-eligible left join of
    the edge set against the schema-smaller support table.
    """
    # 4 consumers via _support_of's three wedge-join sides + the
    # zero-fill join — pinned once (lazy)
    und = undirected_edges(edges).localCheckpoint(eager=False)
    return (
        und.join(_support_of(und), ["u", "v"], "left")
        .select(
            "u", "v",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
    )


def k_truss(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Edges of the ``k``-truss → ``(u, v, support)``: iteratively peel
    edges whose triangle support < k-2 until fixpoint (Cohen 2008). The
    2-truss is the full edge set; every edge of a k-truss lies in at
    least k-2 triangles of the surviving subgraph.

    The edge-level strengthening of :func:`kcore` (a k-truss is always
    inside the (k-1)-core but prunes far more aggressively) — the
    community-core extractor for web-graph noise stripping. Per round:
    one wedge-join support computation + one filter, pinned with the
    surviving edge count (one job per round, the same idiom as
    :func:`kcore`). Rounds needed = peeling depth, typically ≪ 20 on web
    graphs.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    cur, m = pin(undirected_edges(edges), rows=F.count(F.lit(1)))

    def step(cur: DataFrame, _) -> DataFrame:
        return (
            cur.join(_support_of(cur), ["u", "v"], "left")
            .where(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("u", "v")
        )

    cur, _ = fixpoint(cur, step, F.count(F.lit(1)), _peeled, max_iter,
                      value=m["rows"])
    return cur.join(_support_of(cur), ["u", "v"], "left").select(
        "u", "v",
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )


def bfs_distances(
    edges: DataFrame,
    sources: list[str],
    max_iter: int = 10,
) -> DataFrame:
    """Unweighted shortest-path distance from a source set → ``(uri,
    dist)`` rows for every vertex within ``max_iter`` hops (sources at 0,
    a source absent from the edges included).

    Level-synchronous BFS as :func:`fixpoint.relax` with ``w`` = 1: round
    k reaches the level-k vertices, only they send in round k + 1, and a
    round that reaches nothing stops; past ``max_iter`` rounds the answer
    is truncated at that depth. Directed semantics; pass a symmetrized
    edge set for undirected distance.
    """
    e, m = pin(
        edges.select("src", "dst", F.lit(1).alias("w"))
        .filter(F.col("src") != F.col("dst")).distinct(),
        **size("src", "dst"),
    )
    return relax(e, m, max_iter, sources=sources).select(
        F.col("vertex").alias("uri"), F.col("value").alias("dist"))


def cocitation_pmi(
    edges: DataFrame,
    max_out_degree: int = 1000,
    min_count: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Entity co-occurrence with PMI over the link graph →
    ``(e1, e2, n_common, pmi)`` for unordered target pairs cited by the
    same source page at least ``min_count`` times.

    The standard co-citation statistic for KG enrichment (relatedness
    edges DBpedia itself ships as "page links"-derived datasets):
    ``pmi = ln(n_common · n_pages / (c1 · c2))`` with per-target
    citation counts ``c`` and ``n_pages`` the number of distinct citing
    pages.

    Scale shape: the pair generator is a self-equi-join on ``src`` —
    both sides carry the SAME groupBy partitioning, so Catalyst reuses
    one exchange; the quadratic per-page blowup is bounded by dropping
    pages with out-degree > ``max_out_degree`` (link-farm hubs, the same
    df-cap guard as ``dedup.ngram_jaccard_pairs`` — at the default 1000
    a capped page contributes ≤ ~500k pairs, and real hub pages carry
    little co-citation signal anyway). The marginals join is two
    equi-joins on entity keys; ``n_pages`` is a 1-row broadcast.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # materialized once (lazy): four consumers (both self-join sides, the
    # per-target marginals, n_pages) would each re-run the upstream plan
    # — a whole extraction pass when edges come straight from extract()
    kept = (
        e.join(deg.where(F.col("d") <= max_out_degree), "src")
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    a, b = kept.alias("a"), kept.alias("b")
    cij = (
        a.join(
            b,
            (F.col("a.src") == F.col("b.src"))
            & (F.col("a.dst") < F.col("b.dst")),
        )
        .groupBy(
            F.col("a.dst").alias("e1"), F.col("b.dst").alias("e2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_count)
    )
    ci = kept.groupBy("dst").agg(F.count(F.lit(1)).alias("c"))
    n_pages = kept.select(F.countDistinct("src").alias("n_pages"))
    return (
        cij.join(ci.select(F.col("dst").alias("e1"), F.col("c").alias("c1")), "e1")
        .join(ci.select(F.col("dst").alias("e2"), F.col("c").alias("c2")), "e2")
        .crossJoin(F.broadcast(n_pages))
        .select(
            "e1",
            "e2",
            "n_common",
            F.round(
                F.log(
                    F.col("n_common")
                    * F.col("n_pages")
                    / (F.col("c1") * F.col("c2"))
                ),
                round_to,
            ).alias("pmi"),
        )
    )


def hits(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) → ``(uri, hub, auth)``,
    fixed-iteration power method, L1-normalized output.

    Same scale shape as :func:`pagerank`, including its setup and the
    shared byte gate: the half-step score table is vertex-sized, so under
    the gate it broadcasts (the checkpointed LogicalRDD has no stats, so
    the planner would otherwise sort-merge EVERY half-step — 3 exchanges
    + 2 sorts where broadcast needs only the groupBy's vertex-sized
    exchange); above it every join degrades to the shuffled
    10^12-edge-safe form.
    Normalization is deferred to the END: every per-step normalizer is a
    uniform scalar, so the final direction is identical and the loop
    body stays single-consumer (a mid-loop normalizer makes each raw
    aggregate feed two plans — 2^steps re-evaluation between
    checkpoints). Doubles absorb the growth (5 steps × max in-degree
    10^6 ≈ 1e30 ≪ 1e308). Init hub = 1/n so the trajectory is
    scale-determined and the unrolled-SQL oracle reproduces it
    bit-for-bit (modulo FP summation order — gated at 6 dp).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    e, verts, m = _dedup_edges_and_vertices(edges)
    n = m["rows"]
    if n == 0:
        return verts.withColumn("hub", F.lit(0.0)).withColumn(
            "auth", F.lit(0.0)
        )
    bc = gate(m)
    hub = verts.select("uri", F.lit(1.0 / n).alias("s"))

    # vertices absent from a half-step's aggregate hold score 0: they add
    # nothing to any normalizer and propagate nothing into the next
    # half-step, so the zero-fill join against the vertex table happens
    # exactly ONCE at the end — each half-step is one edge join + one
    # groupBy, nothing else
    def half_step(scores: DataFrame, join_on: str, group_to: str) -> DataFrame:
        return (
            e.join(bc(scores), e[join_on] == scores["uri"])
            .groupBy(group_to)
            .agg(F.sum("s").alias("s"))
            .withColumnRenamed(group_to, "uri")
        )

    # LAZY checkpoint after every half-step: the loop is a fixed-round
    # single-consumer chain with no mid-loop driver read, so nothing needs
    # to execute before the final action — each half-step's RDD is
    # materialized once by that action and re-used by every later
    # consumer (the next half-step, the zh/za normalizer aggregates, and
    # the final join). The old eager interval-2 form paid one job per
    # checkpointed half-step AND recomputed the un-checkpointed partner
    # chain inside each (hub's checkpoint re-ran auth's two shuffles).
    for _ in range(iterations):
        auth = half_step(hub, "src", "dst").localCheckpoint(eager=False)
        hub = half_step(auth, "dst", "src").localCheckpoint(eager=False)
    zh = F.broadcast(hub.agg(F.sum("s").alias("zh")))
    za = F.broadcast(auth.agg(F.sum("s").alias("za")))
    return (
        verts.join(
            hub.select("uri", F.col("s").alias("hub")), "uri", "left"
        )
        .join(auth.select("uri", F.col("s").alias("auth")), "uri", "left")
        .crossJoin(zh)
        .crossJoin(za)
        .select(
            "uri",
            (F.coalesce(F.col("hub"), F.lit(0.0)) / F.col("zh")).alias(
                "hub"
            ),
            (F.coalesce(F.col("auth"), F.lit(0.0)) / F.col("za")).alias(
                "auth"
            ),
        )
    )


def kcore(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Vertices of the undirected ``k``-core → ``(uri, core_deg)``:
    iteratively peel vertices with degree < k until fixpoint;
    ``core_deg`` is the vertex's degree inside the surviving subgraph
    (≥ k by definition).

    Per round: one degree groupBy + two semi-joins on the surviving
    vertex set, pinned with the surviving edge count (ONE job per round —
    no second count job). Rounds needed = peeling depth, typically ≪ 20
    on web graphs.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    # the surviving vertex set is ≤ 2·|E| keys, so the edge pin's size
    # gates the keeper-set broadcast — without it each peel round
    # sort-merges the edge table against the stat-less keeper RDD twice
    # (4-5 exchanges where broadcast semi-joins need 1)
    cur, m = pin(undirected_edges(edges), **size("u", "v"))
    bc = gate(m)

    def deg_of(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col("u").alias("x"))
            .unionAll(df.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def step(cur: DataFrame, _) -> DataFrame:
        keep = deg_of(cur).where(F.col("d") >= k).select("x")
        return (
            cur.join(bc(keep.select(F.col("x").alias("u"))), "u", "semi")
            .join(bc(keep.select(F.col("x").alias("v"))), "v", "semi")
            .select("u", "v")
        )

    cur, _ = fixpoint(cur, step, F.count(F.lit(1)), _peeled, max_iter,
                      value=m["rows"])
    return (
        deg_of(cur)
        .where(F.col("d") >= k)
        .select(F.col("x").alias("uri"), F.col("d").alias("core_deg"))
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 3,
    walks_per_node: int = 1,
    salt: str = "",
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus →
    ``(start, walk_id, step, node)``: ``walks_per_node`` walks from
    every vertex with out-edges, each up to ``walk_length`` steps,
    next hop = the neighbor whose per-source rank equals
    ``md5(salt ‖ cur|walk_id|step) mod out_degree``.

    "Random" but KEY-DETERMINED (the md5-bucket discipline of
    operators/sampling.py): the same corpus on any engine, run, or
    cluster size — resumable embedding training needs that. Scale
    shape: the neighbor rank is a row_number window PARTITIONED BY the
    source (reuses the adjacency groupBy partitioning, hub sources are
    single-reducer only for their own adjacency list); each step is one
    equi-join frontier⋈adjacency on (node, rank) — frontier-sized, and
    walks that reach a sink simply leave the frontier. Walk count is
    walks_per_node × V rows, never edge-quadratic.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1: {walk_length}")
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node must be >= 1: {walks_per_node}")
    from pyspark.sql import Window

    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = e.select(
        "src", "dst", (F.row_number().over(w) - 1).alias("rk")
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("d"))

    frontier = (
        adj.select(F.col("src").alias("start"))
        .distinct()
        .withColumn(
            "walk_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(walks_per_node - 1).cast("long"),
                )
            ),
        )
        .withColumn("node", F.col("start"))
    )
    out = frontier.select(
        "start", "walk_id", F.lit(0).cast("long").alias("step"), "node"
    )
    for t in range(1, walk_length + 1):
        pick_parts = [F.lit(salt)] if salt else []
        pick_parts += [
            F.col("node"),
            F.col("walk_id").cast("string"),
            F.lit(str(t - 1)),
        ]
        pick = F.conv(
            F.substring(F.md5(F.concat_ws("|", *pick_parts)), 1, 8),
            16,
            10,
        ).cast("long")
        hop = (
            frontier.join(deg, frontier["node"] == deg["src"])
            .withColumn("__pick", pick % F.col("d"))
            .join(
                adj.select(
                    F.col("src").alias("__as"),
                    F.col("dst").alias("__next"),
                    "rk",
                ),
                (F.col("node") == F.col("__as"))
                & (F.col("__pick") == F.col("rk")),
            )
            .select("start", "walk_id", F.col("__next").alias("node"))
        )
        # EAGER on purpose: the lazy form was A/B'd and lost 3x — an
        # un-materialized frontier is a LogicalRDD with unknown stats, so
        # the per-step joins lose their broadcast plans and the union's
        # branches re-plan the whole chain; one small job per step is
        # cheaper (measured 1.5s eager vs 4.3s lazy on the bench graph)
        frontier = hop.localCheckpoint(eager=True)
        out = out.unionByName(
            frontier.select(
                "start",
                "walk_id",
                F.lit(t).cast("long").alias("step"),
                "node",
            )
        )
    return out


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007,
    the RAK algorithm) over the undirected graph of ``edges(src, dst)``
    → ``(vertex, label)`` community assignments.

    The published algorithm breaks count ties randomly and sweeps
    vertices in random order; this is the cluster-reproducible variant:
    SYNCHRONOUS rounds (every vertex updates from the previous round's
    labels — order-free by construction) and ties on neighbor-label
    frequency break to the LEXICOGRAPHICALLY SMALLEST label, so two runs
    (and the SQL oracle) agree bit-for-bit. ``rounds`` is fixed rather
    than convergence-driven: synchronous LPA can 2-cycle on bipartite
    structures, so a fixed budget IS the published stopping rule for the
    sync variant.

    Execution shape (per round): one frontier join on the neighbor key +
    one (vertex, label) count aggregate + one argmax-by-min-struct
    aggregate — no window (the min-of-(-count, label) struct gives the
    deterministic argmax inside the same groupBy key), ``localCheckpoint``
    truncates the per-round lineage exactly like pagerank/kcore.
    """
    canon = undirected_edges(edges)
    sym = canon.union(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    # label table is vertex-sized forever (one (vertex, label) row per
    # vertex); under the byte gate it broadcasts into the per-round
    # neighbor join — the stat-less checkpointed RDDs otherwise
    # sort-merge, re-exchanging the symmetrized edge table every round
    labels, m = pin(
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex")),
        **size("vertex", "label"),
    )
    bc = gate(m)

    for _ in range(rounds):
        counts = (
            sym.join(bc(labels), sym["v"] == labels["vertex"], "inner")
            .groupBy(sym["u"].alias("vertex"), F.col("label"))
            .agg(F.count("*").alias("_c"))
        )
        winners = (
            counts.groupBy("vertex")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("_nc"),
                             F.col("label").alias("label"))
                ).alias("_m")
            )
            .select("vertex", F.col("_m.label").alias("label"))
        )
        # LAZY: fixed rounds, no mid-loop driver read — the caller's one
        # action materializes each round's labels exactly once (lineage
        # still truncated per round); eager paid a job launch per round
        labels = winners.localCheckpoint(eager=False)
    return labels


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    max_prop: int = 60,
) -> DataFrame:
    """Strongly connected components → ``(node, scc)`` with ``scc`` = the
    lexicographic min member (deterministic on any cluster/run).

    Redirect rings, sameAs cycles, and crawl loops are exactly the SCCs
    of their directed graphs; connected_components (undirected) merges
    nodes that only agree one-way, so it cannot find them.

    Distributed trim + forward-coloring + within-class backward sweep
    (the Pregel-style coloring algorithm — Orzan's thesis 2004 /
    Salihoglu & Widom VLDB'14 — NOT Tarjan, whose DFS is inherently
    sequential):

    per outer round
      1. **trim**: nodes with no in-edge or no out-edge in the remaining
         graph are singleton SCCs — peeled to fixpoint (removes the
         acyclic bulk of web graphs cheaply);
      2. **color**: propagate min node id along edge direction to
         convergence — ``lbl(v)`` = min over {v} ∪ ancestors(v); each
         label is ONE value per node (frontier-style exchanges, never an
         all-pairs reach set);
      3. **collect**: a class root ``r`` (``lbl(r) = r``) plus every
         ``lbl = r`` node that reaches ``r`` through same-label edges is
         the SCC of ``r`` — found by backward frontier expansion from
         the roots, all classes in parallel;
      4. peel those SCCs, repeat (≥ every root's SCC leaves per round).

    Every step is a key-equi-join on node ids. All four loops (trim,
    coloring, backward sweep, peel) run on ``fixpoint``: one pinned job
    per round whose observed count is the convergence test, and the
    node-sized tables broadcast under the shared byte gate (above it
    every join stays in the shuffled unbounded-scale form). Coloring is
    :func:`fixpoint.relax`, so a core whose edges fit the gate colours
    on the driver instead.
    Raises after ``max_rounds``/``max_prop`` non-convergence rather than
    returning wrong components.
    """
    rem_e, _ = pin(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    nodes, m = pin(
        rem_e.select(F.col("src").alias("node"))
        .unionByName(rem_e.select(F.col("dst").alias("node")))
        .distinct(),
        **size("node"),
    )
    bc = gate(m)
    count = F.count(F.lit(1))
    done: list[DataFrame] = []

    def induced(e: DataFrame, ns: DataFrame) -> DataFrame:
        """Edges of ``e`` with both endpoints in ``ns``."""
        return (
            e.join(bc(ns.withColumnRenamed("node", "src")), "src", "left_semi")
            .join(bc(ns.withColumnRenamed("node", "dst")), "dst", "left_semi")
        )

    def trim(rem_n: DataFrame, _) -> DataFrame:
        e = induced(rem_e, rem_n)
        has_out = e.select(F.col("src").alias("node")).distinct()
        has_in = e.select(F.col("dst").alias("node")).distinct()
        return (
            rem_n.join(bc(has_out), "node", "left_semi")
            .join(bc(has_in), "node", "left_semi")
        )

    def peel(rem_n: DataFrame, n_rem) -> DataFrame:
        nonlocal rem_e
        # 1. trim — each round removes ≥ 1 node until it stops, so
        # n_rem + 1 rounds always suffice; the trimmed nodes are the
        # singleton SCCs
        core, _ = fixpoint(rem_n, trim, count, _unchanged, n_rem + 1,
                           value=n_rem)
        done.append(rem_n.join(bc(core), "node", "left_anti")
                    .select("node", F.col("node").alias("scc")))
        rem_e, m = pin(induced(rem_e, core), **size("src", "dst"))
        if not m["rows"]:  # a trimmed core has edges unless it is empty
            return core
        # 2. min-label forward propagation to convergence; every core
        # node has an edge, so the edges' vertices are the core
        labels = relax(
            rem_e, m, max_prop,
            f"SCC label propagation did not converge in {max_prop} rounds",
        ).select(F.col("vertex").alias("node"), F.col("value").alias("lbl"))
        # 3. backward sweep from roots within each color class; the
        # reached set is the lazy union of the per-round pinned frontiers
        # (re-pinning the whole set every round rewrites O(V·depth))
        class_e, _ = pin(
            rem_e.join(
                bc(labels.select(F.col("node").alias("src"),
                                 F.col("lbl").alias("ls"))),
                "src",
            )
            .join(
                bc(labels.select(F.col("node").alias("dst"),
                                 F.col("lbl").alias("ld"))),
                "dst",
            )
            .where(F.col("ls") == F.col("ld"))
            .select("src", "dst", F.col("ls").alias("lbl"))
        )
        roots, _ = pin(labels.where(F.col("node") == F.col("lbl"))
                       .select("node", F.col("lbl").alias("scc")))
        pieces: list[DataFrame] = []

        def sweep(frontier: DataFrame, _) -> DataFrame:
            pieces.append(frontier)
            return (
                class_e.join(
                    bc(frontier.select(F.col("node").alias("dst"),
                                       F.col("scc").alias("lbl"))),
                    ["dst", "lbl"],
                )
                .select(F.col("src").alias("node"), F.col("lbl").alias("scc"))
                .distinct()
                .join(bc(reduce(DataFrame.unionByName, pieces)), "node",
                      "left_anti")
            )

        fixpoint(roots, sweep, count, _empty, max_prop,
                 on_cap=f"SCC backward sweep did not converge in {max_prop} rounds")
        reached = reduce(DataFrame.unionByName, pieces)
        done.append(reached)
        # 4. peel the collected SCCs and continue
        return core.join(bc(reached), "node", "left_anti")

    fixpoint(nodes, peel, count, _empty, max_rounds,
             on_cap=f"SCC did not finish in {max_rounds} rounds",
             value=m["rows"])
    return reduce(DataFrame.unionByName, done)


def weighted_sssp(
    edges: DataFrame,
    sources: list[str],
    max_iter: int = 30,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths → ``(uri, dist)`` for
    every vertex reachable from ``sources`` (sources at 0.0); edge input
    is ``(src, dst, w)`` with non-negative weights.

    Frontier Bellman–Ford (the distributed form — Dijkstra's priority
    queue is inherently sequential) as :func:`fixpoint.relax`: each round
    relaxes ONLY out-edges of vertices improved last round, so a settled
    graph stops paying (:func:`bfs_distances` is the w≡1 case). Raises
    after ``max_iter`` rounds with an active frontier rather than
    returning unsettled distances; negative weights are the caller's
    contract to exclude (Bellman–Ford would need the V−1 bound and a
    negative-cycle check this operator does not implement), which also
    makes self-loops no-ops, dropped with null endpoints. An edge whose
    weight is null or NaN is dropped too: it reaches nothing.
    """
    e, m = pin(
        edges.select("src", "dst", F.col("w").cast("double"))
        .filter((F.col("src") != F.col("dst")) & ~F.isnan(F.col("w"))
                & F.col("w").isNotNull()),
        **size("src", "dst"),
    )
    return relax(
        e, m, max_iter,
        f"weighted_sssp frontier still active after {max_iter} rounds",
        sources,
    ).select(F.col("vertex").alias("uri"), F.col("value").alias("dist"))
