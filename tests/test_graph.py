"""Graph analytics: PageRank power iteration + degrees, validated against
a hand-rolled pure-Python power iteration on the same graph."""

import pytest
from pyspark.sql import functions as F

from distributed_extraction_framework_spark.operators import fixpoint
from distributed_extraction_framework_spark.operators.extractors import extract
from distributed_extraction_framework_spark.operators.graph import (
    degrees,
    pagerank,
    top_hubs,
)
from distributed_extraction_framework_spark.plans.materialize import edges_table


def _py_pagerank(edge_list, iterations=10, damping=0.85):
    verts = sorted({v for e in edge_list for v in e})
    n = len(verts)
    out = {}
    adj = {}
    for s, d in set(edge_list):
        if s == d:
            continue
        out[s] = out.get(s, 0) + 1
        adj.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in verts}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        contrib = {v: 0.0 for v in verts}
        for s, ds in adj.items():
            share = ranks[s] / out[s]
            for d in ds:
                contrib[d] += share
        base = (1 - damping) / n + damping * dangling / n
        ranks = {v: base + damping * contrib[v] for v in verts}
    return ranks


def test_pagerank_matches_reference_iteration(spark):
    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("e", "e"),
        ("f", "a"),  # f dangling after its only edge; e self-loop dropped
    ]
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r["uri"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    want = _py_pagerank([e for e in edge_list if e[0] != e[1]], iterations=12)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_on_extracted_links(spark, pages_df):
    quads = extract(pages_df, extractors=["page_links"])
    edges = edges_table(quads).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    ranks = pagerank(edges, iterations=6)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, rel=1e-6)
    assert ranks.filter(F.col("rank") <= 0).count() == 0


def test_degrees_and_hubs(spark):
    df = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")], ["src", "dst"]
    )
    d = {r["uri"]: (r["out_deg"], r["in_deg"]) for r in degrees(df).collect()}
    assert d["hub"] == (1, 3)
    assert d["a"] == (1, 1)
    top = top_hubs(df, k=1).collect()
    assert top[0]["uri"] == "hub"


def test_pagerank_broadcast_tier_is_byte_gated(spark, monkeypatch, both_tiers):
    """ADVICE r3: the broadcast tier must gate on estimated bytes (rows x
    avg key width), not a row count that could broadcast ~1 GB of URIs."""
    uris = [(f"http://kg.example.org/resource/Node_{i:04d}",) for i in range(100)]
    _, m = fixpoint.pin(spark.createDataFrame(uris, ["uri"]), **fixpoint.size("uri"))
    # 100 rows x (~40-char URIs + 24B overhead) — the estimate must track it
    monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", 100 * 40)
    assert fixpoint.gate(m) is not F.broadcast
    monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", 100 * 90)
    assert fixpoint.gate(m) is F.broadcast
    monkeypatch.undo()

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 20}") for i in range(20)], ["src", "dst"]
    )
    # ranks must be identical in either tier
    lo, hi = both_tiers(lambda: {
        r["uri"]: round(r["rank"], 9)
        for r in pagerank(edges, iterations=4).collect()})
    assert lo == hi


def test_reachability_chain_dag_and_cycle(spark):
    """All-pairs closure: chains close to every suffix pair, DAG
    multi-parent inheritance reaches both ancestors, cycles yield the
    full strict cross-pairs without self-loops."""
    from distributed_extraction_framework_spark.operators.graph import reachability

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    got = {(r["src"], r["dst"]) for r in reachability(chain).collect()}
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }

    dag = spark.createDataFrame(
        [("x", "p1"), ("x", "p2"), ("p1", "root"), ("p2", "root")],
        ["src", "dst"],
    )
    got = {(r["src"], r["dst"]) for r in reachability(dag).collect()}
    # multi-path x→root collapses to ONE pair (distinct), both parents kept
    assert got == {("x", "p1"), ("x", "p2"), ("x", "root"),
                   ("p1", "root"), ("p2", "root")}

    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in reachability(cyc).collect()}
    assert got == {("a", "b"), ("b", "a")}  # no self-pairs


def test_reachability_broadcast_and_shuffle_tiers_agree(spark, both_tiers):
    from distributed_extraction_framework_spark.operators.graph import reachability

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(17)], ["src", "dst"]
    )
    sh, bc = both_tiers(lambda: {
        (r["src"], r["dst"]) for r in reachability(edges).collect()})
    assert bc == sh
    assert len(bc) == 17 * 18 // 2  # every (i<j) pair of an 18-node chain


# ---------------------------------------------------------------------------
# Triangles + BFS
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_triangles_lexicographic_once(spark):
    # K4 on {a,b,c,d} = 4 triangles; edges given in mixed directions with
    # duplicates and a self-loop
    pairs = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("d", "a"),
             ("b", "c"), ("b", "d"), ("a", "a"), ("a", "b")]
    from distributed_extraction_framework_spark.operators.graph import (
        triangle_counts,
        triangles,
    )
    tri = {tuple(r) for r in triangles(_edges(spark, pairs)).collect()}
    assert tri == {("a", "b", "c"), ("a", "b", "d"),
                   ("a", "c", "d"), ("b", "c", "d")}
    counts = {r["uri"]: r["triangles"]
              for r in triangle_counts(_edges(spark, pairs)).collect()}
    assert counts == {"a": 3, "b": 3, "c": 3, "d": 3}
    # triangle-free graph → empty
    assert triangles(_edges(spark, [("a", "b"), ("b", "c")])).count() == 0


def test_bfs_distances_levels_and_unreachable(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        bfs_distances,
    )
    # chain a→b→c→d, shortcut a→c, island x→y, cycle back d→a
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
                       ("x", "y"), ("d", "a")])
    got = {(r["uri"], r["dist"]) for r in bfs_distances(e, ["a"]).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 1), ("d", 2)}  # x,y unreachable
    # multi-source: min distance wins; max_iter truncates
    got2 = {(r["uri"], r["dist"])
            for r in bfs_distances(e, ["a", "x"], max_iter=1).collect()}
    assert got2 == {("a", 0), ("x", 0), ("b", 1), ("c", 1), ("y", 1)}


def test_cocitation_pmi_formula(spark):
    import math

    from distributed_extraction_framework_spark.operators.graph import cocitation_pmi

    # p1,p2,p3 cite {A,B}; p4 cites {A,C}; so (A,B) co-cited 3x, (A,C) 1x
    edges = spark.createDataFrame(
        [("p1", "A"), ("p1", "B"), ("p2", "A"), ("p2", "B"),
         ("p3", "A"), ("p3", "B"), ("p4", "A"), ("p4", "C"),
         ("p4", "A")],  # duplicate edge: must not double-count
        "src string, dst string",
    )
    got = {(r["e1"], r["e2"]): r for r in cocitation_pmi(edges, min_count=1).collect()}
    assert set(got) == {("A", "B"), ("A", "C")}
    assert got[("A", "B")]["n_common"] == 3
    # c_A=4, c_B=3, n_pages=4 -> pmi = ln(3*4/(4*3)) = 0
    assert got[("A", "B")]["pmi"] == 0.0
    assert got[("A", "C")]["pmi"] == round(math.log(1 * 4 / (4 * 1)), 4)
    # min_count=2 drops the singleton pair
    assert cocitation_pmi(edges, min_count=2).count() == 1


def test_cocitation_pmi_hub_cap(spark):
    from distributed_extraction_framework_spark.operators.graph import cocitation_pmi

    edges = [("hub", f"T{i}") for i in range(20)] + [
        ("p1", "T0"), ("p1", "T1"), ("p2", "T0"), ("p2", "T1")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["e1"], r["e2"]) for r in
           cocitation_pmi(df, max_out_degree=10, min_count=1).collect()}
    # the 20-out-degree hub is dropped entirely; only p1/p2 pairs remain
    assert out == {("T0", "T1")}


def test_hits_star_graph(spark):
    from distributed_extraction_framework_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b")], "src string, dst string"
    )
    got = {r["uri"]: (r["hub"], r["auth"]) for r in hits(edges, iterations=3).collect()}
    assert got["b"] == (0.0, 1.0)
    assert got["a"] == (0.5, 0.0) and got["c"] == (0.5, 0.0)
    # L1 invariants hold on a less symmetric graph too
    edges2 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    rows = hits(edges2, iterations=4).collect()
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["auth"] for r in rows) - 1.0) < 1e-9
    with pytest.raises(ValueError):
        hits(edges, iterations=0)


def test_kcore_peels_pendants(spark):
    from distributed_extraction_framework_spark.operators.graph import kcore

    # triangle a-b-c plus a pendant chain c-d-e: 2-core = the triangle
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    got = {r["uri"]: r["core_deg"] for r in kcore(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=1 keeps everything (no isolated vertices in an edge list)
    assert kcore(edges, k=1).count() == 5
    # k=3 empties the graph
    assert kcore(edges, k=3).count() == 0


def test_random_walks_deterministic(spark):
    from distributed_extraction_framework_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    out = random_walks(edges, walk_length=3, walks_per_node=2).collect()
    rows = {(r["start"], r["walk_id"], r["step"]): r["node"] for r in out}
    # every start/walk has a step-0 row equal to the start
    for s in ("a", "b", "c"):
        for wid in (0, 1):
            assert rows[(s, wid, 0)] == s
    # d is a sink: never a start, and walks entering d stop there
    assert not any(s == "d" for s, _, _ in rows)
    # steps are contiguous: a step t>0 row implies a step t-1 row
    for (s, wid, t) in rows:
        if t > 0:
            assert (s, wid, t - 1) in rows
    # deterministic under repartitioning
    again = random_walks(
        edges.repartition(5), walk_length=3, walks_per_node=2
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # salted corpus differs
    salted = random_walks(
        edges, walk_length=3, walks_per_node=2, salt="x"
    ).collect()
    assert sorted(map(tuple, salted)) != sorted(map(tuple, out))


def test_scc_cycles_chains_and_cross_edges(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [
            # 3-cycle a->b->c->a
            ("a", "b"), ("b", "c"), ("c", "a"),
            # 2-cycle d<->e, reachable from the 3-cycle (cross edge)
            ("c", "d"), ("d", "e"), ("e", "d"),
            # acyclic tail
            ("e", "f"), ("f", "g"),
            # self-loop only contributes nothing (dropped)
            ("a", "a"),
        ],
        "src string, dst string",
    )
    got = {
        (r["node"], r["scc"])
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("d", "d"), ("e", "d"),
        ("f", "f"), ("g", "g"),
    }


def test_scc_two_directed_paths_are_all_singletons(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        (r["node"], r["scc"])
        for r in strongly_connected_components(edges).collect()
    }
    assert got == {(n, n) for n in "abcxy"}


def test_scc_vs_bruteforce_on_random_functional_graph(spark):
    """Deterministic pseudo-random digraph; brute-force mutual
    reachability on the driver is the oracle."""
    from distributed_extraction_framework_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 40
    pairs = [(f"v{i:02d}", f"v{(i * 7 + 3) % n:02d}") for i in range(n)]
    pairs += [(f"v{i:02d}", f"v{(i * 13 + 5) % n:02d}") for i in range(0, n, 2)]
    edges = spark.createDataFrame(pairs, "src string, dst string")

    adj = {}
    for s, d in pairs:
        if s != d:
            adj.setdefault(s, set()).add(d)
    nodes = {x for p in pairs if p[0] != p[1] for x in p}

    def reach(start):
        seen, stack = set(), [start]
        while stack:
            v = stack.pop()
            for w in adj.get(v, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    r = {v: reach(v) for v in nodes}
    expect = {
        v: min([v] + [u for u in nodes if v in r[u] and u in r[v]])
        for v in nodes
    }
    got = {
        r_["node"]: r_["scc"]
        for r_ in strongly_connected_components(edges).collect()
    }
    assert got == expect


def test_weighted_sssp_picks_cheaper_multihop_path(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        weighted_sssp,
    )

    edges = spark.createDataFrame(
        [
            ("s", "a", 10.0),
            ("s", "b", 1.0), ("b", "a", 2.0),   # s->b->a = 3 < 10
            ("a", "c", 1.0),
            ("x", "y", 1.0),                      # unreachable island
        ],
        "src string, dst string, w double",
    )
    got = {r["uri"]: r["dist"] for r in weighted_sssp(edges, ["s"]).collect()}
    assert got == {"s": 0.0, "b": 1.0, "a": 3.0, "c": 4.0}


def test_weighted_sssp_multi_source_and_zero_weights(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        weighted_sssp,
    )

    edges = spark.createDataFrame(
        [("s1", "m", 5.0), ("s2", "m", 2.0), ("m", "t", 0.0)],
        "src string, dst string, w double",
    )
    got = {
        r["uri"]: r["dist"]
        for r in weighted_sssp(edges, ["s1", "s2"]).collect()
    }
    assert got == {"s1": 0.0, "s2": 0.0, "m": 2.0, "t": 2.0}


def test_weighted_sssp_raises_when_frontier_never_settles(spark):
    import pytest

    from distributed_extraction_framework_spark.operators.graph import (
        weighted_sssp,
    )

    # a long chain cannot settle in 2 rounds
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1.0) for i in range(5)],
        "src string, dst string, w double",
    )
    with pytest.raises(RuntimeError, match="frontier still active"):
        weighted_sssp(edges, ["n0"], max_iter=2)


def test_edge_support_and_k_truss(spark):
    from distributed_extraction_framework_spark.operators.graph import (
        edge_support,
        k_truss,
    )

    # two triangles sharing edge b-c (so b-c has support 2), plus a
    # pendant chain d-e-f: supports 2/1/1/1/1, pendants 0
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("c", "d"),
         ("d", "e"), ("e", "f")],
        "src string, dst string",
    )
    sup = {(r["u"], r["v"]): r["support"] for r in edge_support(edges).collect()}
    assert sup == {
        ("a", "b"): 1, ("b", "c"): 2, ("a", "c"): 1,
        ("b", "d"): 1, ("c", "d"): 1,
        ("d", "e"): 0, ("e", "f"): 0,
    }
    # 3-truss (support >= 1): both triangles survive, pendants peel
    t3 = {(r["u"], r["v"]) for r in k_truss(edges, k=3).collect()}
    assert t3 == {("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("c", "d")}
    # 4-truss (support >= 2 in the SURVIVING subgraph): peeling b-c's
    # neighbors drops its support too — the whole graph peels away
    assert k_truss(edges, k=4).count() == 0
    # 2-truss = the canonical undirected edge set, support zero-filled
    assert k_truss(edges, k=2).count() == 7
    with pytest.raises(ValueError):
        k_truss(edges, k=1)


def test_k_truss_four_clique(spark):
    from distributed_extraction_framework_spark.operators.graph import k_truss

    # K4 plus one dangling triangle: the 4-truss is exactly the K4
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d")]
    edges = spark.createDataFrame(
        k4 + [("d", "e"), ("d", "f"), ("e", "f")],
        "src string, dst string",
    )
    got = {(r["u"], r["v"]): r["support"] for r in k_truss(edges, k=4).collect()}
    assert set(got) == set(k4)
    # inside the surviving K4 every edge closes exactly 2 triangles
    assert set(got.values()) == {2}


def test_loop_operators_broadcast_and_shuffle_tiers_agree(spark, both_tiers,
                                                          tiers_agree):
    """Every caller of the shared byte gate must produce IDENTICAL output
    in both tiers (the gate only changes the physical join strategy,
    never the computation — the loops are exact min/count/max
    aggregations; hits and truth_finder are FP but deterministic per
    plan, so compare at the gates' 6-dp discipline)."""
    from distributed_extraction_framework_spark.operators.canonicalize import (
        connected_components,
    )
    from distributed_extraction_framework_spark.operators.fusion import (
        truth_finder,
    )
    from distributed_extraction_framework_spark.operators.graph import (
        bfs_distances,
        hits,
        kcore,
        label_propagation,
        strongly_connected_components,
        weighted_sssp,
    )
    from distributed_extraction_framework_spark.operators.reasoning import (
        owl_entailment,
    )
    from distributed_extraction_framework_spark.operators.redirects import (
        transitive_closure,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
        + [("n1", "n2"), ("n2", "n3"), ("n3", "n1")],
        ["src", "dst"],
    )
    wedges = edges.withColumn("w", (F.length("src") % 3 + 1).cast("double"))
    # a functional redirect map with chains and a 2-cycle
    redirects = spark.createDataFrame(
        [(f"r{i}", f"r{i + 1}") for i in range(9)] + [("x", "y"), ("y", "x")],
        ["src", "dst"],
    )
    quads = edges.select(
        F.col("src").alias("subj"),
        F.when(F.length("src") % 2 == 0, "p:a").otherwise("p:b").alias("pred"),
        F.col("dst").alias("obj"),
    )
    transitive = spark.createDataFrame([("p:a",), ("p:b",)], "prop string")
    claims = spark.createDataFrame(
        [(f"h{i % 4}", f"s{i % 5}", "p", f"o{(i * i) % 3}") for i in range(30)],
        ["source", "subj", "pred", "obj"],
    )

    def rows(df, nd=None):
        out = set()
        for r in df.collect():
            vals = tuple(
                round(v, nd) if nd is not None and isinstance(v, float) else v
                for v in r
            )
            out.add(vals)
        return out

    for run, nd in [
        (lambda: transitive_closure(redirects), None),
        (lambda: kcore(edges, k=2), None),
        (lambda: label_propagation(edges, rounds=3), None),
        (lambda: owl_entailment(quads, transitive=transitive), None),
        (lambda: hits(edges, iterations=3), 6),
        (lambda: truth_finder(claims, iterations=2), 6),
    ]:
        lo, hi = both_tiers(lambda: rows(run(), nd))
        assert lo and lo == hi

    # the min-plus relaxation callers answer from the driver under the
    # open gate (SCC only colours there: its answer is pinned pieces);
    # byte-order minima on non-ASCII URIs, a null and a NaN weight, a
    # self-loop, a source absent from the edges, a truncated BFS and an
    # empty graph
    odd = spark.createDataFrame(
        [("é", "a", 1.0), ("a", "Ä", None), ("a", "Z", 4.0), ("Ä", "Z", 0.5),
         ("Z", "é", 2.0), ("Z", "Z", 1.0)], "src string, dst string, w double")
    empty = spark.createDataFrame([], "src string, dst string, w double")
    nan = spark.createDataFrame([("a", "b", float("nan")), ("a", "c", 1.0)],
                                "src string, dst string, w double")
    assert tiers_agree(lambda: weighted_sssp(nan, ["a"]))[1] == [
        ("a", 0.0), ("c", 1.0)]
    for g in (wedges, odd, empty):
        tiers_agree(lambda: bfs_distances(g, ["n0", "é", "absent"]))
        tiers_agree(lambda: bfs_distances(g, ["n0", "é"], max_iter=2))
        tiers_agree(lambda: weighted_sssp(g, ["n0", "é", "absent"]))
        tiers_agree(lambda: connected_components(g))
        tiers_agree(lambda: strongly_connected_components(g), driver=False)
    assert ("absent", 0.0) in tiers_agree(
        lambda: weighted_sssp(odd, ["é", "absent"]))[1]

    def message():
        with pytest.raises(RuntimeError) as err:
            weighted_sssp(wedges, ["n0"], max_iter=2)
        return str(err.value)

    loop, loc = both_tiers(message)
    assert loop == loc and "still active after 2 rounds" in loc
