"""Redirect harvest + transitive closure + connected components.

Model: the reference's DistRedirectsTest (distributed-vs-sequential map
equality) plus chain/cycle semantics of the upstream resolveMap."""

import re

import pytest
from pyspark.sql import functions as F

from distributed_extraction_framework_spark import schema as S
from distributed_extraction_framework_spark.functions.wikitext import REDIRECT_PATTERN
from distributed_extraction_framework_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
)
from distributed_extraction_framework_spark.operators.redirects import (
    harvest_redirects,
    resolve_objects,
    transitive_closure,
)
from distributed_extraction_framework_spark.operators.extractors import extract
from distributed_extraction_framework_spark.operators.graph import (
    bfs_distances,
    weighted_sssp,
)

_REDIR = re.compile(REDIRECT_PATTERN)


def _seq_redirects(pages_local, template_only=True):
    """Sequential harvest (the reference's Redirects.loadFromSource analog)."""
    out = {}
    for p in pages_local:
        m = _REDIR.match(p["text"] or "")
        if not m:
            continue
        title = p["url"].split("/wiki/", 1)[1]
        tgt = m.group(1).strip().replace(" ", "_")
        tgt = tgt[:1].upper() + tgt[1:]
        if template_only and not (
            title.startswith("Template:") and tgt.startswith("Template:")
        ):
            continue
        src = S.resource_prefix(p["lang"]) + title
        dst = S.resource_prefix(p["lang"]) + tgt
        out[src] = dst
    return out


def test_harvest_matches_sequential(spark, pages_df, pages_local):
    got = dict(
        (r["src"], r["dst"]) for r in harvest_redirects(pages_df).collect()
    )
    want = _seq_redirects(pages_local, template_only=True)
    assert got == want and len(want) > 0


def test_harvest_all_namespaces(spark, pages_df, pages_local):
    got = dict(
        (r["src"], r["dst"])
        for r in harvest_redirects(pages_df, namespaces=None).collect()
    )
    want = _seq_redirects(pages_local, template_only=False)
    assert got == want
    assert len(want) > len(_seq_redirects(pages_local, template_only=True))


def test_transitive_closure_chains_and_cycles(spark):
    rows = [
        ("A", "B"), ("B", "C"), ("C", "D"),   # 3-hop chain
        ("X", "Y"), ("Y", "X"),               # 2-cycle
        ("P", "Q"),                            # single hop
    ]
    df = spark.createDataFrame(rows, ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
    assert ("A", "D") in got and ("B", "D") in got and ("C", "D") in got
    assert ("P", "Q") in got
    assert not any(s in ("X", "Y") for s, _ in got), "cycle members must drop"


def test_closure_on_corpus_is_fixed_point(spark, pages_df):
    cl = transitive_closure(harvest_redirects(pages_df, namespaces=None))
    rows = cl.collect()
    srcs = {r["src"] for r in rows}
    dsts = {r["dst"] for r in rows}
    assert not (srcs & dsts), "closure must leave no resolvable dst"


def test_resolve_objects_rewrites_template_links(spark, pages_df):
    quads = extract(pages_df, extractors=["article_templates"])
    cl = transitive_closure(harvest_redirects(pages_df))
    resolved = resolve_objects(quads, cl, datasets=("article_templates",))
    redirect_srcs = {r["src"] for r in cl.collect()}
    assert redirect_srcs, "fixture must contain template redirects"
    left = resolved.filter(F.col("obj").isin(*redirect_srcs)).count()
    assert left == 0, "no object may still point at a redirect source"
    # and resolution must not change row count
    assert resolved.count() == quads.count()


def test_connected_components_basic(spark):
    rows = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")]
    labels = connected_components(spark.createDataFrame(rows, ["src", "dst"]))
    comp = {r["vertex"]: r["component"] for r in labels.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert "f" not in comp  # self-loop only → no edge → not a vertex


def test_connected_components_on_sameas(spark, pages_df):
    sameas = (
        extract(pages_df, extractors=["interlanguage_links"])
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    labels = connected_components(sameas)
    m = canonical_mapping(labels)
    # every non-representative maps to the lexicographic min of its component
    rows = labels.collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r["vertex"])
    for comp, members in by_comp.items():
        assert comp == min(members + [comp])
    assert m.count() > 0


def test_connected_components_one_action_per_round(spark, monkeypatch):
    """VERDICT r3 #4: convergence is an observe() metric collected by the
    per-round checkpoint job — the old second labels-vs-labels join +
    ``.count()`` action per round must be gone. Spy on every action entry
    point a convergence probe or the local tier could use (count /
    collect / toLocalIterator / toArrow). With the gate closed the size
    probes ride the pins, so no DataFrame action runs at all; anything
    per-round would add one entry per iteration (this star graph runs ≥2
    rounds). Under the default gate the local tier collects the edge
    table once with ``toArrow`` and runs no other action."""
    from distributed_extraction_framework_spark.operators import fixpoint

    rows = [("z", "a"), ("z", "b"), ("z", "c"), ("z", "d")]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    DataFrame = type(edges)

    def actions(cap):
        calls = []
        monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", cap)
        for name in ("count", "collect", "toLocalIterator", "toArrow"):
            orig = getattr(DataFrame, name)

            def spy(self, *a, _orig=orig, _name=name, **kw):
                calls.append(_name)
                return _orig(self, *a, **kw)

            monkeypatch.setattr(DataFrame, name, spy)
        labels = connected_components(edges)
        monkeypatch.undo()
        comp = {r["vertex"]: r["component"] for r in labels.collect()}
        assert set(comp.values()) == {"a"}
        return calls

    assert actions(0) == [], "no DataFrame action may run"
    assert actions(fixpoint.BROADCAST_BYTES) == ["toArrow"]


def test_one_job_per_round(spark, monkeypatch):
    """Each ``fixpoint`` round is ONE Spark job: the round's pin also
    observes its convergence metric, and the byte gate reads its size
    probe off the setup pin, so no count or size-probe job runs beside
    them. Shuffled tier and AQE off, so every job is an action (no
    broadcast-collect or query-stage jobs). Under the default gate the
    local tier runs no per-round job at all."""
    from distributed_extraction_framework_spark.operators import fixpoint

    sc = spark.sparkContext
    monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", 0)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        k = 3
        chain = spark.createDataFrame(
            [(f"c{i}", f"c{i + 1}") for i in range(2 ** k)], ["src", "dst"]
        )
        # 1 setup pin; k doubling rounds + 1 round that sees no jump
        assert jobs("tc_rounds", lambda: transitive_closure(chain)) == 1 + k + 1
        n = 5
        path = spark.createDataFrame(
            [(f"p{i}", f"p{i + 1}") for i in range(n)], ["src", "dst"]
        )
        # 2 setup pins (edges, labels); the min label walks one hop per
        # round along the n-edge path, then 1 round changes nothing
        assert jobs("cc_rounds", lambda: connected_components(path)) == 2 + n + 1
        # BFS and SSSP from p0: 2 setup pins (edges, state); round i
        # reaches p_i, then 1 round reaches nothing
        wpath = path.withColumn("w", F.lit(0.5))
        assert jobs("bfs_rounds", lambda: bfs_distances(path, ["p0"])) == 2 + n + 1
        assert jobs("sssp_rounds", lambda: weighted_sssp(wpath, ["p0"])) == 2 + n + 1
        # local tier under the default gate: the sizing pin plus toArrow
        monkeypatch.undo()
        assert jobs("tc_local", lambda: transitive_closure(chain)) <= 2
        assert jobs("cc_local", lambda: connected_components(path)) <= 2
        assert jobs("bfs_local", lambda: bfs_distances(path, ["p0"])) <= 2
        assert jobs("sssp_local", lambda: weighted_sssp(wpath, ["p0"])) <= 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_closure_tiers_agree_as_multisets(spark, tiers_agree):
    """The driver-local pointer doubling is the loop tier's exact twin:
    a duplicated src fans out, null endpoints drop, 2- and 4-cycles drop,
    a chain longer than 2^max_iter stops at the same partial state
    without raising, non-ASCII URIs pass through, and an empty input
    keeps its schema."""
    rows = [
        ("A", "B"), ("A", "B"), ("A", "E"), ("B", "C"), ("C", "D"),
        ("N", None), (None, "M"),
        ("X", "Y"), ("Y", "X"),
        ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1"), ("t", "c1"),
        ("Ä", "Z"), ("Z", "a"), ("é", "Ä"),
    ] + [(f"l{i:02d}", f"l{i + 1:02d}") for i in range(11)]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = tiers_agree(lambda: transitive_closure(df))[1]
    assert got.count(("A", "D")) == 2 and ("A", "E") in got
    assert not any(s in ("N", None, "X", "Y", "c1") for s, _ in got)
    assert ("é", "a") in got
    # 11 hops at max_iter=2: each link has jumped at most 4 hops
    assert ("l00", "l04") in tiers_agree(
        lambda: transitive_closure(df, max_iter=2))[1]
    empty = spark.createDataFrame([], "src string, dst string")
    assert tiers_agree(lambda: transitive_closure(empty)) == [
        "struct<src:string,dst:string>", []]


def test_connected_components_tiers_agree(spark, both_tiers, tiers_agree):
    """Driver-local min-label CC against the loop tier: byte-order
    minimum on non-ASCII URIs (``Z`` < ``a`` < ``Ä`` < ``é``, unlike a
    case-folded order), the same cap behaviour on a path longer than
    max_iter, and the empty schema."""
    rows = [("é", "a"), ("a", "Ä"), ("Ä", "Z"), ("q", "r"), ("s", None)] + [
        (f"p{i}", f"p{i + 1}") for i in range(6)]
    df = spark.createDataFrame(rows, "src string, dst string")
    comp = dict(tiers_agree(lambda: connected_components(df))[1])
    assert comp["é"] == "Z" and comp["r"] == "q"
    comp = dict(tiers_agree(
        lambda: connected_components(df, max_iter=3, strict=False))[1])
    assert comp["p6"] == "p3"

    def message():
        with pytest.raises(RuntimeError) as err:
            connected_components(df, max_iter=3)
        return str(err.value)

    loop, loc = both_tiers(message)
    assert loop == loc and "did not converge in 3 rounds" in loc
    empty = spark.createDataFrame([], "src string, dst string")
    assert tiers_agree(lambda: connected_components(empty)) == [
        "struct<vertex:string,component:string>", []]
