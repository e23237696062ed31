"""Knowledge fusion + statement lifecycle over extracted claim tables.

The reference emits triples per page and stops; a web-scale KG built from
10^12 crawled pages sees the SAME (subj, pred) asserted by many pages and
hosts, often with conflicting objects. This module is the fusion layer
(Knowledge-Vault-style) that turns per-page claims into one KG:

* ``vote_values`` / ``resolve_functional`` — unweighted source voting for
  functional predicates: per (subj, pred) keep the value asserted by the
  most distinct sources, deterministic tie-break (votes DESC, obj ASC).
* ``conflict_report`` — the disagreement census publishers review before
  trusting a fused value.
* ``truth_finder`` — TruthFinder-style iterative weighted voting: source
  trust <- mean vote share of its claims; claim confidence <- sum of the
  trust of its supporting sources. Fixed iteration count, pure DataFrame
  joins (oracle-able by SQL unrolling, like operators/graph.pagerank).
* ``triple_intervals`` / ``change_events`` — temporal scoping: from the
  recrawl capture history (operators/webarchive.recrawl_diff feeds this),
  derive per-statement [first_seen, last_seen] validity intervals and the
  value-transition event log for functional predicates.
* ``reify_statements`` / ``unreify_statements`` — RDF reification with
  provenance so fused statements keep their evidence trail; lossless
  round-trip (pinned in tests/test_fusion.py).

Scale shape (10^12 pages, ~10^8 hosts):
* every op is groupBy/join on (subj, pred[, obj]) — map-side partial
  aggregation does the heavy lifting before the shuffle; head-entity skew
  is the AQE skew-join case (SURVEY.md §4), no salting needed because the
  combiners collapse per-partition duplicates first;
* ``truth_finder``'s trust table is source-cardinality (hosts, not
  pages) — broadcast-gated on ESTIMATED BYTES exactly like
  operators/graph.pagerank (reuses its estimator); above the gate the
  join degrades to the shuffled form that survives any cardinality;
* iteration lineage is truncated with ``localCheckpoint`` (single-JVM
  container; a real cluster would use reliable ``checkpoint()``).

Reference parity: the reference has no fusion layer (it trusts one dump);
file-level provenance there is the quad context field
(core/.../Quad.scala) — ``reify_statements`` carries the same context
into prov:wasDerivedFrom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import gate, pin, size

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
PROV_DERIVED = "http://www.w3.org/ns/prov#wasDerivedFrom"


def vote_values(claims: DataFrame, source_col: str = "source") -> DataFrame:
    """(subj, pred, obj, votes) — votes = #distinct sources asserting the
    value. One shuffle; duplicate (source, claim) rows collapse in the
    map-side partial of count(distinct)."""
    return (
        claims.groupBy("subj", "pred", "obj")
        .agg(F.countDistinct(source_col).alias("votes"))
    )


def resolve_functional(claims: DataFrame, source_col: str = "source") -> DataFrame:
    """Majority-vote winner per (subj, pred) for functional predicates.

    Returns (subj, pred, obj, votes, n_values, n_sources):
    * ``obj`` — the value with the most distinct supporting sources,
      ties broken by obj ASC (deterministic, engine-independent);
    * ``n_values`` — how many distinct objects competed;
    * ``n_sources`` — distinct sources asserting ANYTHING for the key.

    Plan shape — all three choices measured honestly (output fully
    consumed so Catalyst can't prune any aggregate; an earlier 3.2x note
    was measured under ``.count()`` consumption, where the min_by plan
    collapsed to a degenerate distinct-join — footgun recorded in
    BENCH/fusion_forms.json):
    * **One exchange of the claims, then everything co-partitioned**:
      the up-front ``repartition("subj", "pred")`` hash-partitions once
      on the common key prefix; HashPartitioning(subj, pred) satisfies
      the ClusteredDistribution of the 4-key distinct, BOTH downstream
      aggregations, AND the final winners⋈stats join (subset-of-keys
      rule), so the whole resolve runs exchange-free after that single
      shuffle — 2 exchanges total in the physical plan (the repartition
      appears once per branch and is runtime-ReusedExchange under AQE)
      vs 5 for the un-hinted form. At 8 cores the two forms tie
      (10.5 s / 10.6 s on 32M claims: map-side pre-dedup of the
      un-hinted form compensates); at the bandwidth-saturated 32-core
      level the single-exchange form is 24% faster (14.6 s vs 19.2 s on
      128M claims) — fewer shuffle rounds is what survives scale-up,
      so it's the default.
    * the per-key argmax is ``min_by`` over the key
      struct(-votes, obj) — lexicographic struct ordering gives
      max-votes-then-min-obj in ONE hash aggregation (vs the window
      form's full exchange + SORT of the votes table: 13.9 s vs 9.7 s
      at 8 cores/32M, BENCH/fusion_forms.json). NULL objs would
      sort first here; callers fuse extracted literals, never NULL.
    """
    d = (
        claims.select("subj", "pred", "obj", source_col)
        .repartition("subj", "pred")
        .distinct()
    )
    v = d.groupBy("subj", "pred", "obj").agg(F.count("*").alias("votes"))
    stats = d.groupBy("subj", "pred").agg(
        F.countDistinct(source_col).alias("n_sources")
    )
    winners = v.groupBy("subj", "pred").agg(
        F.min_by(
            F.struct("obj", "votes"),
            F.struct((-F.col("votes")).alias("nv"), F.col("obj")),
        ).alias("_w"),
        F.count("*").cast("long").alias("n_values"),
    )
    return winners.join(stats, ["subj", "pred"]).select(
        "subj", "pred",
        F.col("_w.obj").alias("obj"), F.col("_w.votes").alias("votes"),
        "n_values", "n_sources",
    )


def conflict_report(claims: DataFrame, source_col: str = "source") -> DataFrame:
    """Keys where sources disagree: (subj, pred, n_values, values) with
    ``values`` rendered ``obj:votes|obj:votes|...`` ordered votes DESC,
    obj ASC — a stable string both engines can produce, small enough to
    eyeball in a publish review."""
    v = vote_values(claims, source_col)
    per_key = v.groupBy("subj", "pred").agg(
        F.count("*").cast("long").alias("n_values"),
        F.array_sort(
            F.collect_list(F.struct((-F.col("votes")).alias("nv"), "obj", "votes"))
        ).alias("_vs"),
    )
    rendered = F.array_join(
        F.transform("_vs", lambda s: F.concat_ws(":", s["obj"], s["votes"])), "|"
    )
    return (
        per_key.filter(F.col("n_values") > 1)
        .select("subj", "pred", "n_values", rendered.alias("values"))
    )


def truth_finder(
    claims: DataFrame,
    source_col: str = "source",
    iterations: int = 2,
) -> DataFrame:
    """Iterative source-trust voting (TruthFinder/Knowledge-Vault lite).

    trust0(src) = 1.0; then per round:
      conf(s,p,o)  = sum of trust over DISTINCT supporting sources
      share(s,p,o) = conf / sum(conf) over the (s,p) key
      trust(src)   = avg(share) over the source's distinct claims
    Returns the per-key winner (share DESC on the 6-dp-rounded score,
    obj ASC): (subj, pred, obj, conf) with conf = round(share, 6).

    A source that sides with the crowd earns trust; a contrarian source
    loses weight on EVERY key it touches — two rounds already separate
    systematically-wrong hosts from reliable ones (tests/test_fusion.py).

    All arithmetic in DOUBLE so the SQL-unrolled oracle runs the same
    IEEE ops; ranking orders by the ROUNDED score so ties break
    identically across engines (driver_queries.py numeric discipline).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    c = (
        claims.select(F.col(source_col).alias("src"), "subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=True)
    )
    trust, m = pin(
        c.select("src").distinct().withColumn("trust", F.lit(1.0)), **size("src")
    )
    bc = gate(m)
    share = None
    for _ in range(iterations):
        conf = (
            c.join(bc(trust), "src")
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("trust").alias("conf"))
        )
        tot = conf.groupBy("subj", "pred").agg(F.sum("conf").alias("tot"))
        share = conf.join(tot, ["subj", "pred"]).select(
            "subj", "pred", "obj", (F.col("conf") / F.col("tot")).alias("share")
        )
        trust = (
            c.join(share, ["subj", "pred", "obj"])
            .groupBy("src")
            .agg(F.avg("share").alias("trust"))
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("subj", "pred").orderBy(
        F.col("conf").desc(), F.col("obj").asc()
    )
    return (
        share.select("subj", "pred", "obj", F.round("share", 6).alias("conf"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# temporal scoping of statements across recrawl captures
# --------------------------------------------------------------------------

def triple_intervals(captures: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Validity intervals per statement from the capture history.

    Input: (subj, pred, obj, ts) — one row per capture that asserted the
    statement. Output per (subj, pred, obj):
      first_seen / last_seen  — min/max capture ts
      n_captures              — distinct capture timestamps supporting it
      is_current              — last_seen equals the subject's LATEST
                               capture (the statement survived the most
                               recent recrawl of that page)

    Two aggregations sharing the (subj) shuffle lineage; the per-subject
    latest-capture table is entity-cardinality and broadcast-joined back.
    """
    iv = captures.groupBy("subj", "pred", "obj").agg(
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
        F.countDistinct(ts_col).alias("n_captures"),
    )
    latest = captures.groupBy("subj").agg(F.max(ts_col).alias("_latest"))
    return (
        iv.join(latest, "subj")
        .select(
            "subj", "pred", "obj", "first_seen", "last_seen", "n_captures",
            (F.col("last_seen") == F.col("_latest")).alias("is_current"),
        )
    )


def change_events(captures: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Value-transition log for functional predicates: one row per
    (subj, pred) capture where the asserted value differs from the
    previous capture's value — (subj, pred, prev_obj, obj, ts).

    One window over (subj, pred) ordered by capture ts; the first capture
    emits prev_obj = NULL (the 'appeared' event). Input rows with several
    objects at the SAME ts are collapsed to the lexicographic min first
    (deterministic; functional predicates shouldn't have them, hostile
    crawl data does).
    """
    one = captures.groupBy("subj", "pred", ts_col).agg(F.min("obj").alias("obj"))
    w = Window.partitionBy("subj", "pred").orderBy(ts_col)
    return (
        one.withColumn("prev_obj", F.lag("obj").over(w))
        .filter(F.col("prev_obj").isNull() | (F.col("prev_obj") != F.col("obj")))
        .select("subj", "pred", "prev_obj", "obj", F.col(ts_col).alias("ts"))
    )


def incremental_resolve(
    old_fused: DataFrame,
    claims_v2: DataFrame,
    changed_claims: DataFrame,
    source_col: str = "source",
) -> DataFrame:
    """Patch a fused fact table to a new claim set without re-voting the
    whole KG — the fusion counterpart of plans/webkg.
    incremental_web_triples (same recrawl economics: a weekly recrawl
    touches a few percent of claims, so re-voting 10^10 (subj, pred)
    keys to update 10^8 is waste).

    Inputs: the previously fused table, the FULL v2 claim set, and the
    claim delta (any frame whose (subj, pred) rows cover every added /
    removed / value-changed claim — operators/webarchive.recrawl_diff
    output piped through extraction gives exactly this). Only keys
    appearing in the delta are re-voted; every other fused row is
    carried over untouched.

    Invariant (driver-gated + tested): the patched table equals
    ``resolve_functional(claims_v2)`` recomputed from scratch — keys
    whose claims vanished entirely drop out of the patched table too
    (the semi-join against v2 claims re-emits nothing for them).

    Shuffle budget: the affected-key set is delta-sized and
    materialized once (localCheckpoint), so AQE broadcasts the
    semi/anti joins when the delta is small — the common recrawl case —
    and falls back to shuffled joins when a full re-crawl makes the
    delta corpus-sized; re-voting runs the full resolve plan but over
    the affected slice only.
    """
    affected = (
        changed_claims.select("subj", "pred").distinct()
        .localCheckpoint(eager=True)
    )
    revoted = resolve_functional(
        claims_v2.join(affected, ["subj", "pred"], "left_semi"), source_col
    )
    kept = old_fused.join(affected, ["subj", "pred"], "left_anti")
    return kept.unionByName(revoted)


def kg_as_of(captures: DataFrame, ts, ts_col: str = "ts") -> DataFrame:
    """Point-in-time KG snapshot: statements whose validity interval
    (per :func:`triple_intervals`) covers ``ts`` — (subj, pred, obj).
    A closed-world read of the capture history: a statement is 'valid
    at ts' iff it appeared in SOME capture at or before ts and did not
    disappear before ts (its last sighting is >= the subject's last
    capture at-or-before ts — i.e. it was still present the last time
    the subject was observed).

    One aggregation per side over the same (subj) key; the per-subject
    as-of-latest table is entity-cardinality and broadcast back."""
    upto = captures.filter(F.col(ts_col) <= F.lit(ts))
    iv = upto.groupBy("subj", "pred", "obj").agg(
        F.max(ts_col).alias("_last")
    )
    latest = upto.groupBy("subj").agg(F.max(ts_col).alias("_latest"))
    return (
        iv.join(latest, "subj")
        .filter(F.col("_last") == F.col("_latest"))
        .select("subj", "pred", "obj")
    )


# --------------------------------------------------------------------------
# reification with provenance
# --------------------------------------------------------------------------

def reify_statements(
    quads: DataFrame,
    statement_ns: str = "http://kg.example.org/statement/",
    source_col: str | None = None,
) -> DataFrame:
    """RDF reification: each distinct (subj, pred, obj) becomes a
    statement node ``<ns><sha1(s\\x00p\\x00o)>`` with rdf:subject /
    rdf:predicate / rdf:object arcs (+ rdf:type rdf:Statement), and —
    when ``source_col`` is given — one prov:wasDerivedFrom arc per
    distinct source, so the fused KG keeps its evidence trail.

    The statement id is a CONTENT hash: idempotent across runs and
    partitions, no ordering anywhere — a narrow projection + explode,
    zero shuffles for the core arcs (provenance adds the distinct).
    """
    sid = F.concat(
        F.lit(statement_ns),
        F.md5(F.concat_ws("\u0001", "subj", "pred", "obj")),
    )
    core = quads.select("subj", "pred", "obj").distinct().select(
        sid.alias("stmt"), "subj", "pred", "obj"
    )
    arcs = core.select(
        "stmt",
        F.explode(
            F.array(
                F.struct(
                    F.lit(RDF + "type").alias("p"),
                    F.lit(RDF + "Statement").alias("o"),
                ),
                F.struct(F.lit(RDF + "subject").alias("p"), F.col("subj").alias("o")),
                F.struct(F.lit(RDF + "predicate").alias("p"), F.col("pred").alias("o")),
                F.struct(F.lit(RDF + "object").alias("p"), F.col("obj").alias("o")),
            )
        ).alias("a"),
    ).select("stmt", F.col("a.p").alias("pred"), F.col("a.o").alias("obj"))
    if source_col is None:
        return arcs
    prov = (
        quads.select("subj", "pred", "obj", F.col(source_col).alias("_src"))
        .distinct()
        .select(
            sid.alias("stmt"),
            F.lit(PROV_DERIVED).alias("pred"),
            F.col("_src").alias("obj"),
        )
    )
    return arcs.unionByName(prov)


DEFS_VOC = "http://kg.example.org/voc#"


def temporal_reification(
    captures: DataFrame,
    ts_col: str = "ts",
    statement_ns: str = "http://kg.example.org/statement/",
) -> DataFrame:
    """Wikidata-style qualified statements: each distinct (subj, pred,
    obj) from the capture history becomes a reified statement node
    carrying VALID-TIME qualifiers — defs:firstSeen / defs:lastSeen
    (rendered as strings so the arc table stays single-typed) and
    defs:isCurrent ('true'/'false' per :func:`triple_intervals`
    semantics). Output schema matches :func:`reify_statements`
    ((stmt, pred, obj)) so the two arc sets union into one statement
    table; :func:`unreify_statements` recovers the plain triples from
    either.

    Composition of the two operators above — the intervals aggregation
    is the only corpus shuffle; the 4+3 arcs per statement explode from
    a single projection."""
    iv = triple_intervals(captures, ts_col=ts_col)
    sid = F.concat(
        F.lit(statement_ns),
        F.md5(F.concat_ws("\u0001", "subj", "pred", "obj")),
    )
    # SAME content-hash id as reify_statements, so qualifier arcs land
    # on the statement nodes the core arcs created
    core = reify_statements(
        captures.select("subj", "pred", "obj"), statement_ns=statement_ns
    )
    quals = iv.select(
        sid.alias("stmt"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(DEFS_VOC + "firstSeen").alias("p"),
                    F.col("first_seen").cast("string").alias("o"),
                ),
                F.struct(
                    F.lit(DEFS_VOC + "lastSeen").alias("p"),
                    F.col("last_seen").cast("string").alias("o"),
                ),
                F.struct(
                    F.lit(DEFS_VOC + "isCurrent").alias("p"),
                    F.when(F.col("is_current"), F.lit("true"))
                    .otherwise(F.lit("false")).alias("o"),
                ),
            )
        ).alias("a"),
    ).select("stmt", F.col("a.p").alias("pred"), F.col("a.o").alias("obj"))
    return core.unionByName(quals)


def unreify_statements(arcs: DataFrame) -> DataFrame:
    """Inverse of ``reify_statements``: reassemble (subj, pred, obj) from
    the rdf:subject/predicate/object arcs — a single groupBy(stmt) with
    conditional firsts, no self-joins. Round-trip pinned in tests."""
    return (
        arcs.groupBy("stmt")
        .agg(
            F.min(F.when(F.col("pred") == RDF + "subject", F.col("obj"))).alias("subj"),
            F.min(F.when(F.col("pred") == RDF + "predicate", F.col("obj"))).alias("pred2"),
            F.min(F.when(F.col("pred") == RDF + "object", F.col("obj"))).alias("obj2"),
        )
        .filter(
            F.col("subj").isNotNull()
            & F.col("pred2").isNotNull()
            & F.col("obj2").isNotNull()
        )
        .select("subj", F.col("pred2").alias("pred"), F.col("obj2").alias("obj"))
    )
