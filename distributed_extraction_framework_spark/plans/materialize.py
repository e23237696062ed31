"""Graph materialization: N-Triples rendering + partitioned graph tables.

Replaces the reference's 392-LoC multiplexing OutputFormat stack
(DBpediaCompositeOutputFormat / DBpediaDatasetOutputFormat /
MultipleTextOutputFormat — SURVEY.md K1) with declarative writes:

* the (dataset × format) fan-out is ``write.partitionBy("dataset")``;
* N-Triples/N-Quads rendering is ONE ``concat``/``when`` projection —
  whole-stage codegen, no custom RecordWriter;
* graph tables (nodes / edges / predicates / literals) are plain
  aggregations, written parquet here and Iceberg on a real cluster
  (``.format("iceberg")`` + catalog conf is the only difference; the
  container has no Iceberg jar — session.py documents the switch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def _esc(c: Column) -> Column:
    """N-Triples literal escaping (backslash first, then quote/newlines)."""
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', r'\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    return F.regexp_replace(c, "\t", r"\\t")


def _is_resource(quads_obj: Column, datatype: Column) -> Column:
    return datatype.isNull() & quads_obj.rlike(r"^https?://")


def render_ntriples(quads: DataFrame, quad_form: bool = False) -> DataFrame:
    """(dataset, line) — one rendered N-Triples (or N-Quads) line per quad.

    Object rendering: resource → ``<uri>``; lang literal → ``"lex"@lang``;
    typed literal → ``"lex"^^<dt>``; plain literal → ``"lex"``.
    """
    obj = F.col("obj")
    dt = F.col("datatype")
    lang = F.col("lang")
    obj_rendered = (
        F.when(_is_resource(obj, dt), F.concat(F.lit("<"), obj, F.lit(">")))
        .when(
            lang.isNotNull(),
            F.concat(F.lit('"'), _esc(obj), F.lit('"@'), lang),
        )
        .when(
            dt.isNotNull(),
            F.concat(F.lit('"'), _esc(obj), F.lit('"^^<'), dt, F.lit(">")),
        )
        .otherwise(F.concat(F.lit('"'), _esc(obj), F.lit('"')))
    )
    parts = [
        F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
        obj_rendered,
    ]
    if quad_form:
        parts += [F.lit(" <"), F.col("context"), F.lit(">")]
    parts += [F.lit(" .")]
    return quads.select(
        F.col("dataset"), F.concat(*parts).alias("line")
    )


def _write_marked_text(
    lines: DataFrame, path: str, compression: str | None, started_ts: str,
    file_header: list[str] | None = None,
) -> None:
    """Per-file ``# started/completed`` comment marker lines — the
    reference's in-file completion protocol
    (DBpediaDatasetOutputFormat.scala:101-115 writes a started header and
    completed footer comment into every output file).

    Ordering must be EXACT (a file whose first line is data reads as torn),
    and ``partitionBy`` cannot give that guarantee: Spark's dynamic-
    partition write inserts a sort on the partition column whose
    spill-run merge is not stable among equal keys, so at precisely the
    file sizes this protocol targets a later run's data rows could merge
    ahead of the header. Instead the (materialized once) lines write one
    plain text job per dataset — no partition sort exists, within-file
    order is task stream order, and every partition's file is wrapped
    header…footer unconditionally (a marker-only file = an empty but
    COMPLETE task output, the reference's own semantics for files it
    opened and closed cleanly). Comment lines never change dataset
    content: diff harnesses strip them (reference run-extraction-test:25).
    """
    import pandas as pd

    lines = lines.localCheckpoint(eager=True)
    datasets = sorted(
        r["dataset"] for r in lines.select("dataset").distinct().collect()
    )
    head = [f"# started {started_ts}"] + list(file_header or [])

    def mark(batches):
        from datetime import datetime, timezone

        yield pd.DataFrame({"line": head})
        for pdf in batches:
            yield pdf[["line"]]
        # footer stamped AT COMPLETION (after the task drained its
        # batches), per the reference protocol — staleness/duration
        # tooling reads completed-minus-started
        done = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        yield pd.DataFrame({"line": [f"# completed {done}"]})

    for ds in datasets:
        one = lines.filter(F.col("dataset") == ds)
        w = one.mapInPandas(mark, schema="line string").write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.text(f"{path}/dataset={ds}")


def write_ntriples(
    quads: DataFrame, path: str, quad_form: bool = False,
    compression: str | None = None,
    markers_ts: str | None = None,
) -> None:
    """Dataset-multiplexed N-Triples sink: one directory per dataset
    (`.../dataset=labels/part-*.txt`), the reference's
    ``{lang}wiki-{date}-{dataset}.nt`` fan-out as partitioned text.
    ``compression='gzip'`` mirrors the reference's ``format.nt.gz``
    codec-inferred outputs (MultipleTextOutputFormat.scala:57-96);
    ``markers_ts`` adds the reference's per-file started/completed comment
    lines (``_write_marked_text`` — order-exact, no partition sort)."""
    lines = render_ntriples(quads, quad_form)
    if markers_ts:
        _write_marked_text(lines, path, compression, markers_ts)
        return
    w = lines.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.partitionBy("dataset").text(path)


# --------------------------------------------------------------------------
# Turtle (reference format keys turtle-triples / turtle-quads —
# config.properties:65-70; prefix-compressed IRIs, UTF-8 literals)
# --------------------------------------------------------------------------

def _turtle_prefixes() -> list[tuple[str, str]]:
    from .. import schema as S

    return [
        ("res", S.resource_prefix("en")),
        ("dbo", S.ONTOLOGY),
        ("dbp", S.PROPERTY),
        ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
        ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
        ("owl", "http://www.w3.org/2002/07/owl#"),
        ("skos", "http://www.w3.org/2004/02/skos/core#"),
        ("dct", "http://purl.org/dc/terms/"),
        ("foaf", "http://xmlns.com/foaf/0.1/"),
        ("xsd", S.XSD),
    ]


# conservative PN_LOCAL subset: compress only suffixes that are safely a
# Turtle local name without escaping (anything else stays a full <iri>)
_PN_LOCAL_SAFE = "^[A-Za-z_][A-Za-z0-9_]*$"


def _turtle_iri(c: Column) -> Column:
    out = F.concat(F.lit("<"), c, F.lit(">"))
    for pfx, ns in _turtle_prefixes():
        local = F.substring(c, len(ns) + 1, 1_000_000)
        out = F.when(
            c.startswith(ns) & local.rlike(_PN_LOCAL_SAFE),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(out)
    return out


def render_turtle(quads: DataFrame, quad_form: bool = False) -> DataFrame:
    """(dataset, line) — one Turtle statement per line, IRIs compressed to
    prefixed names where the local part is PN_LOCAL-safe. quad_form renders
    TriG-style ``GRAPH <ctx> { ... }`` one-liners (turtle-quads)."""
    obj = F.col("obj")
    dt = F.col("datatype")
    lang = F.col("lang")
    obj_rendered = (
        F.when(_is_resource(obj, dt), _turtle_iri(obj))
        .when(lang.isNotNull(), F.concat(F.lit('"'), _esc(obj), F.lit('"@'), lang))
        .when(
            dt.isNotNull(),
            F.concat(F.lit('"'), _esc(obj), F.lit('"^^'), _turtle_iri(dt)),
        )
        .otherwise(F.concat(F.lit('"'), _esc(obj), F.lit('"')))
    )
    stmt = [
        _turtle_iri(F.col("subj")), F.lit(" "),
        _turtle_iri(F.col("pred")), F.lit(" "),
        obj_rendered, F.lit(" ."),
    ]
    if quad_form:
        stmt = (
            [F.lit("GRAPH "), _turtle_iri(F.col("context")), F.lit(" { ")]
            + stmt + [F.lit(" }")]
        )
    return quads.select(F.col("dataset"), F.concat(*stmt).alias("line"))


def write_turtle(
    quads: DataFrame, path: str, quad_form: bool = False,
    compression: str | None = None,
    markers_ts: str | None = None,
) -> None:
    """Dataset-multiplexed Turtle sink. Every part file is self-contained
    valid Turtle: rows are repartitioned by dataset and a ``@prefix`` block
    is injected before the first row of each dataset within each partition
    (mapInPandas — pure streaming, no collect)."""
    import pandas as pd

    header = "\n".join(
        f"@prefix {p}: <{ns}> ." for p, ns in _turtle_prefixes()
    )
    if markers_ts:
        _write_marked_text(
            render_turtle(quads, quad_form), path, compression, markers_ts,
            file_header=header.split("\n"),
        )
        return
    lines = render_turtle(quads, quad_form).repartition("dataset")

    def prepend(batches):
        seen: set[str] = set()
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            pieces = []
            for ds in pdf["dataset"]:
                if ds not in seen:
                    seen.add(ds)
                    pieces.append((ds, header))
            if pieces:
                # header rows sort before their dataset's first data row
                # because we emit them first and order is preserved per file
                hdr = pd.DataFrame(pieces, columns=["dataset", "line"])
                yield pd.concat([hdr, pdf], ignore_index=True)
            else:
                yield pdf

    out = lines.mapInPandas(prepend, schema="dataset string, line string")
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.partitionBy("dataset").text(path)


# --------------------------------------------------------------------------
# TriX (reference format keys trix-triples / trix-quads)
# --------------------------------------------------------------------------

def _xml_esc(c: Column) -> Column:
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def render_trix(quads: DataFrame, quad_form: bool = False) -> DataFrame:
    """(dataset, line) — one TriX ``<triple>`` element per line (the
    surrounding ``<TriX><graph>`` envelope is two constant lines the
    writer could add per file; line-level parity is what the multiplexed
    text sink needs). quad_form wraps each triple in its own graph with
    the provenance context as the graph IRI."""
    obj = F.col("obj")
    dt = F.col("datatype")
    lang = F.col("lang")
    obj_x = (
        F.when(
            _is_resource(obj, dt),
            F.concat(F.lit("<uri>"), _xml_esc(obj), F.lit("</uri>")),
        )
        .when(
            lang.isNotNull(),
            F.concat(F.lit('<plainLiteral xml:lang="'), lang, F.lit('">'),
                     _xml_esc(obj), F.lit("</plainLiteral>")),
        )
        .when(
            dt.isNotNull(),
            F.concat(F.lit('<typedLiteral datatype="'), _xml_esc(dt),
                     F.lit('">'), _xml_esc(obj), F.lit("</typedLiteral>")),
        )
        .otherwise(
            F.concat(F.lit("<plainLiteral>"), _xml_esc(obj),
                     F.lit("</plainLiteral>"))
        )
    )
    triple = F.concat(
        F.lit("<triple><uri>"), _xml_esc(F.col("subj")), F.lit("</uri><uri>"),
        _xml_esc(F.col("pred")), F.lit("</uri>"), obj_x, F.lit("</triple>"),
    )
    if quad_form:
        triple = F.concat(
            F.lit("<graph><uri>"), _xml_esc(F.col("context")), F.lit("</uri>"),
            triple, F.lit("</graph>"),
        )
    return quads.select(F.col("dataset"), triple.alias("line"))


def write_trix(
    quads: DataFrame, path: str, quad_form: bool = False,
    compression: str | None = None,
    markers_ts: str | None = None,
) -> None:
    lines = render_trix(quads, quad_form)
    if markers_ts:
        _write_marked_text(lines, path, compression, markers_ts)
        return
    w = lines.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.partitionBy("dataset").text(path)


# --------------------------------------------------------------------------
# URI policies (reference uri-policy keys: reject-long, xml-safe —
# config.properties:53-63) — applied BEFORE a render as a plain filter
# --------------------------------------------------------------------------

def apply_uri_policy(
    quads: DataFrame, reject_long: int | None = 500, xml_safe: bool = False
) -> DataFrame:
    """reject-long drops quads whose subject/predicate/object IRI exceeds
    the length cap (the reference's policy guards downstream stores);
    xml-safe additionally drops IRIs containing XML-hostile characters."""
    out = quads
    if reject_long:
        is_obj_iri = _is_resource(F.col("obj"), F.col("datatype"))
        out = out.filter(
            (F.length("subj") <= reject_long)
            & (F.length("pred") <= reject_long)
            & (~is_obj_iri | (F.length("obj") <= reject_long))
        )
    if xml_safe:
        bad = r'[<>"{}|\\^`]'
        is_obj_iri = _is_resource(F.col("obj"), F.col("datatype"))
        out = out.filter(
            ~F.col("subj").rlike(bad) & ~F.col("pred").rlike(bad)
            & (~is_obj_iri | ~F.col("obj").rlike(bad))
        )
    return out


FORMAT_WRITERS = {
    # reference format keys (config.properties:65-70) → writer
    "n-triples": lambda q, p, c=None, m=None: write_ntriples(q, p, False, c, m),
    "n-quads": lambda q, p, c=None, m=None: write_ntriples(q, p, True, c, m),
    "turtle-triples": lambda q, p, c=None, m=None: write_turtle(q, p, False, c, m),
    "turtle-quads": lambda q, p, c=None, m=None: write_turtle(q, p, True, c, m),
    "trix-triples": lambda q, p, c=None, m=None: write_trix(q, p, False, c, m),
    "trix-quads": lambda q, p, c=None, m=None: write_trix(q, p, True, c, m),
}


def write_formats(quads: DataFrame, base: str, formats: dict[str, str],
                  markers_ts: str | None = None) -> None:
    """Reference-style multi-format fan-out: ``{'nt.gz': 'n-triples', ...}``
    — suffix implies codec (``.gz`` → gzip), value picks the serializer;
    ``markers_ts`` adds per-file started/completed comment lines."""
    for suffix, fmt in formats.items():
        comp = "gzip" if suffix.endswith(".gz") else None
        FORMAT_WRITERS[fmt](quads, f"{base}/{suffix.replace('.', '_')}", comp,
                            markers_ts)


# --------------------------------------------------------------------------
# graph tables
# --------------------------------------------------------------------------

def edges_table(quads: DataFrame) -> DataFrame:
    """Resource→resource edges (datatype null, object is a URI)."""
    return quads.filter(_is_resource(F.col("obj"), F.col("datatype"))).select(
        "subj", "pred", "obj", "dataset", "context"
    )


def literals_table(quads: DataFrame) -> DataFrame:
    """Attribute quads (object is a literal)."""
    return quads.filter(~_is_resource(F.col("obj"), F.col("datatype"))).select(
        "subj", "pred", "obj", "lang", "datatype", "dataset", "context"
    )


def nodes_table(quads: DataFrame) -> DataFrame:
    """(uri, n_out, n_in) degree-annotated node set.

    One union + one groupBy: partial aggregation (map-side combine) makes
    this a single shuffle of (uri, partial-counts) — never of full quads.
    """
    e = edges_table(quads)
    out_deg = e.select(F.col("subj").alias("uri"), F.lit(1).alias("o"), F.lit(0).alias("i"))
    in_deg = e.select(F.col("obj").alias("uri"), F.lit(0).alias("o"), F.lit(1).alias("i"))
    subj_only = quads.select(F.col("subj").alias("uri"), F.lit(0).alias("o"), F.lit(0).alias("i"))
    return (
        out_deg.union(in_deg).union(subj_only)
        .groupBy("uri")
        .agg(F.sum("o").alias("n_out"), F.sum("i").alias("n_in"))
    )


def predicates_table(quads: DataFrame) -> DataFrame:
    """(pred, dataset, n_quads, n_subjects) predicate statistics."""
    return quads.groupBy("pred", "dataset").agg(
        F.count("*").alias("n_quads"),
        F.approx_count_distinct("subj").alias("n_subjects"),
    )


def write_graph_tables(
    quads: DataFrame,
    warehouse: str,
    table_format: str = "parquet",
    catalog: str = "defs",
) -> dict[str, int]:
    """Materialize nodes/edges/predicates/literals under ``warehouse``.

    Edges and literals partition by ``dataset`` (the reference's output
    multiplexing key); row counts return for lineage.

    ``table_format='iceberg'`` writes snapshot-committed Iceberg tables
    ``{catalog}.graph.{name}`` instead of parquet paths (session built
    with ``iceberg_warehouse=``/``iceberg_conf`` — the Iceberg snapshot
    commit then IS the completion marker, strictly stronger than the
    ``_SUCCESS`` file the parquet path relies on). Requires the runtime
    jar (session.iceberg_available); this container has none, so the
    parquet branch is the tested default and the Iceberg branch carries a
    skipped-unless-jar test (tests/test_pipeline.py).

    NB (Iceberg branch): tables land in the CATALOG's configured warehouse
    — the session's ``spark.sql.catalog.{catalog}.warehouse`` — so
    ``warehouse`` must point at the same location the catalog was built
    with; a mismatch raises instead of silently writing elsewhere.
    """
    spark = quads.sparkSession
    if table_format == "iceberg":
        cat_wh = spark.conf.get(f"spark.sql.catalog.{catalog}.warehouse", None)
        if cat_wh is not None and warehouse and cat_wh.rstrip("/") != warehouse.rstrip("/"):
            raise ValueError(
                f"warehouse {warehouse!r} differs from catalog {catalog!r}'s "
                f"configured warehouse {cat_wh!r}; Iceberg tables always land "
                f"in the catalog warehouse — pass that path (or rebuild the "
                f"session with iceberg_warehouse={warehouse!r})"
            )
    tables = {
        "edges": (edges_table(quads), ["dataset"]),
        "literals": (literals_table(quads), ["dataset"]),
        "nodes": (nodes_table(quads), None),
        "predicates": (predicates_table(quads), None),
    }
    counts: dict[str, int] = {}
    for name, (df, part_cols) in tables.items():
        if table_format == "iceberg":
            writer = df.writeTo(f"{catalog}.graph.{name}").using("iceberg")
            if part_cols:
                writer = writer.partitionedBy(F.col(part_cols[0]))
            writer.createOrReplace()
            counts[name] = spark.table(f"{catalog}.graph.{name}").count()
        else:
            # the row count rides the write as an observe() metric, so an
            # empty partitioned table (no part files to read back) counts 0
            obs = Observation()
            w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(f"{warehouse}/{name}")
            counts[name] = int(obs.get["n"] or 0)
    return counts


def void_stats(quads: DataFrame, approx: bool = False) -> DataFrame:
    """Per-dataset VoID descriptor statistics → ``(dataset, n_triples,
    n_distinct_subjects, n_distinct_objects, n_predicates)``.

    DBpedia publishes exactly these alongside each release (void:triples
    / void:distinctSubjects / void:distinctObjects / void:properties).
    One groupBy; the three COUNT DISTINCTs share a single Expand-based
    pass (Catalyst's distinct-aggregate rewrite). At 10^12 triples pass
    ``approx=True``: HyperLogLog++ sketches (``approx_count_distinct``)
    drop the Expand blow-up and make the pass mergeable map-side.
    """
    cd = F.approx_count_distinct if approx else F.countDistinct
    return quads.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_triples"),
        cd("subj").alias("n_distinct_subjects"),
        cd("obj").alias("n_distinct_objects"),
        cd("pred").alias("n_predicates"),
    )


def pivot_properties(
    quads: DataFrame, preds: dict[str, str]
) -> DataFrame:
    """Entity-attribute-value → wide: one row per ``subj`` with a column
    per requested predicate (``{out_col: predicate_iri}``), value =
    lexicographic MIN among that subject's objects (deterministic under
    any partitioning; multi-valued predicates need the quad form, this
    is the consumption shape).

    One filtered scan + one groupBy — the predicate list is static, so
    this is conditional aggregation (`min(when(pred=...))`), NOT the
    RelationalGroupedDataset.pivot path (which runs a values-discovery
    job first). The pred filter prunes dataset partitions.
    """
    if not preds:
        raise ValueError("no predicates requested")
    wanted = list(preds.items())
    rows = quads.where(
        F.col("pred").isin([iri for _, iri in wanted])
    )
    return rows.groupBy("subj").agg(*[
        F.min(F.when(F.col("pred") == iri, F.col("obj"))).alias(name)
        for name, iri in wanted
    ])
