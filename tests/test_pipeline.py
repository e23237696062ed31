"""End-to-end pipeline: materialization, N-Triples sink, lineage, resume."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from distributed_extraction_framework_spark.operators.extractors import extract
from distributed_extraction_framework_spark.plans import materialize as M
from distributed_extraction_framework_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def quads(spark, pages_df):
    return extract(pages_df).cache()


def test_ntriples_rendering(spark, quads):
    lines = M.render_ntriples(quads).collect()
    assert all(r["line"].endswith(" .") for r in lines)
    by_kind = {"res": 0, "lang": 0, "typed": 0}
    for r in lines:
        ln = r["line"]
        assert ln.startswith("<http")
        if ln.rstrip(" .").endswith(">") and "^^" not in ln:
            by_kind["res"] += 1
        elif '"@' in ln:
            by_kind["lang"] += 1
        elif "^^<" in ln:
            by_kind["typed"] += 1
    assert all(v > 0 for v in by_kind.values()), by_kind
    # no raw newlines may survive escaping
    assert not any("\n" in r["line"] for r in lines)


def test_ntriples_sink_multiplexes_by_dataset(spark, quads, tmp_path):
    out = str(tmp_path / "nt")
    M.write_ntriples(quads, out)
    dirs = {os.path.basename(p) for p in glob.glob(out + "/dataset=*")}
    assert "dataset=labels" in dirs and "dataset=page_links" in dirs
    txt = spark.read.text(out + "/dataset=labels").collect()
    assert txt and all(t["value"].startswith("<http") for t in txt)


def test_gzip_sink(spark, quads, tmp_path):
    """Reference parity: format.nt.gz — codec-compressed dataset fan-out."""
    out = str(tmp_path / "ntgz")
    M.write_ntriples(quads, out, compression="gzip")
    parts = glob.glob(out + "/dataset=labels/part-*.txt.gz")
    assert parts, "expected gzip part files"
    txt = spark.read.text(out + "/dataset=labels").collect()
    assert txt and all(t["value"].startswith("<http") for t in txt)


_TTL_LINE = None  # simple structural check below


def test_turtle_rendering_and_sink(spark, quads, tmp_path):
    """Reference parity: turtle-triples/turtle-quads formats. Every part
    file must be self-contained Turtle: @prefix block first, then
    prefix-compressed statements."""
    lines = {r["line"] for r in M.render_turtle(quads).collect()}
    assert any(ln.startswith("res:") for ln in lines)          # compressed IRIs
    assert any("rdfs:label" in ln for ln in lines)
    assert any('"@en' in ln for ln in lines)                   # lang literals
    assert any("^^xsd:integer" in ln for ln in lines)          # typed literals
    assert all(ln.endswith(" .") for ln in lines)
    # quad form: TriG one-liners
    qlines = [r["line"] for r in M.render_turtle(quads, quad_form=True).collect()]
    assert all(ln.startswith("GRAPH <") and ln.endswith(" }") for ln in qlines)

    out = str(tmp_path / "ttl")
    M.write_turtle(quads, out, compression="gzip")
    for d in ("dataset=labels", "dataset=page_links"):
        for part in glob.glob(out + f"/{d}/part-*.txt.gz"):
            import gzip

            with gzip.open(part, "rt") as fh:
                content = fh.read().splitlines()
            if not content:
                continue
            assert content[0].startswith("@prefix res: <"), content[:2]
            body = [ln for ln in content if not ln.startswith("@prefix")]
            assert body and all(ln.endswith(" .") for ln in body)
            # each used prefix is declared in THIS file
            declared = {ln.split()[1].rstrip(":") for ln in content
                        if ln.startswith("@prefix")}
            for ln in body:
                for tok in ln.split():
                    if ":" in tok and not tok.startswith("<") and not tok.startswith('"'):
                        pfx = tok.split(":", 1)[0]
                        if pfx and not pfx.startswith("http"):
                            assert pfx in declared, (pfx, ln)


def test_trix_rendering(spark, quads):
    """TriX lines parse as XML and reproduce the quad fields exactly."""
    import xml.etree.ElementTree as ET

    rows = M.render_trix(quads, quad_form=True).limit(200).collect()
    assert rows
    for r in rows:
        el = ET.fromstring(r["line"])
        assert el.tag == "graph"
        triple = el.find("triple")
        assert triple is not None and len(triple) == 3


def test_uri_policy(spark):
    rows = [
        ("d", "http://x/s", "http://x/p", "http://x/" + "a" * 600, None, None, "c"),
        ("d", "http://x/s", "http://x/p", "http://x/ok", None, None, "c"),
        ("d", "http://x/s<bad>", "http://x/p", "lit " + "a" * 600, "en",
         "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "c"),
    ]
    q = spark.createDataFrame(
        rows, "dataset string, subj string, pred string, obj string,"
              "lang string, datatype string, context string"
    )
    kept = M.apply_uri_policy(q, reject_long=500).collect()
    # long IRI object dropped; long LITERAL kept (policy caps IRIs only)
    objs = {r["obj"] for r in kept}
    assert "http://x/ok" in objs and not any(o.startswith("http://x/aaa") for o in objs)
    assert any(o.startswith("lit ") for o in objs)
    xs = M.apply_uri_policy(q, reject_long=None, xml_safe=True).collect()
    assert all("<" not in r["subj"] for r in xs)


def test_write_formats_fanout(spark, quads, tmp_path):
    """The reference's multi-format job (config.properties:65-70) in one
    call: suffix picks the codec, value the serializer."""
    base = str(tmp_path / "multi")
    M.write_formats(quads.filter(F.col("dataset") == "labels"), base,
                    {"nt.gz": "n-triples", "ttl": "turtle-triples"})
    assert glob.glob(base + "/nt_gz/dataset=labels/part-*.txt.gz")
    assert glob.glob(base + "/ttl/dataset=labels/part-*.txt")


def test_graph_tables(spark, quads):
    e, l, n, p = (
        M.edges_table(quads), M.literals_table(quads),
        M.nodes_table(quads), M.predicates_table(quads),
    )
    assert e.count() + l.count() == quads.count()
    assert n.filter(F.col("n_out") > 0).count() > 0
    assert n.filter(F.col("n_in") > 0).count() > 0
    assert p.filter(F.col("n_quads") <= 0).count() == 0
    # every edge endpoint is a node
    missing = (
        e.select(F.col("subj").alias("uri"))
        .union(e.select(F.col("obj").alias("uri")))
        .distinct()
        .join(n, "uri", "left_anti")
        .count()
    )
    assert missing == 0


def test_pipeline_end_to_end_and_resume(spark, pages_df, tmp_path):
    wh = str(tmp_path / "warehouse")
    out1 = run_pipeline(spark, pages_df, wh)
    q1 = out1["quads"].count()
    e1 = out1["edges"].count()
    links1 = out1["entity_links"].count()
    assert q1 > 0 and e1 > 0 and links1 > 0

    lineage = spark.read.parquet(wh + "/lineage")
    stages = {r["stage"] for r in lineage.collect()}
    assert {"quads", "redirect_closure", "quads_resolved",
            "quads_canonical", "entity_links", "edges"} <= stages
    # per-partition lineage: quads stage records one row per dataset
    per_part = lineage.filter(
        (F.col("stage") == "quads") & (F.col("partition") != "*")
    )
    assert per_part.count() >= 15
    assert per_part.filter(F.col("n_rows") <= 0).count() == 0

    # resume: second run must reuse every stage (same input fingerprint)
    import time

    t0 = time.time()
    out2 = run_pipeline(spark, pages_df, wh)
    resume_wall = time.time() - t0
    assert out2["quads"].count() == q1
    assert out2["edges"].count() == e1
    lineage2 = spark.read.parquet(wh + "/lineage")
    # no new stage rows were appended for the core stages on resume
    n_quads_rows = lineage2.filter(F.col("stage") == "quads").select(
        "run_id"
    ).distinct().count()
    assert n_quads_rows == 1, "resume must not recompute the quads stage"

    metrics = spark.read.parquet(wh + "/metrics")
    assert metrics.filter(F.col("metric") == "quads_out").count() >= 1


def test_pipeline_canonicalizes_sameas(spark, pages_df, tmp_path):
    wh = str(tmp_path / "wh2")
    out = run_pipeline(spark, pages_df, wh, link_entities=False)
    q = out["quads"]
    sameas = q.filter(F.col("pred").endswith("sameAs"))
    # after canonicalization subj of a sameAs pair is its component min
    rows = sameas.select("subj", "obj").collect()
    for r in rows:
        assert min(r["subj"], r["obj"]) == r["subj"] or r["subj"] <= r["obj"]


def test_iceberg_conf_is_complete_switch():
    """The Iceberg flag is code, not prose: the conf helper returns the
    full catalog wiring for write_graph_tables(table_format='iceberg')."""
    from distributed_extraction_framework_spark.session import iceberg_conf

    conf = iceberg_conf("/tmp/wh", catalog="defs")
    assert conf["spark.sql.catalog.defs"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.defs.type"] == "hadoop"
    assert conf["spark.sql.catalog.defs.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


def test_graph_tables_iceberg_roundtrip(spark, quads, tmp_path):
    """Snapshot-committed Iceberg graph tables — runs only when the Iceberg
    Spark runtime jar is present (not shipped in this container; on a real
    deployment: spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-*)."""
    from distributed_extraction_framework_spark.session import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the classpath")
    # catalog conf is settable at runtime (catalogs instantiate lazily on
    # first reference), so the shared test session can host the catalog
    from distributed_extraction_framework_spark.session import iceberg_conf

    for k, v in iceberg_conf(str(tmp_path / "iwh")).items():
        if k != "spark.sql.extensions":  # extensions are build-time only
            spark.conf.set(k, v)
    counts = M.write_graph_tables(quads, str(tmp_path / "iwh"),
                                  table_format="iceberg")
    assert counts["edges"] > 0 and counts["nodes"] > 0
    assert spark.table("defs.graph.edges").count() == counts["edges"]


def test_pipeline_metrics_come_from_observation(spark, pages_df, tmp_path, monkeypatch):
    """VERDICT r3 #5: metrics must come from the extraction stage's
    observe() — pages.count()/quads.count() extra actions (a full input
    re-scan) are gone. Spy on count: it must never fire on the input
    DataFrame itself, yet the metrics table still carries exact values."""
    wh = str(tmp_path / "wh_obs")
    DataFrame = type(pages_df)
    counted = []
    orig_count = DataFrame.count

    def spy(self):
        counted.append(self)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    out = run_pipeline(spark, pages_df, wh,
                       link_entities=False, canonicalize=False)
    monkeypatch.undo()
    assert all(c is not pages_df for c in counted), \
        "pipeline must not re-count the input pages DataFrame"

    m = {r["metric"]: r["value"]
         for r in spark.read.parquet(wh + "/metrics").collect()}
    assert m["pages_in"] == pages_df.count()
    assert m["quads_out"] == out["quads"].count()


def test_pipeline_fanout_and_lang_partitioning(spark, pages_df, tmp_path):
    """K1+C1 wired into the resumable DAG (VERDICT r3 #10): quad stages lay
    out as (page_lang, dataset); the export fan-out writes per-format
    compressed text as a lineage-guarded stage that resume skips."""
    import os

    wh = str(tmp_path / "wh_fanout")
    out = run_pipeline(
        spark, pages_df, wh,
        link_entities=False, canonicalize=False,
        partition_by_lang=True,
        output_formats={"nt.gz": "n-triples", "tql.gz": "n-quads"},
    )
    assert out["quads"].count() > 0

    # (page_lang=..., dataset=...) physical layout on the quads stage
    langs = [d for d in os.listdir(wh + "/quads") if d.startswith("page_lang=")]
    assert langs, "quads stage must be partitioned by page_lang"
    inner = os.listdir(wh + "/quads/" + langs[0])
    assert any(d.startswith("dataset=") for d in inner)

    # export fan-out: one dir per format, gzip part files inside
    for sub in ("nt_gz", "tql_gz"):
        d = f"{wh}/exports/{sub}"
        assert os.path.isdir(d), d
        gz = [f for root, _, fs in os.walk(d) for f in fs if f.endswith(".gz")]
        assert gz, f"no gzip part files under {d}"

    # resume: exports stage must be skipped (exactly one lineage row)
    lineage = spark.read.parquet(wh + "/lineage")
    assert lineage.filter(F.col("stage") == "exports").count() == 1
    run_pipeline(
        spark, pages_df, wh,
        link_entities=False, canonicalize=False,
        partition_by_lang=True,
        output_formats={"nt.gz": "n-triples", "tql.gz": "n-quads"},
    )
    lineage2 = spark.read.parquet(wh + "/lineage")
    assert lineage2.filter(F.col("stage") == "exports").count() == 1
    # the exports lineage row carries the REAL exported row count
    n_exported = lineage2.filter(F.col("stage") == "exports").first()["n_rows"]
    assert n_exported == out["quads"].count()

    # ADDING a format re-runs the fan-out instead of silently skipping it
    run_pipeline(
        spark, pages_df, wh,
        link_entities=False, canonicalize=False,
        partition_by_lang=True,
        output_formats={"nt.gz": "n-triples", "tql.gz": "n-quads",
                        "ttl.gz": "turtle-triples"},
    )
    assert os.path.isdir(f"{wh}/exports/ttl_gz")
    lineage3 = spark.read.parquet(wh + "/lineage")
    assert lineage3.filter(F.col("stage") == "exports").count() == 2


def test_sink_marker_lines(spark, pages_df, tmp_path):
    """Reference per-file completion protocol (DBpediaDatasetOutputFormat):
    with markers_ts set, EVERY part file of every dataset begins with
    '# started <ts>' and ends with '# completed <ts>'; content between is
    unchanged (comment lines are stripped by diff harnesses)."""
    import os

    from distributed_extraction_framework_spark.operators.extractors import extract
    from distributed_extraction_framework_spark.plans.materialize import (
        write_ntriples,
        write_turtle,
    )

    quads = extract(pages_df, extractors=["labels", "page_links"]).cache()
    ts = "2024-01-01T00:00:00Z"
    out_nt = str(tmp_path / "nt_marked")
    write_ntriples(quads, out_nt, markers_ts=ts)
    out_ttl = str(tmp_path / "ttl_marked")
    write_turtle(quads, out_ttl, markers_ts=ts)

    def parts(base):
        for root, _, fs in os.walk(base):
            for f in fs:
                if f.startswith("part-") and not f.endswith(".crc"):
                    yield os.path.join(root, f)

    n_checked = 0
    for base in (out_nt, out_ttl):
        for pf in parts(base):
            txt = [ln for ln in open(pf).read().splitlines() if ln]
            assert txt[0] == f"# started {ts}", pf
            # footer carries the COMPLETION time (stamped at write), not
            # the run-start ts — assert shape, not value
            assert txt[-1].startswith("# completed 2"), pf
            n_checked += 1
    assert n_checked >= 4

    # markers don't perturb content: same data lines as the unmarked sink
    out_plain = str(tmp_path / "nt_plain")
    write_ntriples(quads, out_plain)

    def data_lines(base):
        out = set()
        for pf in parts(base):
            for ln in open(pf).read().splitlines():
                if ln and not ln.startswith("#"):
                    out.add(ln)
        return out

    assert data_lines(out_nt) == data_lines(out_plain)


def test_pipeline_validation_stage(spark, pages_df, tmp_path):
    from distributed_extraction_framework_spark import schema as S
    from distributed_extraction_framework_spark.operators.validation import Shape

    wh = str(tmp_path / "wh_shapes")
    shapes = [Shape(
        "label-card", pred=S.RDFS_LABEL, target_pred=S.DBO_WIKI_PAGE_ID,
        min_count=1, max_count=1,
    )]
    out = run_pipeline(spark, pages_df, wh, link_entities=False,
                       canonicalize=False, shapes=shapes)
    v = out["violations"]
    assert set(v.columns) == {"shape", "rule", "subj", "detail"}
    n1 = v.count()
    lineage = spark.read.parquet(wh + "/lineage")
    assert lineage.filter(F.col("stage") == "violations").count() >= 1
    # resume reuses the stage
    out2 = run_pipeline(spark, pages_df, wh, link_entities=False,
                        canonicalize=False, shapes=shapes)
    assert out2["violations"].count() == n1
    runs = spark.read.parquet(wh + "/lineage").filter(
        F.col("stage") == "violations"
    ).select("run_id").distinct().count()
    assert runs == 1


def test_pipeline_entailed_stage(spark, pages_df, tmp_path):
    from distributed_extraction_framework_spark import schema as S

    wh = str(tmp_path / "wh_ont")
    ontology = {
        # every dct:subject statement also holds under its super-property,
        # and every page that links somewhere is typed ex:Page (rdfs2)
        "subprop": spark.createDataFrame(
            [(S.DCT_SUBJECT, "http://example.org/about")], ["src", "dst"]
        ),
        "domains": spark.createDataFrame(
            [(S.DBO_WIKI_LINK, "http://example.org/Page")], ["prop", "cls"]
        ),
    }
    out = run_pipeline(spark, pages_df, wh, link_entities=False,
                       canonicalize=False, ontology=ontology)
    ent = out["entailed"]
    assert {"subj", "pred", "obj"} <= set(ent.columns)
    n1 = ent.count()
    assert n1 > 0
    preds = {r["pred"] for r in ent.select("pred").distinct().collect()}
    assert preds == {"http://example.org/about", S.RDF_TYPE}
    # entailed facts are NEW: none already stated in the final quads
    assert ent.join(
        out["quads"].select("subj", "pred", "obj"), ["subj", "pred", "obj"]
    ).count() == 0

    # resume skips the stage (same fingerprint -> one run_id in lineage)
    out2 = run_pipeline(spark, pages_df, wh, link_entities=False,
                        canonicalize=False, ontology=ontology)
    assert out2["entailed"].count() == n1
    runs = spark.read.parquet(wh + "/lineage").filter(
        F.col("stage") == "entailed"
    ).select("run_id").distinct().count()
    assert runs == 1


def test_pipeline_si_units_stage(spark, pages_df, tmp_path):
    from distributed_extraction_framework_spark import schema as S

    wh = str(tmp_path / "wh_si")
    out = run_pipeline(spark, pages_df, wh, link_entities=False,
                       canonicalize=False, normalize_units=True)
    quads = out["quads"]
    metre = S.DATATYPE_NS + "metre"
    converted = quads.filter(F.col("datatype") == metre)
    n_m = converted.count()
    assert n_m > 0  # synth corpus carries '| length = N km' values
    # no raw unit datatypes survive normalization
    assert quads.filter(
        F.col("datatype") == S.UNIT_DATATYPES["km"]
    ).count() == 0
    # converted objects are the km value x 1000 (parseable doubles)
    vals = [float(r["obj"]) for r in converted.limit(5).collect()]
    assert all(v >= 100.0 for v in vals)  # 0.1 km minimum in synth

    # resume: same fingerprint -> quads_si not rebuilt
    out2 = run_pipeline(spark, pages_df, wh, link_entities=False,
                        canonicalize=False, normalize_units=True)
    assert out2["quads"].filter(F.col("datatype") == metre).count() == n_m
    runs = spark.read.parquet(wh + "/lineage").filter(
        F.col("stage") == "quads_si"
    ).select("run_id").distinct().count()
    assert runs == 1


def test_pipeline_config_change_rebuilds_stages(spark, pages_df, tmp_path):
    """Stage fingerprints include the config signature: re-running the
    same warehouse with different extractors must rebuild, not serve the
    old config's snapshots (code-review r5 wave-2 #1)."""
    wh = str(tmp_path / "whcfg")
    out1 = run_pipeline(spark, pages_df, wh, extractors=["labels"],
                        link_entities=False, canonicalize=False)
    ds1 = {r["dataset"] for r in
           out1["quads"].select("dataset").distinct().collect()}
    assert ds1 == {"labels"}
    out2 = run_pipeline(spark, pages_df, wh,
                        extractors=["labels", "page_links"],
                        link_entities=False, canonicalize=False)
    ds2 = {r["dataset"] for r in
           out2["quads"].select("dataset").distinct().collect()}
    assert ds2 == {"labels", "page_links"}, (
        "config change must invalidate the quads snapshot")


def test_pipeline_in_memory_inputs_get_distinct_fingerprints(
        spark, tmp_path):
    """createDataFrame inputs have no files; the plan hash must still
    distinguish dataset A from dataset B on the same warehouse
    (code-review r5 wave-2 #2)."""
    from distributed_extraction_framework_spark.plans.pipeline import (
        Pipeline, PipelineConfig,
    )

    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    a = spark.createDataFrame(
        [("https://x/A", None, None, "[[LinkA]] body", "en")], schema)
    b = spark.createDataFrame(
        [("https://x/B", None, None, "[[LinkB]] body", "en")], schema)
    cfg = PipelineConfig(warehouse=str(tmp_path / "whmem"))
    p = Pipeline(spark, cfg)
    fa, fb = p._fingerprint(a), p._fingerprint(b)
    assert fa != fb, "different in-memory data must not share a fingerprint"
    assert fa == p._fingerprint(a), "fingerprint must be deterministic"


def test_pipeline_empty_partitioned_stage_resumes(spark, tmp_path):
    """A zero-row partitioned stage records a lineage marker so resume
    skips the rebuild (code-review r5 wave-2 #7)."""
    from distributed_extraction_framework_spark.plans.pipeline import (
        Pipeline, PipelineConfig,
    )

    schema = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")
    # a page whose text produces no quads for the labels extractor
    # (pure whitespace body, no title-ish signal is impossible — use an
    # empty frame instead: zero pages → zero quads, the degenerate case)
    pages = spark.createDataFrame([], schema)
    wh = str(tmp_path / "whempty")
    cfg = PipelineConfig(warehouse=wh, link_entities=False,
                         canonicalize=False, use_disambiguation_set=False)
    p1 = Pipeline(spark, cfg)
    p1.run(pages)
    assert "quads" in p1._fresh
    p2 = Pipeline(spark, cfg)
    p2.run(pages)
    assert "quads" not in p2._fresh, (
        "empty partitioned stage must resume, not rebuild")


def test_local_frame_matches_create_dataframe(spark):
    """local_frame = createDataFrame(rows, ddl) on schema and rows (None
    values and zero rows included), planned as a LocalRelation."""
    from distributed_extraction_framework_spark.session import local_frame

    ddl = "s string, n bigint, i int, x double, b binary, a array<string>"
    rows = [("a", 1, 2, 0.5, bytearray(b"\x00\x01"), ["p", None]),
            (None, None, None, None, None, None)]
    for data in (rows, []):
        got = local_frame(spark, data, ddl)
        want = spark.createDataFrame(data, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan


def test_stage_bookkeeping_sends_no_driver_rows_through_python(
    spark, monkeypatch, tmp_path
):
    """The lineage flush, the metrics write and linking's broadcast-tier
    dictionary build driver-side tables as Arrow local relations: no
    ``createDataFrame`` of a Python list or tuple (a PythonRDD job) runs
    anywhere in a Pipeline or WebKGPipeline run."""
    from pyspark.sql import SparkSession

    from distributed_extraction_framework_spark.plans.webkg import (
        WebKGConfig, WebKGPipeline,
    )
    from distributed_extraction_framework_spark.sources.synth import synth_pages

    pages = synth_pages(spark, 40, partitions=2)
    web = spark.createDataFrame(
        [("https://w/0", "2024-01-01 00:00:00",
          '<a href="https://w/1">x</a><script type="application/ld+json">'
          '{"@id":"https://e/0","n":"v"}</script>', 200, None),
         ("https://w/1", "2024-01-01 00:00:00", None, 301, "https://w/0")],
        "url string, warc_ts string, html string, http_status int, "
        "http_location string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    local_inputs = []
    orig = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            local_inputs.append(data)
            raise AssertionError("driver rows must go through local_frame")
        return orig(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", guarded)
    out = run_pipeline(spark, pages, str(tmp_path / "wiki"),
                       canonicalize=False)
    web_out = WebKGPipeline(
        spark, WebKGConfig(warehouse=str(tmp_path / "web"))
    ).run(web)
    monkeypatch.undo()
    assert not local_inputs
    assert out["entity_links"].count() > 0
    assert web_out["web_triples_resolved"].count() > 0
    assert spark.read.parquet(str(tmp_path / "wiki" / "metrics")).count() == 2


def test_graph_table_lineage_counts_ride_the_writes(spark, pages_df, tmp_path):
    """Graph-table lineage totals equal the written tables' row counts; a
    literals-only extractor set writes an empty ``edges`` table, which
    records 0."""
    from distributed_extraction_framework_spark.plans.pipeline import (
        Pipeline, PipelineConfig,
    )

    wh = str(tmp_path / "wh_graph")
    p = Pipeline(spark, PipelineConfig(
        warehouse=wh, extractors=["labels"], link_entities=False,
        canonicalize=False, use_disambiguation_set=False))
    out = p.run(pages_df)
    lineage = {r["stage"]: r["n_rows"]
               for r in spark.read.parquet(wh + "/lineage").collect()
               if r["stage"] in ("edges", "literals", "nodes", "predicates")}
    assert lineage["edges"] == 0 == out["edges"].count()
    for name in ("literals", "nodes", "predicates"):
        assert lineage[name] == spark.read.parquet(f"{wh}/{name}").count() > 0
