"""MappingExtractor — ontology-typed triples from community template
mappings (reference: MappingsLoader, DistConfigLoader.scala:182-206;
semantics are the published DBpedia mappings-wiki behavior).

The reference loads per-language template→ontology mapping XML driver-side
and dispatches inside the extractor. Spark-native: the mapping is a small
DataFrame broadcast-joined against the parsed infobox key/values —
a map-side join, so the mapped extraction stays shuffle-free.

Outputs:
* ``instance_types``       — rdf:type ontology-class per mapped template
* ``mappingbased_objects`` — ontology predicate ← link-valued property
* ``mappingbased_literals``— ontology predicate ← typed literal property
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..session import local_frame
from .extractors import base_norm, enrich_pages, prepare_pages, quad, resource_uri, ucfirst

# (template, class) — which ontology class a mapped template types
TEMPLATE_CLASS_SCHEMA = "template string, onto_class string"
# (template, key, onto_pred, range) — range: 'object' | an xsd datatype URI
PROPERTY_MAP_SCHEMA = "template string, key string, onto_pred string, range string"
# ConditionalMapping cases (published mappings-wiki semantics: the FIRST
# matching {{Condition}} in listed order supplies the class; operators are
# isSet / equals / contains / otherwise)
CONDITION_SCHEMA = ("template string, cond_order int, cond_key string, "
                    "cond_op string, cond_value string, onto_class string")

# a small built-in mapping set covering the synthetic corpus's infoboxes
# (the real system feeds these tables from the mappings wiki)
DEFAULT_TEMPLATE_CLASSES = [
    ("Infobox_settlement", S.ONTOLOGY + "Settlement"),
    ("Infobox_company", S.ONTOLOGY + "Company"),
    ("Infobox_person", S.ONTOLOGY + "Person"),
    ("Infobox_thing", S.ONTOLOGY + "Thing"),
]
DEFAULT_PROPERTY_MAPPINGS = [
    ("Infobox_settlement", "population", S.ONTOLOGY + "populationTotal", S.XSD_INTEGER),
    ("Infobox_settlement", "area_km2", S.ONTOLOGY + "areaTotal", S.XSD_DOUBLE),
    ("Infobox_settlement", "located_in", S.ONTOLOGY + "isPartOf", "object"),
    ("Infobox_company", "website", S.ONTOLOGY + "homepage", "object"),
    ("Infobox_company", "located_in", S.ONTOLOGY + "locationCountry", "object"),
    ("Infobox_person", "name", S.ONTOLOGY + "birthName", S.XSD_STRING),
    ("Infobox_thing", "population", S.ONTOLOGY + "populationTotal", S.XSD_INTEGER),
    ("Infobox_thing", "located_in", S.ONTOLOGY + "isPartOf", "object"),
]


def mapping_tables(
    spark: SparkSession,
    template_classes=None,
    property_mappings=None,
) -> tuple[DataFrame, DataFrame]:
    tc = local_frame(
        spark, template_classes or DEFAULT_TEMPLATE_CLASSES, TEMPLATE_CLASS_SCHEMA
    )
    pm = local_frame(
        spark, property_mappings or DEFAULT_PROPERTY_MAPPINGS, PROPERTY_MAP_SCHEMA
    )
    return tc, pm


# --------------------------------------------------------------------------
# mappings-wiki / ontology XML loaders (reference DistConfigLoader.scala:
# 124-139 loads ontology.xml, 182-206 loads per-language Mapping_<lang>.xml
# — both MediaWiki-export XML whose page text holds {{Class}} /
# {{ObjectProperty}} / {{DatatypeProperty}} / {{TemplateMapping}} /
# {{PropertyMapping}} templates; same published shapes parsed here)
# --------------------------------------------------------------------------

def _iter_export_pages(path: str):
    """(title, text) per <page> of a MediaWiki export XML, namespace-agnostic,
    streaming (iterparse — ontology.xml is tens of MB; never fully in RAM)."""
    import xml.etree.ElementTree as ET

    for _, elem in ET.iterparse(path):
        if elem.tag.rsplit("}", 1)[-1] != "page":
            continue
        title, text = "", ""
        for child in elem.iter():
            tag = child.tag.rsplit("}", 1)[-1]
            if tag == "title" and not title:
                title = child.text or ""
            elif tag == "text":
                text = child.text or ""
        yield title, text
        elem.clear()


def _template_kv(parts: list[str]) -> dict[str, str]:
    kv: dict[str, str] = {}
    for part in parts:
        if "=" not in part:
            continue
        k, _, v = part.partition("=")
        kv[k.strip()] = v.strip()
    return kv


def parse_ontology_xml(path: str) -> dict[str, str]:
    """OntologyProperty pages → {property: range} where range is 'object'
    (ObjectProperty) or a datatype URI (DatatypeProperty rdfs:range)."""
    from ..functions.wikitext import find_top_level_templates, split_template

    ranges: dict[str, str] = {}
    for title, text in _iter_export_pages(path):
        if not title.startswith("OntologyProperty:"):
            continue
        # MediaWiki ucfirsts titles; property names are lcfirst camelCase
        # ('OntologyProperty:BirthPlace' → 'birthPlace'), as the reference's
        # OntologyReader restores them
        prop = title.split(":", 1)[1].strip()
        prop = prop[:1].lower() + prop[1:]
        for src in find_top_level_templates(text):
            name, parts = split_template(src)
            if name == "ObjectProperty":
                ranges[prop] = "object"
            elif name == "DatatypeProperty":
                r = _template_kv(parts).get("rdfs:range", "xsd:string")
                if r.startswith("xsd:"):
                    ranges[prop] = S.XSD + r.split(":", 1)[1]
                else:  # custom unit datatype name
                    ranges[prop] = S.DATATYPE_NS + r
    return ranges


# (cls, parent) — one row per direct rdfs:subClassOf edge
SUBCLASS_SCHEMA = "cls string, parent string"
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"


def parse_ontology_classes(path: str) -> list[tuple[str, str]]:
    """OntologyClass pages → direct (class URI, parent URI) subClassOf
    edges. The mappings-wiki shape is ``{{Class | rdfs:subClassOf = X}}``
    (possibly comma-separated parents); bare names resolve into the
    ontology namespace, ``owl:Thing`` to the OWL URI, other prefixed
    externals are kept verbatim-namespaced under their prefix-stripped
    name only if unprefixed — external-vocabulary parents (schema:…)
    are skipped, as the published extraction does for type emission."""
    from ..functions.wikitext import find_top_level_templates, split_template

    edges: list[tuple[str, str]] = []
    for title, text in _iter_export_pages(path):
        if not title.startswith("OntologyClass:"):
            continue
        cls = title.split(":", 1)[1].strip().replace(" ", "_")
        for src in find_top_level_templates(text):
            name, parts = split_template(src)
            if name != "Class":
                continue
            for parent in _template_kv(parts).get("rdfs:subClassOf", "").split(","):
                parent = parent.strip()
                if not parent:
                    continue
                if parent == "owl:Thing":
                    edges.append((S.ONTOLOGY + cls, OWL_THING))
                elif ":" not in parent:
                    edges.append((S.ONTOLOGY + cls, S.ONTOLOGY + parent.replace(" ", "_")))
    return edges


def subclass_edges(spark: SparkSession, edges=None, ontology_path: str | None = None) -> DataFrame:
    """SUBCLASS_SCHEMA DataFrame from explicit rows and/or an ontology
    export (both may be given; rows union)."""
    rows = list(edges or [])
    if ontology_path:
        rows.extend(parse_ontology_classes(ontology_path))
    return local_frame(spark, rows or [("__none__", "")], SUBCLASS_SCHEMA)


def instance_types_transitive(
    quads: DataFrame,
    subclasses: DataFrame,
    max_iter: int = 8,
) -> DataFrame:
    """The published instance-types-transitive dataset: for every direct
    (subj rdf:type C) and every STRICT ancestor A of C in the subClassOf
    hierarchy, emit (subj rdf:type A).

    Plan: the ontology hierarchy is tiny and bounded (reference
    ontology.xml: hundreds of classes), so its transitive closure
    (graph.reachability, repeated squaring — depth d closes in ⌈log2 d⌉
    rounds) stays broadcast-sized; the corpus-scale types table then
    broadcast-joins against it — a map-side join, zero added shuffles
    except the final per-(subj, ancestor) distinct that multi-path DAG
    inheritance requires."""
    # schema-sized relation → the driver-side bounded closure (the
    # reasoning._closure tier): the reference ontology is hundreds of
    # rows, and reachability's per-round checkpoint/observe jobs cost
    # ~1s of pure scheduling for a relation this small; relations past
    # the driver budget still fall back to distributed repeated squaring
    # inside _closure
    from .reasoning import _closure

    closure = _closure(
        subclasses.select(F.col("cls").alias("src"), F.col("parent").alias("dst"))
    )
    t = quads.filter(F.col("dataset") == "instance_types")
    return (
        t.join(F.broadcast(closure), t["obj"] == closure["src"])
        .select(
            F.lit("instance_types_transitive").alias("dataset"),
            t["subj"],
            F.lit(S.RDF_TYPE).alias("pred"),
            closure["dst"].alias("obj"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("datatype"),
            t["context"],
        )
        .distinct()
    )


def _parse_conditional_cases(tmpl: str, src: str) -> list[tuple]:
    """{{ConditionalMapping | cases = {{Condition|...}} ...}} → CONDITION_
    SCHEMA rows, in listed order (first match wins downstream)."""
    from ..functions.wikitext import find_top_level_templates, split_template

    rows: list[tuple] = []
    order = 0
    for sub in find_top_level_templates(src[2:-2]):
        name, parts = split_template(sub)
        if name != "Condition":
            continue
        kv = _template_kv(parts)
        op = kv.get("operator", "otherwise").strip() or "otherwise"
        key = kv.get("templateProperty", "").strip().replace(" ", "_")
        val = kv.get("value", "").strip()
        cls = ""
        for msub in find_top_level_templates(kv.get("mapping", "")):
            mname, mparts = split_template(msub)
            if mname == "TemplateMapping":
                cls = _template_kv(mparts).get("mapToClass", "").strip()
        if cls:
            rows.append((tmpl, order, key, op, val, S.ONTOLOGY + cls))
            order += 1
    return rows


def load_mappings_xml(
    spark: SparkSession,
    mappings_path: str,
    ontology_path: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a mappings-wiki export ('Mapping en:Infobox foo' pages holding
    {{TemplateMapping|mapToClass=...|mappings={{PropertyMapping|...}}}} or
    {{ConditionalMapping|cases={{Condition|...}}...}}) into the
    broadcastable (template→class, (template,key)→predicate, conditions)
    DataFrames mapping_extract consumes.

    A page holding a ConditionalMapping contributes CONDITION_SCHEMA rows
    (one per {{Condition}}, in listed order — first match wins) instead of
    an unconditional template→class row; its PropertyMappings (from every
    case) merge onto the template, matching the published behavior where
    per-case mappings apply to the template's properties.

    Property ranges resolve through the ontology export when given
    (object vs typed literal); unknown properties default to plain
    lang-tagged literals (xsd:string) — the benign fallback.
    """
    from ..functions.wikitext import find_top_level_templates, split_template

    ranges = parse_ontology_xml(ontology_path) if ontology_path else {}
    tclasses: list[tuple[str, str]] = []
    pmaps: list[tuple[str, str, str, str]] = []
    conds: list[tuple] = []
    for title, text in _iter_export_pages(mappings_path):
        # 'Mapping en:Infobox settlement' → 'Infobox_settlement'
        tmpl = title.split(":", 1)[1] if ":" in title else title
        tmpl = tmpl.strip().replace(" ", "_")
        tmpl = tmpl[:1].upper() + tmpl[1:]
        tops = find_top_level_templates(text)
        conditional = [s for s in tops if split_template(s)[0] == "ConditionalMapping"]
        for cs in conditional:
            conds.extend(_parse_conditional_cases(tmpl, cs))
        for src in tops:
            name, parts = split_template(src)
            kv = _template_kv(parts)
            if name == "TemplateMapping" and not conditional:
                cls = kv.get("mapToClass", "")
                if cls:
                    tclasses.append((tmpl, S.ONTOLOGY + cls))
            elif name == "PropertyMapping":
                tp, op = kv.get("templateProperty", ""), kv.get("ontologyProperty", "")
                if tp and op:
                    rng = ranges.get(op, S.XSD_STRING)
                    pmaps.append(
                        (tmpl, tp.replace(" ", "_"), S.ONTOLOGY + op, rng)
                    )
    tc, pm = mapping_tables(
        spark, tclasses or [("__none__", "")], pmaps or [("__none__", "", "", "")]
    )
    cond_df = local_frame(
        spark, conds or [("__none__", 0, "", "otherwise", "", "")], CONDITION_SCHEMA
    )
    return tc, pm, cond_df


def conditional_types(kv: DataFrame, conditions: DataFrame) -> DataFrame:
    """(subj, context, template, onto_class) — ConditionalMapping dispatch.

    Published semantics (the reference's ConditionalMapping/Condition pages
    on the mappings wiki; the extractor framework applies the FIRST
    condition whose test passes, in listed order):

    * ``isSet``    — the template sets ``cond_key`` to a non-blank value
    * ``equals``   — the value equals ``cond_value`` (case-insensitive, trimmed)
    * ``contains`` — the value contains ``cond_value`` (case-insensitive)
    * ``otherwise``— always matches (the trailing default case)

    Plan: the per-page key/values collapse to ONE array per (subj,
    template) — a single shuffle with the same cardinality as pages —
    then a broadcast join against the (tiny) condition table evaluates
    every case with ``F.exists`` over the array (no second shuffle), and
    ``min_by(cond_order)`` picks the first match, reusing the groupBy
    partitioning."""
    page_tmpl = kv.groupBy("subj", "context", "template").agg(
        F.collect_list(F.struct(F.col("key"), F.col("value"))).alias("_kvs")
    )
    cand = page_tmpl.join(F.broadcast(conditions), "template")

    def has(pred):
        return F.exists(
            "_kvs",
            lambda e: (e["key"] == F.col("cond_key")) & pred(F.trim(e["value"])),
        )

    matched = (
        F.when(F.col("cond_op") == "otherwise", F.lit(True))
        .when(F.col("cond_op") == "isSet", has(lambda v: v != ""))
        .when(
            F.col("cond_op") == "equals",
            has(lambda v: F.lower(v) == F.lower(F.col("cond_value"))),
        )
        .when(
            F.col("cond_op") == "contains",
            has(lambda v: F.contains(F.lower(v), F.lower(F.col("cond_value")))),
        )
        .otherwise(F.lit(False))
    )
    return (
        cand.filter(matched)
        .groupBy("subj", "context", "template")
        .agg(F.min_by("onto_class", "cond_order").alias("onto_class"))
    )


def mapping_extract(
    pages: DataFrame,
    template_classes: DataFrame,
    property_mappings: DataFrame,
    conditions: DataFrame | None = None,
) -> DataFrame:
    """Quads from mapped infobox templates (broadcast joins, no shuffle).

    ``conditions`` (CONDITION_SCHEMA rows) adds ConditionalMapping
    dispatch: templates present there take their rdf:type class from the
    first matching condition instead of ``template_classes``; property
    mappings stay template-keyed (the per-case mappings of a conditional
    template are merged onto the template by the XML loader)."""
    # non-deterministic parse: explode(parsed.infobox) otherwise infers a
    # size()>0 filter that duplicates the parse UDF (guide §4.4 — every
    # page parsed twice, plan-verified); the lazy checkpoint materializes
    # the narrow kv rows ONCE for the three consumers below (types /
    # conditional_types / property mappings — a union Catalyst cannot
    # share subtrees across, so un-checkpointed each branch re-ran the
    # whole extraction+parse)
    # ns filter applied BEFORE the non-deterministic parse (the optimizer
    # may not push filters past a non-deterministic projection, so the
    # order in the code is the order in the plan)
    e = enrich_pages(
        prepare_pages(pages).filter(F.col("ns") == S.NS_MAIN),
        with_parse=True, parse_deterministic=False,
    )
    kv = e.select(
        "subj", "lang", "context",
        F.explode("parsed.infobox").alias("ib"),
    ).select(
        "subj", "lang", "context",
        ucfirst(base_norm(F.col("ib.template"))).alias("template"),
        F.regexp_replace(F.trim(F.col("ib.key")), " ", "_").alias("key"),
        F.trim(F.col("ib.value")).alias("value"),
    ).localCheckpoint(eager=False)

    # rdf:type from the template→class table; conditional templates are
    # carved out and typed by their first matching condition instead
    tc = template_classes
    typed = kv.select("subj", "context", "template").distinct()
    if conditions is not None:
        cond_templates = conditions.select("template").distinct()
        typed = typed.join(F.broadcast(cond_templates), "template", "left_anti")
    plain_types = typed.join(F.broadcast(tc), "template")
    if conditions is not None:
        plain_types = plain_types.unionByName(
            conditional_types(kv, conditions)
        )
    types = plain_types.select(
        F.lit("instance_types").alias("dataset"),
        F.col("subj"),
        F.lit(S.RDF_TYPE).alias("pred"),
        F.col("onto_class").alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("datatype"),
        F.col("context"),
    )

    # typed properties from the (template, key) → predicate table
    mapped = kv.join(F.broadcast(property_mappings), ["template", "key"])
    link_t = F.regexp_extract(F.col("value"), r"^\[\[([^\[\]|]+)(\|[^\[\]]*)?\]\]$", 1)
    obj_val = F.when(
        F.col("range") == "object",
        F.when(link_t != "", resource_uri(F.col("lang"), ucfirst(base_norm(link_t))))
        .otherwise(F.col("value")),
    ).otherwise(F.regexp_replace(F.col("value"), ",", ""))
    objects = mapped.filter(F.col("range") == "object").select(
        F.lit("mappingbased_objects").alias("dataset"),
        F.col("subj"),
        F.col("onto_pred").alias("pred"),
        obj_val.alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("datatype"),
        F.col("context"),
    )
    literals = mapped.filter(F.col("range") != "object").select(
        F.lit("mappingbased_literals").alias("dataset"),
        F.col("subj"),
        F.col("onto_pred").alias("pred"),
        obj_val.alias("obj"),
        F.when(F.col("range") == S.XSD_STRING, F.col("lang"))
        .otherwise(F.lit(None).cast("string")).alias("lang"),
        F.col("range").alias("datatype"),
        F.col("context"),
    )
    return types.unionByName(objects).unionByName(literals)


# --------------------------------------------------------------------------
# Structured mapping constructs — the rest of the published mappings-wiki
# language (the reference dispatches these inside its MappingExtractor via
# the external extraction-framework artifact; semantics below are the
# published forms: CalculateMapping, CombineDateMapping,
# DateIntervalMapping, GeocoordinatesMapping, IntermediateNodeMapping).
#
# Shared scale shape: ONE groupBy collapses the parsed key/values to a
# per-(page, template) array (cardinality = pages × templates/page — the
# same exchange ConditionalMapping already pays, reused by every construct
# consuming the arrays frame); each construct is then a BROADCAST join of a
# schema-sized spec table + a pure projection. No construct adds a shuffle,
# so the whole family costs one exchange at any corpus size.
# --------------------------------------------------------------------------

# CalculateMapping: ontologyProperty = op(templateProperty1, templateProperty2)
CALC_SCHEMA = ("template string, key_a string, key_b string, op string, "
               "onto_pred string")
# CombineDateMapping: day/month/year template properties → one xsd:date
COMBINE_DATE_SCHEMA = ("template string, day_key string, month_key string, "
                       "year_key string, onto_pred string")
# DateIntervalMapping: one 'YYYY–YYYY' property → start/end gYear pair
INTERVAL_SCHEMA = ("template string, key string, start_pred string, "
                   "end_pred string")
# GeocoordinatesMapping: lat/long template properties → wgs84 + georss
GEO_MAP_SCHEMA = "template string, lat_key string, lon_key string"
# IntermediateNodeMapping: typed blank-ish node hung off the page subject
INODE_SCHEMA = ("template string, node_name string, node_class string, "
                "corresponding_pred string")

_QUAD_COLS = ("dataset", "subj", "pred", "obj", "lang", "datatype", "context")


def template_kv_arrays(pages: DataFrame) -> DataFrame:
    """(subj, lang, context, template, _kvs array<struct<key,value>>) —
    the shared input of every structured mapping construct.

    One row per (main-namespace page, template); keys are normalized the
    same way as :func:`mapping_extract` (trim, spaces→underscores) so spec
    tables written against PropertyMapping names match here too."""
    # non-deterministic parse for the same reason as mapping_extract: the
    # explode otherwise double-evaluates the parse UDF under an inferred
    # size() filter (guide §4.4)
    e = enrich_pages(
        prepare_pages(pages).filter(F.col("ns") == S.NS_MAIN),
        with_parse=True, parse_deterministic=False,
    )
    kv = e.select(
        "subj", "lang", "context",
        F.explode("parsed.infobox").alias("ib"),
    ).select(
        "subj", "lang", "context",
        ucfirst(base_norm(F.col("ib.template"))).alias("template"),
        F.regexp_replace(F.trim(F.col("ib.key")), " ", "_").alias("key"),
        F.trim(F.col("ib.value")).alias("value"),
    )
    # pinned ONCE (lazy): every construct consuming this frame fans out
    # into 2-3 union branches (geo lat/long/point, interval start/end,
    # intermediate link/types/inner), and Catalyst shares no subtrees
    # across branches — un-pinned, each branch re-ran the whole
    # extraction+parse (plan audit: parse_page executed 3× in the
    # mapping_geo gate). The frame is pages × templates/page rows of
    # narrow arrays — exactly the cheap thing to keep.
    return kv.groupBy("subj", "lang", "context", "template").agg(
        F.collect_list(F.struct("key", "value")).alias("_kvs")
    ).localCheckpoint(eager=False)


def _kv_get(key_col):
    """First value stored under ``key_col`` in the page's ``_kvs`` array
    (NULL when the template does not set the property — ``try_element_at``
    because under ANSI mode a plain element_at raises on the empty
    filter result)."""
    return F.try_element_at(
        F.filter(F.col("_kvs"), lambda e: e["key"] == key_col), F.lit(1)
    )["value"]


def _object_uri(value_col, lang_col):
    """``[[Target]]`` / ``[[Target|anchor]]`` values → resource URI; other
    values pass through raw (the published object-property fallback)."""
    link_t = F.regexp_extract(value_col, r"^\[\[([^\[\]|]+)(\|[^\[\]]*)?\]\]$", 1)
    return F.when(
        link_t != "", resource_uri(lang_col, ucfirst(base_norm(link_t)))
    ).otherwise(value_col)


def calculate_mapping(arrays: DataFrame, spec: DataFrame) -> DataFrame:
    """CalculateMapping — ``onto_pred = op(value[key_a], value[key_b])``
    with ``op`` ∈ add/subtract/multiply/divide (divide guards b≠0); both
    operands parsed as doubles (non-numeric values → no triple, the
    published skip-on-parse-failure behavior). Emits
    ``mappingbased_literals`` quads typed xsd:double."""
    j = arrays.join(F.broadcast(spec), "template")
    a = _kv_get(F.col("key_a")).try_cast("double")
    b = _kv_get(F.col("key_b")).try_cast("double")
    res = (
        F.when(F.col("op") == "add", a + b)
        .when(F.col("op") == "subtract", a - b)
        .when(F.col("op") == "multiply", a * b)
        .when(F.col("op") == "divide", F.when(b != 0, a / b))
    )
    return j.select(
        F.lit("mappingbased_literals").alias("dataset"),
        "subj",
        F.col("onto_pred").alias("pred"),
        res.cast("string").alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(S.XSD_DOUBLE).alias("datatype"),
        "context",
    ).where(F.col("obj").isNotNull())


def combine_date_mapping(arrays: DataFrame, spec: DataFrame) -> DataFrame:
    """CombineDateMapping — three day/month/year template properties fold
    into ONE xsd:date literal. Validation goes through ``try_to_date`` so
    impossible combinations (Feb 31) drop instead of raising under ANSI."""
    j = arrays.join(F.broadcast(spec), "template")
    d = F.try_to_date(
        F.concat_ws(
            "-",
            _kv_get(F.col("year_key")),
            _kv_get(F.col("month_key")),
            _kv_get(F.col("day_key")),
        ),
        "yyyy-M-d",
    )
    return j.select(
        F.lit("mappingbased_literals").alias("dataset"),
        "subj",
        F.col("onto_pred").alias("pred"),
        F.date_format(d, "yyyy-MM-dd").alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(S.XSD_DATE).alias("datatype"),
        "context",
    ).where(F.col("obj").isNotNull())


def date_interval_mapping(arrays: DataFrame, spec: DataFrame) -> DataFrame:
    """DateIntervalMapping — one ``YYYY–YYYY`` (en-dash, em-dash, or
    hyphen) property → start_pred/end_pred xsd:gYear pair; open-ended
    intervals (``YYYY–`` / ``YYYY–present``) emit the start year only."""
    j = arrays.join(F.broadcast(spec), "template")
    v = _kv_get(F.col("key"))
    rx = r"^(\d{1,4})\s*[–—-]\s*(\d{1,4}|present)?$"
    start = F.regexp_extract(v, rx, 1)
    end_raw = F.regexp_extract(v, rx, 2)
    end = F.when(end_raw.rlike(r"^\d+$"), end_raw)
    gyear = F.lit(S.XSD + "gYear")
    starts = j.select(
        F.lit("mappingbased_literals").alias("dataset"),
        "subj",
        F.col("start_pred").alias("pred"),
        F.when(start != "", start).alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        gyear.alias("datatype"),
        "context",
    )
    ends = j.select(
        F.lit("mappingbased_literals").alias("dataset"),
        "subj",
        F.col("end_pred").alias("pred"),
        end.alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        gyear.alias("datatype"),
        "context",
    )
    return starts.unionByName(ends).where(F.col("obj").isNotNull())


def geocoordinates_mapping(arrays: DataFrame, spec: DataFrame) -> DataFrame:
    """GeocoordinatesMapping — decimal lat/long template properties →
    wgs84 geo:lat / geo:long (xsd:double, raw textual value preserved)
    plus the combined georss:point "lat long" literal. Rows with a
    non-numeric side drop entirely (a point needs both halves)."""
    j = arrays.join(F.broadcast(spec), "template")
    lat, lon = _kv_get(F.col("lat_key")), _kv_get(F.col("lon_key"))
    ok = lat.try_cast("double").isNotNull() & lon.try_cast("double").isNotNull()
    j = j.where(ok)

    def row(pred, obj, dt):
        return j.select(
            F.lit("geo_coordinates_mapped").alias("dataset"),
            "subj",
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(dt).cast("string").alias("datatype"),
            "context",
        )

    return (
        row(S.GEO_LAT, lat, S.XSD_DOUBLE)
        .unionByName(row(S.GEO_LONG, lon, S.XSD_DOUBLE))
        .unionByName(
            row(S.GEORSS_POINT, F.concat_ws(" ", lat, lon), None)
        )
    )


def intermediate_node_mapping(
    arrays: DataFrame, spec: DataFrame, node_pmaps: DataFrame
) -> DataFrame:
    """IntermediateNodeMapping — a deterministic intermediate node
    ``<subj>__<node_name>__1`` typed ``node_class``, hung off the page via
    ``corresponding_pred``; ``node_pmaps`` (PROPERTY_MAP_SCHEMA rows) then
    attach the template's inner properties TO THE NODE instead of the page
    (the published career-station / automobile-engine pattern).

    The node URI is key-determined (subject + mapping name + occurrence
    ordinal), so re-extraction is idempotent — no UUIDs, no RDF blank
    nodes whose labels vary per run; occurrence ordinal is fixed at 1
    because the per-page parse collapses same-template key/values (matches
    :func:`mapping_extract`'s per-template granularity)."""
    j = arrays.join(F.broadcast(spec), "template")
    node = F.concat(F.col("subj"), F.lit("__"), F.col("node_name"), F.lit("__1"))
    nulls = F.lit(None).cast("string")
    link = j.select(
        F.lit("mappingbased_objects").alias("dataset"),
        "subj",
        F.col("corresponding_pred").alias("pred"),
        node.alias("obj"),
        nulls.alias("lang"),
        nulls.alias("datatype"),
        "context",
    )
    types = j.select(
        F.lit("instance_types").alias("dataset"),
        node.alias("subj"),
        F.lit(S.RDF_TYPE).alias("pred"),
        F.col("node_class").alias("obj"),
        nulls.alias("lang"),
        nulls.alias("datatype"),
        "context",
    )
    inner = (
        j.select(
            node.alias("__node"), "lang", "context", "template",
            F.explode("_kvs").alias("e"),
        )
        .select(
            "__node", "lang", "context", "template",
            F.col("e.key").alias("key"), F.col("e.value").alias("value"),
        )
        .join(F.broadcast(node_pmaps), ["template", "key"])
    )
    inner_quads = inner.select(
        F.when(F.col("range") == "object", F.lit("mappingbased_objects"))
        .otherwise(F.lit("mappingbased_literals")).alias("dataset"),
        F.col("__node").alias("subj"),
        F.col("onto_pred").alias("pred"),
        F.when(
            F.col("range") == "object",
            _object_uri(F.col("value"), F.col("lang")),
        ).otherwise(F.col("value")).alias("obj"),
        F.when(F.col("range") == S.XSD_STRING, F.col("lang"))
        .otherwise(nulls).alias("lang"),
        F.when(F.col("range") == "object", nulls)
        .otherwise(F.col("range")).alias("datatype"),
        "context",
    )
    return link.unionByName(types).unionByName(inner_quads)
