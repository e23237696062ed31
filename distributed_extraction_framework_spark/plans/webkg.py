"""The orchestrated WEBTEXT KG DAG: crawl pages → triples → resolved →
published graph.

The crawl-side counterpart of plans/pipeline.py's wiki DAG (reference:
the extraction launcher's job graph, DistExtractionJob semantics —
reference: extraction/src/main/scala/org/dbpedia/extraction/dump/extract/
ExtractionJob.scala), sharing Pipeline's entire stage protocol verbatim
(input⊕config fingerprint, parquet stage snapshots, _SUCCESS-as-marker,
per-(run,stage,partition) lineage rows, resume-by-fingerprint, metrics).
Only the DAG body differs:

1. ``web_pages`` (optional) — recrawl collapse: keep the newest capture
   per canonical URL (scrub.latest_capture argmax + a keeper semi-join;
   the one corpus-keyed shuffle this stage needs and the reason it is a
   CHECKPOINTED stage — reruns resume past it).
2. ``web_redirect_closure`` (optional) — 3xx pairs from the FULL capture
   set (a redirecting URL's only capture is its 3xx record, which the
   recrawl collapse may drop) resolved by the same pointer-doubling
   closure the wiki path uses.
3. ``web_triples`` — the shuffle-free ``web_page_triples`` composite
   (outlinks + meta + JSON-LD + fused microdata/RDFa + has_entity
   provenance), partitioned by ``obj_kind``.
4. ``web_triples_resolved`` — subjects and URI objects rewritten through
   the broadcast redirect closure (closure ≪ corpus, same reasoning as
   redirects.resolve_objects).
5. ``exports`` (optional) — the multi-format fan-out, after
   :func:`triples_to_quads` skolemizes bnodes (RDF 1.1
   ``.well-known/genid`` IRIs) and forces look-like-IRI literals to
   typed-literal rendering so the N-Triples are unambiguous.

Scale shape: stages 3-5 add ZERO corpus shuffles beyond the snapshot
writes; stage 1 is one keyed aggregation + one semi-join; stage 2
touches only the (tiny) redirect pair set.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.redirects import transitive_closure
from ..operators.scrub import latest_capture
from ..operators.structured_data import web_page_triples
from ..sources.warc import web_redirects
from . import materialize as M
from .pipeline import Pipeline

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


@dataclass
class WebKGConfig:
    warehouse: str
    latest_only: bool = True
    resolve_redirects: bool = True
    # e.g. {"nt.gz": "n-triples"} — same format keys as PipelineConfig
    output_formats: dict | None = None
    url_col: str = "url"
    skolem_base: str = "https://defs.invalid"
    # write a globally-ordered CDX capture index of the INPUT (all
    # captures, redirects included — an archive index covers what was
    # fetched, not what survived collapse) as a resumable stage
    cdx: bool = False
    cdx_files: int = 32
    # majority-vote fusion of literal-valued facts across publishing
    # hosts (operators/fusion.resolve_functional) as a `web_fused` stage
    fuse_literals: bool = False
    extra: dict = field(default_factory=dict)


def triples_to_quads(
    triples: DataFrame, skolem_base: str = "https://defs.invalid"
) -> DataFrame:
    """(id, subj, pred, obj, obj_kind) → the quads schema the materialize
    writers consume: bnodes skolemized to ``{base}/.well-known/genid/…``
    (RDF 1.1 §3.5 — bnode labels don't survive a distributed multi-file
    export, skolem IRIs do), bare predicates namespaced under
    ``{base}/voc#``, and literal objects that LOOK like IRIs pinned to
    ``xsd:string`` so the renderer cannot mistake them for resources."""
    genid = skolem_base + "/.well-known/genid/"

    def sk(c):
        return F.when(
            c.startswith("_:"),
            F.concat(F.lit(genid), F.substring(c, 3, 1_000_000)),
        ).otherwise(c)

    pred = F.when(
        F.col("pred").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), F.col("pred")
    ).otherwise(F.concat(F.lit(skolem_base + "/voc#"), F.col("pred")))
    is_lit = F.col("obj_kind") == "literal"
    return triples.select(
        sk(F.col("subj")).alias("subj"),
        pred.alias("pred"),
        F.when(is_lit, F.col("obj")).otherwise(sk(F.col("obj")))
        .alias("obj"),
        F.lit(None).cast("string").alias("lang"),
        F.when(is_lit & F.col("obj").rlike(r"^https?://"),
               F.lit(XSD_STRING))
        .cast("string").alias("datatype"),
        F.lit("web").alias("dataset"),
        F.lit(None).cast("string").alias("context"),
    )


class WebKGPipeline(Pipeline):
    """Construct with a :class:`WebKGConfig`; ``run(pages)`` expects the
    pages schema (``url``, ``warc_ts``, ``html`` [, ``http_status``,
    ``http_location`` from sources/warc.read_warc]) and returns the
    stage-name → DataFrame dict like the other DAGs."""

    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        # output_formats deliberately absent: the exports stage keys on
        # its own (key, serializer) pairs (below), so a format change
        # re-exports without rebuilding the DAG; cdx knobs ARE here —
        # cdx_files changes the written index (code-review r5 wave-2 #9)
        cfg_sig = hashlib.md5(repr((
            cfg.latest_only, cfg.resolve_redirects,
            cfg.url_col, cfg.skolem_base, cfg.fuse_literals,
            cfg.cdx, cfg.cdx_files,
        )).encode()).hexdigest()[:8]
        fp = f"{self._fingerprint(pages)}-{cfg_sig}"
        out: dict[str, DataFrame] = {}

        cur = pages
        if "page_id" not in cur.columns:
            cur = cur.withColumn("page_id", F.xxhash64(cfg.url_col))

        if cfg.cdx and not self._lineage_complete("cdx", fp):
            from ..operators.webarchive import cdx_index, write_cdx

            t0 = time.time()
            recs = cdx_index(
                pages, url_col=cfg.url_col,
                status_col="http_status"
                if "http_status" in pages.columns else None,
            )
            path = self._stage_path("cdx")
            write_cdx(recs, path, num_files=cfg.cdx_files)
            # line-count the written text (one cheap output scan) rather
            # than re-scanning + re-projecting the input. NB an observe()
            # on the write was tried and REVERTED: repartitionByRange's
            # boundary-sampling job executes the observed node a second
            # time, so the metric double-counts (16 for 8 rows).
            n_cdx = self.spark.read.text(path).count()
            self._record("cdx", "all", n_cdx,
                         int((time.time() - t0) * 1000), fp)
            self._flush_lineage()

        if cfg.latest_only:
            def build_latest() -> DataFrame:
                keepers = latest_capture(
                    cur, url_col=cfg.url_col, ts_col="warc_ts",
                    id_col="page_id",
                ).select(F.col("keeper_id").alias("page_id"))
                return cur.join(keepers, "page_id", "left_semi")

            cur = self._run_stage("web_pages", fp, build_latest)
            out["web_pages"] = cur

        closure = None
        if cfg.resolve_redirects and {"http_status", "http_location"} <= set(
            pages.columns
        ):
            closure = self._run_stage(
                "web_redirect_closure", fp,
                lambda: transitive_closure(web_redirects(pages)),
            )
            out["web_redirect_closure"] = closure

        latest = cur
        triples = self._run_stage(
            "web_triples", fp,
            lambda: web_page_triples(latest, url_col=cfg.url_col),
            partition_col="obj_kind", partition_by="obj_kind",
        )
        out["web_triples"] = triples
        final = triples

        if closure is not None:
            def build_resolved() -> DataFrame:
                cl = F.broadcast(
                    closure.select(F.col("src").alias("_s"),
                                   F.col("dst").alias("_d"))
                )
                t = triples.join(cl, triples["subj"] == F.col("_s"), "left")
                t = t.withColumn(
                    "subj", F.coalesce(F.col("_d"), F.col("subj"))
                ).drop("_s", "_d")
                cl2 = F.broadcast(
                    closure.select(F.col("src").alias("_s2"),
                                   F.col("dst").alias("_d2"))
                )
                t = t.join(
                    cl2,
                    (t["obj"] == F.col("_s2"))
                    & (t["obj_kind"] == "uri"), "left",
                )
                return t.withColumn(
                    "obj", F.coalesce(F.col("_d2"), F.col("obj"))
                ).drop("_s2", "_d2")

            final = self._run_stage(
                "web_triples_resolved", fp, build_resolved,
                partition_col="obj_kind", partition_by="obj_kind",
            )
            out["web_triples_resolved"] = final

        if cfg.fuse_literals:
            resolved = final

            def build_fused() -> DataFrame:
                # Claims = every literal triple, credited to the HOST of
                # the page that published it: meta/page-level rows carry
                # the page URL as subj; entity rows are tied to their
                # publishing page through the same-id has_entity anchor
                # (joining on (id, entity) — id alone would credit every
                # page that anchors the entity with every value, and the
                # anchor's page-host table is per-page-entity sized, far
                # below the literal row count). Unanchored rows (nested
                # bnode children) fall back to their own subj host and
                # drop out when it's empty.
                from ..operators.fusion import resolve_functional
                from ..operators.structured_data import HOST_RE

                lit = resolved.filter(F.col("obj_kind") == "literal")
                anchors = resolved.filter(
                    F.col("pred") == "has_entity"
                ).select(
                    F.col("id").alias("_aid"), F.col("obj").alias("_ent"),
                    F.regexp_extract("subj", HOST_RE, 1).alias("_phost"),
                ).distinct()
                claims = lit.join(
                    anchors,
                    (lit["id"] == F.col("_aid"))
                    & (lit["subj"] == F.col("_ent")),
                    "left",
                ).select(
                    "subj", "pred", "obj",
                    F.coalesce(
                        F.col("_phost"),
                        F.regexp_extract("subj", HOST_RE, 1),
                    ).alias("source"),
                ).filter(F.col("source") != "")
                return resolve_functional(claims)

            out["web_fused"] = self._run_stage("web_fused", fp, build_fused)

        if cfg.output_formats:
            # (key, serializer) pairs, not keys alone — a serializer
            # change must re-export (code-review r5 wave-2 #9)
            fmt_key = ",".join(
                f"{k}={v}" for k, v in sorted(cfg.output_formats.items())
            )
            if not self._lineage_complete("exports", fp, partition=fmt_key):
                t0 = time.time()
                M.write_formats(
                    triples_to_quads(final, cfg.skolem_base),
                    self._stage_path("exports"), cfg.output_formats,
                )
                n_out = self._stage_row_total(
                    "web_triples_resolved" if closure is not None
                    else "web_triples", fp,
                )
                self._record("exports", fmt_key, n_out,
                             int((time.time() - t0) * 1000), fp)
                self._flush_lineage()

        return out


def incremental_web_triples(
    old_triples: DataFrame,
    pages_v1: DataFrame,
    pages_v2: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "id",
) -> DataFrame:
    """Patch a materialized crawl-triple table to a NEW crawl without
    re-extracting unchanged pages — the recrawl economics that make a
    10^12-page KG maintainable (a weekly recrawl changes a few percent
    of pages; full re-extraction re-pays the whole corpus every time).
    The crawl-side counterpart of the wiki delta extract
    (operators/delta.delta_extract diffs EMITTED quads of two dumps;
    here the CAPTURE diff decides what is even worth re-extracting —
    reference: the incremental-download rationale in download/src/main/
    scala/org/dbpedia/extraction/dump/download/DumpDownload.scala).

    Mechanics — extraction runs over only the changed slice:

    1. payload-digest diff of the two capture sets
       (:func:`~distributed_extraction_framework_spark.operators.webarchive.recrawl_diff`
       on ``md5(html)`` — co-partitioned full-outer join), pinned once;
    2. ``old_triples`` minus pages that changed or vanished (left-anti
       join on ``id_col``, which must hold the page URL the triples
       were extracted under);
    3. ``web_page_triples`` over ONLY the changed/added v2 pages
       (left-semi join, then the composite), unioned back.

    The composite fans the changed-slice semi-join out to its five
    channels, and the slice is not pinned, so the corpus-keyed semi-join
    (and its scan of ``pages_v2``) re-executes once per channel: five
    corpus shuffle writes and one extraction pass per channel, not one
    in total. Pinning the slice and broadcasting the small key sides
    removes those exchanges, but an interleaved A/B at a ~5k-key diff
    measured it slower (OPTIMIZATION_r06.md §22), so the plan keeps
    this shape until the recrawl is large enough to pay for the pin.

    Invariant (driver-gated): the patched table is row-identical to
    ``web_page_triples(pages_v2)`` recomputed from scratch.
    """
    from ..operators.webarchive import recrawl_diff

    def caps(pages: DataFrame) -> DataFrame:
        # digest RAW bytes for binary payloads — a lossy utf-8 cast
        # would alias distinct payloads into one digest
        if dict(pages.dtypes).get(html_col) == "binary":
            h = F.coalesce(F.col(html_col), F.lit(b""))
        else:
            h = F.coalesce(F.col(html_col), F.lit(""))
        return pages.select(
            F.col(url_col).alias("key"),
            F.md5(h).alias("digest"),
        )

    # (key, digest-diff) rows — two consumers (the stale anti-join keys
    # and the fresh re-extraction keys); un-pinned, each re-ran the
    # full-outer digest join AND both capture scans. One lazy
    # materialization of the small key table instead (guide §8: decide
    # with small rows).
    diff = recrawl_diff(
        caps(pages_v1), caps(pages_v2), key_col="key"
    ).localCheckpoint(eager=False)
    stale = diff.filter(
        F.col("change").isin("changed", "removed")
    ).select(F.col("key").alias(id_col))
    fresh = diff.filter(
        F.col("change").isin("changed", "added")
    ).select(F.col("key").alias(url_col))
    kept = old_triples.join(stale, id_col, "left_anti")
    new = web_page_triples(
        pages_v2.join(fresh, url_col, "left_semi"),
        html_col=html_col, url_col=url_col, id_col=url_col,
    ).withColumnRenamed("id", id_col)
    return kept.unionByName(new)
