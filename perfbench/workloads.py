"""The benchmark workloads: set-up, the timed call, the correctness gate
and the per-layer replay of each.

A workload's timed call is one ``run()`` of the program's pipeline over a
parquet input table written during set-up, into an empty warehouse.
``prepare`` is the rest of the untimed set-up (for ``wiki_reexport``, the
cold build it re-exports); ``before`` readies a warehouse for a run
(nothing for the cold workloads; a byte-identical copy of that build for
``wiki_reexport``).

``layers`` replays the layers in isolation on the traced run's own inputs
and committed stages, every replayed output sunk to noop (the export and
graph-table writers write to a scratch directory instead). A fused
layer's self time is the difference of two nested replays, for example
``functions.wikitext.parse_self_s`` = (scan + parse UDF) - scan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_extraction_framework_spark import schema as S
from distributed_extraction_framework_spark.functions.wikitext import make_parse_page_udf
from distributed_extraction_framework_spark.operators import extractors as X
from distributed_extraction_framework_spark.operators.canonicalize import (
    canonicalize_quads, connected_components,
)
from distributed_extraction_framework_spark.operators.disambiguations import (
    compute_disambiguation_pages,
)
from distributed_extraction_framework_spark.operators.linking import (
    detect_mentions, link_entities, surface_forms_from_labels,
)
from distributed_extraction_framework_spark.operators.redirects import (
    harvest_redirects, resolve_objects, transitive_closure,
)
from distributed_extraction_framework_spark.operators.scrub import latest_capture
from distributed_extraction_framework_spark.operators.structured_data import web_page_triples
from distributed_extraction_framework_spark.plans import materialize as M
from distributed_extraction_framework_spark.plans.pipeline import Pipeline, PipelineConfig
from distributed_extraction_framework_spark.plans.webkg import (
    WebKGConfig, WebKGPipeline, triples_to_quads,
)
from distributed_extraction_framework_spark.sources.warc import web_redirects

from . import corpus, gate
from .tracing import Tracer, sink

NT = {"nt.gz": "n-triples"}
EXPORT_FORMATS = {"nt.gz": "n-triples", "ttl.gz": "turtle-triples",
                  "nq.gz": "n-quads"}
GRAPH_TABLES = ("edges", "literals", "nodes", "predicates")


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def key(suffix: str) -> str:
    return suffix.replace(".", "_")


class Workload:
    name = ""
    stage_prefix = ""   # per-layer name prefix of this DAG's stage walls
    STAGES: tuple[str, ...] = ()
    formats = NT        # the pipeline's output_formats
    # input pages: the committed corpus, and the --smoke corpus
    N_PAGES = 0
    N_PAGES_SMOKE = 0

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.n_pages = self.N_PAGES_SMOKE if smoke else self.N_PAGES
        self.pages: DataFrame | None = None

    def warehouse(self, i: int) -> str:
        return os.path.join(self.work, f"wh{i}")

    def prepare(self) -> None:
        """Untimed set-up once the inputs exist."""

    def before(self, wh: str) -> None:
        """Ready warehouse ``wh`` for a run (untimed)."""

    def run(self, wh: str) -> Pipeline:
        """The timed call: one pipeline run into warehouse ``wh``."""
        pipe = self.pipeline(wh)
        pipe.run(self.pages)
        return pipe

    def drop(self, wh: str) -> None:
        shutil.rmtree(wh, ignore_errors=True)

    def digest(self, wh: str) -> dict:
        return gate.digest(self.outputs(wh))

    # -- per-workload parts ---------------------------------------------------
    def make_inputs(self, k: int) -> None:
        """Write the seeded input table (copy ``k``) and point ``pages``
        at it."""
        raise NotImplementedError

    def pipeline(self, wh: str) -> Pipeline:
        raise NotImplementedError

    def outputs(self, wh: str) -> dict[str, DataFrame]:
        """Every committed output the digest covers."""
        raise NotImplementedError

    def check(self, wh: str) -> list[str]:
        """Problems with a run's committed outputs (empty when correct)."""
        raise NotImplementedError

    def layers(self, tr: Tracer, wh: str) -> dict[str, float]:
        raise NotImplementedError

    # -- shared helpers -------------------------------------------------------
    def read(self, wh: str, stage: str) -> DataFrame:
        return self.spark.read.parquet(f"{wh}/{stage}")

    def export_lines(self, wh: str, suffix: str) -> DataFrame:
        return gate.export_lines(self.spark, f"{wh}/exports/{key(suffix)}")

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, "replay", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def scan_layer(self, tr: Tracer) -> dict[str, float]:
        return {"sources.scan_s": tr.call("scan", lambda: sink(self.pages)).seconds}

    def redirect_layers(self, tr: Tracer, closure_input, closure: DataFrame,
                        resolve_s: float, in_scope: DataFrame) -> dict[str, float]:
        cl = tr.call("closure",
                     lambda: transitive_closure(closure_input()).count())
        return {
            "operators.redirects.closure_s": cl.seconds,
            # one localCheckpoint job materializes the input, one per round
            "operators.redirects.closure_rounds": cl.checkpoint_jobs - 1,
            "operators.redirects.closure_pairs": cl.result,
            "operators.redirects.resolve_s": resolve_s,
            "operators.redirects.resolved_ratio": rewritten_ratio(in_scope, closure),
        }

    def export_layers(self, tr: Tracer, wh: str, final: DataFrame) -> dict[str, float]:
        """Every export writer on the final quads, whichever formats the
        pipeline itself exports, and a resume of the complete warehouse."""
        m = {}
        for suffix, fmt in EXPORT_FORMATS.items():
            out = self.scratch(f"export_{key(suffix)}")
            m[f"plans.materialize.export_s.{key(suffix)}"] = tr.call(
                f"export_{key(suffix)}",
                lambda: M.write_formats(final, out, {suffix: fmt})).seconds
        m["plans.materialize.export_bytes"] = du(f"{wh}/exports")
        m["plans.pipeline.resume_s"] = tr.call("resume", lambda: self.run(wh)).seconds
        return m

    def graph_table_layer(self, tr: Tracer, final: DataFrame) -> dict[str, float]:
        graph = self.scratch("graph")
        return {"plans.materialize.graph_tables_s": tr.call(
            "graph_tables", lambda: M.write_graph_tables(final, graph)).seconds}


def rewritten_ratio(rows: DataFrame, closure: DataFrame) -> float:
    """Share of ``rows`` (column ``obj``) that the closure rewrites."""
    n = rows.count()
    hit = rows.join(closure.select(F.col("src").alias("obj")), "obj",
                    "left_semi").count()
    return hit / n if n else 0.0


class WikiCold(Workload):
    """The paper's job: a cold ``Pipeline.run`` (default config plus an
    N-Triples export) over a wiki corpus into an empty warehouse."""

    name = "wiki_cold"
    stage_prefix = "plans.pipeline.stage_s."
    STAGES = ("disambiguation_ids", "quads", "redirect_closure",
              "quads_resolved", "quads_canonical", "entity_links", "exports",
              "graph_tables")
    N_PAGES = 400
    N_PAGES_SMOKE = 120

    def make_inputs(self, k: int) -> None:
        path = os.path.join(self.work, "in", f"pages{k}")
        self.rows = corpus.write_wiki(self.spark, self.seed, self.n_pages, path)
        self.pages = self.spark.read.parquet(path)

    def pipeline(self, wh: str) -> Pipeline:
        return Pipeline(self.spark, PipelineConfig(warehouse=wh,
                                                   output_formats=self.formats))

    def outputs(self, wh: str) -> dict[str, DataFrame]:
        out = {s: self.read(wh, s) for s in
               ("quads", "quads_canonical", "entity_links") + GRAPH_TABLES}
        for suffix in self.formats:
            out[f"export_{key(suffix)}"] = self.export_lines(wh, suffix)
        return out

    def check(self, wh: str) -> list[str]:
        p, r = gate.oracle_pr(self.spark, f"{wh}/quads", self.rows, self.seed,
                              sample=40)
        if (p, r) != (1.0, 1.0):
            return [f"extraction P/R vs oracle.pyref = {p:.4f}/{r:.4f}"]
        return []

    def layers(self, tr: Tracer, wh: str) -> dict[str, float]:
        pages = self.pages
        cfg = PipelineConfig(warehouse=wh)
        quads = self.read(wh, "quads")
        closure = self.read(wh, "redirect_closure")
        resolved = self.read(wh, "quads_resolved")
        final = self.read(wh, "quads_canonical")
        dab = self.read(wh, "disambiguation_ids")
        m = self.scan_layer(tr)
        res = tr.call("resolve", lambda: sink(
            resolve_objects(quads, closure, datasets=cfg.resolve_datasets)))
        m.update(self.redirect_layers(
            tr, lambda: harvest_redirects(pages, namespaces=None), closure,
            res.seconds,
            quads.filter(F.col("dataset").isin(*cfg.resolve_datasets))))

        parse_udf = make_parse_page_udf()
        parse = tr.call("parse", lambda: sink(pages.select(
            parse_udf(F.coalesce(F.col("text"), F.lit(""))).alias("p"))))
        ext = tr.call("extract", lambda: sink(
            X.extract(pages, disambiguations_df=dab)))
        n_quads = quads.count()
        m.update({
            "functions.wikitext.parse_self_s": parse.seconds - m["sources.scan_s"],
            "functions.wikitext.python_worker_s": parse.metrics["python_worker_s"],
            "functions.wikitext.arrow_bytes_sent": parse.metrics["python_bytes_sent"],
            "functions.wikitext.arrow_bytes_returned":
                parse.metrics["python_bytes_returned"],
            "functions.wikitext.rows": self.n_pages,
            "operators.extractors.extract_self_s": ext.seconds - parse.seconds,
            "operators.extractors.quads_out": n_quads,
            "operators.extractors.quads_per_page": n_quads / self.n_pages,
            "operators.disambiguations.s": tr.call("disambiguations", lambda: sink(
                compute_disambiguation_pages(pages))).seconds,
        })

        sameas = resolved.filter(F.col("pred") == S.OWL_SAMEAS).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"))
        cc = tr.call("cc", lambda: connected_components(sameas))
        m["operators.canonicalize.cc_s"] = cc.seconds
        # two localCheckpoint jobs materialize edges and labels, then one
        # per round
        m["operators.canonicalize.cc_rounds"] = cc.checkpoint_jobs - 2
        m["operators.canonicalize.rewrite_s"] = tr.call("rewrite", lambda: sink(
            canonicalize_quads(resolved, cc.result))).seconds

        sfd = surface_forms_from_labels(final)
        link = tr.call("link", lambda: sink(
            link_entities(pages, sfd, cfg.salt_buckets)))
        mentions = detect_mentions(pages, sfd).count()
        m.update({
            "operators.linking.link_s": link.seconds,
            "operators.linking.python_worker_s": link.metrics["python_worker_s"],
            "operators.linking.mentions": mentions,
            "operators.linking.linked_ratio":
                self.read(wh, "entity_links").count() / mentions if mentions else 0.0,
        })
        m.update(self.graph_table_layer(tr, final))
        m.update(self.export_layers(tr, wh, final))
        return m


class WikiReexport(WikiCold):
    """Re-export of a committed wiki build in three formats: every quad and
    graph stage resumes, only the export fan-out runs."""

    name = "wiki_reexport"
    formats = EXPORT_FORMATS

    def pristine(self) -> str:
        return os.path.join(self.work, "pristine")

    def prepare(self) -> None:
        # the wiki_cold build of the same seed, restored before every run
        Pipeline(self.spark, PipelineConfig(warehouse=self.pristine(),
                                            output_formats=NT)).run(self.pages)

    def before(self, wh: str) -> None:
        shutil.copytree(self.pristine(), wh)

    def check(self, wh: str) -> list[str]:
        problems = super().check(wh)
        nt = {s: self.export_lines(w, "nt.gz") for s, w in
              (("pristine", self.pristine()), ("reexport", wh))}
        d = gate.digest(nt)
        if d["pristine"] != d["reexport"]:
            problems.append("re-exported N-Triples differ from the cold build's")
        return problems

    def layers(self, tr: Tracer, wh: str) -> dict[str, float]:
        final = self.read(wh, "quads_canonical")
        m = self.scan_layer(tr)
        m.update(self.graph_table_layer(tr, final))
        m.update(self.export_layers(tr, wh, final))
        return m


class WebCold(Workload):
    """A cold ``WebKGPipeline.run`` with an N-Triples export over a crawl:
    structured-markup pages, older re-captures and deep 3xx chains."""

    name = "web_cold"
    stage_prefix = "plans.webkg.stage_s."
    STAGES = ("web_pages", "web_redirect_closure", "web_triples",
              "web_triples_resolved", "exports")
    N_PAGES = 800
    N_PAGES_SMOKE = 150

    def make_inputs(self, k: int) -> None:
        path = os.path.join(self.work, "in", f"crawl{k}")
        if self.smoke:
            self.crawl = corpus.Crawl(self.seed, self.n_pages, n_chains=1, n_loops=2)
        else:
            self.crawl = corpus.Crawl(self.seed, self.n_pages, n_chains=3, n_loops=8)
        self.crawl.write(self.spark, path)
        self.n_pages = len(self.crawl.rows)
        self.pages = self.spark.read.parquet(path)

    def pipeline(self, wh: str) -> Pipeline:
        return WebKGPipeline(self.spark, WebKGConfig(warehouse=wh,
                                                     output_formats=self.formats))

    def outputs(self, wh: str) -> dict[str, DataFrame]:
        out = {s: self.read(wh, s) for s in
               ("web_pages", "web_redirect_closure", "web_triples",
                "web_triples_resolved")}
        out["export_nt_gz"] = self.export_lines(wh, "nt.gz")
        return out

    def check(self, wh: str) -> list[str]:
        problems = []
        got = {(r["src"], r["dst"])
               for r in self.read(wh, "web_redirect_closure").collect()}
        if got != set(self.crawl.expected_closure.items()):
            problems.append("redirect closure differs from the generated chains")
        kept = {r["page_id"] for r in
                self.read(wh, "web_pages").select("page_id").collect()}
        if kept - self.crawl.latest_ids or len(kept) != self.crawl.n_urls:
            problems.append("web_pages is not the newest capture of each URL")
        return problems

    def layers(self, tr: Tracer, wh: str) -> dict[str, float]:
        pages = self.pages
        closure = self.read(wh, "web_redirect_closure")
        triples = self.read(wh, "web_triples")
        final = triples_to_quads(self.read(wh, "web_triples_resolved"))
        # resolution is fused with triples_to_quads' projection in the
        # stage; its lineage wall is the layer's time
        lineage = stage_walls(self.read(wh, "lineage"))
        m = self.scan_layer(tr)
        m.update(self.redirect_layers(
            tr, lambda: web_redirects(pages), closure,
            lineage.get("web_triples_resolved", 0.0),
            triples.filter(F.col("obj_kind") == "uri")))
        lc = tr.call("latest_capture", lambda: sink(latest_capture(
            pages, url_col="url", ts_col="warc_ts", id_col="page_id")))
        st = tr.call("triples", lambda: sink(
            web_page_triples(self.read(wh, "web_pages"), url_col="url")))
        m.update({
            "operators.scrub.latest_capture_s": lc.seconds,
            "operators.scrub.shuffle_write_bytes": lc.metrics["shuffle_write_bytes"],
            "operators.structured_data.triples_s": st.seconds,
            "operators.structured_data.python_worker_s":
                st.metrics["python_worker_s"],
            "operators.structured_data.triples_out": triples.count(),
        })
        m.update(self.export_layers(tr, wh, final))
        return m


def stage_walls(lineage: DataFrame, run_id: str | None = None) -> dict[str, float]:
    """Stage -> wall seconds from the lineage table. The four graph tables
    share one write and one wall, reported as ``graph_tables``."""
    if run_id is not None:
        lineage = lineage.filter(F.col("run_id") == run_id)
    out = {}
    for r in lineage.select("stage", "wall_ms").distinct().collect():
        stage = "graph_tables" if r["stage"] in GRAPH_TABLES else r["stage"]
        out[stage] = r["wall_ms"] / 1000.0
    return out


def stage_windows(lineage: DataFrame, run_id: str) -> dict[str, tuple[int, int]]:
    """Stage -> (start, end) epoch ms of its wall, from the lineage table."""
    out = {}
    for r in (lineage.filter(F.col("run_id") == run_id)
              .select("stage", "wall_ms", "ts").distinct().collect()):
        stage = "graph_tables" if r["stage"] in GRAPH_TABLES else r["stage"]
        out[stage] = (r["ts"] - r["wall_ms"], r["ts"])
    return out


WORKLOADS = {w.name: w for w in (WikiCold, WikiReexport, WebCold)}
