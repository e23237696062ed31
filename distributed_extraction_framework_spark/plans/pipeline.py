"""The end-to-end KG-construction DAG with lineage, metrics, and resume.

Reference analogs: job orchestration (DistExtraction.scala:40-46), the
marker/completion protocol (DistMarkerDestination — SURVEY.md K2), the
parse-cache (DistIOUtils RDD checkpoint — K3), and the accumulator
counters (C3). Spark-native redesign:

* each stage materializes to ``{warehouse}/{stage}`` parquet (Iceberg
  snapshot on a real cluster) — the atomic ``_SUCCESS`` commit IS the
  marker file;
* a ``lineage`` table gets one row per (run, stage, partition): row
  counts per output partition, wall time, input fingerprint, status —
  the north_rule per-partition lineage;
* a ``metrics`` table records the C3-style counters (pages in, quads
  out, failures) captured via ``observe()`` — executor-side, no extra
  action;
* **resume**: a re-run skips every stage whose output commit exists for
  the same input fingerprint, loading the snapshot instead (checkpoint
  restart = delete nothing, just run again).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .. import schema as S
from ..operators import extractors as X
from ..operators.canonicalize import canonicalize_quads, connected_components
from ..operators.linking import link_entities, surface_forms_from_labels
from ..operators.redirects import harvest_redirects, resolve_objects, transitive_closure
from ..session import local_frame
from . import materialize as M

# bigint counters, as lineage tables of earlier versions hold them, so
# existing warehouses append and resume unchanged
LINEAGE_SCHEMA = ("run_id string, stage string, partition string, "
                  "n_rows bigint, wall_ms bigint, input_fingerprint string, "
                  "status string, ts bigint")
METRICS_SCHEMA = "run_id string, metric string, value bigint, ts bigint"


@dataclass
class PipelineConfig:
    warehouse: str
    extractors: list[str] | None = None
    resolve_datasets: tuple[str, ...] = ("page_links", "article_templates",
                                         "infobox_properties")
    link_entities: bool = True
    canonicalize: bool = True
    use_disambiguation_set: bool = True
    salt_buckets: int = 8
    # C1: partition every quad stage by (page_lang, dataset) — the one-job
    # collapse of the reference's per-language concurrency (multilang.py)
    partition_by_lang: bool = False
    # K1: multi-format export fan-out after the final stage, e.g.
    # {"nt.gz": "n-triples", "tql.gz": "n-quads"} (suffix → codec)
    output_formats: dict | None = None
    # SHACL-lite publish gate: validation.Shape list; violations land in a
    # resumable `violations` stage (error-sized, never corpus-sized)
    shapes: list | None = None
    # ρdf closure shipped with the release (the DBpedia post-processing
    # behavior reasoning.rdfs_entailment exists for): a dict with any of
    # {"subclass", "subprop", "domains", "ranges"} → schema-sized
    # DataFrames; entailed NEW facts land in a resumable `entailed` stage
    ontology: dict | None = None
    # SI normalization of unit-typed literals as a resumable `quads_si`
    # stage (operators/literals.normalize_unit_values) — the published KG
    # ships comparable values ("5 km" → 5000.0 datatype/metre)
    normalize_units: bool = False
    extra: dict = field(default_factory=dict)


class Pipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.cfg = config
        self.run_id = uuid.uuid4().hex[:12]
        self._lineage_rows: list[tuple] = []
        self._fresh: set[str] = set()  # stages BUILT this run (not resumed)
        # driver-side mirror of the lineage table (stage, partition,
        # n_rows, input_fingerprint, status): lineage is stage×partition-
        # sized (never corpus-sized), so ONE read at first use replaces a
        # parquet read + filter + count JOB per completion check — the
        # resume path of a 5-stage DAG paid ~10 such jobs per run
        self._lineage_cache: list[tuple] | None = None

    # -- bookkeeping --------------------------------------------------------
    def _fingerprint(self, pages: DataFrame) -> str:
        """Cheap input identity: file list + file count + schema; inputs
        that are NOT file-backed get an order-independent content hash
        (sum of per-row xxhash64 + count, one narrow scan).

        The content hash closes a resume hole (code-review r5 wave-2
        #2): a ``createDataFrame``/checkpointed input has
        ``inputFiles() == []``, and with a constant fingerprint a
        warehouse primed by dataset A would silently serve A's snapshots
        for any later in-memory dataset B. Content (not
        ``semanticHash``) because logically identical re-created frames
        must keep resuming — plan hashes embed expression ids and
        differ across identical ``createDataFrame`` calls (measured).
        File-backed inputs never pay the scan; a rewritten FILE under an
        unchanged name still collides — parquet writers version their
        part-file names, so that needs a deliberately adversarial
        overwrite; documented, not defended.
        """
        try:
            files = sorted(pages.inputFiles())
        except Exception:
            files = []
        import hashlib

        parts = ["|".join(files), str(len(files)),
                 pages.schema.simpleString()]
        if not files:
            # overflow-free order-independent combiner (ADVICE r5 #1): a
            # plain SUM(xxhash64) raises ARITHMETIC_OVERFLOW under ANSI
            # mode beyond a few rows, and the old bare except silently
            # degraded to the constant fingerprint — reopening the
            # stale-resume hole the hash exists to close. DECIMAL(38,0)
            # cannot overflow before ~10^19 rows.
            try:
                row = pages.agg(
                    F.sum(
                        F.xxhash64(*[F.col(c) for c in pages.columns])
                        .cast("decimal(38,0)")
                    ).alias("h"),
                    F.count(F.lit(1)).alias("n"),
                ).first()
                parts.append(f"{row['h']}|{row['n']}")
            except Exception as e:  # e.g. a column type xxhash64 rejects
                # annotate rather than silently reverting to the constant
                # form (the advice's minimum bar): the fingerprint records
                # that no content hash protected this input
                import warnings

                warnings.warn(
                    f"pipeline input content hash unavailable "
                    f"({type(e).__name__}); resume matching falls back to "
                    f"schema-only identity for this in-memory input"
                )
                parts.append(f"content-hash-unavailable:{type(e).__name__}")
        return hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:16]

    def _config_sig(self) -> str:
        """Config identity folded into every stage fingerprint: resuming a
        warehouse with a CHANGED config must rebuild, not serve snapshots
        built under the old one (code-review r5 wave-2 #1 — previously
        only the WebKG subclass did this). ``output_formats`` is NOT in
        this signature — no quad stage depends on it; the exports stage
        keys on its own (key, serializer) pairs so a format change
        re-exports without rebuilding the DAG."""
        import hashlib

        c = self.cfg
        ont = sorted(c.ontology) if c.ontology else None
        sig = repr((
            sorted(c.extractors) if c.extractors else None,
            tuple(c.resolve_datasets), c.link_entities, c.canonicalize,
            c.use_disambiguation_set, c.salt_buckets, c.partition_by_lang,
            bool(c.shapes), ont, c.normalize_units,
        ))
        return hashlib.md5(sig.encode()).hexdigest()[:8]

    def _stage_path(self, stage: str) -> str:
        return f"{self.cfg.warehouse}/{stage}"

    def _lineage_records(self) -> list[tuple]:
        """(stage, partition, n_rows, input_fingerprint, status) rows —
        the persisted lineage table read ONCE per Pipeline instance plus
        everything recorded by this run (``_record`` keeps the mirror in
        sync). All completion/total checks answer from this driver-side
        list instead of a parquet read + filter + count job each.

        Assumes ONE writer per warehouse: the mirror is never re-read,
        so lineage that another Pipeline instance or process appends
        after the first read is invisible to this one. It may then re-run
        a stage the other writer already committed, or resume a stage
        whose directory the other writer has since overwritten for a
        different input fingerprint. Run one Pipeline per warehouse at
        a time."""
        if self._lineage_cache is None:
            self._lineage_cache = []
            path = self._stage_path("lineage")
            if self._exists(path):
                self._lineage_cache = [
                    tuple(r) for r in self.spark.read.parquet(path)
                    .select("stage", "partition", "n_rows",
                            "input_fingerprint", "status")
                    .collect()
                ]
        return self._lineage_cache

    def _lineage_complete(self, stage: str, fingerprint: str,
                          partition: str | None = None) -> bool:
        """``partition`` pins the check to one lineage partition row — the
        exports stage passes its format set there, so ADDING a format to
        the config re-runs the stage instead of silently skipping it."""
        return any(
            s == stage and st == "complete" and f == fingerprint
            and (partition is None or p == partition)
            for (s, p, _n, f, st) in self._lineage_records()
        )

    def _stage_row_total(self, stage: str, fingerprint: str) -> int:
        """Total output rows of a completed stage, summed from its lineage
        partition rows — no data re-scan."""
        return sum(
            n for (s, _p, n, f, st) in self._lineage_records()
            if s == stage and st == "complete" and f == fingerprint
        )

    def _hadoop_path(self, path: str):
        """(FileSystem, Path) of ``path`` under the session's Hadoop conf."""
        p = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _exists(self, path: str) -> bool:
        fs, p = self._hadoop_path(path)
        return fs.exists(p)

    def _committed(self, stage: str, fingerprint: str) -> bool:
        """Stage output exists AND lineage says it completed for this input."""
        return (self._exists(self._stage_path(stage) + "/_SUCCESS")
                and self._lineage_complete(stage, fingerprint))

    def _record(self, stage: str, partition: str, n_rows: int, wall_ms: int,
                fingerprint: str, status: str = "complete") -> None:
        self._lineage_rows.append(
            (self.run_id, stage, partition, n_rows, wall_ms, fingerprint,
             status, int(time.time() * 1000))
        )
        # keep the driver-side mirror consistent with what will be flushed
        self._lineage_records().append(
            (stage, partition, n_rows, fingerprint, status)
        )

    def _flush_lineage(self) -> None:
        if not self._lineage_rows:
            return
        local_frame(self.spark, self._lineage_rows, LINEAGE_SCHEMA).write.mode(
            "append").parquet(self._stage_path("lineage"))
        self._lineage_rows = []

    def _write_stage_schema(self, path: str, df: DataFrame) -> None:
        fs, p = self._hadoop_path(path + "/_schema.json")
        stream = fs.create(p, True)
        stream.write(bytearray(df.schema.json().encode("utf-8")))
        stream.close()

    def _read_stage(self, path: str) -> DataFrame:
        try:
            return self.spark.read.parquet(path)
        except Exception:
            from pyspark.sql.types import StructType

            fs, p = self._hadoop_path(path + "/_schema.json")
            stream = fs.open(p)
            try:
                raw = bytes(
                    self.spark._jvm.org.apache.commons.io.IOUtils
                    .toByteArray(stream)
                )
            finally:
                stream.close()
            schema = StructType.fromJson(__import__("json").loads(raw))
            return self.spark.read.schema(schema).parquet(path)

    def _run_stage(
        self,
        stage: str,
        fingerprint: str,
        build: "callable",
        partition_col: str | None = None,
        partition_by: str | None = None,
    ) -> DataFrame:
        """Run-or-resume one stage; returns the stage output DataFrame."""
        path = self._stage_path(stage)
        if self._committed(stage, fingerprint):
            return self._read_stage(path)
        self._fresh.add(stage)
        t0 = time.time()
        df = build()
        row_obs = None
        if not partition_col:
            # the row total rides the stage write itself as an observe()
            # metric — no post-write count job over the snapshot (the
            # partitioned branch needs per-partition-value counts, which
            # observe cannot group; its groupBy over the written parquet
            # scans only the partition column and stays)
            row_obs = Observation()
            df = df.observe(row_obs, F.count(F.lit(1)).alias("n"))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        # an EMPTY partitioned stage writes _SUCCESS but zero part files;
        # persist the schema so read-back (this run and resumes) can't hit
        # UNABLE_TO_INFER_SCHEMA — a degenerate-but-legal corpus (e.g. all
        # captures are redirects → zero triples) must flow through the DAG
        self._write_stage_schema(path, df)
        out = self._read_stage(path)
        wall = int((time.time() - t0) * 1000)
        if partition_col:
            rows = out.groupBy(partition_col).count().collect()
            for r in rows:
                self._record(stage, f"{partition_col}={r[partition_col]}",
                             r["count"], wall, fingerprint)
            if not rows:
                # an EMPTY partitioned stage has no per-partition rows;
                # without this marker it is never 'complete' and every
                # resume rebuilds it — exactly the degenerate-corpus case
                # the schema sidecar above exists for (code-review r5
                # wave-2 #7)
                self._record(stage, "*", 0, wall, fingerprint)
        else:
            self._record(stage, "*", int(row_obs.get["n"] or 0), wall,
                         fingerprint)
        self._flush_lineage()
        return out

    # -- the DAG ------------------------------------------------------------
    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        """pages → quads → resolved → (canonicalized) → graph tables.

        Every stage is resumable; metrics land in ``{warehouse}/metrics``.
        """
        fp = f"{self._fingerprint(pages)}-{self._config_sig()}"
        obs = Observation("extract_metrics")
        pages_obs = Observation("pages_metrics")

        # disambiguation side-set: a cached stage (the reference's
        # disambiguations-ids.obj), broadcast into the extraction pass
        dab = None
        if self.cfg.use_disambiguation_set:
            from ..operators.disambiguations import compute_disambiguation_pages

            dab = self._run_stage(
                "disambiguation_ids", fp,
                lambda: compute_disambiguation_pages(pages),
            )

        # C1 collapse: quad stages optionally lay out as (page_lang, dataset)
        part_cols = (["page_lang", "dataset"] if self.cfg.partition_by_lang
                     else "dataset")

        def build_quads() -> DataFrame:
            p = pages.observe(pages_obs, F.count(F.lit(1)).alias("pages_in"))
            q = X.extract(p, extractors=self.cfg.extractors,
                          disambiguations_df=dab)
            if self.cfg.partition_by_lang:
                from .multilang import with_page_lang

                q = with_page_lang(q)
            return q.observe(obs, F.count(F.lit(1)).alias("quads_out"))

        quads = self._run_stage("quads", fp, build_quads,
                                partition_col="dataset", partition_by=part_cols)

        redirects_cl = self._run_stage(
            "redirect_closure", fp,
            lambda: transitive_closure(harvest_redirects(pages, namespaces=None)),
        )

        resolved = self._run_stage(
            "quads_resolved", fp,
            lambda: resolve_objects(quads, redirects_cl,
                                    datasets=self.cfg.resolve_datasets),
            partition_col="dataset", partition_by=part_cols,
        )

        final = resolved
        final_stage = "quads_resolved"
        if self.cfg.canonicalize:
            final_stage = "quads_canonical"
            def build_canonical() -> DataFrame:
                sameas = resolved.filter(
                    F.col("pred") == S.OWL_SAMEAS
                ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
                labels = connected_components(sameas)
                return canonicalize_quads(resolved, labels)

            final = self._run_stage("quads_canonical", fp, build_canonical,
                                    partition_col="dataset",
                                    partition_by=part_cols)

        # optional SI normalization of unit-typed literals ("5 km" →
        # 5000.0 datatype/metre) as its OWN resumable stage — never a
        # conditional rewrite of quads_canonical, so toggling the flag
        # can't resume a stage built under the other setting. Downstream
        # stages (validation, entailment, linking, exports) consume the
        # normalized frame. Pure projection: adds no shuffle.
        if self.cfg.normalize_units:
            _pre_si = final

            def build_si() -> DataFrame:
                from ..operators.literals import normalize_unit_values

                return normalize_unit_values(_pre_si)

            final_stage = "quads_si"
            final = self._run_stage("quads_si", fp, build_si,
                                    partition_col="dataset",
                                    partition_by=part_cols)

        outputs: dict[str, DataFrame] = {"quads": final}

        # publish-gate validation over the final quads (SHACL-core subset);
        # a stage like any other: fingerprint-keyed, resumed, lineage-rowed
        if self.cfg.shapes:
            def build_violations() -> DataFrame:
                from ..operators.validation import validate_shapes

                return validate_shapes(final, self.cfg.shapes)

            outputs["violations"] = self._run_stage(
                "violations", fp, build_violations
            )

        # optional entailment stage: the published KG ships its ρdf closure
        # (NEW facts only — union with `quads` for the closed graph). The
        # ontology relations are schema-sized; the corpus is touched by
        # broadcast joins only (reasoning.rdfs_entailment), so this stage
        # adds no corpus shuffle.
        if self.cfg.ontology:
            def build_entailed() -> DataFrame:
                from ..operators.reasoning import rdfs_entailment

                ont = self.cfg.ontology
                return rdfs_entailment(
                    final,
                    subclass=ont.get("subclass"),
                    subprop=ont.get("subprop"),
                    domains=ont.get("domains"),
                    ranges=ont.get("ranges"),
                )

            outputs["entailed"] = self._run_stage("entailed", fp, build_entailed)

        if self.cfg.link_entities:
            def build_links() -> DataFrame:
                sfd = surface_forms_from_labels(final)
                return link_entities(pages, sfd, self.cfg.salt_buckets)

            outputs["entity_links"] = self._run_stage(
                "entity_links", fp, build_links
            )

        # K1: multi-format export fan-out (N-Triples/N-Quads/Turtle/... with
        # suffix-implied codecs) as a resumable stage of the DAG
        if self.cfg.output_formats:
            fmt_key = ",".join(
                f"{k}={v}" for k, v in sorted(self.cfg.output_formats.items())
            )
            # keyed on the (key, serializer) PAIRS: adding a format OR
            # changing a key's serializer re-runs the fan-out (keys-only
            # keying kept a stale export on a value change — code-review
            # r5 wave-2 #9)
            if not self._lineage_complete("exports", fp, partition=fmt_key):
                t0 = time.time()
                M.write_formats(final, self._stage_path("exports"),
                                self.cfg.output_formats)
                # exported row count = the final quad stage's lineage total
                # (correct on resumed runs too; no data re-scan)
                n_out = self._stage_row_total(final_stage, fp)
                self._record("exports", fmt_key, n_out,
                             int((time.time() - t0) * 1000), fp)
                self._flush_lineage()

        t0 = time.time()
        graph_builders = (
            ("edges", M.edges_table), ("literals", M.literals_table),
            ("nodes", M.nodes_table), ("predicates", M.predicates_table),
        )
        if not self._committed("edges", fp):
            counts = M.write_graph_tables(final, self.cfg.warehouse)
            # schema sidecars: an empty graph table (e.g. no edges under
            # a literals-only extractor set) has no inferable parquet
            # schema; the sidecar keeps the read-back total like every
            # _run_stage output (the builder gives the schema without
            # executing anything)
            for name, builder in graph_builders:
                self._write_stage_schema(self._stage_path(name),
                                         builder(final))
            wall = int((time.time() - t0) * 1000)
            for name, n in counts.items():
                self._record(name, "*", n, wall, fp)
            self._flush_lineage()
        for name, _ in graph_builders:
            outputs[name] = self._read_stage(self._stage_path(name))

        # metrics table (the reference's accumulator report, C3): counters
        # come from the extraction stage's observe() — captured BY the stage
        # write, so NO extra action re-scans the input (VERDICT r3 #5). On a
        # resumed run the quads stage never executed, so the observation is
        # empty — the metrics rows from the original run are already in the
        # table and nothing is appended.
        if "quads" in self._fresh:
            ts = int(time.time() * 1000)
            metrics = [
                (self.run_id, "pages_in", int(pages_obs.get["pages_in"]), ts),
                (self.run_id, "quads_out", int(obs.get["quads_out"]), ts),
            ]
            local_frame(self.spark, metrics, METRICS_SCHEMA).write.mode(
                "append").parquet(self._stage_path("metrics"))
        return outputs


def run_pipeline(
    spark: SparkSession, pages: DataFrame, warehouse: str, **kwargs
) -> dict[str, DataFrame]:
    return Pipeline(spark, PipelineConfig(warehouse=warehouse, **kwargs)).run(pages)
