"""The end-to-end KG-construction DAG with lineage, metrics, and resume.

Reference analogs: job orchestration (DistExtraction.scala:40-46), the
marker/completion protocol (DistMarkerDestination — SURVEY.md K2), the
parse-cache (DistIOUtils RDD checkpoint — K3), and the accumulator
counters (C3). Spark-native redesign:

* each stage materializes to ``{warehouse}/{stage}`` parquet (Iceberg
  snapshot on a real cluster). Its ``_schema.json`` sidecar is the ONE
  commit record (the marker file): the StructType JSON plus the
  ``fingerprint`` the output was built for and its ``rows`` per
  partition. Completion, row totals and resume read only that file, and
  every read-back goes through its schema: no schema-inference job,
  partition columns keep their written types;
* ``Pipeline._commit`` is the one commit path of every output (stages,
  the four graph tables, the export fan-out, WebKG's CDX index): delete
  the old record, write the data, append the lineage rows, rename the
  new record into place. A failure at any step leaves no record naming
  the build, so the next run rebuilds it;
* a ``lineage`` table gets one row per (run, output, partition): row
  counts per output partition, wall time, fingerprint, status — the
  north_rule per-partition lineage, an append-only log the pipeline
  never reads back. Each commit adds one parquet part that the driver
  encodes and stores through the Hadoop FS, so the append runs no
  Spark job; a partitioned stage counts its partitions with one
  ``groupBy`` over the written partition column;
* a ``metrics`` table records the C3-style counters (pages in, quads
  out, failures) captured via ``observe()`` — executor-side, no extra
  action — and appended by one small Spark write; a run that built
  nothing records one ``resumed`` row;
* **resume**: a re-run skips every output whose record names the same
  input⊕config fingerprint, loading the snapshot instead (checkpoint
  restart = delete nothing, just run again).
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StringType, StructField, StructType

from .. import schema as S
from ..operators import extractors as X
from ..operators.canonicalize import canonicalize_quads, connected_components
from ..operators.linking import link_entities, surface_forms_from_labels
from ..operators.redirects import harvest_redirects, resolve_objects, transitive_closure
from ..session import arrow_table, local_frame
from . import materialize as M

# bigint counters, as lineage tables of earlier versions hold them, so
# existing warehouses keep appending
LINEAGE_SCHEMA = ("run_id string, stage string, partition string, "
                  "n_rows bigint, wall_ms bigint, input_fingerprint string, "
                  "status string, ts bigint")
METRICS_SCHEMA = "run_id string, metric string, value bigint, ts bigint"
# the schema a text output (exports, the CDX index) records: what
# spark.read.text gives back
TEXT_SCHEMA = StructType([StructField("value", StringType())])


def config_digest(values: tuple) -> str:
    """The 8-hex config signature ``_config_sig`` folds into every stage
    fingerprint (md5 of the tuple's repr, as warehouses already hold)."""
    return hashlib.md5(repr(values).encode()).hexdigest()[:8]


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
        self._fresh: set[str] = set()  # outputs BUILT this run (not resumed)

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
        re-exports without rebuilding the DAG (``_export``). The other
        DAGs override this with their own config tuple."""
        c = self.cfg
        ont = sorted(c.ontology) if c.ontology else None
        return config_digest((
            sorted(c.extractors) if c.extractors else None,
            tuple(c.resolve_datasets), c.link_entities, c.canonicalize,
            c.use_disambiguation_set, c.salt_buckets, c.partition_by_lang,
            bool(c.shapes), ont, c.normalize_units,
        ))

    def _stage_path(self, stage: str) -> str:
        return f"{self.cfg.warehouse}/{stage}"

    def _record_file(self, name: str, file: str = "_schema.json"):
        """(FileSystem, Path) of ``file`` in output ``name``'s directory,
        by default its commit record."""
        p = self.spark._jvm.org.apache.hadoop.fs.Path(
            f"{self._stage_path(name)}/{file}")
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _put(self, name: str, file: str, data: bytes) -> None:
        """Store ``data`` as ``file`` in output ``name``'s directory,
        whole or not at all: write it as ``_{file}.tmp`` (Spark's reader
        skips ``_`` names), then rename it into place."""
        fs, tmp = self._record_file(name, f"_{file}.tmp")
        _, p = self._record_file(name, file)
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        if not fs.rename(tmp, p):
            raise OSError(f"could not commit {file} of {name}")

    def _read_record(self, name: str) -> dict | None:
        """The commit record of output ``name``: StructType JSON plus the
        ``fingerprint`` it was built for and its ``rows`` per partition;
        None when there is none."""
        fs, p = self._record_file(name)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils
                .toByteArray(stream)
            )
        finally:
            stream.close()
        return json.loads(raw)

    def _committed(self, name: str, key: str) -> bool:
        """The directory of ``name`` holds the build for ``key``. A record
        without a fingerprint (written before records carried one) or
        without a file at all rebuilds the output, never reads it by
        inference."""
        rec = self._read_record(name)
        return rec is not None and rec.get("fingerprint") == key

    def _read_stage(self, name: str) -> DataFrame:
        """A committed stage read through its record's schema."""
        schema = StructType.fromJson(self._read_record(name))
        return self.spark.read.schema(schema).parquet(self._stage_path(name))

    def _append_lineage(self, rows: list[tuple]) -> None:
        """Append ``rows`` to ``lineage`` as one parquet part that the
        driver encodes: no Spark job. Parts Spark wrote earlier hold the
        same column types, so older warehouses keep appending."""
        buf = pa.BufferOutputStream()
        pq.write_table(arrow_table(rows, LINEAGE_SCHEMA), buf,
                       compression="snappy")
        self._put("lineage", f"part-{uuid.uuid4()}.snappy.parquet",
                  buf.getvalue().to_pybytes())

    def _commit(self, names: list[str], key: str, write: "callable") -> None:
        """The one commit path of every output. ``write()`` writes the
        data of ``names`` and returns ``{name: (schema, {partition:
        rows})}``. In order: delete each old record, write, append the
        lineage part (``ts`` ends the ``wall_ms`` window), then write each
        record to a temporary name and rename it to ``_schema.json``. A
        failure at any step leaves no record naming ``key``, so the next
        run rebuilds the outputs."""
        t0 = int(time.time() * 1000)
        self._fresh.update(names)
        for name in names:
            fs, p = self._record_file(name)
            fs.delete(p, False)
        records = write()
        ts = int(time.time() * 1000)
        self._append_lineage([
            (self.run_id, name, part, n, ts - t0, key, "complete", ts)
            for name, (_, rows) in records.items() for part, n in rows.items()
        ])
        for name, (schema, rows) in records.items():
            self._put(name, "_schema.json", json.dumps(
                {**schema.jsonValue(), "fingerprint": key, "rows": rows}
            ).encode("utf-8"))

    def _run_stage(
        self,
        stage: str,
        fingerprint: str,
        build: "callable",
        partition_col: str | None = None,
        partition_by: str | None = None,
        counters: "callable | None" = None,
    ) -> DataFrame:
        """Run-or-resume one stage; returns the stage output DataFrame,
        read back through its record's schema (no read runs an inference
        job, and an EMPTY partitioned stage, which has no part file to
        infer from, still reads back). ``counters()`` gives the (metric,
        value) rows the data write observed; they append to ``metrics``
        inside the commit, so a later failure cannot lose them."""
        def write() -> dict:
            path = self._stage_path(stage)
            df = build()
            if not partition_col:
                # the row total rides the stage write itself as an
                # observe() metric — no post-write count job
                row_obs = Observation()
                df = df.observe(row_obs, F.count(F.lit(1)).alias("n"))
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            if counters:
                self._write_metrics(counters())
            if not partition_col:
                return {stage: (df.schema, {"*": int(row_obs.get["n"] or 0)})}
            # per-partition-value counts, which observe cannot group: a
            # groupBy over the written parquet scans only the partition
            # column; an empty stage logs one "*" row of 0
            counts = self.spark.read.schema(df.schema).parquet(path).groupBy(
                partition_col).count().collect()
            return {stage: (df.schema, {
                f"{partition_col}={r[partition_col]}": r["count"]
                for r in counts} or {"*": 0})}

        if not self._committed(stage, fingerprint):
            self._commit([stage], fingerprint, write)
        return self._read_stage(stage)

    def _export(self, quads: DataFrame, fp: str, rows_stage: str) -> None:
        """K1: the multi-format export fan-out (N-Triples/N-Quads/Turtle/...
        with suffix-implied codecs) of ``quads``, one commit keyed on
        ``fp`` plus the (key, serializer) PAIRS: adding a format OR
        changing a key's serializer re-runs the fan-out without
        rebuilding the DAG (keys-only keying kept a stale export on a
        value change — code-review r5 wave-2 #9). The exported row count
        is ``rows_stage``'s record total: correct on resumed runs too,
        with no data re-scan."""
        formats = self.cfg.output_formats
        if not formats:
            return
        fmt_key = ",".join(f"{k}={v}" for k, v in sorted(formats.items()))
        key = f"{fp}/{fmt_key}"

        def write() -> dict:
            # the whole fan-out is replaced: a format the config dropped
            # must not stay next to a record that no longer names it
            fs, record = self._record_file("exports")
            fs.delete(record.getParent(), True)
            M.write_formats(quads, self._stage_path("exports"), formats)
            n = sum(self._read_record(rows_stage)["rows"].values())
            return {"exports": (TEXT_SCHEMA, {fmt_key: n})}

        if not self._committed("exports", key):
            self._commit(["exports"], key, write)

    def _write_metrics(self, rows: list[tuple[str, int]]) -> None:
        """Append (metric, value) counters to ``metrics``. A run that
        built nothing appends one ``resumed`` row instead (each DAG ends
        with ``_write_metrics([])``), so every run leaves a trace there."""
        if not self._fresh:
            rows = [("resumed", 1)]
        if rows:
            ts = int(time.time() * 1000)
            local_frame(self.spark, [(self.run_id, m, v, ts) for m, v in rows],
                        METRICS_SCHEMA).write.mode("append").parquet(
                self._stage_path("metrics"))

    # -- the DAG ------------------------------------------------------------
    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        """pages → quads → resolved → (canonicalized) → graph tables.

        Every stage is resumable; metrics land in ``{warehouse}/metrics``.
        """
        fp = f"{self._fingerprint(pages)}-{self._config_sig()}"
        # unnamed: Spark keys an observation by (name, observed frame), so
        # a fixed name on the caller's ``pages`` would leave a re-run after
        # a failed one waiting forever on the failed run's registration
        obs = Observation()
        pages_obs = Observation()

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

        # the C3 counters come from the extraction's observe(), captured BY
        # the stage write: no extra action re-scans the input
        quads = self._run_stage(
            "quads", fp, build_quads,
            partition_col="dataset", partition_by=part_cols,
            counters=lambda: [("pages_in", int(pages_obs.get["pages_in"])),
                              ("quads_out", int(obs.get["quads_out"]))],
        )

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

        self._export(final, fp, final_stage)

        # the four graph tables are one commit, rebuilt unless every one
        # has a record for this build (each builder gives its schema
        # without executing anything)
        graph = [name for name, _, _ in M.GRAPH_TABLES]

        def write_graph() -> dict:
            counts = M.write_graph_tables(final, self.cfg.warehouse)
            return {name: (builder(final).schema, {"*": counts[name]})
                    for name, builder, _ in M.GRAPH_TABLES}

        if not all(self._committed(name, fp) for name in graph):
            self._commit(graph, fp, write_graph)
        for name in graph:
            outputs[name] = self._read_stage(name)

        self._write_metrics([])
        return outputs


def run_pipeline(
    spark: SparkSession, pages: DataFrame, warehouse: str, **kwargs
) -> dict[str, DataFrame]:
    return Pipeline(spark, PipelineConfig(warehouse=warehouse, **kwargs)).run(pages)
