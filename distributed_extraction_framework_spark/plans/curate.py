"""The end-to-end CORPUS-CURATION DAG: hygiene → admission → dedup →
(optional) near-dedup → (optional) packing, with the same lineage /
metrics / resume bookkeeping as the KG pipeline.

The reference's orchestration (DistExtraction.scala:40-46) chains
extraction stages; a web-scale training-data pipeline chains curation
stages over the same corpus, and needs the identical operational story:
per-stage parquet snapshots whose ``_schema.json`` record names the
fingerprint each was built for and its row counts (the one completion
marker), a per-(run, stage, partition) lineage log, and
resume-by-fingerprint so a crashed 100 TB run restarts where it died
instead of re-cleaning a week of input. This module reuses
:class:`plans.pipeline.Pipeline`'s bookkeeping verbatim (one stage
protocol across both DAGs) and swaps in the curation stages:

* ``docs_hygiene`` — Unicode NFC + PII scrub fused into the stage write
  (one corpus pass for both rewrites);
* ``docs_admitted`` — the Gopher composite verdict evaluated as a
  pushed-down FILTER predicate (``operators/curation.gopher_verdict``),
  not a verdict table joined back: admission costs a scan, never a
  shuffle;
* ``docs_unique`` — exact dedup (min-id survivor per content digest,
  one digest-keyed shuffle);
* ``docs_neardup_free`` (optional) — MinHash/LSH fuzzy dedup;
* ``docs_packed`` (optional) — concat-and-chunk sequence packing.

Every stage's output row counts land in its record and in the shared,
append-only ``lineage`` table; re-running with the same warehouse + input
fingerprint loads snapshots instead of recomputing (driver gate
``curation_pipeline`` runs the DAG twice and hash-checks the ledger
against SQL-recomputed stage counts).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import gopher_verdict
from ..operators.dedup import exact_dedup
from ..operators.scrub import _pii_scrubbed, normalize_unicode
from .pipeline import Pipeline, config_digest


@dataclass
class CurationConfig:
    warehouse: str
    normalize: bool = True
    scrub: bool = True
    # gopher_verdict kwargs; None disables the admission stage
    gopher: dict | None = None
    fuzzy: bool = False
    minhash_threshold: float = 0.7
    # tokens per packed training sequence; None disables packing
    pack_seq_len: int | None = None
    id_col: str = "doc_id"
    text_col: str = "text"


class CurationPipeline(Pipeline):
    """Shares Pipeline's stage protocol (fingerprint, one commit record
    per stage, lineage log, resume) — only the DAG body and the config
    signature differ. Construct with a :class:`CurationConfig`
    (bookkeeping only touches ``cfg.warehouse``).
    """

    def _config_sig(self) -> str:
        """Every curation knob (thresholds, flags, capacity, columns):
        resuming a warehouse after a config change must REBUILD, not
        silently return snapshots computed under the old settings."""
        c = self.cfg
        return config_digest((
            c.normalize, c.scrub,
            sorted((c.gopher or {}).items()) if c.gopher is not None
            else None,
            c.fuzzy, c.minhash_threshold, c.pack_seq_len,
            c.id_col, c.text_col,
        ))

    def run(self, docs: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        fp = f"{self._fingerprint(docs)}-{self._config_sig()}"
        out: dict[str, DataFrame] = {}

        def build_hygiene() -> DataFrame:
            d = docs
            if cfg.normalize:
                d = normalize_unicode(d, text_col=cfg.text_col)
            if cfg.scrub:
                d = d.withColumn(
                    cfg.text_col, _pii_scrubbed(F.col(cfg.text_col))
                )
            return d

        hygiene = self._run_stage("docs_hygiene", fp, build_hygiene)
        out["docs_hygiene"] = hygiene

        admitted = hygiene
        if cfg.gopher is not None:
            admitted = self._run_stage(
                "docs_admitted", fp,
                lambda: hygiene.filter(
                    gopher_verdict(F.col(cfg.text_col), **cfg.gopher)
                    == "keep"
                ),
            )
            out["docs_admitted"] = admitted

        unique = self._run_stage(
            "docs_unique", fp,
            lambda: exact_dedup(admitted, text_col=cfg.text_col,
                                id_col=cfg.id_col),
        )
        out["docs_unique"] = unique

        final = unique
        if cfg.fuzzy:
            from ..operators.dedup import fuzzy_dedup

            final = self._run_stage(
                "docs_neardup_free", fp,
                lambda: fuzzy_dedup(unique, threshold=cfg.minhash_threshold,
                                    text_col=cfg.text_col,
                                    id_col=cfg.id_col),
            )
            out["docs_neardup_free"] = final

        if cfg.pack_seq_len:
            from ..functions.text import token_count_ws
            from ..operators.sampling import pack_documents

            def build_packed() -> DataFrame:
                sized = final.withColumn(
                    "n_tokens", token_count_ws(F.col(cfg.text_col))
                )
                return pack_documents(sized, capacity=cfg.pack_seq_len,
                                      key_col=cfg.id_col)

            out["docs_packed"] = self._run_stage(
                "docs_packed", fp, build_packed,
            )

        self._write_metrics([])
        return out
