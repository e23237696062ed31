"""Fault matrix of the one commit path (``Pipeline._commit``).

A small ``Pipeline.run`` (linking, canonicalization and one export format
on) and a small ``WebKGPipeline.run`` (CDX index on) are failed at the
k-th data write, the k-th lineage append and the k-th rename (of a
lineage part or of a record), for every k a clean run reaches. A re-run
on the same warehouse must then leave every output equal to a clean
run's, by content digest.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from distributed_extraction_framework_spark.plans.pipeline import (
    Pipeline,
    PipelineConfig,
)
from distributed_extraction_framework_spark.plans.webkg import (
    WebKGConfig,
    WebKGPipeline,
)

STEPS = ("write", "lineage", "rename")
# the counters of the calling thread: the scenarios run side by side
_LOCAL = threading.local()


class Fault(Exception):
    """The injected failure."""


class _Counter:
    """Counts one kind of commit step; raises at its ``k``-th call (never
    when ``k`` is 0)."""

    def __init__(self, k: int):
        self.k, self.n = k, 0

    def hit(self) -> None:
        self.n += 1
        if self.n == self.k:
            raise Fault(self.n)


def _hit(step: str) -> None:
    c = getattr(_LOCAL, "counters", {}).get(step)
    if c is not None:
        c.hit()


class _RenameHook:
    """A Hadoop FileSystem whose ``rename`` is a counted step."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        _hit("rename")
        return self._fs.rename(src, dst)


@pytest.fixture
def hooks(monkeypatch):
    """Route every data write (a parquet or text write; lineage parts are
    stored by the driver), lineage append and rename of a file the commit
    path stores (a lineage part or a record) through the calling
    thread's counters."""
    for name in ("parquet", "text"):
        def write(self, path, *a, _orig=getattr(DataFrameWriter, name), **kw):
            _hit("write")
            return _orig(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, name, write)

    def append(self, rows, _orig=Pipeline._append_lineage):
        _hit("lineage")
        return _orig(self, rows)

    def record_file(self, name, *a, _orig=Pipeline._record_file):
        fs, p = _orig(self, name, *a)
        return _RenameHook(fs), p

    monkeypatch.setattr(Pipeline, "_append_lineage", append)
    monkeypatch.setattr(Pipeline, "_record_file", record_file)


def _digests(spark, wh: str, parquet: tuple, text: tuple) -> dict:
    """``{output: (rows, hash sum)}`` of every output, in one job: the
    row count and the DECIMAL sum of per-row ``xxhash64`` over the
    sorted columns; text outputs without their ``#`` marker lines."""
    tables = {n: spark.read.parquet(f"{wh}/{n}") for n in parquet}
    tables.update({
        n: spark.read.text(f"{wh}/{n}").filter(~F.col("value").startswith("#"))
        for n in text
    })
    parts = [
        df.select(F.lit(n).alias("t"),
                  F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
                  .cast("decimal(38,0)").alias("h"))
        for n, df in sorted(tables.items())
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("t").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("h").alias("h")).collect()
    out = {n: (0, None) for n in tables}
    out.update({r["t"]: (r["n"], str(r["h"])) for r in rows})
    return out


def _matrix(spark, tmp_path, run, parquet, text) -> None:
    """``run(warehouse)`` once clean, counting each step, then once per
    (step, k) failed at that step's k-th call and re-run clean."""
    _LOCAL.counters = {step: _Counter(0) for step in STEPS}
    run(str(tmp_path / "clean"))
    n = {step: c.n for step, c in _LOCAL.counters.items()}
    _LOCAL.counters = {}
    assert min(n.values()) >= 5, n
    clean = _digests(spark, str(tmp_path / "clean"), parquet, text)
    assert sum(rows for rows, _ in clean.values()) > 0, clean

    def scenario(step: str, k: int) -> dict:
        wh = str(tmp_path / f"{step}{k}")
        _LOCAL.counters = {step: _Counter(k)}
        try:
            with pytest.raises(Fault):
                run(wh)
        finally:
            _LOCAL.counters = {}
        run(wh)
        return _digests(spark, wh, parquet, text)

    cases = [(step, k) for step in STEPS for k in range(1, n[step] + 1)]
    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(lambda c: scenario(*c), cases))
    assert [c for c, d in zip(cases, got) if d != clean] == []


def test_pipeline_recovers_from_a_fault_at_every_commit_step(
        spark, hooks, tmp_path):
    from distributed_extraction_framework_spark.sources.synth import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 24, partitions=1).write.parquet(src)
    pages = spark.read.parquet(src)

    def run(wh):
        Pipeline(spark, PipelineConfig(
            warehouse=wh, output_formats={"nt": "n-triples"},
            # labels feed linking, interlanguage sameAs links feed
            # canonicalization, redirects feed the closure
            extractors=["labels", "page_links", "redirects",
                        "interlanguage_links"],
            use_disambiguation_set=False)).run(pages)

    _matrix(spark, tmp_path, run,
            ("quads", "redirect_closure",
             "quads_resolved", "quads_canonical", "entity_links",
             "edges", "literals", "nodes", "predicates"),
            ("exports/nt",))


def test_webkg_recovers_from_a_fault_at_every_commit_step(
        spark, hooks, tmp_path):
    rows = []
    for i in range(8):
        if i % 4 == 1:
            rows.append((f"https://w/{i}", "2024-01-01 00:00:00", None,
                         301, f"https://w/{i - 1}"))
        else:
            rows.append((f"https://w/{i}", "2024-01-01 00:00:00",
                         f'<a href="https://w/{(i + 1) % 8}">next</a>'
                         f'<script type="application/ld+json">'
                         f'{{"@id":"https://e/{i}","n":"v"}}</script>',
                         200, None))
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts string, html string, "
              "http_status int, http_location string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp")).write.parquet(
        src)
    pages = spark.read.parquet(src)

    def run(wh):
        # the recrawl collapse is one more stage like the wiki ones: off
        WebKGPipeline(spark, WebKGConfig(
            warehouse=wh, cdx=True, cdx_files=2, latest_only=False,
            output_formats={"nt": "n-triples"})).run(pages)

    _matrix(spark, tmp_path, run,
            ("web_redirect_closure", "web_triples", "web_triples_resolved"),
            ("cdx", "exports/nt"))
