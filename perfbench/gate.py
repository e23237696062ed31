"""Correctness gate: content digests of committed outputs and oracle checks.

A digest is order-independent: per table, the row count and the sum of
per-row ``xxhash64`` over every column, summed as DECIMAL(38,0) so it
cannot overflow. Every table of one run is digested by a single Spark job.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_extraction_framework_spark.oracle.pyref import extract_corpus

QUAD_COLS = ("dataset", "subj", "pred", "obj", "lang", "datatype", "context")


def export_lines(spark: SparkSession, path: str) -> DataFrame:
    """Lines of an exported text format without its ``#`` marker lines."""
    return spark.read.text(path).filter(~F.col("value").startswith("#"))


def digest(tables: dict[str, DataFrame]) -> dict[str, tuple[int, str]]:
    """``{table: (rows, hash sum)}`` for every table, in one job."""
    parts = [
        df.select(
            F.lit(name).alias("t"),
            F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
            .cast("decimal(38,0)").alias("h"),
        )
        for name, df in sorted(tables.items())
    ]
    rows = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .collect()
    )
    out = {name: (0, "0") for name in tables}
    out.update({r["t"]: (int(r["n"]), str(r["h"])) for r in rows})
    return out


def digest_diff(ref: dict, got: dict) -> list[str]:
    """Names of the tables whose digest differs between two runs."""
    return sorted(k for k in ref.keys() | got.keys() if ref.get(k) != got.get(k))


def oracle_pr(spark: SparkSession, quads_path: str, pages: list[dict],
              seed: int, sample: int) -> tuple[float, float]:
    """Precision and recall of the committed ``quads`` stage against the
    sequential reference extractor, on ``sample`` seeded pages."""
    picked = random.Random(seed).sample(pages, min(sample, len(pages)))
    want = extract_corpus(picked)
    contexts = sorted({q[6] for q in want})
    got = {
        tuple(r[c] for c in QUAD_COLS)
        for r in spark.read.parquet(quads_path)
        .filter(F.col("context").isin(contexts)).collect()
    }
    if not got or not want:
        return (1.0, 1.0) if got == want else (0.0, 0.0)
    tp = len(got & want)
    return tp / len(got), tp / len(want)
