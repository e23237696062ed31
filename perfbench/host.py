"""Host and provenance record printed with every result.

Results are comparable only when ``nproc``, ``master`` and
``driver_heap`` agree: :func:`differences` says why two records are not.
The pre-benchmark ``BENCH_r0*.json`` / ``BENCH/`` numbers were taken at
``local[32]`` on another host and carry no such record, so they are never
comparable with these.
"""

from __future__ import annotations

import hashlib
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "distributed_extraction_framework_spark"
MUST_MATCH = ("nproc", "master", "driver_heap")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_sha256() -> str:
    """Digest of the package sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def record(spark, seed: int) -> dict:
    import pyarrow
    import pyspark

    jvm = spark._jvm
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "git_sha": git_sha(),
        "source_sha256": source_sha256(),
        "seed": seed,
    }


def differences(a: dict, b: dict) -> list[str]:
    """Reasons two host records must not be compared (empty: comparable)."""
    return [f"{k}: {a.get(k)!r} != {b.get(k)!r}"
            for k in MUST_MATCH if a.get(k) != b.get(k)]
