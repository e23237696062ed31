"""SparkSession factory.

Replaces the reference's hand-rolled SparkContext factory + Kryo forcing
(SparkUtils.scala:54-84): Spark SQL's Tungsten/Arrow make the Kryo registry
unnecessary, and the session carries the scale knobs declaratively.

Scale posture: these defaults are tuned so the SAME code runs on
``local[N]`` in tests and on a 1000-executor cluster via
``spark-submit --py-files`` — AQE re-plans shuffles at runtime (incl. skew
joins), shuffle partitions follow cluster size, and Arrow batches keep the
pandas-UDF path vectorized.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_CONF = {
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transport for pandas UDFs / toPandas (input_hint: no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Deterministic timestamps vs the DuckDB oracle (UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Keep scans right-sized: 128 MiB splits are the parquet sweet spot.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast dimensions up to 64 MiB (surface-form dict, redirect map).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # One-shot JIT policy: the HotSpot tier-4 (C2) thresholds, each x10. A
    # cold build pays for C2 compiles of methods it calls a few thousand
    # times and then never uses again; those stay in C1 code, while the
    # loops a large corpus keeps hot still reach C2. Measured at local[4]:
    # -25% CPU on a 400-page cold build, -14% CPU and the same wall on a
    # 40k-page one (ROADMAP item 3). Spark prepends this to
    # extraJavaOptions, so a caller's own options compose with it. It only
    # takes effect when get_spark launches the driver JVM: under
    # spark-submit or an already running session, pass it with --conf.
    "spark.driver.defaultJavaOptions":
        "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
        "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000",
}


def iceberg_conf(warehouse: str, catalog: str = "defs") -> dict[str, str]:
    """Session conf for an Iceberg hadoop catalog (north_rule sink).

    Requires the Iceberg Spark runtime jar on the classpath — on a real
    cluster add ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>``
    to spark-submit (this container ships no jar; ``iceberg_available``
    probes for it and callers degrade to parquet). The returned keys are
    the COMPLETE switch: merge them into ``get_spark(extra_conf=...)`` or
    pass ``iceberg_warehouse=`` and every ``write_graph_tables(...,
    table_format='iceberg')`` call lands in snapshot-committed tables.
    """
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "distributed-extraction-framework-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    shuffle_partitions: int | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit provide it.
    ``iceberg_warehouse`` wires up the Iceberg catalog (see iceberg_conf).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if iceberg_warehouse is not None:
        conf.update(iceberg_conf(iceberg_warehouse))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver-side ``rows`` (tuples, positional, or a ``pa.Table`` with
    ``schema``'s column names) as a DataFrame of ``schema``.

    The rows go to the JVM as one Arrow table, so the plan is a Catalyst
    ``LocalRelation``: no PythonRDD job and no Python worker, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. For bookkeeping
    and dictionary-sized tables only: every row crosses the driver.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.cast(arrow)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(table, schema)


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``addPyFile``).

    This is the in-process equivalent of ``spark-submit --py-files pkg.zip``
    (north_rule deployment mode): without it, pandas-UDF closures referencing
    package modules fail to unpickle on workers when the driver imported the
    package from a path workers don't share.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"defs_pkg_{os.getpid()}_{abs(hash(pkg_dir)) % 10**8}"
    )
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                            os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)
