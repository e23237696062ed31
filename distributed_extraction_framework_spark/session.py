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

import atexit
import functools
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    When this call launches the driver JVM, the JVM maps a class-data
    sharing archive of the classes a run loads, which the first such
    launch dumps at exit (see ``_class_data_sharing``).
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
    launches = (SparkContext._gateway is None and "spark.remote" not in conf
                and not os.environ.get("PYSPARK_GATEWAY_PORT")
                and not os.environ.get("SPARK_REMOTE"))
    cds = _class_data_sharing(conf) if launches else None
    if cds:
        key = "spark.driver.defaultJavaOptions"
        conf[key] = f"{conf.get(key, '')} -Xlog:cds*=off {cds['flag']}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = _launch(builder, cds) if cds else builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


# Dynamic AppCDS (JEP 350) for the driver JVM that get_spark launches: one
# archive of the classes a run loads, keyed on the JDK build and the driver
# classpath. A partial archive at the final path crashes the JVM (SIGBUS
# while relocating it), and an unusable one turns sharing off altogether,
# the JDK's own base archive included; so an archive is passed only once
# promoted, and it is promoted only after the JVM that dumped it exited 0
# and a -Xshare:on launch accepted it.
_CDS_WAIT_S = 120
_CDS_CONFLICTS = re.compile(r"Xshare|SharedArchive|ArchiveClasses|CompressedOops"
                            r"|ObjectAlignment")
_CDS_TMP = re.compile(r"driver-\w+\.(\d+)\.tmp")


def _heap_bytes(mem: str) -> int | None:
    """``spark.driver.memory`` in bytes (no suffix means MiB)."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", mem.strip().lower())
    return m and int(m[1]) * 1024 ** "bkmgtp".index(m[2] or "m")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _class_data_sharing(conf: dict[str, str]) -> dict | None:
    """The class-data-sharing plan for launching the driver JVM with
    ``conf``, or None to launch it exactly as without sharing.

    Sharing needs a classpath HotSpot can archive: Spark's launcher puts
    the conf dir first and HotSpot will not dump past a non-empty
    directory, so the launch points ``SPARK_CONF_DIR`` at an empty
    cache-owned one. That is done only when the effective conf dir holds
    nothing but ``*.template`` files; a real file there, another
    classpath source, a heap too large for compressed oops or the
    caller's own sharing options mean no sharing at all.
    """
    env = os.environ
    java_opts = " ".join([conf.get("spark.driver.defaultJavaOptions", ""),
                          conf.get("spark.driver.extraJavaOptions", ""),
                          *(env.get(v, "") for v in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS",
                                                     "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"))])
    heap = _heap_bytes(conf.get("spark.driver.memory", "1g"))
    if (env.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
            or any(env.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                        "SPARK_DIST_CLASSPATH"))
            or conf.get("spark.driver.extraClassPath")
            or _CDS_CONFLICTS.search(java_opts) or not heap or heap >= 31 << 30):
        return None
    home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf_dir) and any(not f.endswith(".template")
                                       for f in os.listdir(conf_dir)):
        return None
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") \
        else shutil.which("java")
    cache = os.path.join(env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                         "distributed_extraction_framework_spark")
    empty = os.path.join(cache, "spark-conf")
    if not java or re.search(r"[\s'\"\\]", cache):
        return None
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        java = os.path.realpath(java)
        libjvm = os.path.join(os.path.dirname(os.path.dirname(java)),
                              "lib", "server", "libjvm.so")
        jars = os.path.join(home, "jars")
        parts = [os.path.realpath(home)]
        for path in [java, libjvm, *(os.path.join(jars, f)
                                     for f in sorted(os.listdir(jars)))]:
            st = os.stat(path)
            parts.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
        key = hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
        archive = os.path.join(cache, f"driver-{key}.jsa")
        plan = {"conf_dir": empty, "archive": archive, "tmp": None}
        if os.path.exists(archive):
            return {**plan, "flag": f"-XX:SharedArchiveFile={archive}"}
        for f in os.listdir(cache):  # one builder per key at a time
            m = _CDS_TMP.fullmatch(f)
            if m and _alive(int(m[1])):
                if f.startswith(f"driver-{key}."):
                    return None
            elif m:
                os.unlink(os.path.join(cache, f))
        tmp = os.path.join(cache, f"driver-{key}.{os.getpid()}.tmp")
        open(tmp, "x").close()
    except OSError:
        return None
    return {**plan, "tmp": tmp, "flag": f"-XX:ArchiveClassesAtExit={tmp}",
            "check": [java, f"-Xmx{heap}", "-Xshare:on", f"-XX:SharedArchiveFile={tmp}"]}


def _launch(builder, cds: dict) -> SparkSession:
    """``builder.getOrCreate()`` with ``SPARK_CONF_DIR`` at the empty conf
    dir for the launch only; a building launch promotes its dump at exit."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds["conf_dir"]
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if cds["tmp"]:
            os.unlink(cds["tmp"])
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if cds["tmp"]:
        classpath = spark._jvm.System.getProperty("java.class.path")
        atexit.register(_promote_archive, spark.sparkContext._gateway.proc,
                        [*cds["check"], "-cp", classpath, "-version"],
                        cds["tmp"], cds["archive"])
    return spark


def _promote_archive(proc, check: list[str], tmp: str, archive: str) -> None:
    """At interpreter exit: stop the driver JVM that dumps ``tmp``, and
    rename the dump to ``archive`` only if that JVM exited cleanly within
    ``_CDS_WAIT_S`` and a ``-Xshare:on`` launch with the same classpath
    accepts it; then drop every other key's archive."""
    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            proc.stdin.close()  # the gateway JVM exits on end of input
        if (proc.wait(_CDS_WAIT_S) == 0 and subprocess.run(
                check, capture_output=True, timeout=_CDS_WAIT_S).returncode == 0):
            os.replace(tmp, archive)
            cache = os.path.dirname(archive)
            for f in os.listdir(cache):
                if f.endswith(".jsa") and f != os.path.basename(archive):
                    os.unlink(os.path.join(cache, f))
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


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
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def arrow_table(rows, schema: StructType | str) -> pa.Table:
    """``rows`` (tuples, positional, or a ``pa.Table`` with ``schema``'s
    column names) as an Arrow table of ``schema``'s Arrow form."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return rows.cast(arrow)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


_SHIPPED: set[str] = set()


@functools.cache
def _package_zip() -> str:
    """This package as a zip in a per-process temporary directory that is
    removed at interpreter exit. ``__pycache__`` stays out: zipimport
    never reads it."""
    tmp = tempfile.mkdtemp(prefix="defs_pkg_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(tmp, "defs_pkg.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(pkg_dir):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), os.path.dirname(pkg_dir)))
    return path


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
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED.add(app_id)
