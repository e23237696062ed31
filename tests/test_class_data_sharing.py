"""Class-data sharing for the driver JVM that ``get_spark`` launches.

Each case runs ``get_spark`` in a fresh interpreter with its own
``XDG_CACHE_HOME``, so the archive it builds or maps is the case's own.
"""

import glob
import json
import os
import subprocess
import sys

import pytest

from distributed_extraction_framework_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import glob, json, os, sys, zipfile
sys.path.insert(0, sys.argv[1])
before = os.environ.get("SPARK_CONF_DIR")
from distributed_extraction_framework_spark import session
spark = session.get_spark(master="local[2]", shuffle_partitions=2,
                          extra_conf=json.loads(sys.argv[2]))
jvm = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "args": list(jvm.getInputArguments()),
    "sum": spark.range(100).selectExpr("sum(id) AS s").first()["s"],
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == before,
    "running": sorted(os.listdir(sys.argv[3])) if os.path.isdir(sys.argv[3]) else [],
    "probe": spark.conf.get("spark.defs.probe", None),
    "zip": zipfile.ZipFile(session._package_zip()).namelist()
           if hasattr(session, "_package_zip") else [],
}))
if len(sys.argv) > 4:  # a builder whose JVM dies before the clean exit
    os.kill(spark.sparkContext._gateway.proc.pid, 9)
"""


def launch(tmp_path, cache, extra_conf=None, env=None, kill=False):
    """``get_spark`` in a new interpreter; its JSON report and stdout."""
    tmp = tmp_path / "tmp"
    tmp.mkdir(exist_ok=True)
    full_env = {**os.environ, "XDG_CACHE_HOME": str(cache), "TMPDIR": str(tmp),
                **(env or {})}
    conf = {"spark.ui.enabled": "false", "spark.driver.memory": "1g",
            **(extra_conf or {})}
    out = subprocess.run(
        [sys.executable, "-c", PROBE, REPO, json.dumps(conf),
         str(cache / "distributed_extraction_framework_spark"),
         *(["kill"] if kill else [])],
        capture_output=True, text=True, timeout=600, env=full_env, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.splitlines()[-1]), out.stdout


def files(cache):
    return sorted(os.path.basename(f) for f in
                  glob.glob(str(cache / "distributed_extraction_framework_spark" / "*")))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """One cache whose archive the first launch built."""
    tmp_path = tmp_path_factory.mktemp("cds")
    cache = tmp_path / "cache"
    report, stdout = launch(tmp_path, cache)
    return tmp_path, cache, report, stdout


def test_first_launch_promotes_the_archive_only_after_its_jvm_exits(built):
    tmp_path, cache, report, stdout = built
    assert report["sum"] == 4950
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    assert not any(f.endswith(".jsa") for f in report["running"]), report["running"]
    after = files(cache)
    archives = [f for f in after if f.endswith(".jsa")]
    assert len(archives) == 1 and not any(f.endswith(".tmp") for f in after), after
    assert os.path.getsize(
        cache / "distributed_extraction_framework_spark" / archives[0]) > 10 << 20
    # the dump's CDS warnings stay off the caller's stdout
    assert "[warning]" not in stdout and stdout.count("\n") == 1, stdout
    assert report["conf_dir_kept"]


def test_package_zip_skips_pycache_and_is_removed_at_exit(built):
    tmp_path, _, report, _ = built
    assert "distributed_extraction_framework_spark/session.py" in report["zip"]
    assert not any("__pycache__" in n for n in report["zip"])
    assert not glob.glob(str(tmp_path / "tmp" / "**" / "defs_pkg*"), recursive=True)


def test_second_launch_maps_spark_classes_from_the_archive(built, tmp_path):
    _, cache, _, _ = built
    (archive,) = [f for f in files(cache) if f.endswith(".jsa")]
    path = cache / "distributed_extraction_framework_spark" / archive
    log = tmp_path / "class-load.log"
    conf_dir = tmp_path / "conf"  # templates only: still shared
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("spark.defs.probe 1\n")
    report, _ = launch(
        tmp_path, cache,
        {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"},
        env={"SPARK_CONF_DIR": str(conf_dir)})
    assert f"-XX:SharedArchiveFile={path}" in report["args"]
    assert not any("ArchiveClassesAtExit" in a for a in report["args"])
    assert report["sum"] == 4950 and report["conf_dir_kept"]
    assert report["probe"] is None
    assert ("org.apache.spark.SparkContext source: shared objects file (top)"
            in log.read_text())
    assert files(cache) == [archive, "spark-conf"]


def test_truncated_temp_of_a_dead_builder_is_never_used(built, tmp_path):
    """Nor is another key's archive; the next promotion deletes both."""
    _, cache_built, _, _ = built
    (archive,) = [f for f in files(cache_built) if f.endswith(".jsa")]
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    cache = tmp_path / "cache"
    own = cache / "distributed_extraction_framework_spark"
    own.mkdir(parents=True)
    stale = own / archive.replace(".jsa", f".{dead.pid}.tmp")
    with open(cache_built / "distributed_extraction_framework_spark" / archive,
              "rb") as f:
        stale.write_bytes(f.read(8 << 20))
    other_key = own / "driver-0000000000000000.jsa"
    other_key.write_bytes(b"not an archive")
    report, _ = launch(tmp_path, cache)
    assert report["sum"] == 4950
    assert not any(str(stale) in a or str(other_key) in a for a in report["args"])
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    assert files(cache) == [archive, "spark-conf"]


def test_unclean_exit_promotes_nothing(tmp_path):
    cache = tmp_path / "cache"
    report, _ = launch(tmp_path, cache, kill=True)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    assert files(cache) == ["spark-conf"]


def test_real_conf_dir_keeps_its_values_and_gets_no_sharing(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.defs.probe 42\n")
    cache = tmp_path / "cache"
    report, _ = launch(tmp_path, cache, env={"SPARK_CONF_DIR": str(conf_dir)})
    assert report["probe"] == "42" and report["conf_dir_kept"]
    assert not any("cds" in a or "Archive" in a for a in report["args"])
    assert not cache.exists()


def test_unwritable_cache_or_classpath_sources_mean_no_sharing(tmp_path, monkeypatch):
    """The launch plan alone (no JVM): each case launches as without sharing."""
    conf = dict(session.DEFAULT_CONF)
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._class_data_sharing(conf) is None
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.setenv(var, str(tmp_path))
        assert session._class_data_sharing(conf) is None
        monkeypatch.delenv(var)
    for extra in ({"spark.driver.extraClassPath": str(tmp_path)},
                  {"spark.driver.extraJavaOptions": "-Xshare:off"},
                  {"spark.driver.memory": "64g"}):
        assert session._class_data_sharing({**conf, **extra}) is None
    assert not (tmp_path / "cache").exists()
