"""Deployment test: the pipeline runs end-to-end via spark-submit with the
package shipped through --py-files (the north_rule execution mode)."""

import json
import os
import shutil
import subprocess

from distributed_extraction_framework_spark.session import DEFAULT_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest

        pytest.skip("spark-submit not on PATH")
    pkg_zip = str(tmp_path / "defs_pkg")
    shutil.make_archive(pkg_zip, "zip", REPO,
                        "distributed_extraction_framework_spark")
    wh = str(tmp_path / "wh")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY package source
    out = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.driver.defaultJavaOptions="
            + DEFAULT_CONF["spark.driver.defaultJavaOptions"],
            "--py-files", pkg_zip + ".zip",
            os.path.join(REPO, "scripts", "submit_pipeline.py"),
            "--synth", "300", "--warehouse", wh, "--no-link", "--ntriples",
        ],
        capture_output=True, text=True, timeout=900, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith('{"status"')][-1]
    res = json.loads(line)
    assert res["status"] == "ok"
    assert res["counts"]["quads"] > 0
    assert res["counts"]["edges"] > 0
    assert os.path.exists(wh + "/ntriples/dataset=labels")
    assert os.path.exists(wh + "/lineage")
    # the submitter's conf wins; every other spark.sql default is the engine's
    assert res["conf"]["spark.sql.shuffle.partitions"] == "8"
    assert (res["conf"]["spark.sql.autoBroadcastJoinThreshold"]
            == DEFAULT_CONF["spark.sql.autoBroadcastJoinThreshold"])
