"""``get_spark``'s local filesystem: how it reaches the JVM, and the jar it
ships in."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from datafusion_datasource_orc_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A child process starts a session through get_spark, after a plain session
# when ``attached``, and prints the class FileSystem.get(file:///) returns,
# the hadoop conf's fs.file.impl and the JVM's class path.
_SESSION_PROBE = """
import json, sys

from pyspark.sql import SparkSession

repo, attached, extra_conf = sys.argv[1], sys.argv[2] == "1", json.loads(sys.argv[3])
sys.path.insert(0, repo)
from datafusion_datasource_orc_spark.session import get_spark

if attached:
    SparkSession.builder.master("local[1]").getOrCreate()
spark = get_spark(master="local[1]", extra_conf=extra_conf)
jvm = spark._jvm
conf = spark._jsc.hadoopConfiguration()
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
out = {
    "fs": fs.getClass().getName(),
    "impl": conf.get("fs.file.impl"),
    "class_path": jvm.java.lang.System.getProperty("java.class.path").split(":"),
}
spark.stop()
print(json.dumps(out))
"""


def _probe(tmp_path, attached: bool, extra_conf: dict) -> dict:
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "PYSPARK_SUBMIT_ARGS")
    }
    env["TMPDIR"] = str(tmp_path)
    args = [REPO, "1" if attached else "0", json.dumps(extra_conf)]
    r = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE, *args],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_launched_session_uses_the_local_filesystem(tmp_path):
    """A session whose JVM get_spark starts serves file:// with the
    engine's filesystem, and a caller's own class-path entry stays next to
    the jar."""
    callers = str(tmp_path / "caller.jar")
    out = _probe(tmp_path, False, {"spark.driver.extraClassPath": callers})
    assert out["fs"] == LOCAL_FS_CLASS
    assert LOCAL_FS_JAR in out["class_path"]
    assert callers in out["class_path"]


def test_callers_file_impl_wins(tmp_path):
    impl = "org.apache.hadoop.fs.LocalFileSystem"
    out = _probe(tmp_path, False, {"spark.hadoop.fs.file.impl": impl})
    assert out["fs"] == impl


def test_attached_session_keeps_hadoops_filesystem(tmp_path):
    """On a JVM that was already running the jar is not on the class path,
    so get_spark leaves fs.file.impl unset."""
    out = _probe(tmp_path, True, {})
    assert out["impl"] is None
    assert out["fs"] != LOCAL_FS_CLASS
    assert LOCAL_FS_JAR not in out["class_path"]


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK's javac")
def test_committed_jar_matches_its_source(tmp_path):
    """``tools/build_jvm.py`` rebuilds the committed jar: every class
    disassembles to the same code."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from build_jvm import build
    finally:
        sys.path.remove(os.path.join(REPO, "tools"))

    def disassembled(jar):
        with zipfile.ZipFile(jar) as z:
            names = [n for n in z.namelist() if n.endswith(".class")]
        classes = sorted(n[: -len(".class")].replace("/", ".") for n in names)
        javap = ["javap", "-c", "-p", "-cp", jar, *classes]
        return classes, subprocess.run(javap, capture_output=True, text=True, check=True).stdout

    rebuilt = disassembled(build(str(tmp_path / "rebuilt.jar")))
    assert rebuilt[0]
    assert disassembled(LOCAL_FS_JAR) == rebuilt
