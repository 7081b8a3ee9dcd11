"""The package's lazy zip-cache invalidation (``_lazy_zip_invalidation``).

Every PySpark worker call runs ``importlib.invalidate_caches()``. Before
Python 3.13 that re-read the directory of ``pyspark.zip`` once per
zipimporter (15-16 reads in one worker), which dominated the cost of the
``orcmeta`` planner calls. The wrapper installed at package import re-reads
an archive only when it changed on disk.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: a zip holding one module goes on sys.path, the
# engine is imported, and zipimport._read_directory calls are counted.
_SCRIPT = textwrap.dedent(
    """
    import importlib, importlib.util, sys, types, zipfile, zipimport

    repo, archive = sys.argv[1], sys.argv[2]
    if importlib.util.find_spec("pyspark") is None:
        # an interpreter without pyspark: the wrapper needs none of it
        sql = types.ModuleType("pyspark.sql")
        sql.SparkSession = object
        sys.modules["pyspark"] = types.ModuleType("pyspark")
        sys.modules["pyspark.sql"] = sql

    def write(names):
        with zipfile.ZipFile(archive, "w") as z:
            for name in names:
                z.writestr(name + ".py", "VALUE = %r\\n" % name)

    write(["zmod_a"])
    sys.path[:0] = [archive, repo]
    import zmod_a
    import datafusion_datasource_orc_spark as engine

    installed = zipimport.zipimporter.invalidate_caches
    wrapped = getattr(installed, "_lazy_zip_invalidation", False)
    assert wrapped == (sys.version_info < (3, 13)), (sys.version_info, wrapped)
    importlib.reload(engine)
    engine._lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed, "wrapped twice"

    reads = []
    read_directory = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return read_directory(path)
    zipimport._read_directory = counting

    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads

    write(["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    import zmod_b
    assert zmod_b.VALUE == "zmod_b"
    print("ok", sys.version_info[:2])
    """
)


@pytest.mark.parametrize("interpreter", ["current", "python3.13"])
def test_invalidate_caches_rereads_only_changed_archives(interpreter, tmp_path):
    python = sys.executable if interpreter == "current" else shutil.which(interpreter)
    if python is None or subprocess.run([python, "-c", ""], capture_output=True).returncode:
        pytest.skip(f"{interpreter} does not run")
    done = subprocess.run(
        [python, "-c", _SCRIPT, REPO, str(tmp_path / "mods.zip")],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.startswith("ok"), done.stdout


def test_worker_invalidate_caches_rereads_nothing(spark):
    def probe(_):
        import importlib
        import zipimport

        import datafusion_datasource_orc_spark  # noqa: F401
        import pyspark

        # settle the worker's state: the wrapper's first call per archive reads
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pyspark.__file__, len(reads)

    (origin, reads), = spark.sparkContext.parallelize([0], 1).map(probe).collect()
    assert "pyspark.zip" in origin, origin
    assert reads == 0
