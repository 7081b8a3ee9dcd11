"""Rebuild the engine's JVM jar from its committed Java source.

``datafusion_datasource_orc_spark/jvm/NioLocalFileSystem.java`` is compiled
with ``javac --release 17`` against pyspark's ``jars/`` and packed into
``datafusion_datasource_orc_spark/jvm/nio-local-fs.jar``, the jar that
``session.get_spark`` puts on the driver class path. The jar's entries are
sorted and carry a fixed timestamp, so a rebuild from the same source and
compiler writes the same bytes.

Usage: python tools/build_jvm.py [--out JAR]
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_datasource_orc_spark.session import LOCAL_FS_JAR  # noqa: E402


def build(out: str = LOCAL_FS_JAR) -> str:
    """Compile the ``.java`` files beside ``LOCAL_FS_JAR`` and write their
    classes to the jar ``out``."""
    import pyspark

    sources = sorted(glob.glob(os.path.join(os.path.dirname(LOCAL_FS_JAR), "*.java")))
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-d", classes, "-cp", classpath, *sources], check=True
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes)
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out, "w") as jar:
            for name in names:
                info = zipfile.ZipInfo(name.replace(os.sep, "/"), (1980, 1, 1, 0, 0, 0))
                with open(os.path.join(classes, name), "rb") as f:
                    jar.writestr(info, f.read(), zipfile.ZIP_DEFLATED)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=LOCAL_FS_JAR, help="jar to write (default: %(default)s)")
    print(build(ap.parse_args().out))


if __name__ == "__main__":
    main()
