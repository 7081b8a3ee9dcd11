from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_datasource_orc_spark.session import get_spark
from datafusion_datasource_orc_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pytest")
    yield spark


@pytest.fixture
def process_starts(spark, tmp_path):
    """``count(fn)``: how many processes the session's JVM starts while
    ``fn()`` runs, from a JFR recording with only ``jdk.ProcessStart``
    enabled. Every start in the JVM counts, whichever thread makes it."""
    jvm = spark._jvm

    def count(fn) -> int:
        dump = jvm.java.io.File(str(tmp_path / "process_starts.jfr")).toPath()
        recording = jvm.jdk.jfr.Recording()
        try:
            recording.enable("jdk.ProcessStart")
            recording.start()
            fn()
            recording.stop()
            recording.dump(dump)
        finally:
            recording.close()
        return jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump).size()

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the testdata star schema registered as views —
    the same oracle setup the driver uses."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
