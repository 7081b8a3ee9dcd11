"""Metrics parity (reference src/metrics.rs tests, :220-318): row counters via
Observation, per-file stats, scan_efficiency math."""

from __future__ import annotations

import pytest

from datafusion_datasource_orc_spark.metrics import QueryMetrics, ScanMetrics, scan_efficiency
from datafusion_datasource_orc_spark.sources.metadata import directory_statistics
from datafusion_datasource_orc_spark.sources.tables import load_orc_table, orc_dir_for


def test_observation_row_counter(spark, sf_dir):
    sm = ScanMetrics()
    df = sm.observe(load_orc_table(spark, sf_dir, "lineitem"), "scan")
    m = sm.run("lineitem_scan", df)
    assert isinstance(m, QueryMetrics)
    assert m.row_count == 6000
    assert m.observed["scan"]["rows_decoded"] == 6000
    assert m.elapsed_sec > 0


def test_observation_bytes_counter(spark, sf_dir):
    from datafusion_datasource_orc_spark.operators.multimodal import with_payload
    from datafusion_datasource_orc_spark.sources.tables import load_table

    sm = ScanMetrics()
    df = sm.observe(with_payload(load_table(spark, sf_dir, "documents")), "pay", bytes_col="payload")
    m = sm.run("payload_scan", df)
    assert m.observed["pay"]["rows_decoded"] == 500
    assert m.observed["pay"]["bytes_scanned"] > 0


def test_scan_efficiency_math():
    # reference src/metrics.rs:203-217: ratio, None on unknown size
    assert scan_efficiency(50, 100) == 0.5
    assert scan_efficiency(0, 100) == 0.0
    assert scan_efficiency(10, 0) is None


def test_per_file_row_counts(spark, sf_dir):
    from datafusion_datasource_orc_spark.metrics import per_file_row_counts

    df = load_orc_table(spark, sf_dir, "orders")
    counts = per_file_row_counts(df)
    assert sum(counts.values()) == 1500
    assert all(p.endswith(".orc") or ".orc" in p for p in counts)


def test_scan_sql_metrics_numoutputrows(spark, sf_dir):
    from datafusion_datasource_orc_spark.metrics import scan_sql_metrics

    df = load_orc_table(spark, sf_dir, "orders")
    df.collect()
    scans = scan_sql_metrics(df)
    assert scans, "no scan nodes surfaced"
    m = scans[0]["metrics"]
    assert m.get("numOutputRows") == 1500
    assert m.get("numFiles", 0) >= 1
    assert m.get("filesSize", 0) > 0


def test_scan_sql_metrics_through_an_exchange(spark, sf_dir):
    # under AQE the aggregate's shuffle makes the scan part of a query
    # stage, which the final plan shows as a leaf
    from datafusion_datasource_orc_spark.metrics import scan_sql_metrics

    df = load_orc_table(spark, sf_dir, "orders").groupBy().count()
    assert df.collect()[0][0] == 1500
    scans = [s for s in scan_sql_metrics(df) if "Scan" in s["node"]]
    assert [s["metrics"].get("numOutputRows") for s in scans] == [1500]


def test_stripe_pruning_reads_fewer_rows_than_table(spark, tmp_path):
    """Numeric stripe/row-group-pruning proof (A14): on a range-clustered
    ORC layout, a selective filter's scan must DECODE fewer rows than the
    table holds — the pushed predicate skips non-matching stripes via their
    min/max stats, and the scan node's numOutputRows metric counts only what
    the reader actually decoded (src/metrics.rs stripes_pruned parity,
    expressed in the counter Spark exposes)."""
    from pyspark.sql import functions as F

    from datafusion_datasource_orc_spark.metrics import scan_sql_metrics
    from datafusion_datasource_orc_spark.sources.orc import write_orc_clustered

    n = 80_000
    path = str(tmp_path / "clustered")
    base = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_orc_clustered(base, path, ["k"], num_files=8)

    scan = spark.read.orc(path).filter(F.col("k").between(100, 199))
    rows = scan.collect()
    assert len(rows) == 100
    metrics = scan_sql_metrics(scan)
    assert metrics, "no scan nodes surfaced"
    decoded = metrics[0]["metrics"].get("numOutputRows")
    # the filter prunes whole files AND stripes: the reader must decode far
    # fewer rows than the table holds (one range-file's worth at most)
    assert decoded is not None and decoded < n // 4, (
        f"scan decoded {decoded} of {n} rows — pruning did not engage"
    )


def test_per_file_metrics_labels(spark, sf_dir):
    # per-file granularity (the reference labels metrics per filename,
    # src/metrics.rs:128-201) — from footer stats
    d = orc_dir_for(spark, sf_dir, "orders")
    stats = directory_statistics(d)
    assert stats["num_rows"] == 1500
    for s in stats["files"]:
        assert s.path.startswith(d)
        assert s.num_stripes >= 1
        assert s.total_byte_size > 0
