"""ORC connector surface.

Re-expresses the reference's format layer on Spark's native ORC datasource:

- ``OrcFormatOptions``  — the read-options dict of src/options.rs:30-114
  (``orc.batch_size``, ``orc.pushdown_predicate``, ``orc.metadata_size_hint``)
  with the same parse/validation/unknown-key semantics, mapped to
  ``spark.sql.orc.*`` session confs.
- ``OrcTableCatalog``   — the ListingTable registration flow of
  src/bin/tpcds_bench.rs:521-614 (``register_orc_table`` → temp view; schema
  inference happens in Spark's reader, multi-file merge via mergeSchema like
  src/file_format.rs:137-162).
- ``write_orc``         — the writer the reference stubs out
  (src/writer.rs:18-23); Spark-native, with compression + partitioning,
  so this exceeds the reference.

Codec: every writer here (and ``streaming.events.stream_to_orc``) writes with
the session's ``spark.sql.orc.compression.codec`` (zstd, by ``get_spark`` and
by Spark's own default) unless a caller passes ``compression``, which then
wins for that write.

Local writes: in a session whose JVM ``get_spark`` starts, ``file://`` is
served by ``session.LOCAL_FS_CLASS`` (``jvm/NioLocalFileSystem.java``),
Hadoop's checksummed local filesystem with permissions set through
``java.nio``. The writers here create their files, ``.crc`` sidecars and
directories with the same modes and checksums, but without the ``chmod``
process Hadoop starts for each one when libhadoop is absent: a 16-file
``write_orc`` of the benchmark's ingest slice plus its ``compact_orc``
starts 0 processes, where it started 46.

Scale notes: registration is metadata-only (no data read besides footers);
``write_orc`` controls output file sizing via ``maxRecordsPerFile`` /
repartition so a 100 TB write yields reader-friendly (~128-512 MB) files
rather than task-count-many shards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as pa_orc
from pyspark.sql import DataFrame, SparkSession

from datafusion_datasource_orc_spark.sources.metadata import directory_statistics

# Reference defaults: src/options.rs:30-47
DEFAULT_BATCH_SIZE = 8192
DEFAULT_PUSHDOWN_PREDICATE = True

_TRUE = {"true", "1", "yes", "on"}
_FALSE = {"false", "0", "no", "off"}


class OrcOptionError(ValueError):
    """Typed parse error, mirroring the reference's config errors
    (src/options.rs:84-97: 'Invalid value for orc.batch_size: ...')."""


def _parse_bool(key: str, value: str) -> bool:
    v = value.strip().lower()
    if v in _TRUE:
        return True
    if v in _FALSE:
        return False
    raise OrcOptionError(f"Invalid value for {key}: {value!r} (expected boolean)")


def _parse_positive_int(key: str, value: str) -> int:
    try:
        n = int(value.strip())
    except ValueError as exc:
        raise OrcOptionError(f"Invalid value for {key}: {value!r} (expected integer)") from exc
    if n <= 0:
        raise OrcOptionError(f"Invalid value for {key}: {value!r} (must be positive)")
    return n


@dataclass
class OrcFormatOptions:
    """Mirror of the reference's OrcFormatOptions (src/options.rs:24-47).

    ``metadata_size_hint`` has no Spark equivalent (Spark's ORC reader manages
    its own footer prefetch); it is accepted, validated, and recorded but is a
    documented no-op — SURVEY.md §7 'un-mappables'.
    """

    batch_size: int = DEFAULT_BATCH_SIZE
    pushdown_predicate: bool = DEFAULT_PUSHDOWN_PREDICATE
    metadata_size_hint: int | None = None
    merge_schema: bool = False
    ignored_keys: list[str] = field(default_factory=list)

    # src/options.rs:79-98 — parse a string map; unknown keys are ignored.
    def apply_format_options(self, options: dict[str, str]) -> "OrcFormatOptions":
        for key, value in options.items():
            if key == "orc.batch_size":
                self.batch_size = _parse_positive_int(key, value)
            elif key == "orc.pushdown_predicate":
                self.pushdown_predicate = _parse_bool(key, value)
            elif key == "orc.metadata_size_hint":
                self.metadata_size_hint = _parse_positive_int(key, value)
            elif key == "orc.merge_schema":
                self.merge_schema = _parse_bool(key, value)
            else:
                self.ignored_keys.append(key)
        return self

    def spark_confs(self) -> dict[str, str]:
        """The spark.sql.orc.* conf mapping (SURVEY.md §2A-A15)."""
        return {
            "spark.sql.orc.columnarReaderBatchSize": str(self.batch_size),
            "spark.sql.orc.filterPushdown": str(self.pushdown_predicate).lower(),
            "spark.sql.orc.mergeSchema": str(self.merge_schema).lower(),
        }

    def apply_to_session(self, spark: SparkSession) -> None:
        for k, v in self.spark_confs().items():
            spark.conf.set(k, v)


class OrcTableCatalog:
    """ListingTable-style registration (src/bin/tpcds_bench.rs:521-614).

    ``register(name, path)`` = parse url → infer schema → register table, in
    Spark terms: ``spark.read.orc(path)`` (footer-only) →
    ``createOrReplaceTempView``. ``mem_table=True`` mirrors the harness's
    ``--mem-table`` flag (MemTable::load, tpcds_bench.rs:525-536) via
    ``.cache()``.
    """

    def __init__(self, spark: SparkSession, options: OrcFormatOptions | None = None):
        self.spark = spark
        self.options = options or OrcFormatOptions()
        self.options.apply_to_session(spark)
        self.tables: dict[str, str] = {}

    def register(
        self,
        name: str,
        path: str,
        mem_table: bool = False,
        path_glob_filter: str | None = None,
        recursive: bool = False,
    ) -> DataFrame:
        """Register an ORC directory as a queryable table.

        ``path_glob_filter`` / ``recursive`` mirror the reference's
        ListingTableUrl semantics (src/bin/tpcds_bench.rs:592-614 parses
        URLs whose listing layer accepts globs and walks subdirectories):
        Spark's ``pathGlobFilter`` restricts which files the listing
        matches; ``recursiveFileLookup`` descends past partition dirs."""
        reader = self.spark.read
        if self.options.merge_schema:
            reader = reader.option("mergeSchema", "true")
        if path_glob_filter:
            reader = reader.option("pathGlobFilter", path_glob_filter)
        if recursive:
            reader = reader.option("recursiveFileLookup", "true")
        df = reader.orc(path)
        if mem_table:
            df = df.cache()
        df.createOrReplaceTempView(name)
        self.tables[name] = path
        return df

    def schema(self, name: str):
        return self.spark.table(name).schema

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def register_external(self, name: str, path: str) -> None:
        """Catalog-table registration (CREATE TABLE ... USING ORC LOCATION) —
        needed for ANALYZE/CBO, which temp views don't support."""
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.spark.sql(f"CREATE TABLE {name} USING ORC LOCATION '{path}'")
        self.tables[name] = path

    def analyze(self, name: str, columns: list[str] | None = None) -> None:
        """Statistics collection for cost-based planning — the Spark
        equivalent of the reference's collect_statistics toggle
        (src/bin/tpcds_bench.rs:450-451; stats from footers
        src/metadata.rs:64-86). Column-level stats feed join reordering and
        broadcast decisions under spark.sql.cbo.enabled."""
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")

    def table_stats(self, name: str) -> dict:
        """rowCount/sizeInBytes as the planner sees them."""
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        stats_line = next((r.data_type for r in rows if r.col_name == "Statistics"), "")
        return {"raw": stats_line}


def write_orc_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Bucketed + sorted ORC table — closes the reference's file-sort-order
    gap (with_file_sort_order, src/bin/tpcds_bench.rs:603-607, which SURVEY §4
    flags as un-mappable for plain directories): Spark's equivalent contract
    is a bucketed table, which additionally makes equi-joins on the bucket
    key shuffle-free. At 100 TB, bucketing both fact tables on the join key
    turns the nightly join from a full shuffle into a local zip per bucket."""
    writer = df.write.mode("overwrite").format("orc").bucketBy(num_buckets, *bucket_cols)
    if compression:
        writer = writer.option("compression", compression)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_orc_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 8,
    compression: str | None = None,
) -> None:
    """Range-clustered ORC layout: repartitionByRange + sortWithinPartitions
    on the cluster key, one file per range.

    This is the layout half of predicate pushdown (the reference pushes
    predicates to stripe stats, src/predicate.rs:53-245 — but stats only
    prune if the data is clustered so min/max ranges are narrow). After this
    write, a range filter on the cluster key touches one file's stripes
    instead of every file; at 100 TB that is the difference between a
    full-corpus scan and reading one executor's worth of splits. Sorting
    within partitions additionally narrows every stripe's min/max, so
    stripe-level pruning composes with file-level.
    """
    writer = (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.orc(path)


def _hadoop_dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(data_file_count, total_bytes) for a directory via the Hadoop
    FileSystem API — storage-agnostic (file://, s3a://, gs://, abfs://),
    exactly the layer the reference's object_store reads sit on
    (src/reader.rs:119-148). Files and directories named ``_*`` or ``.*``
    (_SUCCESS, .crc sidecars, a job's ``_temporary/``) are skipped, the rule
    ``metadata._orc_files`` follows for local directories.

    Walks ``listStatus`` rather than ``listFiles``: each ``LocatedFileStatus``
    that ``listFiles`` builds reads its file's permission, which the local
    filesystem without libhadoop gets by forking ``ls -ld`` once per file."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    pending = [jpath]
    n = total = 0
    while pending:
        for status in fs.listStatus(pending.pop()):
            if status.getPath().getName().startswith(("_", ".")):
                continue
            if status.isDirectory():
                pending.append(status.getPath())
            else:
                n += 1
                total += status.getLen()
    return n, total


def _listing(spark: SparkSession, path: str) -> tuple[int, int, dict | None]:
    """(data_file_count, total_bytes, footer stats) for a directory. A local
    one is read once, on the driver, by ``directory_statistics``; any other
    goes through ``_hadoop_dir_stats`` and has no footer stats."""
    url = urlparse(path)
    if url.scheme in ("", "file") and os.path.isdir(url.path):
        stats = directory_statistics(url.path)
        return stats["num_files"], stats["total_byte_size"], stats
    return (*_hadoop_dir_stats(spark, path), None)


# Spark's ORC codec names as pyarrow's ORC writer spells them; lzo and brotli
# have no pyarrow writer, so a compaction to them keeps the input order.
_TRIAL_CODECS = {
    "none": "uncompressed",
    "uncompressed": "uncompressed",
    "snappy": "snappy",
    "zlib": "zlib",
    "lz4": "lz4",
    "zstd": "zstd",
}


# The trial encode's row cap. One stripe of a large file can hold all its
# rows: on sf0.1 lineitem written as one file (600,000 rows, one stripe) the
# decision takes 1.5-1.9 s on the whole stripe and 0.24-0.31 s on its first
# 65,536 rows, with the same keys.
_SAMPLE_ROWS = 1 << 16


def _encoded_bytes(table: pa.Table, codec: str) -> int:
    sink = pa.BufferOutputStream()
    # 0.8 is the Java ORC writer's dictionary threshold (Spark's writer);
    # pyarrow's default of 0 would never dictionary-encode a string
    pa_orc.write_table(table, sink, compression=codec, dictionary_key_size_threshold=0.8)
    return sink.getvalue().size


def _cluster_keys(stats: dict, codec: str) -> list[str]:
    """The sort keys ``compact_orc`` applies, or ``[]`` to keep the input
    order. Decided on the driver, with no Spark job, from the source's
    ``directory_statistics`` and the first stripe of its largest file (at
    most ``_SAMPLE_ROWS`` rows of it), read with pyarrow: the primitive
    columns by ascending distinct count, added until the product of their
    counts reaches the source's footer row count, and kept only if the
    sample sorted by them encodes smaller with ``codec`` than the sample as
    it is. A codec pyarrow cannot write keeps the input order."""
    trial_codec = _TRIAL_CODECS.get(codec.lower())
    if trial_codec is None or not stats["files"]:
        return []
    largest = max(stats["files"], key=lambda s: s.total_byte_size)
    reader = pa_orc.ORCFile(largest.path)
    if reader.nstripes == 0:
        return []
    sample = pa.Table.from_batches([reader.read_stripe(0)]).slice(0, _SAMPLE_ROWS)
    distinct = sorted(
        (pc.count_distinct(sample[name], mode="all").as_py(), name)
        for name, typ in zip(sample.column_names, sample.schema.types)
        if not pa.types.is_nested(typ)
    )
    keys, product = [], 1
    for n, name in distinct:
        if product >= stats["num_rows"]:
            break
        if n > 1:
            keys.append(name)
            product *= n
    if not keys:
        return []
    # Spark sorts NULLs first in ascending order
    clustered = sample.sort_by([(k, "ascending") for k in keys], null_placement="at_start")
    if _encoded_bytes(clustered, trial_codec) < _encoded_bytes(sample, trial_codec):
        return keys
    return []


def compact_orc(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 << 20,
    compression: str | None = None,
    shuffle: bool = False,
) -> dict:
    """Small-file compaction: rewrite an ORC directory into
    ceil(total_bytes / target_file_bytes) files.

    The standing operational problem of a streaming or highly-parallel
    ingest at 100 TB is millions of KB-sized files: every scan pays one
    ranged-read setup per file (the reference counts these as io_requests,
    src/metrics.rs:57-118) and the driver pays listing + split planning.
    Compaction restores ~128 MB files, the split size scans want.

    ``shuffle=False`` (default) uses coalesce — a narrow, shuffle-free merge
    of co-located small files (file counts may be slightly uneven);
    ``shuffle=True`` uses repartition for exactly even output at the cost of
    a full exchange. The output is written with the session's ORC codec
    unless ``compression`` names one.

    Row order: each output file is sorted within itself
    (``sortWithinPartitions``) by the keys ``_cluster_keys`` picks, or keeps
    the input order when they would not store fewer bytes. The keys are the
    primitive columns in ascending order of distinct count, the standard
    row-reordering heuristic for run-length and dictionary encodings; the
    leading keys' row-group min/max narrow too, which is what stripe and
    row-group pruning read. A driver-side trial decides: the first stripe of
    the largest source file, read with pyarrow like the other footer reads
    in ``sources/`` (``metadata.directory_statistics``), is encoded in input
    order and sorted, with the codec of this write. The trial is required,
    not a refinement: cardinality sorting shrinks lineitem by 9-21% but
    grows tables with sequential keys (``p_partkey``, ``c_custkey``) by up
    to 70%, since their delta encoding is lost, and the trial's verdict
    matched the full-file outcome on all 11 inputs tried (CHANGES.md). On
    the benchmark's ingest slice (16 files of up to 2,000 lineitem rows) the
    decision takes about 16 ms and starts no Spark job, and the sort about
    60 ms, against 0.27 s for the input-order compaction.

    Schema: the output keeps every column of every source file. A local
    source's footers are read once, on the driver (``_listing``), and give
    its files, bytes, the trial's sample and each file's schema. When every
    file's schema is equal, field metadata included, the source is read as
    Spark reads any directory, from one footer; when they differ, and for a
    source that is not local, it is read with ``mergeSchema``, whose Spark
    job (about 60 ms of schema inference on the ingest slice, against 6 ms
    from one footer) only mixed layouts pay. Spark
    stays the only mapper from ORC types to its own: the pyarrow schema
    cannot be handed to ``spark.read.schema``, because a Spark-written
    ``timestamp_ntz`` column is an ORC long tagged only in field metadata,
    which ``from_arrow_schema`` reads back as ``bigint``.

    Returns before/after stats, and ``sort_keys``: the keys applied, ``[]``
    when the input order won.
    """
    src_files, src_bytes, stats = _listing(spark, src_dir)
    n_out = max(1, -(-src_bytes // target_file_bytes))
    schemas = [s.schema for s in stats["files"]] if stats else []
    reader = spark.read
    if stats is None or any(not s.equals(schemas[0], check_metadata=True) for s in schemas):
        reader = reader.option("mergeSchema", "true")
    df = reader.orc(src_dir)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    codec = compression or spark.conf.get("spark.sql.orc.compression.codec")
    keys = _cluster_keys(stats, codec) if stats else []
    if keys:
        out = out.sortWithinPartitions(*keys)
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.orc(dst_dir)
    dst_files, dst_bytes, _ = _listing(spark, dst_dir)
    return {
        "src_files": src_files,
        "src_bytes": src_bytes,
        "dst_files": dst_files,
        "dst_bytes": dst_bytes,
        "target_file_bytes": target_file_bytes,
        "sort_keys": keys,
    }


def write_orc(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    target_file_rows: int | None = None,
    coalesce: int | None = None,
) -> None:
    """ORC writer (reference stub src/writer.rs:18-23 — implemented here).

    ``target_file_rows`` caps rows per output file (maxRecordsPerFile) so
    cluster-scale writes produce bounded file sizes; ``coalesce`` merges tiny
    local outputs (small dims → 1 file, like the reference's one-file-per-table
    TPC-DS layout, scripts/convert_tpcds_to_orc.py:61-83).
    """
    if coalesce:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", str(target_file_rows))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
