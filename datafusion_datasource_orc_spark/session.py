"""SparkSession factory.

Maps the reference's engine-level tunables (src/bin/tpcds_bench.rs:400-437:
partitions, batch size, memory pool, join preference, statistics) onto Spark
session configuration, and bakes in the settings a 100 TB deployment needs.

Scale design notes (local[32] here, 1000-executor cluster in production):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace the reference harness's static
  ``--partitions`` / ``--prefer-hash-join`` flags.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; we size it
  ~= cores locally. On a cluster, set it to 2-3x total cores and let AQE
  coalesce down — never leave the 200 default for 100 TB inputs.
- Filter/limit/projection pushdown are Catalyst built-ins; the ORC-specific
  knobs (filterPushdown, vectorized reader, batch size) are set explicitly so
  the connector contract of the reference (src/options.rs) is visible in one
  place.
- Timezone pinned to UTC: ORC/Parquet timestamp semantics and the DuckDB
  oracle agree only under a fixed zone.
- ORC writes use ``ORC_CODEC`` (zstd), through
  ``spark.sql.orc.compression.codec``. Every ORC writer in the engine
  follows that conf and none takes a codec of its own: ``sources.orc``,
  ``streaming.events.stream_to_orc``, the fixture tables of
  ``sources.tables`` and the span and triage indexes. A caller who wants
  another codec sets the conf. Every later scan re-reads what they stored.
  On perfbench's ingest slice (sf0.01 lineitem, 16 files of 2,000 rows,
  then compacted in input order) zstd stores 523,777 raw and 475,980
  compacted bytes where snappy stored 686,239 and 639,950, with the same
  rows and about equal write time. (``compact_orc`` sorts that slice by
  column cardinality and stores about 387,000 compacted bytes with zstd.)
  Spark 4.1's own default is zstd, so a vanilla session not built here
  writes the same files; the conf is set here so the choice is visible
  beside the other ORC settings.
- Generated-code cache sized to the working set: ``CODEGEN_CACHE_ENTRIES``.
  Spark keeps Janino-compiled classes in a cache of 100 entries by default
  (``spark.sql.codegen.cache.maxEntries``). One sf0.01 pass over
  ``bench.HEADLINE`` compiles 1,769-1,776 distinct classes, so at the default
  a second pass recompiled 2,462 of them, at a median 9 ms each. The cache is
  Guava-backed and evicts per segment, well before it is full: at the
  default, ``pipeline_end_to_end`` alone compiled 95 classes in its first
  run, which has 52 distinct ones. 4096 is 2.3x the measured working set.
  Only compiled classes are reused across runs, as JIT-compiled code is;
  every run still builds, plans and executes every job. The conf is static,
  so a session started elsewhere keeps Spark's default of 100: the driver's
  vanilla session, or any SparkContext already running when this is called.
- DataFrame debugging off: ``spark.python.sql.dataFrameDebugging.enabled``.
  pyspark 4.1 defaults it to true, and then every ``functions``/Column call
  goes through ``_with_origin`` (``pyspark/errors/utils.py``), which makes a
  ``getActiveSession()`` call, a ``conf.get`` call, a JVM
  ``PySparkCurrentOrigin.set``/``clear`` pair and a stack walk per call.
  Building an operator is thousands of such calls over py4j. Main-thread
  round trips per warm build at sf0.01, with the setting on and off:
  ``pipeline_end_to_end`` 4,056 and 1,677, ``dedup_connected_components_lsh``
  2,515 and 1,196, ``embedding_kmeans`` 2,138 and 1,058. The trade-off: a
  Spark error no longer names the Python line that built the failing
  expression in its "DataFrame context"; its error class and message are
  unchanged. pyspark reads the setting once per process, from the first
  session active when a ``functions`` call is made.
- Local writes start no process: ``LOCAL_FS_CLASS`` serves ``file://``.
  Without libhadoop, Hadoop 3.4.2's ``RawLocalFileSystem.setPermission``
  runs ``chmod`` as a child process for every file, ``.crc`` sidecar and
  directory a write creates. perfbench's ingest op (a 16-file ``write_orc``
  of the sf0.01 lineitem slice, then ``compact_orc``) started 46 per call,
  and no other op in a warm pass starts one. ``jvm/NioLocalFileSystem.java``
  keeps Hadoop's ``LocalFileSystem`` and its checksum layer, and sets the
  same nine mode bits through ``java.nio``; a mode with other bits, or a
  filesystem with no POSIX attribute view, takes Hadoop's own path. Files
  stay 0644, directories 0755, every data file keeps its ``.crc``, and an
  ingest call starts 0 processes. Medians of 4 traced ``orc_lake`` pairs
  on a 4-vCPU VM, without and with it: ``sources.write_orc_s`` 0.219 and
  0.155 s, ``sources.compact_orc_s`` 0.166 and 0.155 s, the ingest op 0.541
  and 0.465 s; ``orc_lake`` ``pass_s`` read 1.352 and 1.274 s over 12
  pairs. The jar goes on the class path through
  ``spark.driver.defaultExtraClassPath``, which Spark joins with a caller's
  ``spark.driver.extraClassPath``. It and ``spark.hadoop.fs.file.impl``
  are set only when this call starts the JVM: a JVM already running
  (``external_master``) cannot load the class, so it keeps Hadoop's
  filesystem. A caller's ``spark.hadoop.fs.file.impl`` in ``extra_conf``
  wins, since it is applied afterwards.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_BATCH_SIZE = 8192  # reference default: src/source.rs:52 (DataFusion 8192)
CODEGEN_CACHE_ENTRIES = 4096  # 2.3x the 1,776 classes of one HEADLINE pass
# The codec of every ORC file the engine writes. Spark writers take it from
# the session conf ``get_spark`` sets; the pyarrow layout writers have no
# session and use the constant itself, since ``materialized_dir`` caches
# their layouts per process, across sessions.
ORC_CODEC = "zstd"
# file:// filesystem that sets permissions without a chmod process
LOCAL_FS_CLASS = "datafusion_datasource_orc_spark.jvm.NioLocalFileSystem"
LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar")


def get_spark(
    app_name: str = "datafusion-datasource-orc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. On a real cluster this function only applies SQL-level
    tuning — it must NOT override the cluster master with local[*], or the
    job silently executes single-node on the driver. Cluster launches are
    detected by any of: a live SparkContext (spark-submit's entry point, or
    anything that built a session first), an externally launched gateway JVM
    (PYSPARK_GATEWAY_PORT — real ``spark-submit app.py`` does NOT set
    PYSPARK_SUBMIT_ARGS, it hands the configured JVM straight to the worker),
    or an explicit --master in PYSPARK_SUBMIT_ARGS (bin/pyspark shells).
    """
    from pyspark import SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    external_master = (
        "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or SparkContext._active_spark_context is not None
    )
    if master is None and not external_master:
        master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        # --- determinism / oracle agreement ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: replaces the reference's static knobs ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan-side: the reference's connector surface (SURVEY §2A) ---
        .config("spark.sql.orc.filterPushdown", "true")  # A8/A10: orc.pushdown_predicate
        .config("spark.sql.orc.enableVectorizedReader", "true")  # A12 columnar batches
        .config("spark.sql.orc.columnarReaderBatchSize", str(DEFAULT_BATCH_SIZE))
        .config("spark.sql.orc.mergeSchema", "false")  # A3 opt-in, like the reference
        .config("spark.sql.orc.compression.codec", ORC_CODEC)
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- generated code: keep the whole working set compiled ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # --- plan construction: no call-site capture per Column call ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # split planning: A6 partitioned scan (tune down for many small files)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python interchange: Arrow everywhere (pandas UDF fast path) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # quieter local runs; harmless on cluster
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if not external_master:
        # the JVM starts here, so the filesystem's jar can join its class path
        builder = builder.config("spark.driver.defaultExtraClassPath", LOCAL_FS_JAR).config(
            "spark.hadoop.fs.file.impl", LOCAL_FS_CLASS
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
