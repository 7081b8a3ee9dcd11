"""datafusion_datasource_orc_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of `suxiaogang223/datafusion-datasource-orc`.

The reference (Rust, ~5.4k LoC) plugs the ORC file format into Apache DataFusion:
schema inference, multi-file schema merge, projection/predicate/limit pushdown,
async object-store I/O, per-file scan metrics, and a TPC-DS harness
(reference: src/lib.rs:1-175, SURVEY.md §0).

This package is NOT a port of that trait stack — Spark's native ORC datasource
already *is* the FileFormat/FileSource/FileOpener pipeline. Instead it provides:

- ``session``        — a SparkSession factory tuned for large-scale scans
                       (AQE, pushdown, vectorized ORC reader).
- ``sources``        — the connector surface: the reference's read-options dict
                       (src/options.rs:30-114) mapped onto ``spark.sql.orc.*``
                       confs, catalog registration (ListingTable equivalent,
                       src/bin/tpcds_bench.rs:590-614), per-file metadata/stats
                       (src/metadata.rs:35-86), and the ORC writer the reference
                       leaves as a stub (src/writer.rs:18-23).
- ``operators``      — the full relational query surface the reference
                       demonstrates through DataFusion (SURVEY.md §2B), plus
                       beyond-reference LLM-data-pipeline operators: dedup,
                       similarity search, text analysis, multimodal columns.
- ``functions``      — reusable Column-expression helpers (vector math,
                       shingling/minhash, text heuristics). Everything stays
                       JVM-side (pyspark.sql.functions) unless semantics force
                       a Pandas UDF.
- ``plans``          — physical-plan introspection: assert that pushdown
                       actually reached the scan (PushedFilters / ReadSchema),
                       mirroring the reference's EXPLAIN surface
                       (src/source.rs:240-255).
- ``streaming``      — Structured Streaming variants of the event-table
                       operators (beyond reference scope, which is batch-only).
- ``metrics``        — scan/query metrics à la OrcFileMetrics
                       (src/metrics.rs:57-217) via df.observe + listener.

Importing the package also installs ``_lazy_zip_invalidation``. Every PySpark
Python worker call (planner calls of the ``orcmeta`` data source, its read
tasks, pandas UDFs) runs ``importlib.invalidate_caches()`` in
``worker_util.setup_spark_files``. Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's directory at once, so
each of the ~15-17 zipimporters over ``pyspark.zip`` re-parses its 1,328
entries in pure Python: about 0.13 CPU-s per call, against 3 ms of footer
parsing. Python 3.13 only drops the cached directory and re-reads it on next
use; the wrapper gets the same effect by re-reading an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read, or ``stat`` fails.

It lives at package import because every worker that runs engine code
unpickles an engine object (``OrcMetadataDataSource``, a UDF) and so imports
this package first; a reused worker (``spark.python.worker.reuse``, default
true) keeps the wrapper for its later calls. ``spark.python.daemon.module``
cannot do this: ``PythonPlannerRunner`` starts its workers through the
4-argument ``SparkEnv.createPythonWorker``, which always uses
``pyspark.daemon``, and ``pyspark/daemon.py`` only runs ``pyspark.*`` worker
modules.
"""

import os
import sys

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when it
    changed on disk (Python < 3.13; a no-op on 3.13+, which is lazy already).
    Idempotent: a second call does not wrap twice."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_lazy_zip_invalidation", False):
        return
    # archive path → (st_mtime_ns, st_size) taken just before its last read;
    # process-wide, like zipimport's own _zip_directory_cache it guards
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            original(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and read_at.get(self.archive) == stamp:
            # another importer over the same archive may have re-read it
            self._files = cached
            return
        original(self)
        read_at[self.archive] = stamp

    invalidate_caches._lazy_zip_invalidation = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()

from datafusion_datasource_orc_spark.session import get_spark  # noqa: E402,F401
