"""The benchmark's workloads: fixed op lists and the ingest op."""

from __future__ import annotations

import os

# A run pays session start and a warm-up pass, in which every op pays its
# one-time costs, before it measures anything; on a 4-vCPU VM whose host
# was busy, runs of longer op lists took 60-100 s. So each workload keeps
# one op per mechanism it stresses. Left out: the other ORC reads (range
# and equality filters, counts, min/max, sort, file and column metadata),
# the TPC-H and TPC-DS joins, which mostly time Spark's own execution, and
# the other operators (simsearch_recall_at_k, SemDeDup, tokenizer, entropy,
# containment and MinHash dedup).
WORKLOADS: dict[str, list[str]] = {
    # The connector surface: a pushed-down compound filter, a group-by
    # shuffle, a wide ORC scan and its result fetch, bloom pruning from
    # footers parsed on the driver, row-group statistics through the Python
    # data source, and one TPC-DS query whose tables the engine materialises
    # as ORC on first use.
    "orc_lake": (
        "orc_filter_compound orc_groupby_count orc_projection orc_bloom_prune "
        "orc_rowgroup_stats tpcds_q98"
    ).split(),
    # Beyond-reference operators: eager checkpoint, k-means and collect jobs
    # run while the DataFrame is built, so plan construction dominates.
    "llm_pipeline": (
        "pipeline_end_to_end dedup_connected_components_lsh embedding_kmeans"
    ).split(),
}

INGEST = "ingest_orc"
# Every workload ends its op list with the ingest op, so each one writes ORC
# and reports write throughput and stored bytes.
for _ops in WORKLOADS.values():
    _ops.append(INGEST)

INGEST_SLICES = 2  # the ingest op writes lineitem rows with l_orderkey % 2 == k
INGEST_FILE_ROWS = 2000  # maxRecordsPerFile for the many-small-files write


def _dir_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    ]


class Ingest:
    """The ingest op: a slice of lineitem written as many small ORC files,
    compacted, summarised from footers and read back.

    Every call writes fresh directories, so it bypasses the engine's
    per-process ORC cache that the read ops hit. The expected result is the
    slice read straight from the parquet source with pyarrow; ``recorded``
    holds its row count and digest per slice, as ``expected.json`` keeps
    them, so that a run need not hash the slice again."""

    def __init__(self, sf_dir: str, work_dir: str, recorded: dict | None = None) -> None:
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.recorded = recorded or {}
        self.calls = 0
        self._expected: dict[int, tuple[int, str, int]] = {}

    def expected(self, k: int) -> tuple[int, str, int]:
        """(rows, digest, parquet bytes) of slice k."""
        if k not in self._expected:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            from check_oracles import value_hash

            table = pq.read_table(os.path.join(self.sf_dir, "lineitem.parquet"))
            part = table.filter(
                pc.equal(pc.bit_wise_and(table["l_orderkey"], INGEST_SLICES - 1), k)
            )
            path = os.path.join(self.work_dir, f"ingest_src_{k}.parquet")
            pq.write_table(part, path)
            rec = self.recorded.get(str(k))
            if rec is None:
                rows = list(zip(*(part[c].to_pylist() for c in part.column_names)))
                rec = {"rows": part.num_rows, "digest": value_hash(rows, part.column_names)}
            self._expected[k] = (rec["rows"], rec["digest"], os.path.getsize(path))
        return self._expected[k]

    def build(self, spark, k: int):
        """Write, compact and summarise slice k; return the re-read DataFrame
        and the write facts."""
        import time

        from pyspark.sql import functions as F

        from datafusion_datasource_orc_spark.sources import metadata, orc
        from datafusion_datasource_orc_spark.sources.tables import load_table

        self.calls += 1
        base = os.path.join(self.work_dir, f"ingest_{self.calls}")
        raw, compacted = base + "_raw", base + "_compacted"
        src = load_table(spark, self.sf_dir, "lineitem").where(
            F.col("l_orderkey").bitwiseAND(INGEST_SLICES - 1) == k
        )
        t0 = time.perf_counter()
        orc.write_orc(src, raw, target_file_rows=INGEST_FILE_ROWS)
        orc.compact_orc(spark, raw, compacted)
        write_s = time.perf_counter() - t0
        # footer statistics of the many-small-files directory
        stats = metadata.directory_statistics(raw)
        files = _dir_files(raw) + _dir_files(compacted)
        facts = {
            "files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
            "write_s": write_s,
            "stored_bytes": sum(os.path.getsize(f) for f in _dir_files(compacted)),
            "footer_rows": stats.get("num_rows"),
        }
        return spark.read.orc(compacted), facts
