"""Incremental-ingest composition: discover → probe → admit.

The end-to-end pattern SCALE.md sketches, assembled from the repo's own
pieces: the ``orcmeta`` data source DISCOVERS staged ORC files (footer-only
manifest — the reference's per-file metadata surface,
src/metadata.rs:35-58), a broadcast Bloom filter built over the existing
corpus PROBES each staged document for membership (dedup.py's
incremental-ingest filter), and the admitted remainder is what the
exactly-once ORC sink appends (streaming/events.py stream_to_orc — the
streaming twin lives in tests/test_streaming.py).

At 100 TB the shapes hold: discovery reads file TAILS only, on the driver
(``orcmeta.load``); the filter is ONE bit_or aggregate over
the existing corpus broadcast at 16 KB to the probe side; the probe never
shuffles the corpus; admission appends through the checkpointed file-sink
manifest so a replayed batch never double-commits.

The batch query is deterministic end to end because staging uses a
pyarrow-written chunk layout (chunk-<k>.orc holds exactly the incoming
docs with (doc_id // 10) % 4 == k), so the DuckDB oracle recomputes each
discovered file's admission counts from the same rules.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.dedup import (
    _bloom_poss_sql,
    bloom_filter_words,
    bloom_flagged,
)
from datafusion_datasource_orc_spark.operators.registry import query
from datafusion_datasource_orc_spark.sources.tables import (
    _write_key_chunks,
    load_table,
    materialized_dir,
)

INGEST_CHUNKS = 4


def stage_ingest_dir(sf_dir: str) -> str:
    """Write the INCOMING batch (documents with doc_id % 10 == 0 — the same
    held-out split dedup_bloom_ingest probes) as INGEST_CHUNKS deterministic
    ORC files: chunk-<k>.orc holds the docs with (doc_id // 10) % 4 == k.
    pyarrow-written by ``tables._write_key_chunks`` (with ``ORC_CODEC``) so
    names and contents are layout-free facts the oracle can reproduce; its
    power-of-two, NULL and negative-key guards hold here too. Built once
    per process (``materialized_dir``)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        doc_id = docs.column("doc_id")
        # doc_id % 10 == 0 via the divide-multiply identity (pyarrow integer
        # divide truncates; a negative doc_id fails the chunk writer's guard)
        incoming = docs.filter(pc.equal(pc.multiply(pc.divide(doc_id, 10), 10), doc_id))
        _write_key_chunks(
            incoming, pc.divide(incoming.column("doc_id"), 10), INGEST_CHUNKS, path
        )

    return materialized_dir(sf_dir, "ingest_staging", build)


def _existing_bloom(spark: SparkSession, sf_dir: str):
    """The existing-corpus (doc_id % 10 != 0, text not null) Bloom filter —
    the ONE construction shared by the batch accounting query and
    probe_and_admit/the streaming twin, so a change to the split predicate
    or the filter build cannot desynchronize them."""
    existing = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 10 != 0) & F.col("text").isNotNull()
    )
    return bloom_filter_words(existing)


def probe_and_admit(spark: SparkSession, sf_dir: str, staged: DataFrame) -> DataFrame:
    """The ADMIT half as a reusable transform: rows of ``staged`` (documents
    schema) that survive the Bloom probe against the existing corpus.
    NULL-text rows pass through (nothing to be a duplicate of). Consumed
    by the streaming ingest twin (tests/test_streaming.py); the batch
    accounting query builds its probe from the SAME _existing_bloom
    helper, which is what keeps the two in sync. Probe side joins a 16 KB
    broadcast filter, flagged ids come back as a broadcast anti-join —
    the staged data itself never shuffles."""
    bloom = _existing_bloom(spark, sf_dir)
    flagged_ids = (
        bloom_flagged(staged, bloom, ["doc_id"])
        .filter(F.col("flagged"))
        .select("doc_id")
    )
    return staged.join(F.broadcast(flagged_ids), "doc_id", "left_anti")


def _ingest_oracle() -> str:
    poss = _bloom_poss_sql()
    return f"""
    WITH ex AS (SELECT md5(text) AS h FROM documents
                WHERE doc_id % 10 != 0 AND text IS NOT NULL),
    expos AS (SELECT unnest([{poss}]) AS pos FROM ex),
    bloom AS (SELECT pos // 32 AS word,
                     bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS mask
              FROM expos GROUP BY pos // 32),
    staged AS (SELECT doc_id, text,
                      'chunk-' || CAST((doc_id // 10) % {INGEST_CHUNKS} AS VARCHAR)
                          || '.orc' AS file_name
               FROM documents WHERE doc_id % 10 = 0),
    inc AS (SELECT doc_id, file_name, md5(text) AS h FROM staged
            WHERE text IS NOT NULL),
    probes AS (SELECT doc_id, file_name, h, unnest([{poss}]) AS pos FROM inc),
    hits AS (SELECT p.doc_id, p.file_name,
                    bool_and(COALESCE((b.mask >> CAST(p.pos % 32 AS INTEGER)) & 1, 0) = 1)
                        AS flagged
             FROM probes p LEFT JOIN bloom b ON p.pos // 32 = b.word
             GROUP BY p.doc_id, p.file_name),
    -- every physical chunk file gets a manifest row even when its bucket is
    -- EMPTY (stage_ingest_dir always writes all {INGEST_CHUNKS} files; the
    -- Spark side's orcmeta listing therefore always returns them)
    manifest AS (SELECT 'chunk-' || CAST(k AS VARCHAR) || '.orc' AS file_name,
                        COALESCE(cnt, 0) AS n_staged
                 FROM range({INGEST_CHUNKS}) AS r(k)
                 LEFT JOIN (SELECT file_name AS fn, CAST(COUNT(*) AS BIGINT) AS cnt
                            FROM staged GROUP BY fn) s
                   ON 'chunk-' || CAST(k AS VARCHAR) || '.orc' = s.fn),
    flags AS (SELECT file_name,
                     CAST(COUNT(*) FILTER (WHERE flagged) AS BIGINT) AS n_flagged
              FROM hits GROUP BY file_name)
    SELECT m.file_name, m.n_staged,
           COALESCE(f.n_flagged, 0) AS n_flagged,
           m.n_staged - COALESCE(f.n_flagged, 0) AS n_admitted
    FROM manifest m LEFT JOIN flags f USING (file_name)
    ORDER BY m.file_name
    """


@query("ingest_incremental_bloom", oracle=_ingest_oracle())
def ingest_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One incremental-ingest cycle, end to end, as a batch query:

    1. DISCOVER — ``orcmeta`` lists the staging directory and reads each
       file's footer row count (the manifest: n_staged per file, no row
       data touched).
    2. PROBE — each staged document is tested against the broadcast Bloom
       filter built over the existing corpus (doc_id % 10 != 0); k=4
       md5-derived bit positions, one bit_or-aggregated 2048-word filter.
    3. ADMIT — per discovered file: n_admitted = n_staged − n_flagged
       (NULL-text docs can't be duplicates and pass through). The admitted
       set is what stream_to_orc appends exactly-once in the streaming twin
       (tests/test_streaming.py::TestIncrementalIngest).

    The manifest join is a 4-row broadcast; the probe is the same
    no-corpus-shuffle shape as dedup_bloom_ingest. Discovery costs one
    footer read per file — at 100 TB, admission accounting never rescans
    the staged data."""
    from datafusion_datasource_orc_spark.sources import orcmeta

    staging = stage_ingest_dir(sf_dir)

    manifest = (
        orcmeta.load(spark, staging)
        .select("file_name", F.col("num_rows").alias("n_staged"))
    )

    bloom = _existing_bloom(spark, sf_dir)

    staged = spark.read.orc(staging).withColumn(
        "file_name", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    )
    flags = (
        bloom_flagged(staged, bloom, ["doc_id", "file_name"])
        .groupBy("file_name")
        .agg(F.sum(F.col("flagged").cast("long")).alias("n_flagged"))
    )
    return (
        manifest.join(F.broadcast(flags), "file_name", "left")
        .select(
            "file_name",
            "n_staged",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
            (F.col("n_staged") - F.coalesce("n_flagged", F.lit(0))).alias(
                "n_admitted"
            ),
        )
        .orderBy("file_name")
    )
