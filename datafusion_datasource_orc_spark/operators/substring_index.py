"""Materialized span-hash index for INCREMENTAL substring-dedup coverage —
the 100 TB form of ``dedup_substring_spans`` (the triage_index
build/append/probe shape applied to the Lee et al. 2022 span signal).

The batch form re-spans the ENTIRE corpus per run: at 100 TB that is a
full-corpus tokenize + explode per crawl batch — the same linear-per-batch
cost triage_index avoids for ingest triage. This module persists the
existing corpus's span statistics ONCE as one compact ORC table and computes
each incoming batch's duplicated-token coverage against it, so per-batch
work is dominated by the batch:

- ``spans/`` (h, df)   per-span-hash DISTINCT-document counts, directory-
                       partitioned by ``hb = int(h[:2], 16) % 32`` (the
                       triage ``exact/`` layout precedent: the probe join
                       carries the batch's hash prefixes, so dynamic
                       partition pruning can skip directories) and sorted
                       by ``h`` within files so the equi-probe stripe-prunes
                       on the span-hash min/max ranges.

Equality contract: a batch span (doc d, pos p, hash h) is DUPLICATED under
the full form's corpus-wide rule — df over (existing UNION batch) >= 2
distinct docs — exactly when

    stored_df(h) >= 1   OR   batch_df(h) >= 2

where stored_df is the SUM of per-segment dfs (docs never span segments, so
distinct-doc counts add across segments — the triage ubiquity-guard
recomposition) and batch_df counts distinct batch docs. The registered
query ``dedup_substring_spans_incremental`` therefore shares the full
form's oracle with one added manifest filter (``doc_id % 10 = 0``, the
ingest_triage batch convention): the DuckDB side still computes df over
the whole corpus, certifying the recomposition end-to-end.

Appends: ``append_to_span_index`` writes an admitted batch's (h, df) rows
under a ``seg=<label>`` subtree with overwrite mode — replaying a batch
after a mid-batch failure rewrites the same directories instead of
inflating df (the overwrite-by-segment idempotence discipline of
triage_index), pinned by a forced double-apply test
(``test_append_is_idempotent_under_replay``).

Scale shape per batch: one batch scan (tokenize + explode spans, batch-
sized), one map-side-combinable groupBy on the batch's span hashes, one
scan-side inner probe of the stored table (build side = the batch's
distinct span hashes; AQE broadcasts it while it fits and falls back to a
shuffled hash join for production-sized batches — the hints are
deliberately NOT forced, batch span sets can exceed driver memory), and
the same row-local interval-union coverage as the full form. The corpus
text is never re-read, never re-tokenized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.registry import query
from datafusion_datasource_orc_spark.operators.triage_index import (
    N_PB as N_HB,  # directory-partition fanout (one definition repo-wide)
)
from datafusion_datasource_orc_spark.operators.triage_index import (
    _hb,  # md5-hex directory key — shared with the triage exact/ layout
)
from datafusion_datasource_orc_spark.operators.substring import (
    _substring_oracle,
    doc_spans,
    span_base,
    span_coverage,
    span_manifest,
)
from datafusion_datasource_orc_spark.sources.tables import load_table, materialized_dir


def _span_df(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (h, df, hb): per-span-hash distinct-doc counts,
    the one table the index stores."""
    sp = doc_spans(span_base(docs))
    return (
        sp.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .withColumn("hb", _hb(F.col("h")))
    )


def _write_segment(index_dir: str, seg: str, rows: DataFrame) -> None:
    """Overwrite-by-segment is the idempotence mechanism: replaying a
    segment rewrites its directories instead of duplicating df rows."""
    # sort on (hb, h), not h alone: the dynamic-partition writer requires
    # its input ordered on the partition columns and would otherwise insert
    # its own hb sort, destroying the h order the stripe-pruning story
    # depends on. With hb leading, the incoming order satisfies the writer's
    # requirement and the within-file h sort survives to the ORC stripes.
    # Write parallelism scales with the cluster (floor N_HB): the one-time
    # base build routes a near-one-row-per-corpus-span table through this
    # exchange — a fixed 32 tasks would each sort terabytes at the
    # documented 100 TB build. Range partitioning on (hb, h) keeps each
    # hb directory's files h-range-disjoint, which sharpens (never breaks)
    # the stripe pruning.
    par = rows.sparkSession.sparkContext.defaultParallelism
    (
        rows.repartitionByRange(max(N_HB, par), "hb", "h")
        .sortWithinPartitions("hb", "h")
        .write.mode("overwrite")
        .partitionBy("hb")
        .orc(os.path.join(index_dir, "spans", f"seg={seg}"))
    )


def build_span_index(spark: SparkSession, sf_dir: str, index_dir: str) -> str:
    """One-time build over the EXISTING split (doc_id % 10 != 0, text not
    null — the ingest_triage convention). Returns ``index_dir``."""
    existing = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % 10 != 0)
    )
    _write_segment(index_dir, "base", _span_df(existing))
    return index_dir


def append_to_span_index(
    spark: SparkSession, index_dir: str, admitted: DataFrame, seg: str
) -> None:
    """Append an admitted batch's span statistics as segment ``seg`` —
    idempotent under replay (overwrite-by-segment). Distinct-doc counts add
    across segments because a document belongs to exactly one segment."""
    admitted = admitted.filter(F.col("text").isNotNull())
    _write_segment(index_dir, seg, _span_df(admitted))


def span_coverage_incremental(
    spark: SparkSession, batch: DataFrame, index_dir: str
) -> DataFrame:
    """Per-batch-doc duplicated-token coverage against (index ∪ batch):
    one manifest row per batch doc, bit-identical to the full form's rows
    for the same docs (see module docstring's equality contract)."""
    batch = batch.filter(F.col("text").isNotNull())
    base = span_base(batch)
    # the batch's spans feed two consumers (its own df counts and the dup
    # join back) — materialize once, the checkpointed_shingles discipline
    sp = doc_spans(base).localCheckpoint(eager=False)

    # dfi is only ever consumed as "dfi >= 2 distinct batch docs", which is
    # exactly min(doc_id) != max(doc_id) — map-side combinable to one row
    # per h per task, no two-phase distinct expansion (the full form's
    # substring.py rationale)
    df_b = (
        sp.groupBy("h")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .withColumn("hb", _hb(F.col("h")))
        .localCheckpoint(eager=False)
    )
    # scan-side inner probe: build side = the batch's distinct span hashes.
    # No forced broadcast hints: df_b / stored_sum / dup_h are span-hash-
    # set-sized — roughly one row per distinct span in the batch — and a
    # production crawl batch's span set can exceed driver memory (the
    # tfidf_top_terms lesson). AQE picks broadcast at gate scale and a
    # shuffled hash join at scale. Because Spark only inserts a DPP filter
    # when the pruning side broadcasts (reuseBroadcastOnly), directory
    # pruning must not depend on the join strategy: the batch's distinct
    # hb values — bounded by N_HB (32) BY CONSTRUCTION, so this collect is
    # a documented bounded one — become a static isin() partition filter,
    # and the stored index is never scanned (let alone shuffled) outside
    # the batch's directories under either join plan. Within-file h
    # stripe-pruning additionally applies whenever AQE does broadcast.
    hbs = [r[0] for r in df_b.select("hb").distinct().collect()]
    # schema pinned (the triage_index._read rationale): a base build over
    # an empty existing split writes only _SUCCESS, and schema inference
    # over zero data files would crash the probe path instead of reading
    # an empty stored side.
    stored = (
        spark.read.schema("h string, df bigint, hb int, seg string")
        .orc(os.path.join(index_dir, "spans"))
        .filter(F.col("hb").isin(hbs))
        .select("hb", "h", "df")
    )
    stored_sum = (
        stored.join(df_b.select("hb", "h"), ["hb", "h"])
        .groupBy("h")
        .agg(F.sum("df").alias("dfs"))
    )
    dup_h = (
        df_b.join(stored_sum, "h", "left")
        .filter(
            (F.col("d_min") != F.col("d_max"))
            | (F.coalesce(F.col("dfs"), F.lit(0)) >= 1)
        )
        .select("h")
    )
    dup = sp.join(dup_h, "h").select("doc_id", "pos")
    return span_manifest(base, span_coverage(dup))


def span_index_dir_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process, ``materialized_dir``) the span index for
    ``sf_dir``'s existing split — amortized across every batch in the
    process, exactly as the production index amortizes across crawl
    batches."""
    return materialized_dir(
        sf_dir, "span_index", lambda path: build_span_index(spark, sf_dir, path)
    )


@query(
    "dedup_substring_spans_incremental",
    oracle=_substring_oracle("WHERE b.doc_id % 10 = 0"),
)
def dedup_substring_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental twin of ``dedup_substring_spans``: same per-doc
    coverage manifest for the incoming split (doc_id % 10 == 0), but
    duplication is decided against the materialized span index instead of
    re-spanning the corpus — the shape a rolling 100 TB crawl runs per
    batch. The shared oracle computes df corpus-wide, so the gate certifies
    build, probe, df recomposition, and coverage end-to-end."""
    incoming = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % 10 == 0)
    )
    return span_coverage_incremental(
        spark, incoming, span_index_dir_for(spark, sf_dir)
    )
