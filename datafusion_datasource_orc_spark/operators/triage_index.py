"""Materialized LSH band index for INCREMENTAL ingest triage — the 100 TB
form of ``ingest_triage``.

The batch form (operators.ingest_triage.triage_against) re-shingles the
ENTIRE existing corpus per run — at 100 TB that is a full-corpus scan per
crawl batch. This module persists the existing side ONCE as four compact
ORC tables and classifies each incoming batch against them, so per-batch
work is dominated by the batch, not the corpus:

- ``exact/``  (h, e_id)           md5-content postings, directory-
                                  partitioned by ``hb = int(h[:2],16) % 32``
                                  so the broadcast exact-tier join can
                                  dynamic-partition-prune to the incoming
                                  batch's hash prefixes;
- ``bands/``  (band, bh, e_id)    the LSH bucket rows from the SAME
                                  certified one-pass MinHash banding the
                                  symmetric path uses (dedup.minhash_bands
                                  — bit-identical band keys are what make
                                  the two paths interchangeable), range-
                                  clustered by (band, bh); over-cap
                                  boilerplate buckets are star-collapsed to
                                  their minimum member at build time (the
                                  lsh_candidate_pairs star-pair guard
                                  applied to the index — precision stays
                                  1.0 through the exact verify, recall under
                                  a binding cap is conservative exactly
                                  like the batch form's star pairs);
- ``docs/``   (e_id, n, s)        shingle arrays for the exact-Jaccard
                                  verify, partitioned by ``pb = e_id % 32``
                                  for dynamic partition pruning on the tiny
                                  candidate fetch (at 100 TB scale the
                                  bucket counts here rise to O(thousands)
                                  so a batch touches a bounded fraction of
                                  directories);
- ``df/``     (shingle, df)       per-shingle document frequencies, range-
                                  clustered BY df so the boilerplate filter
                                  (df > SHINGLE_DF_CAP) stripe-prunes to
                                  nothing when no shingle is over the cap.

Equality contract: classification over the index is BIT-IDENTICAL to
``triage_against`` whenever the bucket cap does not bind (always at the
test scales — asserted for the dedup family in tests/test_pipeline.py):
same md5 tier, same band hashes, same candidate cross-pairs, same
ubiquity-guarded exact-Jaccard verify (the union df counts are recomposed
exactly as stored-existing + incoming-batch counts), same best-match
window. The registered query ``ingest_triage_incremental`` therefore
shares ``ingest_triage``'s oracle verbatim.

Appends: ``append_to_index`` writes a batch's postings for all four tables
under a ``seg=<label>`` subtree with overwrite mode — replaying the same
batch after a mid-batch failure rewrites the same directories instead of
duplicating rows (the overwrite-by-batch-id discipline the streaming twin's
manifest sink already uses), pinned by a forced double-apply test
(``test_append_is_idempotent_under_replay``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_datasource_orc_spark.operators import ingest_triage as _triage
from datafusion_datasource_orc_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    LSH_BUCKET_PAIR_CAP,
    SHINGLE_DF_CAP,
    minhash_bands,
    checkpointed_shingles,
)
from datafusion_datasource_orc_spark.operators.registry import ORACLES, query
from datafusion_datasource_orc_spark.sources.tables import load_table, materialized_dir

N_PB = 32  # directory-partition fanout for the DPP-prunable fetch tables


def _hb(h: Column) -> Column:
    """Directory-partition key for md5 hex strings: first byte mod N_PB —
    engine-trivial and uniform (md5 is)."""
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % N_PB


def _index_parts(
    docs: DataFrame, bucket_cap: int | None, widen: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Derive the four index tables' rows for ``docs`` (doc_id, text).
    ``widen`` follows checkpointed_shingles' contract: True for the
    one-time corpus build, False for per-batch appends (the width probe
    costs per invocation — see triage_incremental's probe path)."""
    exact = docs.select(
        F.md5("text").alias("h"), F.col("doc_id").alias("e_id")
    ).withColumn("hb", _hb(F.col("h")))

    sh = checkpointed_shingles(docs, widen=widen)
    bands = minhash_bands(sh).withColumnRenamed("doc_id", "e_id")
    if bucket_cap is not None:
        # star-collapse over-cap boilerplate buckets (see module docstring)
        widths = bands.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("wd"), F.min("e_id").alias("mn")
        )
        bands = (
            bands.join(widths, ["band", "bh"])
            .filter((F.col("wd") <= bucket_cap) | (F.col("e_id") == F.col("mn")))
            .select("band", "bh", "e_id")
        )

    doc_rows = sh.select(
        F.col("doc_id").alias("e_id"), "n", "s"
    ).withColumn("pb", (F.col("e_id") % N_PB).cast("int"))

    df_rows = (
        sh.select(F.explode("s").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return exact, bands, doc_rows, df_rows


def _write_segment(
    index_dir: str,
    seg: str,
    exact: DataFrame,
    bands: DataFrame,
    doc_rows: DataFrame,
    df_rows: DataFrame,
) -> None:
    """Write one segment of all four tables. Overwrite-by-segment is the
    idempotence mechanism: replaying a segment rewrites its directories."""

    def _w(df: DataFrame, sub: str, partition_by: list[str] | None = None):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.orc(os.path.join(index_dir, sub, f"seg={seg}"))

    # write parallelism scales with the cluster, never a fixed constant:
    # the one-time base build routes CORPUS-sized bands/df tables through
    # these exchanges (at the documented 100 TB build, 8/4 fixed tasks
    # would each sort-and-write terabytes). Floors keep gate-scale layouts
    # small; range partitioning preserves the (band, bh) / df clustering
    # the probe-side stripe pruning reads.
    par = exact.sparkSession.sparkContext.defaultParallelism
    _w(exact, "exact", ["hb"])
    _w(
        bands.repartitionByRange(max(8, par), "band", "bh")
        .sortWithinPartitions("band", "bh"),
        "bands",
    )
    _w(doc_rows, "docs", ["pb"])
    _w(
        df_rows.repartitionByRange(max(4, par // 2), "df")
        .sortWithinPartitions("df"),
        "df",
    )


def build_triage_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    bucket_cap: int | None = LSH_BUCKET_PAIR_CAP,
) -> str:
    """One-time build over the EXISTING split (doc_id % 10 != 0, text not
    null — the ingest_triage convention). Returns ``index_dir``."""
    existing = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % 10 != 0)
    )
    _write_segment(index_dir, "base", *_index_parts(existing, bucket_cap))
    return index_dir


def append_to_index(
    spark: SparkSession,
    index_dir: str,
    admitted: DataFrame,
    seg: str,
    bucket_cap: int | None = None,
) -> None:
    """Append an admitted batch's postings as segment ``seg`` — idempotent
    under replay (overwrite-by-segment; see module docstring). The cap
    guard defaults OFF for appends: a batch is orders of magnitude smaller
    than the cap, and star-collapsing within a segment alone would not
    compose with other segments' members anyway."""
    admitted = admitted.filter(F.col("text").isNotNull())
    _write_segment(
        index_dir, seg, *_index_parts(admitted, bucket_cap, widen=False)
    )


# explicit read schemas (matching _index_parts' writers + the seg/hb/pb
# directory partitions): schema inference over a segment tree with ZERO
# data files — a base build over an empty existing split writes only
# _SUCCESS — raises UNABLE_TO_INFER_SCHEMA, turning a bootstrap corpus
# into an opaque probe-path crash; with the schema pinned it reads as an
# empty stored side and every incoming doc classifies as new.
_READ_SCHEMAS = {
    "exact": "h string, e_id bigint, hb int, seg string",
    "bands": "band int, bh bigint, e_id bigint, seg string",
    "docs": "e_id bigint, n int, s array<bigint>, pb int, seg string",
    "df": "shingle bigint, df bigint, seg string",
}


def _read(spark: SparkSession, index_dir: str, sub: str, cols: list[str]) -> DataFrame:
    return (
        spark.read.schema(_READ_SCHEMAS[sub])
        .orc(os.path.join(index_dir, sub))
        .select(*cols)
    )


def triage_incremental(
    spark: SparkSession, incoming: DataFrame, index_dir: str
) -> DataFrame:
    """Classify ``incoming`` (doc_id, text) against the materialized index:
    one row per incoming doc, (doc_id, status, match_doc_id, jaccard) —
    bit-identical to triage_against when the bucket cap does not bind.

    Scale shape: every join keeps the BATCH on the build side; COMPACT
    batch frames (md5 keys, band keys, shingle ids, fetch keys — a few
    bytes per row) are force-broadcast so the corpus-scale index tables
    stay scan-side with DPP intact, while batch frames carrying full
    shingle ARRAYS are left to AQE (broadcast while small, shuffled hash
    at production batch sizes — driver memory never holds batch content).
    The only corpus-sized inputs touched are the compact index columns
    (md5 postings, band keys, candidate-fetched shingle arrays via
    DPP-partitioned directories, df longs) — the corpus TEXT is never
    re-read, never re-shingled."""
    incoming = incoming.filter(F.col("text").isNotNull())

    # ---- exact tier: md5 equi-join, batch side broadcast ----
    inc = incoming.select(
        "doc_id", F.md5("text").alias("h")
    ).withColumn("hb", _hb(F.col("h")))
    ex_exact = _read(spark, index_dir, "exact", ["hb", "h", "e_id"])
    exact = (
        ex_exact.join(F.broadcast(inc), ["hb", "h"])
        .groupBy("doc_id")
        .agg(F.min("e_id").alias("x_match"))
    )

    # ---- near tier: shingle ONLY the batch, band-join the index ----
    # widen=False: this is the per-batch probe path — the width probe +
    # conditional repartition costs ~1.9x the warm floor per invocation; a
    # batch is small enough to shingle at its scan width, and callers with
    # genuinely narrow huge batches pre-repartition once before probing.
    sh_inc = checkpointed_shingles(incoming, widen=False)
    inc_bands = minhash_bands(sh_inc)
    ex_bands = _read(spark, index_dir, "bands", ["band", "bh", "e_id"])
    # key-only pairs, materialized once: consumed by the array join (ca)
    # AND the fetch-key broadcast — without the barrier the bands-index
    # scan + band join would run twice per probe
    cand = (
        ex_bands.join(F.broadcast(inc_bands), ["band", "bh"])
        .select("doc_id", "e_id")
        .distinct()
        .localCheckpoint(eager=False)
    )

    # ubiquity guard, recomposed exactly: df over (existing UNION batch) =
    # SUM of stored per-segment dfs + batch df (appends write one df row
    # per shingle PER SEGMENT — testing rows individually under-counts the
    # union after the first append; pinned by the patched-cap append test).
    # The guard restricts to the batch's own shingles: ub is consumed via
    # array_except inside an intersection with batch arrays and the
    # Jaccard denominator uses the ORIGINAL n/na counts, so a shingle
    # absent from every batch doc cannot change any output row. That keeps
    # the plan batch-dominated too — the corpus-scale stored df table is
    # filtered scan-side by a broadcast inner probe (build side = the
    # batch's tiny shingle set; the previous right-outer broadcast hint on
    # the preserved side was unplannable and silently shuffled the stored
    # table), summed, and the tiny result broadcast back onto the batch df.
    df_inc = (
        sh_inc.select(F.explode("s").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("dfi"))
    )
    df_stored = _read(spark, index_dir, "df", ["shingle", "df"])
    stored_sum = (
        df_stored.join(F.broadcast(df_inc.select("shingle")), "shingle")
        .groupBy("shingle")
        .agg(F.sum("df").alias("dfs"))
    )
    ubiq = (
        df_inc.join(F.broadcast(stored_sum), "shingle", "left")
        .filter(F.col("dfi") + F.coalesce(F.col("dfs"), F.lit(0)) > SHINGLE_DF_CAP)
        .agg(F.collect_list("shingle").alias("ub"))
    )

    # fetch + verify. Forced broadcasts here are reserved for COMPACT
    # key-only frames: the batch's full shingle ARRAYS (sh_inc.s, and ca
    # which duplicates them once per candidate pair) are batch-CONTENT-
    # sized — a production crawl batch's arrays can exceed driver memory
    # (the tfidf_top_terms lesson), so those joins are left to AQE
    # (broadcast while tiny, shuffled hash at scale: both sides are
    # batch-bounded either way). Directory pruning on the corpus-scale
    # docs fetch must not depend on that choice, so the fetch keys —
    # (pb, e_id) pairs, ~16 bytes per candidate, no arrays — are broadcast
    # explicitly: DPP skips the pb directories the candidates never touch
    # under either plan for the array join.
    ca = cand.join(
        sh_inc.select(
            "doc_id", F.col("n").alias("na"), F.col("s").alias("sa")
        ),
        "doc_id",
    ).withColumn("pb", (F.col("e_id") % N_PB).cast("int"))
    # fetch keys come from the KEY-ONLY candidate table (pre-array-join),
    # so the broadcast never holds shingle arrays and ca itself needs no
    # materialization barrier (single consumer).
    fetch_keys = cand.select(
        (F.col("e_id") % N_PB).cast("int").alias("pb"), "e_id"
    ).distinct()
    ex_docs = _read(spark, index_dir, "docs", ["pb", "e_id", "n", "s"])
    fetched = (
        ex_docs.join(F.broadcast(fetch_keys), ["pb", "e_id"])
        .join(ca, ["pb", "e_id"])
        .join(F.broadcast(ubiq))
    )
    c = F.size(
        F.array_intersect(F.array_except("sa", "ub"), F.array_except("s", "ub"))
    )
    j = c.cast("double") / (F.col("na") + F.col("n") - c).cast("double")
    oriented = fetched.select(
        "doc_id", F.col("e_id").alias("n_match"), j.alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), "n_match")
    near = (
        oriented.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "n_match", F.col("jaccard").alias("n_jaccard"))
    )

    # ---- fold tiers, exact precedence (same expressions as the batch form)
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("x_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("n_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("x_match", "n_match", F.lit(-1)).alias("match_doc_id"),
            F.when(F.col("x_match").isNotNull(), F.lit(1.0))
            .otherwise(F.coalesce("n_jaccard", F.lit(0.0)))
            .alias("jaccard"),
        )
    )


def index_dir_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process, ``materialized_dir``) the triage index for
    ``sf_dir``'s existing split and return its directory — amortized across
    every incremental query/batch in the process, exactly as the production
    index amortizes across crawl batches."""
    return materialized_dir(
        sf_dir, "triage_index", lambda path: build_triage_index(spark, sf_dir, path)
    )


@query("ingest_triage_incremental", oracle=ORACLES["ingest_triage"])
def ingest_triage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental twin of ``ingest_triage``: same incoming split, same
    answer (shared oracle, verbatim), but classified against the
    materialized band index instead of re-shingling the existing corpus —
    the shape a rolling 100 TB crawl actually runs per batch. The oracle
    gate therefore certifies the index path end-to-end: build, band join,
    ubiquity recomposition, verify, fold.

    Cost against the full twin, same session, noop sink, 5 warm iterations
    each, index pre-built: sf0.1 full-rebuild 2.29 s best vs incremental
    1.81 s (-21%); 10× disjoint-shard slice (tools/make_scale_slice.py)
    7.45 s vs 4.80 s (-36%). The saving GROWS with the existing/batch
    ratio, because the probe path never re-shingles the existing corpus
    (the full twin's dominant term). The bench reads both twins near 1.8 s
    at sf0.1; that near-parity is per-query fixed cost plus host noise, not
    a re-banding bug."""
    incoming = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id") % 10 == 0)
    )
    return triage_incremental(spark, incoming, index_dir_for(spark, sf_dir))


# keep the linter-visible import used (the module is imported for its
# registration side effect and to guarantee ORACLES["ingest_triage"] exists
# before this module's decorator runs)
_ = _triage
