"""Deduplication operators over the ``documents`` table (beyond-reference;
BASELINE.json north star: LLM-data-pipeline dedup at 100 TB).

Ladder of techniques, cheapest first:

1. ``dedup_exact``        — hash group-by on raw text. One shuffle on the
   group key; at 100 TB shuffle the md5(text) (16 bytes) instead of the text
   itself when payloads are large.
2. ``dedup_exact_norm``   — same after whitespace/case normalization.
3. ``dedup_ngram_jaccard``— *exact* near-dup pairs: 3-word-shingle Jaccard
   within a blocking key (lang). Quadratic within block, exact answer —
   this is the oracle for the approximate methods.
4. ``dedup_minhash_lsh``  — MinHash signatures + LSH banding: candidates are
   generated by ``groupBy(band_hash)`` bucket joins (linear shuffle, no
   all-pairs), then exact-verified. The 100 TB path.
5. ``dedup_simhash``      — SimHash bucket dedup (hamming-0 buckets).
6. ``dedup_bloom_ingest`` — Bloom-filter membership for INCREMENTAL ingest:
   probe a new batch against a broadcast filter over the existing corpus
   without the full anti-join.

All shingling/hashing is pure Column expressions (xxhash64 internally,
md5 nibbles where the DuckDB oracle must replicate bits, transform,
aggregate) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_datasource_orc_spark.functions.portable import (
    norm_fingerprint,
    norm_fingerprint_sql,
)
from datafusion_datasource_orc_spark.operators.registry import query
from datafusion_datasource_orc_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.5
# integer form of the threshold for exact prefix-length arithmetic
# (ceil(t*n) = (n*NUM + DEN - 1) div DEN); keep in sync with the float
JT_NUM, JT_DEN = 1, 2
# Min-label propagation converges in O(graph diameter) rounds; near-dup
# clusters are near-cliques (diameter 2-3). The cap is a runaway backstop —
# hitting it is surfaced as a RuntimeWarning, never a silent truncation.
CC_MAX_ROUNDS = 20
# 16 bands x 4 rows: P(miss) at the testdata's weakest true pair (j=0.8) is
# (1-0.8^4)^16 ≈ 2e-4 per pair, ≈ 1e-9 at the j≈0.98 median; measured
# candidate count at sf0.1 is 257 vs 256 true pairs (one false positive,
# killed by exact verification), so the extra bands cost no candidate blowup.
# The earlier 4x4 banding missed a j=0.958 pair once the shingle hashing
# changed — 4 bands leave per-pair miss probability ~6e-4 even at j≈0.96.
MINHASH_PERMS = 64
LSH_BANDS = 16
SHINGLE = 3
# Posting-list skew guard: shingles appearing in more than DF_CAP documents
# are boilerplate ("click here to", licence headers) and are dropped from the
# postings BEFORE any self-join — one ubiquitous shingle makes sum(df²)
# explode at 100 TB. A j>=0.5 near-dup pair shares far more than one
# non-boilerplate shingle, so discovery is unaffected; the cap sits far above
# the testdata's max df (asserted in tests/test_pipeline.py) so sf-scale
# results are bit-identical with or without it.
SHINGLE_DF_CAP = 10_000

# LSH bucket-width skew guard (judge r07 ADVICE): the in-bucket pair
# expansion materializes O(width²) structs inside ONE row, so a 100 TB
# boilerplate cluster sharing all bands would build a multi-GB row. Buckets
# wider than this cap degrade to STAR pairs (bucket-min vs each member):
# O(width) structs, connectivity-preserving for downstream clustering
# (keep-canonical / connected-components reach the same components through
# the star), and every emitted pair is still exact-Jaccard-verified, so
# precision stays 1.0 — only >cap candidate RECALL shifts, the same
# probabilistic status the banding itself has at scale. The cap sits far
# above the testdata's max bucket width (asserted in tests/test_pipeline.py)
# so sf-scale results are bit-identical with or without it.
LSH_BUCKET_PAIR_CAP = 1_024


def words(col: Column) -> Column:
    return F.split(F.lower(col), r"\s+")


def shingles_of_words(w: Column, n: int = SHINGLE) -> Column:
    """Distinct n-word shingles via slice + zip_with — structurally linear.

    Deliberately NOT `transform(sequence(...), i -> element_at(w, i+k))`:
    CollapseProject inlines the generating `split()` into every element_at
    of the lambda, making shingling O(words²) per document (66s for 5k docs
    at sf0.1, vs ~1s linear). zip_with over shifted slices evaluates each
    input expression a constant number of times no matter what the optimizer
    inlines."""
    m = F.size(w) - (n - 1)  # number of shingles
    shifted = [F.slice(w, k + 1, m) for k in range(n)]
    zipped = shifted[0]
    for nxt in shifted[1:]:
        zipped = F.zip_with(zipped, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.when(m > 0, zipped).otherwise(F.array().cast("array<string>")))


def hashed_shingles_of_words(w: Column, n: int = SHINGLE) -> Column:
    """Distinct n-word shingles as 64-bit hashes — no string concatenation.

    xxhash64 is folded pairwise over the shifted word slices
    (xxhash64(xxhash64(w[i], w[i+1]), w[i+2])), so each shingle costs two
    hash calls on existing strings instead of allocating a concatenated
    shingle string. Distinct hashes ↔ distinct shingles modulo 64-bit
    collisions (P ≈ n²/2⁶⁴ ≈ 4e-9 at sf0.1) — fine for the LSH candidate
    path whose output is exact-VERIFIED counts; the string form below stays
    the exactness baseline for dedup_ngram_jaccard and the CC oracle."""
    m = F.size(w) - (n - 1)
    shifted = [F.slice(w, k + 1, m) for k in range(n)]
    zipped = F.zip_with(shifted[0], shifted[1], lambda a, b: F.xxhash64(a, b))
    for nxt in shifted[2:]:
        zipped = F.zip_with(zipped, nxt, lambda h, c: F.xxhash64(h, c))
    return F.array_distinct(
        F.when(m > 0, zipped).otherwise(F.array().cast("array<bigint>"))
    )


def shingle_docs(
    docs: "DataFrame", extra_cols: tuple[str, ...] = (), hashed: bool = False
) -> "DataFrame":
    """documents → (doc_id, *extra_cols, s) with the two-step projection that
    keeps shingling linear (words materialized, then shingled)."""
    mk = hashed_shingles_of_words if hashed else shingles_of_words
    return docs.select(
        "doc_id", *extra_cols, words(F.col("text")).alias("_w")
    ).select("doc_id", *extra_cols, mk(F.col("_w")).alias("s"))


def checkpointed_shingles(docs: "DataFrame", widen: bool = True) -> "DataFrame":
    """(doc_id, text) → materialized (doc_id, n, s) — the shared prelude of
    every minhash consumer (LSH dedup, connected components, split-leakage,
    triage, the triage index).

    Two decisions, made once here so they cannot drift between families:
    - With ``widen`` (the default, for CORPUS-scan consumers), narrow inputs
      are widened to half the cluster parallelism first. A small-sf parquet
      scan yields one partition and would run the whole shingle pipeline on
      one thread; at 100 TB the scan already yields thousands of partitions
      and the branch is a no-op. The width probe itself is not free —
      ``.rdd.getNumPartitions()`` materializes the plan's RDD lineage per
      call — so PER-BATCH probe paths (incremental triage, where this
      helper runs on every incoming crawl batch and the r11 unification
      measured a ~1.9x warm-floor regression) pass ``widen=False`` and
      pre-repartition once upstream if their batches are genuinely narrow.
    - The expensive shingling (split + zip_with-hash + distinct) runs ONCE:
      a lazy localCheckpoint materializes (doc_id, n, s). Catalyst does not
      ReuseExchange across the downstream consumers, so without the barrier
      the shingle pipeline re-ran per consumer (the pre-round-7 plan had 8
      parquet scans). At 100 TB the same barrier is
      persist(DISK_ONLY)/checkpoint."""
    if widen:
        parallelism = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < parallelism // 2:
            docs = docs.repartition(parallelism // 2)
    return (
        shingle_docs(docs, hashed=True)
        .filter(F.size("s") > 0)
        .select("doc_id", F.size("s").alias("n"), "s")
        .localCheckpoint(eager=False)
    )


def shingle_postings(
    docs: "DataFrame", df_cap: int | None = SHINGLE_DF_CAP, hashed: bool = False
) -> "DataFrame":
    """documents → exploded postings (doc_id, n, shingle) with the document's
    shingle count carried on every row.

    Carrying ``n`` costs 4 bytes/posting in the shuffle but removes the
    separate sizes table and its two downstream joins — every consumer that
    needs |A| / |B| for Jaccard reads it off the posting row (``min(n)`` in
    the pair aggregation). Fewer passes over the shingling lineage and fewer
    shuffles; the dominant cost at 100 TB is the postings shuffle either way.

    ``df_cap`` is the posting-list skew guard (see SHINGLE_DF_CAP): the
    over-cap shingle set is computed with one map-side-combinable count and
    anti-joined out (a handful of boilerplate shingles — AQE broadcasts the
    anti-join's tiny side). With an active cap the pair numerator excludes
    boilerplate shingles while ``n`` (the denominator) keeps them — a
    conservative bias: Jaccard is slightly UNDER-estimated for documents
    whose overlap is mostly boilerplate, exactly the overlap a dedup
    pipeline should not count. Below the cap (always true at the test
    scales — asserted in tests/test_pipeline.py) results are bit-identical."""
    sh = shingle_docs(docs, hashed=hashed).filter(F.size("s") > 0)
    post = sh.select("doc_id", F.size("s").alias("n"), F.explode("s").alias("shingle"))
    if df_cap is not None:
        # The guard consumes `post` twice (df counts + anti-join stream) and
        # Catalyst does not reuse the exchange across them, so without a
        # barrier the expensive shingling (split + zip_with + distinct)
        # runs twice per evaluation. Materialize the raw postings once; at
        # 100 TB the same barrier is persist(DISK_ONLY)/checkpoint.
        post = post.localCheckpoint(eager=False)
        ubiquitous = (
            post.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        post = post.join(ubiquitous, "shingle", "left_anti")
    return post


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union.cast("double")


# DuckDB twin of shingle_docs() — duckdb lists are 1-based, range() is
# end-exclusive: shingle i uses w[i], w[i+1], w[i+2] for i in 1..len(w)-2.
_SQL_SHINGLES = """
    SELECT doc_id,
           list_distinct(
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           ) AS s
    FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents)
"""


@query(
    "dedup_exact",
    oracle="SELECT text, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies FROM documents GROUP BY text",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_exact_norm",
    oracle=f"""
    SELECT {norm_fingerprint_sql("text")} AS content_hash,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup keyed on a 128-bit content hash — at 100 TB the
    shuffle moves 16-byte keys, not document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    # r15: the exchange key is the 16 RAW digest bytes (bijective with the
    # hex form, identical groups); lower(hex(...)) restores the declared
    # lowercase-hex content_hash per group (guide §2.3 narrower types)
    return (
        docs.groupBy(F.unhex(norm_fingerprint(F.col("text"))).alias("ch"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.lower(F.hex("ch")).alias("content_hash"),
            "keep_doc_id",
            "n_copies",
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs via an inverted index.

    Not the naive all-pairs cross product (quadratic: 190s at sf0.1), and
    since round 8 not the full postings self-join either (its sum(df²)
    went 10.5x at 5x rows): _jaccard_pairs generates candidates from a
    rarest-first prefix x prefix join (PPJoin's exact prefix lemma) and
    verifies each candidate's |A∩B| exactly — identical results, near-
    linear candidates. The SHINGLE_DF_CAP skew guard still drops
    boilerplate shingles up front. The DuckDB oracle uses the naive
    formulation (fine at sf0.01), making this an algebraic-equivalence
    check of the prefix-filter path.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _jaccard_pairs(shingle_postings(docs))


def _jaccard_pairs(post: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with j >= threshold from a postings
    table — the inverted-index core shared by dedup_ngram_jaccard and the
    connected-components clustering.

    EXACT prefix filtering on BOTH sides (PPJoin's prefix lemma, Xiao et
    al. / Bayardo et al.): under any global shingle order, a pair with
    overlap >= ceil(t*max(|A|,|B|)) must intersect within the first
    n - ceil(t*n) + 1 shingles of EACH side, so candidates come from a
    prefix x prefix join instead of the full postings self-join whose
    sum(df^2) went 10.5x at 5x rows (the sf0.5 rehearsal, via
    connected-components). Prefixes are ordered rarest-first (df
    ascending) so common shingles — the df^2 mass — almost never sit in
    one. Each candidate is then verified EXACTLY with
    size(array_intersect) over the two docs' sorted shingle arrays; the
    jaccard expression and threshold comparison are unchanged, so results
    are bit-identical to the naive join."""
    post = post.localCheckpoint(eager=False)
    dfreq = post.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # prefix length = n - ceil(t*n) + 1, integer-exact
    pref = (
        post.join(dfreq, "shingle")
        .withColumn("r", F.row_number().over(wdoc))
        .filter(
            F.col("r")
            <= F.col("n")
            - F.expr(f"(n * {JT_NUM} + {JT_DEN - 1}) div {JT_DEN}")
            + 1
        )
        .select("doc_id", "shingle", "r", "n")
    )
    # PPJoin's two cheap exact filters, applied inside the join before the
    # pair distinct: (1) size compatibility — j >= t forces
    # min(na,nb) >= t/(1+t)*(na+nb); (2) positional — the overlap can be at
    # most 1 + min(remaining suffix lengths) at the matched prefix
    # positions, which must reach the required overlap
    # alpha = ceil(t/(1+t)*(na+nb)). Both integer-exact.
    alpha = F.expr(
        f"({JT_NUM} * (na + nb) + {JT_NUM + JT_DEN} - 1) div {JT_NUM + JT_DEN}"
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.col("a.r").alias("ra"),
            F.col("b.r").alias("rb"),
        )
        .filter(
            (F.col("nb") * JT_NUM <= F.col("na") * JT_DEN)
            & (F.col("na") * JT_NUM <= F.col("nb") * JT_DEN)
            & (
                F.lit(1)
                + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = post.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh"),
        F.first("n").alias("n"),
    )
    c = F.size(F.array_intersect("sh_a", "sh_b"))
    j = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")).cast("double")
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sh_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sh_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", c.alias("c"), "na", "nb")
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_MH_PRIME = 2147483647  # 2^31 - 1; (h1 + i*h2) mod p is a universal family


def minhash_hash_cols() -> list[Column]:
    """The two base draws for Kirsch-Mitzenmacher derived permutations,
    projected as real columns so codegen evaluates each xxhash64 ONCE per
    posting row instead of once per permutation inside every aggregate."""
    return [
        F.pmod(F.xxhash64(F.col("shingle"), F.lit(1)), F.lit(_MH_PRIME)).alias("h1"),
        F.pmod(F.xxhash64(F.col("shingle"), F.lit(2)), F.lit(_MH_PRIME)).alias("h2"),
    ]


def minhash_signature_agg(perms: int = MINHASH_PERMS) -> list[Column]:
    """MinHash as plain MIN aggregates over an exploded (doc_id, h1, h2)
    postings table: perm i = min((h1 + i*h2) mod p).

    Since round 7 this is the REFERENCE formulation: dedup_minhash_lsh
    computes the same 64 minima in a single HOF aggregate pass over the
    checkpointed shingle arrays (2x faster — no explode, no shuffle), and
    tests/test_pipeline.py pins the two formulations equal signature-slot
    by signature-slot at sf0.001.

    Three design choices, all load-bearing:
    - Deliberately NOT `array_min(transform(...))` over the shingle array:
      higher-order expressions over an inlined shingle computation blow past
      whole-stage-codegen limits (interpreted fallback) and forced a
      persist() barrier that leaked cache across calls. As a groupBy
      aggregation the signature is one shuffle with map-side partial MINs.
    - Deliberately NOT `xxhash64(shingle, seed=i)` per permutation: the
      two-hash universal form costs a multiply-add-mod per perm on 31-bit
      values (i*h2 <= 63 * 2^31 stays far inside int64 — ANSI-safe; Spark 4
      default ANSI mode throws on overflow), making 64 permutations cheap.
    - The mod-p WRAP is what makes the derived permutations independent: a
      non-wrapping `h1 + i*h2` is dominated by h2's min for large i, which
      correlates neighbouring bands and silently costs recall (measured:
      28 -> 27 true pairs at sf0.001)."""
    return [
        F.min(F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(_MH_PRIME))).alias(
            f"mh_{i}"
        )
        for i in range(perms)
    ]


def lsh_candidate_pairs(
    buckets: DataFrame, pair_cap: int = LSH_BUCKET_PAIR_CAP
) -> DataFrame:
    """(doc_id, band, bh) bucket rows → distinct candidate pairs, one shuffle.

    Bucket members are gathered per (band, bh) with collect_list and pairs
    are expanded in-row. Bucket-width guard (see LSH_BUCKET_PAIR_CAP):
    buckets at most ``pair_cap`` wide expand ALL ordered pairs (O(width²)
    structs, bounded by the cap); wider boilerplate-cluster buckets emit
    STAR pairs against the bucket minimum (O(width) structs) — downstream
    clustering reaches the same connected components through the star, and
    the caller's exact-Jaccard verify keeps precision at 1.0. distinct()
    collapses pairs that collide in several bands (tiny set)."""
    members = (
        buckets.groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    all_pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda a: F.transform(
                    F.col("ds"),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    mn = F.array_min("ds")
    star_pairs = F.filter(
        F.transform(
            F.col("ds"),
            lambda b: F.struct(mn.alias("doc_a"), b.alias("doc_b")),
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    return (
        members.select(
            F.explode(
                F.when(F.size("ds") > F.lit(pair_cap), star_pairs).otherwise(
                    all_pairs
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query(
    "dedup_minhash_lsh",
    # Oracle = the EXACT Jaccard pair set. Legitimate because candidates are
    # exact-verified (precision is 1.0 by construction), and at the gate's
    # data scale the 4x4 banding catches every planted near-dup pair
    # (verified at sf0.01 and sf0.1) — so the oracle doubles as a 100%-recall
    # assertion. A banding regression that drops recall fails the driver
    # gate, not just the pytest recall bound.
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-verified.

    Scale path: signatures are one linear scan; candidate generation is a
    shuffle on (band_id, band_hash) — never all-pairs. Candidate pairs are
    then verified with exact Jaccard, so precision is 1.0 and only recall
    depends on the banding parameters (16 perms, 4 bands x 4 rows →
    P(detect) ≈ 88% at j=0.7, ≈ 99.9% at j=0.9; raise perms for higher
    recall at scale).

    Round-7 restructure (judge task 5; measured best-of-4 at sf0.1 in the
    bench harness, old 3.05 s → new ~2.0 s):
    - ONE checkpoint, of the per-doc shingle ARRAYS (5k rows), not the
      exploded postings (260k rows). Every consumer (signature explode,
      df-cap counts, both verify sides) reads those materialized arrays;
      tests/test_planning.py still pins the executed plan to ExistingRDD
      scans only.
    - Candidates come from ONE groupBy(band, bh) + collect_list + in-bucket
      pair expansion instead of a bucket self-join (one shuffle, not three).
      Bucket skew at 100 TB is the collect_list width: in-row expansion is
      quadratic, so buckets wider than LSH_BUCKET_PAIR_CAP degrade to star
      pairs (bucket-min vs member, O(width) structs) — connectivity is
      preserved for downstream clustering and precision stays 1.0 via the
      exact verify; only >cap candidate recall shifts (round-8 guard; the
      cap sits far above any sf-scale bucket width, asserted in pytest).
    - Verification joins the candidate pairs back to the shingle ARRAYS
      (two broadcast-hash joins over the tiny pair set + array_intersect),
      replacing two joins + a groupBy shuffle over the full postings.
    - The SHINGLE_DF_CAP guard moved to the verify side: boilerplate
      shingles (df > cap) are collected into one bounded broadcast array
      and array_except'ed out of the numerator, while n (the denominator)
      keeps them — the IDENTICAL conservative Jaccard the old anti-join
      produced, without re-evaluating a groupBy per consumer. Signatures
      now use the full shingle set (standard MinHash): below the cap —
      always, at gate scales — results are bit-identical; above it only
      candidate RECALL shifts, and every emitted pair is still
      exact-verified.
    - The small-file scan is repartitioned before shingling only when the
      source yields fewer partitions than cores (a 1-file sf0.1 input ran
      the whole shingle pipeline on one thread); at 100 TB the scan already
      yields thousands of partitions and the branch is a no-op.
    """
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(checkpointed_shingles(docs))


def minhash_bands(sh: DataFrame) -> DataFrame:
    """Checkpointed shingle arrays (doc_id, n, s) → LSH bucket rows
    (doc_id, band, bh): the one-pass aggregate MinHash signature (see
    minhash_lsh_pairs' docstring) split into LSH_BANDS xxhash64 band keys.

    One function, so the SAME certified signature/banding code serves
    both the symmetric whole-corpus banding (minhash_lsh_pairs) and
    the materialized triage band INDEX (operators.triage_index), which
    persists these rows for the existing corpus once so per-batch ingest
    never re-shingles it — bit-identical band keys are what make the two
    paths interchangeable.

    The band keys are one lambda over the band numbers, not LSH_BANDS
    structs unrolled in Python: xxhash64 sees the same longs in the same
    order, so the keys are bit-identical, and building the expression takes
    a few dozen py4j round trips instead of several hundred."""
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bh"),
        ),
    )
    return minhash_signatures(sh).select(
        "doc_id", F.explode(band_keys).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Shingle arrays (doc_id, n, s) → (doc_id, sig): MINHASH_PERMS minhashes
    per document, folded over the shingles in one pass."""
    P = F.lit(_MH_PRIME)
    hh = F.transform(
        F.col("s"),
        lambda x: F.struct(
            F.pmod(F.xxhash64(x, F.lit(1)), P).alias("h1"),
            F.pmod(F.xxhash64(x, F.lit(2)), P).alias("h2"),
        ),
    )
    init = F.array_repeat(F.lit(_MH_PRIME).cast("long"), MINHASH_PERMS)
    seq = F.sequence(F.lit(0), F.lit(MINHASH_PERMS - 1)).cast("array<long>")
    sig_arr = F.aggregate(
        hh,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seq, lambda i: F.pmod(h["h1"] + i * h["h2"], P)),
            lambda a, b: F.least(a, b),
        ),
    )
    return sh.select("doc_id", sig_arr.alias("sig"))


def minhash_lsh_pairs(
    sh: DataFrame,
    pair_cap: int = LSH_BUCKET_PAIR_CAP,
    pair_pred: Column | None = None,
) -> DataFrame:
    """Checkpointed shingle arrays (doc_id, n, s) → exact-verified near-dup
    pairs (doc_a, doc_b, jaccard >= threshold) via MinHash + LSH banding.

    ``pair_cap`` is the bucket-width star-pair guard, passed through to
    lsh_candidate_pairs — parameterized so the mechanism test can FORCE the
    cap to bind (judge r08 task 6) without a >1024-doc fixture.

    ``pair_pred`` (r14, guide §2.3): an optional predicate over
    (doc_a, doc_b) applied to the CANDIDATE set before the exact-Jaccard
    verify. A caller that discards a candidate class afterwards anyway
    (ingest triage keeps only cross-side pairs) can push that cut below
    the verify joins, so discarded candidates never ship their shingle
    arrays — output is identical because the predicate only reads the
    pair ids the verify carries through unchanged.

    Shared by dedup_minhash_lsh (whole corpus) and pipeline_end_to_end
    (exact-dedup survivor set). ``sh`` MUST be materialized (localCheckpoint
    / persist) — every stage below re-reads it, and the HOF signature
    relies on `s` coming from an ExistingRDD so CollapseProject cannot
    inline the shingle pipeline into the lambdas.

    Signature in ONE aggregate pass over the shingle array (judge r06
    task 5): per shingle compute (h1, h2) once, then fold a 64-slot
    running-minimum array — same arithmetic as minhash_signature_agg's
    per-permutation MINs (verified: identical mh_i sums at sf0.1), but
    zero explode and zero shuffle.
    Measured 2x faster than the explode + 64-column groupBy at sf0.1."""
    buckets = minhash_bands(sh)
    post = sh.select("doc_id", F.explode("s").alias("shingle"))

    cand = lsh_candidate_pairs(buckets, pair_cap=pair_cap)
    if pair_pred is not None:
        cand = cand.filter(pair_pred)

    # df-cap guard, verify-side: the over-cap shingle set is one bounded
    # 1-row array (boilerplate only — broadcast-safe by the same argument
    # as the old anti-join's tiny side), removed from the NUMERATOR arrays;
    # n keeps them, biasing Jaccard conservatively under boilerplate overlap.
    ubiq = (
        post.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .agg(F.collect_list("shingle").alias("ub"))
    )
    va = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), F.col("s").alias("sa")
    ).join(F.broadcast(cand), "doc_a")
    c = F.size(F.array_intersect(F.array_except("sa", "ub"), F.array_except("sb", "ub")))
    j = c.cast("double") / (F.col("na") + F.col("nb") - c).cast("double")
    return (
        sh.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n").alias("nb"),
            F.col("s").alias("sb"),
        )
        .join(F.broadcast(va), "doc_b")
        .join(F.broadcast(ubiq))
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


SIMHASH_BITS = 16


def _md5_nibble(t: Column, j: int) -> Column:
    """Value (0-15) of the j-th hex digit (1-based) of md5(token) — the
    ENGINE-PORTABLE bit source: Spark's md5() and DuckDB's md5() produce the
    same lowercase hex, so the oracle replicates every vote bit exactly.
    (xxhash64 would be cheaper but is Spark-private — it forced this query
    into the no-oracle set through round 3.)"""
    return F.conv(F.substring(F.md5(t), j, 1), 16, 10).cast("int")


def _bit_vote(k: int):
    """Two-arg (acc, x) merge-lambda factory for bit k."""

    def fn(acc: Column, t: Column) -> Column:
        bit = F.shiftright(_md5_nibble(t, k // 4 + 1), k % 4).bitwiseAND(F.lit(1))
        return acc + (bit * 2 - 1).cast("int")

    return fn


def simhash(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash as pure Column expressions: per bit, sum ±1 votes of each
    distinct token's md5 bit, then pack the sign bits. JVM-side; no UDF."""
    acc = F.lit(0)
    for k in range(bits):
        vote = F.aggregate(tokens, F.lit(0), _bit_vote(k))
        acc = acc + F.when(vote > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return acc


def _simhash_oracle() -> str:
    """DuckDB twin of the md5-nibble bit votes, bit for bit."""
    votes = ", ".join(
        "SUM((((strpos('0123456789abcdef', substr(md5(tok), {j}, 1)) - 1) "
        ">> {s}) & 1) * 2 - 1) AS v_{k}".format(j=k // 4 + 1, s=k % 4, k=k)
        for k in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN v_{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS tok
        FROM documents),
    sig AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
    h AS (SELECT doc_id, {packed} AS simhash FROM sig)
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM h GROUP BY simhash HAVING COUNT(*) > 1
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucket groups: documents sharing a 16-bit simhash of their
    distinct-word set. Hamming-0 collision dedup — one shuffle on the hash.

    Computed as bit-vote SUM aggregates over exploded (doc_id, token) rows
    (same aggregation-over-postings shape as minhash: map-side combinable,
    no giant higher-order expression). Bits come from md5 nibbles — engine-
    portable, so the DuckDB oracle reproduces the buckets exactly and this
    query carries a FULL oracle (it was a no-oracle row through round 3)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(words(F.col("text")))).alias("tok")
    )
    # nibbles projected as real columns: one md5 per token, not one per bit
    # (the minhash h1/h2 projection discipline, minhash_hash_cols)
    toks = toks.select(
        "doc_id",
        *[_md5_nibble(F.col("tok"), j + 1).alias(f"nib{j}") for j in range(4)],
    )
    votes = [
        F.sum(
            (
                F.shiftright(F.col(f"nib{k // 4}"), k % 4).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("int")
        ).alias(f"v_{k}")
        for k in range(SIMHASH_BITS)
    ]
    sig = toks.groupBy("doc_id").agg(*votes)
    acc = F.lit(0)
    for k in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"v_{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
    hashed = sig.select("doc_id", acc.alias("simhash"))
    return (
        hashed.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            # serialized, not array-typed: the driver's pandas comparator
            # cannot hash list cells (oracle-determinism conventions)
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


# MATERIALIZED: the recursive-closure oracle references these CTEs from
# inside WITH RECURSIVE; without the hint DuckDB may inline and re-evaluate
# the O(n²) pair join per recursion round (30-60 min at sf0.1 vs seconds).
_CC_SQL_PAIRS = f"""
    WITH sh AS MATERIALIZED ({_SQL_SHINGLES}),
    pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= {JACCARD_THRESHOLD}
    )
"""


_CC_SQL_CLOSURE = """
    , ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT a, b FROM ed
            UNION
            SELECT r.a, ed.b FROM r JOIN ed ON r.b = ed.a WHERE ed.b != r.a
        ) SELECT * FROM r
    ),
    cl AS (
        SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT cluster_id, COUNT(*) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM cl GROUP BY cluster_id HAVING COUNT(*) > 1
    """


def min_label_propagation(
    docs: DataFrame, pairs: DataFrame, full_labels: bool = True
):
    """Pregel-style min-label propagation over an undirected pair graph:
    (doc_id, lbl=component-min) for every document (``full_labels=True``)
    or for edge-incident documents only (``full_labels=False`` — the
    cluster queries' form: every isolated doc is a singleton cluster the
    downstream n_docs > 1 filter drops, so the identity-label union and
    its corpus anti-join are pure overhead there). Returns
    (labels DataFrame, converged flag).

    Driver-coordinated loop, fully distributed per step: each round every
    node takes the min label among itself and its neighbours; converges in
    O(diameter) rounds, and near-dup clusters have tiny diameters. The
    caller materializes ``pairs`` (localCheckpoint) so edge generation runs
    once, not once per round. Shared by dedup_connected_components
    (exact-Jaccard edges) and dedup_connected_components_lsh (minhash-LSH
    edges — the 100 TB edge generator).

    One aggregation and one action per round. The edge table is checkpointed
    once, in both directions plus one self-edge per node, so a round is
    ``edges ⋈ labels`` on ``dst`` and one ``groupBy(src)`` that yields both
    the new label (the min over the node's edges, its own label included)
    and the old one (the label its self-edge carries). The count of nodes
    whose label fell is an ``Observation`` on the round's eager
    localCheckpoint, so the check rides in the checkpoint's own job instead
    of a second ``count()`` action. An empty graph observes a NULL sum,
    read as 0. Labels are checkpointed per round to keep lineage flat.

    The loop iterates over EDGE-INCIDENT nodes only: an isolated document
    receives no neighbour message and its own label never changes, so every
    round's join, checkpoint and convergence count need only the near-dup
    graph's nodes — a vanishingly small fraction of a 100 TB corpus —
    instead of corpus-sized label tables. The identity labels of untouched
    documents are unioned back LAZILY at the end (one anti-join, zero
    per-round corpus work)."""
    ed = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst")
    # src alone covers both endpoints: ed holds each pair in both directions
    active = ed.select(F.col("src").alias("doc_id")).distinct()
    ed = ed.union(active.select("doc_id", "doc_id")).localCheckpoint()

    # identity labels, read off the self-edges
    labels = ed.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("doc_id"), F.col("dst").alias("lbl")
    )
    converged = False
    for _ in range(CC_MAX_ROUNDS):  # backstop; real exit is the convergence check
        obs = Observation()
        labels = (
            ed.join(labels.toDF("dst", "lbl"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("src") == F.col("dst"), F.col("lbl"))).alias("old"),
            )
            .observe(
                obs, F.sum((F.col("lbl") < F.col("old")).cast("long")).alias("chg")
            )
            .select("doc_id", "lbl")
            .localCheckpoint()
        )
        if not obs.get["chg"]:  # NULL when the graph has no edges
            converged = True
            break
    # The cap silently truncating a pathological chain (diameter >
    # CC_MAX_ROUNDS) would mis-cluster; near-dup graphs have tiny diameters,
    # so a cap hit is a data anomaly worth surfacing, not business as usual.
    if not converged:
        warnings.warn(
            f"connected-components hit the {CC_MAX_ROUNDS}-round cap without "
            "converging; clusters may be split (graph diameter exceeds cap)",
            RuntimeWarning,
            stacklevel=2,
        )
    if not full_labels:
        return labels, converged
    # isolated nodes re-enter with identity labels — lazy, never part of
    # the iterated lineage; callers that read per-doc labels (the
    # union-find property test) see the same full-corpus contract
    rest = (
        docs.select("doc_id")
        .join(active, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("lbl"))
    )
    return labels.unionByName(rest), converged


def _cluster_rows(labels: DataFrame) -> DataFrame:
    """labels → (cluster_id, n_docs, members) for clusters of size > 1."""
    return (
        labels.groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # serialized, not array-typed (driver comparator convention)
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query("dedup_connected_components", oracle=_CC_SQL_PAIRS + _CC_SQL_CLOSURE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters* (not just pairs): connected components over the
    exact-Jaccard pair graph via iterative min-label propagation — the
    missing step between pairwise dedup and "keep one doc per duplicate
    group".

    See min_label_propagation for the loop's shape. The DuckDB oracle
    computes the same clusters with a recursive-CTE transitive closure —
    feasible at sf0.01, which is exactly why the oracle runs there and
    Spark scales beyond. The exact-Jaccard edge generator is the exactness
    baseline; dedup_connected_components_lsh below is the corpus-scale
    twin (LSH edges, near-linear)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        _jaccard_pairs(shingle_postings(docs)).select("doc_a", "doc_b").localCheckpoint()
    )
    labels, converged = min_label_propagation(docs, pairs, full_labels=False)
    dedup_connected_components.last_converged = converged
    return _cluster_rows(labels)


@query(
    "dedup_connected_components_lsh",
    # Same closure oracle as dedup_connected_components, over the EXACT
    # Jaccard edge set — legitimate for the same reason dedup_minhash_lsh's
    # pair oracle is: LSH candidates are exact-verified (precision 1.0 by
    # construction) and 16x4 banding recall is 100% at the gate scales, so
    # LSH edges == exact edges there and the clusters are identical. A
    # banding recall regression splits a cluster and REDS the gate rather
    # than hiding.
    oracle=_CC_SQL_PAIRS + _CC_SQL_CLOSURE,
)
def dedup_connected_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB near-dup CLUSTERING path end-to-end (judge r08 task 3):
    minhash-LSH edge generation (near-linear: banding shuffle + broadcast
    exact verify, never all-pairs) feeding the SAME min-label propagation
    as dedup_connected_components.

    This is the composition SCALE.md names as the corpus-scale route: the
    exact-Jaccard edge generator (prefix-filtered PPJoin) is near-linear in
    CANDIDATES but its pair-set density still grows ~8-10x at 10x rows at
    sf1 (the measured linear boundary); LSH edges bound candidate growth by
    the banding collision structure instead of the shingle df profile.
    Downstream is unchanged — the label propagation and cluster aggregation
    are the shared helpers, so the two queries differ ONLY in edge
    generation, which is exactly the claim the driver gate certifies (same
    oracle, same clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = checkpointed_shingles(docs)
    pairs = minhash_lsh_pairs(sh).select("doc_a", "doc_b").localCheckpoint()
    labels, converged = min_label_propagation(docs, pairs, full_labels=False)
    dedup_connected_components_lsh.last_converged = converged
    return _cluster_rows(labels)


# ---- sub-document (fixed-window chunk) dedup --------------------------------
CHUNK_WORDS = 10


@query(
    "dedup_chunks",
    oracle=f"""
    SELECT md5(chunk) AS chunk_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
        SELECT doc_id,
               list_aggregate(w[(i-1)*{CHUNK_WORDS}+1 : i*{CHUNK_WORDS}],
                              'string_agg', ' ') AS chunk
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(generate_series(1, 200)) AS t(i)
        WHERE len(w) >= i * {CHUNK_WORDS}
    )
    GROUP BY md5(chunk)
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at fixed {CHUNK_WORDS}-word-window granularity —
    the tractable approximation of substring/suffix-array dedup that
    line-structured pipelines run as line-dedup (C4/RefinedWeb): chunk the
    token stream, hash each chunk, report chunks repeated ACROSS documents
    with the canonical (minimum) holder. Whole-document dedup misses spans
    repeated inside otherwise-distinct documents; this pass catches them.

    Scale shape: posexplode + groupBy(doc, chunk_no) assembles chunks with
    one map-side-combinable shuffle (deliberately NOT
    ``transform(sequence(...), i -> slice(w, ...))`` — CollapseProject would
    inline the word split into every chunk lambda, the documented quadratic
    trap); the dedup shuffle then moves 16-byte md5 keys only. Partial
    trailing chunks are dropped (deterministic window boundary on both
    engines)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    )
    chunks = (
        w.groupBy("doc_id", (F.col("pos") - F.col("pos") % CHUNK_WORDS).alias("ci"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x["word"],
                ),
                " ",
            ).alias("chunk"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") == CHUNK_WORDS)
    )
    # r15 (guide §2.3 narrower types, the dedup_rate_by_source precedent):
    # group on the 16 RAW md5 bytes — the countDistinct expands
    # (key, doc_id) pairs through the exchange, so halving the key halves
    # its dominant bytes; unhex is bijective on the fixed-width digest so
    # the grouping classes are unchanged, and lower(hex(...)) restores the
    # declared lowercase-hex output exactly (one expression per GROUP, not
    # per row)
    return (
        chunks.groupBy(F.unhex(F.md5(F.col("chunk").cast("binary"))).alias("ch"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            F.lower(F.hex("ch")).alias("chunk_hash"),
            "keep_doc_id",
            "n_occurrences",
            "n_docs",
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter ingest dedup — the incremental-ingest membership pattern.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # m: 65536 bits = 2048 x 32-bit words (32-bit
# packing: DuckDB's << overflow-checks shifting into bit 63 of a BIGINT)
BLOOM_HASHES = 4  # k: 4 independent 16-bit positions from md5 hex slices


def _bloom_positions(text: Column) -> Column:
    """k 16-bit bit positions per document from md5 hex slices — the same
    engine-portable md5 trick as simhash, so the oracle replicates the
    filter bit for bit. conv() of 4 hex chars is exact (<= 65535)."""
    h = F.md5(text)
    return F.array(
        *[
            F.conv(F.substring(h, i * 4 + 1, 4), 16, 10).cast("bigint")
            for i in range(BLOOM_HASHES)
        ]
    )


def bloom_filter_words(texts: DataFrame) -> DataFrame:
    """The 65536-bit Bloom filter as 2048 packed (word, mask) rows, built
    from a DataFrame with a non-null ``text`` column by ONE map-side-
    combinable bit_or aggregate over the k exploded bit positions. Shared
    by dedup_bloom_ingest and the ingest_incremental_bloom composition
    (operators/ingest.py); the caller broadcasts it to the probe side."""
    return (
        texts.select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 5).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )


def bloom_flagged(staged: DataFrame, bloom: DataFrame, keys: list[str]) -> DataFrame:
    """Probe half of the Bloom pattern, shared by dedup_bloom_ingest,
    probe_and_admit and ingest_incremental_bloom (one definition so the
    miss/coalesce semantics can never silently diverge between them):
    per distinct ``keys`` of the non-null-text rows of ``staged``, flagged
    = ALL k probed bits set in the broadcast (word, mask) filter; a probe
    into an absent word is a miss (coalesce 0), never NULL."""
    probes = staged.filter(F.col("text").isNotNull()).select(
        *keys, F.explode(_bloom_positions(F.col("text"))).alias("pos")
    )
    return (
        probes.join(
            F.broadcast(bloom),
            F.shiftright(F.col("pos"), 5) == F.col("word"),
            "left",
        )
        .select(
            *keys,
            F.coalesce(
                F.expr("(mask >> CAST(pos % 32 AS INT)) & 1"), F.lit(0)
            ).alias("hit"),
        )
        .groupBy(*keys)
        .agg((F.min("hit") == 1).alias("flagged"))
    )


def _bloom_poss_sql() -> str:
    """DuckDB expression list for the k bit positions of a column ``h``
    (md5 hex) — shared by _bloom_oracle and the ingest_incremental_bloom
    oracle (operators/ingest.py) so both replicate the filter bit-for-bit."""
    hv = "(strpos('0123456789abcdef', substr(h, {j}, 1)) - 1)"
    pos = " + ".join(
        f"({hv.format(j='{i}*4+' + str(c + 1))} * {16 ** (3 - c)})" for c in range(4)
    )

    def pos_expr(i: int) -> str:
        return pos.replace("{i}*4+1", f"{i * 4 + 1}").replace(
            "{i}*4+2", f"{i * 4 + 2}"
        ).replace("{i}*4+3", f"{i * 4 + 3}").replace("{i}*4+4", f"{i * 4 + 4}")

    return ", ".join(pos_expr(i) for i in range(BLOOM_HASHES))


def _bloom_oracle() -> str:
    poss = _bloom_poss_sql()
    return f"""
    WITH ex AS (SELECT md5(text) AS h FROM documents
                WHERE doc_id % 10 != 0 AND text IS NOT NULL),
    expos AS (SELECT unnest([{poss}]) AS pos FROM ex),
    bloom AS (SELECT pos // 32 AS word,
                     bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS mask
              FROM expos GROUP BY pos // 32),
    inc AS (SELECT doc_id, md5(text) AS h FROM documents
            WHERE doc_id % 10 = 0 AND text IS NOT NULL),
    probes AS (SELECT doc_id, h, unnest([{poss}]) AS pos FROM inc),
    hits AS (SELECT p.doc_id, p.h,
                    bool_and(COALESCE((b.mask >> CAST(p.pos % 32 AS INTEGER)) & 1, 0) = 1)
                        AS flagged
             FROM probes p LEFT JOIN bloom b ON p.pos // 32 = b.word
             GROUP BY p.doc_id, p.h)
    SELECT hits.doc_id, flagged,
           (hits.h IN (SELECT h FROM ex)) AS exact_dup,
           (flagged AND hits.h NOT IN (SELECT h FROM ex)) AS false_positive,
           (NOT (hits.h IN (SELECT h FROM ex)) OR flagged) AS no_false_negative
    FROM hits
    ORDER BY hits.doc_id
    """


@query("dedup_bloom_ingest", oracle=_bloom_oracle())
def dedup_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: probe INCOMING documents (doc_id % 10 == 0,
    the held-out ingest batch) against a Bloom filter built over the EXISTING
    corpus (the other 90%).

    The filter is 65536 bits as 2048 32-bit words (each packed in a bigint;
    see the BLOOM_BITS note on DuckDB's shift overflow-check) built with one map-side-
    combinable bit_or aggregation over the k=4 exploded bit positions, then
    BROADCAST to the probe side — at 100 TB the existing-corpus scan happens
    once per ingest cycle and the probe never shuffles the corpus (the whole
    point of the pattern: membership without the full anti-join). Bit
    positions come from md5 hex slices, so the DuckDB oracle reproduces the
    filter exactly. The exact_dup column is the gate-scale shadow (a real
    md5 semi-join) proving the Bloom guarantee: false_positive marks
    overshoot, no_false_negative is True by construction for every row."""
    # NULL-text rows are excluded identically on both sides: Spark's explode
    # of the NULL position array would silently drop the doc while DuckDB's
    # unnest keeps it with a NULL membership test — filter at the source so
    # the engines agree (ADVICE r04).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # the h key is internal (exact_dup semi-join + distinct only): the 16
    # RAW digest bytes halve the distinct exchange and the broadcast rows
    # (r15, guide §2.3); the bit POSITIONS still read md5 hex slices so the
    # oracle's filter replication is untouched
    existing = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.unhex(F.md5(F.col("text"))).alias("h"),
        _bloom_positions(F.col("text")).alias("poss"),
    )
    bloom = bloom_filter_words(docs.filter(F.col("doc_id") % 10 != 0))
    incoming = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.unhex(F.md5(F.col("text"))).alias("h"), "text"
    )
    hits = bloom_flagged(incoming, bloom, ["doc_id", "h"])
    ex_set = existing.select("h").distinct()
    out = (
        hits.join(F.broadcast(ex_set.withColumn("exact_dup", F.lit(True))), "h", "left")
        .select(
            "doc_id",
            "flagged",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
        )
        .withColumn("false_positive", F.col("flagged") & ~F.col("exact_dup"))
        .withColumn("no_false_negative", ~F.col("exact_dup") | F.col("flagged"))
    )
    return out.orderBy("doc_id")


@query(
    "dedup_rate_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
           floor(CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
                 / COUNT(*) * 1e6) / 1e6 AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline reporting: per-source exact-duplicate rate — the dashboard
    number dedup runs are judged by (which crawls/dumps are paying for
    themselves?), and the prioritization input for container-level dedup
    (source_vocab_overlap finds WHICH pairs of sources overlap; this ranks
    how internally redundant each one is).

    Scale shape: one groupBy(source) over 16-byte md5 digests with
    map-side-combinable COUNT + COUNT DISTINCT partial aggregation —
    document bodies never shuffle; dup_rate is an int/int double division
    on the repo's 1e-6 floor grid."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # distinct over the 16 raw md5 bytes (unhex is bijective on the hex
        # digests, so the count is unchanged) — halves the (source, digest)
        # pair bytes the two-phase distinct expands through the exchange
        F.countDistinct(
            F.unhex(F.md5(F.col("text").cast("binary")))
        ).alias("n_distinct"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct",
        (F.col("n_docs") - F.col("n_distinct")).alias("n_dup_docs"),
        (
            F.floor(
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs")
                * 1e6
            )
            / 1e6
        ).alias("dup_rate"),
    )
