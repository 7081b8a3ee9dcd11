"""Registry-wide physical-plan lint.

Every registered query's plan is screened for the operators that silently
destroy 100 TB scalability: Cartesian products, unbounded nested-loop joins,
and row-at-a-time Python evaluation. Anything intentional must be listed
here WITH its justification — the allowlist is documentation, and a new
query that trips the lint fails until its shape is either fixed or argued
for below.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators import QUERIES
from datafusion_datasource_orc_spark.plans.pushdown import _name, _nodes

# name -> (allowed node, why it is bounded at scale)
_INVENTORY_BUILD = (
    "derived-inventory view build: item x 5-warehouse x 52-week broadcast "
    "products of two tiny literal sequences (see tpcds._inventory)"
)
ALLOWED_NESTED_LOOP = {
    "simsearch_bruteforce": "query set (5 vectors) broadcast x corpus — the exact-scan ANN baseline",
    "simsearch_knn_join": "query set broadcast x corpus, same baseline shape",
    "simsearch_mips": "query set (5 vectors) broadcast x corpus — the exact "
    "MIPS baseline (scale path: norm-augmentation onto the banded rungs)",
    "simsearch_mips_banded": "1-row max-norm² aggregate crossJoin'd onto "
    "the corpus stream for the augmentation dim (the embedding_whitening "
    "shape); the probe join itself is an equi hash join",
    "simsearch_ivf": "probed-centroid set (tiny) broadcast to the corpus stream",
    "simsearch_ivfpq": "same coarse-centroid broadcast as simsearch_ivf (the "
    "composite's level-1 assignment crossJoins the tiny codebook)",
    "embedding_kmeans": "1-row packed-codebook crossJoin per Lloyd E-step — "
    "the map-side-only argmin (array_min over k structs), no corpus shuffle",
    "simsearch_ivf_kmeans": "the trainer's 1-row packed-codebook E-step "
    "crossJoins (see embedding_kmeans) plus one more of the same shape for "
    "probe selection over the 5-query set",
    "dedup_embedding_cosine": "upper-triangle pair generation over the broadcast small side",
    "tfidf_top_terms": "1-row corpus-size aggregate crossJoin'd into scoring",
    "simsearch_hybrid_rrf": "1-row corpus-size aggregate (lexical idf) + "
    "3-row query-vector broadcast onto the corpus scan — the "
    "tfidf/bruteforce shapes composed",
    "simsearch_bm25": "1-row corpus-constants aggregate (N, total tokens — "
    "the idf/avgdl inputs) crossJoin'd onto the scoring stream — the "
    "tfidf_top_terms shape; the qt/tf/df/dl joins are equi hash joins",
    "simsearch_hybrid_bm25": "inherits simsearch_bm25's 1-row corpus-"
    "constants crossJoin (the shared bm25_rank lexical leg) plus "
    "simsearch_hybrid_rrf's 3-row query-vector broadcast (the shared "
    "vector_leg_ranks); fusion itself is an equi groupBy",
    "tokenizer_bpe_merges": "one 1-row argmax-pair crossJoin per unrolled "
    "merge round (3) onto the DISTINCT-WORD table — the kmeans packed-"
    "codebook E-step shape; pair counting itself is an equi groupBy",
    "training_epoch_shard": "1-row total-token aggregate crossJoin'd onto "
    "the W-row (16) per-shard result for the exact balance ratio",
    "dedup_minhash_lsh": "1-row over-cap-shingle (boilerplate) array aggregate "
    "crossJoin'd onto the verify stream — the df-cap guard's broadcast form",
    "training_split_leakage": "inherits dedup_minhash_lsh's 1-row over-cap "
    "array crossJoin (the shared minhash_lsh_pairs verify stage)",
    "ingest_triage": "inherits dedup_minhash_lsh's 1-row over-cap array "
    "crossJoin (the shared minhash_lsh_pairs verify stage)",
    "ingest_triage_incremental": "1-row ubiquity-guard array (recomposed "
    "stored+batch df) crossJoin'd onto the candidate verify stream — the "
    "index-path form of minhash_lsh_pairs' over-cap broadcast",
    "training_curriculum_quantiles": "1-row quantile-cutpoint aggregate "
    "crossJoin'd onto the corpus stream — the embedding_whitening shape",
    "training_dsir_select": "two bounded broadcast crossJoins: the 1-row "
    "smoothed-total aggregate onto the 64-row histogram (weight build) and "
    "the 1-row quantile cutoff onto the scored stream — the "
    "text_quality_nb/curriculum shapes composed; feature joins are equi "
    "hash joins",
    "text_quality_nb": "two bounded broadcast crossJoins: the 1-row "
    "smoothed-total aggregate onto the 32-row bucket table (model build) "
    "and the 1-row prior onto the held-out scoring stream — the "
    "embedding_whitening shape; the feature joins are equi hash joins",
    "text_vocab_coverage": "1-row total-token aggregate crossJoin'd onto the "
    "(count -> frequency) histogram, itself at most |distinct counts| rows",
    "tpch_q11": "1-row scalar-subquery threshold joined below the HAVING",
    "tpch_q22": "1-row average-balance scalar subquery",
    "approx_heavy_hitters": "1-row total-count aggregate crossJoin'd into the support filter",
    "embedding_whitening": "1-row dimension-stats aggregate crossJoin'd onto the corpus stream",
    "embedding_power_iteration": "distributed mapInPandas Gram aggregate + "
    "constant-size (4096-cell) bounded collect; the 64-dim iteration runs "
    "driver-side like spark.ml's computePrincipalComponents — the returned "
    "plan is a LocalRelation of the result",
    "simsearch_sq": "1-row quantizer-stats + 1-row query vector broadcast onto the corpus scan",
    "tpcds_q61": "verbatim template: promotional_sales x all_sales is a "
    "1-row x 1-row join of two scalar aggregates",
    "tpcds_q28": "verbatim template: six 1-row bucket aggregates cross-joined "
    "(B1 x ... x B6), like q88's 1-row x 8",
    "tpcds_q88": "verbatim template: eight 1-row COUNT(*) time-band "
    "subqueries cross-joined into one output row",
    "tpcds_q90": "verbatim template: two 1-row COUNT(*) am/pm subqueries "
    "cross-joined into the single ratio row",
    "tpcds_q77": "verbatim template: the catalog channel pairs two tiny "
    "per-call-center aggregates (<=6 rows x <=6 rows); with the round-5 "
    "materialized star tables Catalyst sees the sizes and picks a broadcast "
    "loop instead of the CartesianProduct it planned over derived views "
    "(the ALLOWED_CARTESIAN entry stays for the smaller-SF plan shape)",
    "curation_source_rollup": "one groupBy(source) over the imported "
    "curation_manifest — inherits exactly that query's allowlisted "
    "bounded component broadcasts, adds none of its own",
    "curation_manifest": "inherits its components' bounded broadcast "
    "crossJoins ONLY: text_quality_nb's 1-row smoothed-total + 1-row prior "
    "(scored over ALL docs here) and training_dsir_select's 1-row "
    "smoothed-total + 1-row quantile cutoff; the manifest's own three "
    "doc-keyed joins are equi hash joins",
    "simsearch_recall_at_k": "inherits each evaluated rung's certified "
    "tiny broadcasts (bruteforce/sq/mips query vectors, ivf/kmeans packed "
    "codebooks, bm25-style 1-row aggregates) plus its own <=5-row "
    "query-vector broadcast per exact reference; the recall joins are "
    "equi hash joins on (q_vec_id, vec_id)",
    "tpcds_q21": _INVENTORY_BUILD,
    "tpcds_q22": _INVENTORY_BUILD,
    "tpcds_q37": _INVENTORY_BUILD,
    "tpcds_q39": _INVENTORY_BUILD,
    "tpcds_q72": _INVENTORY_BUILD,
    "tpcds_q82": _INVENTORY_BUILD,
}
# The derived-inventory rollups also cross-join two scalar-aggregate sides
# (q23's max_store_sales/avg thresholds follow the same shape).
ALLOWED_CARTESIAN = {
    "tpcds_q77": "verbatim template: the catalog channel pairs two tiny "
    "per-call-center aggregates (<=6 rows x <=6 rows) with FROM cs, cr",
}
ALLOWED_ROW_PYTHON = {
    "udtf_sentences": "Python UDTF — UDTF evaluation is BatchEvalPython by engine design",
}
# Partition-less windows move the WHOLE input through one task. Only queries
# whose window provably sees a bounded row count may carry one.
# (basket_part_pairs' post-TopK rank instead got a constant-but-unfoldable
# partition key, which also silences WindowExec's scale warning.)
ALLOWED_GLOBAL_WINDOW: dict[str, str] = {
    "tpcds_q44": "verbatim TPC-DS template; rank() input is the per-item "
    "average of ONE store — bounded by the item dimension's cardinality",
    "tpcds_q49": "verbatim TPC-DS template; each channel's rank() input is "
    "one row per returned item — bounded by the item dimension's cardinality",
}


def plan_facts(df) -> tuple[set[str], bool]:
    """What the rules read off ``df``'s physical plan: its node class names,
    and whether a window sorts its whole input in one partition (a
    ``WindowExec`` with an order but no partition spec)."""
    nodes = _nodes(df)
    classes = {_name(n) for n in nodes}
    global_window = any(
        _name(n) == "WindowExec"
        and n.partitionSpec().isEmpty()
        and n.orderSpec().nonEmpty()
        for n in nodes
    )
    return classes, global_window


def cartesian(facts) -> bool:
    return "CartesianProductExec" in facts[0]


def nested_loop(facts) -> bool:
    return "BroadcastNestedLoopJoinExec" in facts[0]


def row_python(facts) -> bool:
    return any(c.startswith("BatchEvalPython") for c in facts[0])


def global_window(facts) -> bool:
    return facts[1]


def _offenders(plans, rule, allowed) -> list[str]:
    return [name for name, facts in plans.items() if rule(facts) and name not in allowed]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: plan_facts(fn(spark, sf_dir)) for name, fn in sorted(QUERIES.items())}


def test_no_cartesian_products(plans):
    offenders = _offenders(plans, cartesian, ALLOWED_CARTESIAN)
    assert offenders == [], f"CartesianProduct (all-pairs shuffle join) in: {offenders}"


def test_nested_loop_joins_are_allowlisted(plans):
    offenders = _offenders(plans, nested_loop, ALLOWED_NESTED_LOOP)
    assert offenders == [], (
        f"unreviewed BroadcastNestedLoopJoin in: {offenders} — broadcast a keyed "
        "side or add an equi-condition; if the loop side is provably tiny, "
        "document it in ALLOWED_NESTED_LOOP"
    )


def test_row_at_a_time_python_is_allowlisted(plans):
    offenders = _offenders(plans, row_python, ALLOWED_ROW_PYTHON)
    assert offenders == [], (
        f"row-at-a-time Python UDF in: {offenders} — use built-in functions or "
        "an Arrow-batched pandas UDF (ArrowEvalPython)"
    )


def test_global_windows_are_allowlisted(plans):
    offenders = _offenders(plans, global_window, ALLOWED_GLOBAL_WINDOW)
    assert offenders == [], (
        f"partition-less Window (single-task total order) in: {offenders} — "
        "partition the window, or use the two-pass range-partitioned rank "
        "(see window_ntile); a provably-bounded input belongs in "
        "ALLOWED_GLOBAL_WINDOW with its justification"
    )


def test_allowlists_reference_live_queries():
    dead = (
        set(ALLOWED_CARTESIAN)
        | set(ALLOWED_NESTED_LOOP)
        | set(ALLOWED_ROW_PYTHON)
        | set(ALLOWED_GLOBAL_WINDOW)
    ) - set(QUERIES)
    assert dead == set(), f"allowlist entries for unregistered queries: {dead}"


def _rule_shapes(spark) -> dict:
    """rule name -> (a frame the rule must flag, its partitioned twin)."""
    a = spark.range(8).withColumn("g", F.col("id") % 2)
    b = spark.range(8).withColumnRenamed("id", "k")

    @F.pandas_udf("long")
    def arrow_plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    row_plus_one = F.udf(lambda x: x + 1, "long")
    rank = F.row_number()
    return {
        "cartesian": (a.crossJoin(b), a.join(b, a.id == b.k)),
        "nested_loop": (
            a.join(F.broadcast(b), a.id < b.k),
            a.join(F.broadcast(b), a.id == b.k),
        ),
        "row_python": (a.select(row_plus_one("id")), a.select(arrow_plus_one("id"))),
        "global_window": (
            a.select(rank.over(Window.orderBy("id"))),
            a.select(rank.over(Window.partitionBy("g").orderBy("id"))),
        ),
    }


@pytest.mark.parametrize(
    "rule", [cartesian, nested_loop, row_python, global_window], ids=lambda r: r.__name__
)
def test_rule_flags_its_shape_and_not_the_partitioned_twin(spark, rule):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # a cross join plans as a CartesianProduct
    try:
        flagged, twin = _rule_shapes(spark)[rule.__name__]
        assert rule(plan_facts(flagged))
        assert not rule(plan_facts(twin))
    finally:
        spark.conf.set(key, old)


def test_row_python_rule_flags_a_python_udtf(spark, sf_dir):
    # udtf_sentences plans a BatchEvalPythonUDTFExec and no BatchEvalPythonExec
    facts = plan_facts(QUERIES["udtf_sentences"](spark, sf_dir))
    assert "BatchEvalPythonExec" not in facts[0]
    assert row_python(facts)


def test_global_window_rule_reads_the_order(spark):
    # an unordered window over the whole input (`count() over ()`) sorts
    # nothing; the rule screens only the partition-less total order
    df = spark.range(8).select(F.count("id").over(Window.partitionBy()))
    assert not global_window(plan_facts(df))
