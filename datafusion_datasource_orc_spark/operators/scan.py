"""Scan-surface queries over the ORC path — the reference's demonstrated core.

Every query here goes parquet → ORC (cached materialization) → ``spark.read
.orc`` so the actual ORC reader executes projection / predicate / limit
pushdown, the operators the reference implements itself (SURVEY.md §2A
A7/A8/A11) and golden-tests in tests/basic_reading.rs +
tests/predicate_pushdown.rs. Oracle SQL runs on the same rows via the parquet
views, so results must agree.

Pushdown is verified separately in plans/pushdown.py tests (PushedFilters /
ReadSchema in explain output), mirroring the reference's EXPLAIN surface
(src/source.rs:240-255).

Scale note: these compile to a single scan stage each — no shuffle except the
group-bys, which do map-side partial aggregation. Filters and projections are
pushed to the ORC stripe level by Catalyst, the same stripe pruning the
reference does (src/predicate.rs:53-245), plus Spark's row-group granularity
the reference only TODOs (src/opener.rs:64-66).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.registry import query
from datafusion_datasource_orc_spark.sources.tables import (
    BLOOM_STRIDE,
    load_orc_table,
)


# B1 — full table scan (tests/basic_reading.rs:245-278; bench full_table_scan)
@query("orc_scan_full", oracle="SELECT * FROM region")
def orc_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_orc_table(spark, sf_dir, "region")


# B2 — projection subset + reorder (tests/basic_reading.rs:313-385)
@query("orc_projection", oracle="SELECT l_linenumber, l_orderkey, l_quantity FROM lineitem")
def orc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_orc_table(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_orderkey", "l_quantity"
    )


# B3 — equality filter on string (tests/predicate_pushdown.rs:314-342)
@query(
    "orc_filter_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def orc_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_orc_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


# B4 — range filter (tests/predicate_pushdown.rs:102-207)
@query(
    "orc_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 10 AND l_quantity <= 20
    """,
)
def orc_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# B5 — != filter (tests/predicate_pushdown.rs:414-443)
@query(
    "orc_filter_neq",
    oracle="SELECT p_partkey, p_brand, p_size FROM part WHERE p_size != 10",
)
def orc_filter_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_orc_table(spark, sf_dir, "part")
        .filter(F.col("p_size") != 10)
        .select("p_partkey", "p_brand", "p_size")
    )


# B6 — AND/OR compound (tests/predicate_pushdown.rs:171-241)
@query(
    "orc_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    WHERE (l_returnflag = 'A' OR l_returnflag = 'R') AND l_quantity < 10
    """,
)
def orc_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return li.filter(
        ((F.col("l_returnflag") == "A") | (F.col("l_returnflag") == "R"))
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


# B7 — IS NULL / IS NOT NULL (tests/predicate_pushdown.rs:243-311). Testdata has
# no physical NULLs, so a nullable column is synthesized with NULLIF on both
# sides — the null-semantics check is identical.
@query(
    "orc_filter_isnull",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, NULLIF(lang, 'en') AS lang FROM documents
    ) WHERE lang IS NULL
    """,
)
def orc_filter_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_orc_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("lang"))
        .filter(F.col("lang").isNull())
    )


@query(
    "orc_filter_isnotnull",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, NULLIF(lang, 'en') AS lang FROM documents
    ) WHERE lang IS NOT NULL
    """,
)
def orc_filter_isnotnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_orc_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("lang"))
        .filter(F.col("lang").isNotNull())
    )


# B9+B10 — sort + deterministic limit (tests/basic_reading.rs:287-298).
# Tie-break on the unique (l_orderkey, l_linenumber) so LIMIT is well-defined
# across engines.
@query(
    "orc_sort_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def orc_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# B11 — COUNT(*) (tests/basic_reading.rs:413-443; bench count_all_rows).
# Metadata-only count: Spark answers from ORC footer row counts, the same
# Precision::Exact statistic the reference extracts (src/metadata.rs:77-85).
@query("orc_count_star", oracle="SELECT COUNT(*) AS cnt FROM lineitem")
def orc_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_orc_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


# B12 — MIN/MAX (tests/basic_reading.rs:893-916)
@query(
    "orc_minmax",
    oracle="""
    SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS min_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS max_ship
    FROM lineitem
    """,
)
def orc_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min(F.col("l_shipdate")).cast("timestamp_ntz").alias("min_ship"),
        F.max(F.col("l_shipdate")).cast("timestamp_ntz").alias("max_ship"),
    )


# B14 — GROUP BY + count + alias (tests/basic_reading.rs:919-948 —
# the reference's flagship group-by golden; also the entry() flagship here).
@query(
    "orc_groupby_count",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt
    FROM lineitem WHERE l_returnflag IS NOT NULL
    GROUP BY l_returnflag
    """,
)
def orc_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag").isNotNull())
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# B8 — combined filter + projection + sort + limit
# (bench combined_query, benches/orc_query_sql.rs:163-171)
@query(
    "orc_combined",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem WHERE l_quantity > 30
    ORDER BY l_orderkey, l_linenumber
    LIMIT 5
    """,
)
def orc_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(5)
    )


# B10 — offset + limit pagination (DataFusion's limit(skip, fetch) carries an
# offset the reference always passes as 0, tests/basic_reading.rs:295; Spark
# has first-class df.offset). Deterministic page: total order via unique key.
# Scale note: OFFSET is a global operation — fine for page-sized skips (the
# sort is a TopK of offset+limit rows), pathological for deep pagination;
# keyset pagination (WHERE key > last_seen) is the 100 TB pattern.
@query(
    "orc_offset_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 5 OFFSET 10
    """,
)
def orc_offset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_orc_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .offset(10)
        .limit(5)
    )


# Entry point 1 parity — SQL-string execution (SURVEY §3: ctx.sql(...) is
# the reference's primary entry, README.md:121-137 + tpcds_bench.rs:545-546).
# Every other registry entry is DataFrame-built; this one registers temp
# views and runs a literal SQL string through spark.sql so the parser →
# analyzer → optimizer path itself is exercised and oracle-checked. The
# plan is identical to the DataFrame form — Catalyst converges both.
@query(
    "sql_string_entry",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_string_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-SQL execution over registered views (the reference's
    ctx.sql() entry point): nation-level order rollup with the exact-decimal
    money sum, written as one SQL string."""
    for t in ("orders", "customer", "nation"):
        load_orc_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM sqlv_orders o
        JOIN sqlv_customer c ON o.o_custkey = c.c_custkey
        JOIN sqlv_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


# A1/A2/A4 via the PUBLIC PLUGIN SEAM — a registered Python Data Source:
# the reference is a format plugin (OrcFormat implements DataFusion's
# FileFormat, src/file_format.rs:90-205); Spark 4's Python Data Source API
# is the equivalent extension point, and `orcmeta` implements it. Footer
# reads go through `orcmeta.load`, which parses them on the driver, as the
# reference reads footers in its own process (file_format.rs:146-161).
# The comparator-stable projection keeps only layout-independent facts
# (total rows, column count); per-file rows/stripes/bytes vary with writer
# parallelism and are covered by pytest instead.
@query(
    "orc_file_metadata",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           (SELECT CAST(COUNT(*) AS INTEGER) FROM (DESCRIBE lineitem) t)
               AS n_columns
    FROM lineitem
    """,
)
def orc_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only audit of an ORC directory through the custom
    `orcmeta` data source: SUM of per-file footer row counts and the column
    count, with NO row data scanned. At 100 TB this shape — footer reads
    on the driver (`orcmeta.load`) — audits lake layout (file sizing,
    stripe health, schema drift) for the cost of listing + footers."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_dir_for

    d = orc_dir_for(spark, sf_dir, "lineitem")
    meta = orcmeta.load(spark, d)
    return meta.agg(
        F.sum("num_rows").alias("total_rows"),
        F.max("num_columns").alias("n_columns"),
    )


# A8/A10 at the PLUGIN seam, oracle-checked: the pushFilters
# partition-pruning path (sources/orcmeta.py pushFilters → partitions)
# exercised by the driver gate, not just pytest, so this query reads
# through spark.read.format("orcmeta") and not orcmeta.load. Determinism
# comes from a pyarrow-written chunked layout (sources/tables.py
# orc_chunked_dir_for): file chunk-<k>.orc holds exactly the rows with
# o_orderkey % 4 == k, so the oracle recomputes the selected file's row
# count from the SAME modulo rule — per-file facts become layout-free.
@query(
    "orc_file_metadata_pruned",
    oracle="""
    SELECT 'chunk-2.orc' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS num_rows,
           CAST(6 AS INTEGER) AS num_columns
    FROM orders WHERE o_orderkey % 4 = 2
    """,
)
def orc_file_metadata_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file_name-equality pruning at the Python Data Source seam: the
    EqualTo predicate is CONSUMED by pushFilters (src/predicate.rs:53-245 /
    file_format.rs negotiation analogue), so only chunk-2.orc gets an input
    partition — the other three footers are never opened. At 100 TB this is
    manifest-level pruning: a metadata query over one file costs one task
    and one ranged tail read, not a directory scan."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_chunked_dir_for

    orcmeta.register(spark)
    d = orc_chunked_dir_for(sf_dir, "orders", "o_orderkey", 4)
    meta = spark.read.format("orcmeta").load(d)
    return meta.filter(F.col("file_name") == "chunk-2.orc").select(
        "file_name", "num_rows", "num_columns"
    )


# A4 beyond the reference: the reference's open TODO — "column statistics
# are not yet extracted" (src/metadata.rs:79-84) — closed at the same seam:
# orcmeta's stats mode parses file-level column min/max/sum/null-count out
# of the ORC footer protobuf itself (sources/orcfooter.py, public ORC spec),
# tail bytes only. The query aggregates per-file stats ACROSS files (MIN of
# mins, SUM of counts), which is exactly how a lake-wide stats audit stays
# layout-independent — and what makes it oracle-checkable: the cross-file
# aggregate equals the table-level stats DuckDB computes from the rows.
# lineitem column -> ORC statistic kind; drives both oracles below
_LI_STAT_KINDS = {
    "l_orderkey": "int",
    "l_partkey": "int",
    "l_suppkey": "int",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "timestamp",
}


def _li_stats_oracle(extra: str = "") -> str:
    """DuckDB twin of a cross-file (or cross-stripe) column-stats aggregate
    over lineitem: per column, non-null count + typed min/max. ``extra``
    appends constant columns (e.g. a TRUE consistency flag)."""
    branches = []
    for col, kind in _LI_STAT_KINDS.items():
        if kind == "int" or kind == "double":
            mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "timestamp":  # footer stats carry epoch millis (UTC)
            mn = f"CAST(epoch_ms(MIN({col})) AS DOUBLE)"
            mx = f"CAST(epoch_ms(MAX({col})) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:  # string
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({col})", f"MAX({col})"
        branches.append(
            f"SELECT '{col}' AS column_name, '{kind}' AS col_kind, "
            f"CAST(COUNT({col}) AS BIGINT) AS n_values, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{ms} AS min_str, {xs} AS max_str{extra} FROM lineitem"
        )
    return "\nUNION ALL ".join(branches)


def _stats_agg(meta: DataFrame) -> DataFrame:
    """Cross-file/stripe aggregate of an orcmeta stats table: layout-free
    per-column totals (MIN of mins, MAX of maxes, SUM of counts)."""
    return meta.groupBy("column_name").agg(
        F.max("col_kind").alias("col_kind"),
        F.sum("num_values").alias("n_values"),
        F.min(F.coalesce(F.col("min_l").cast("double"), F.col("min_d"))).alias(
            "min_num"
        ),
        F.max(F.coalesce(F.col("max_l").cast("double"), F.col("max_d"))).alias(
            "max_num"
        ),
        F.min("min_s").alias("min_str"),
        F.max("max_s").alias("max_str"),
    )


@query("orc_column_stats", oracle=_li_stats_oracle())
def orc_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-wide column statistics from ORC footers alone — no row data
    scanned. Timestamp stats surface as epoch-millis (the footer's
    minimumUtc/maximumUtc), int/double stats in their native domains; the
    cross-file MIN/MAX/SUM aggregate is layout-independent, so the result
    matches table-level statistics regardless of writer parallelism."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_dir_for

    d = orc_dir_for(spark, sf_dir, "lineitem")
    meta = orcmeta.load(spark, d, stats="true")
    return _stats_agg(meta)


def _stats_consistency(fine, coarse, flag_name: str):
    """Join a FINE-granularity stats rollup against the next-COARSER one
    and flag per-column equality of count + typed min/max — the single
    implementation behind both ladder audits (stripe-vs-file and
    rowgroup-vs-stripe), so the two cannot diverge in which stats they
    compare."""
    coarse = coarse.select(
        F.col("column_name").alias("c_column_name"),
        F.col("n_values").alias("c_n_values"),
        F.col("min_num").alias("c_min_num"),
        F.col("max_num").alias("c_max_num"),
        F.col("min_str").alias("c_min_str"),
        F.col("max_str").alias("c_max_str"),
    )
    consistent = (
        (F.col("n_values") == F.col("c_n_values"))
        & F.col("min_num").eqNullSafe(F.col("c_min_num"))
        & F.col("max_num").eqNullSafe(F.col("c_max_num"))
        & F.col("min_str").eqNullSafe(F.col("c_min_str"))
        & F.col("max_str").eqNullSafe(F.col("c_max_str"))
    )
    return (
        fine.join(F.broadcast(coarse), fine.column_name == coarse.c_column_name)
        .withColumn(flag_name, consistent)
        .select(
            "column_name",
            "col_kind",
            "n_values",
            "min_num",
            "max_num",
            "min_str",
            "max_str",
            flag_name,
        )
    )


@query(
    "orc_stripe_stats",
    oracle=_li_stats_oracle(extra=", TRUE AS matches_file_stats"),
)
def orc_stripe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIPE-granularity statistics from the ORC metadata section (one
    ColumnStatistics set per stripe — what stripe pruning actually
    consults), aggregated across every stripe of every file and CROSS-
    CHECKED against the footer's file-level statistics in the same query:
    matches_file_stats asserts, per column, that the stripe rollup equals
    the file rollup (count, typed min/max) — the invariant a healthy
    writer maintains and a stats-corruption audit would catch breaking.
    Both sides are footer/metadata tail bytes only; at 100 TB this audits
    stripe-pruning viability for the cost of one tail read per file."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_dir_for

    d = orc_dir_for(spark, sf_dir, "lineitem")
    stripes = _stats_agg(orcmeta.load(spark, d, stats="stripes"))
    files = _stats_agg(orcmeta.load(spark, d, stats="file"))
    return _stats_consistency(stripes, files, "matches_file_stats")


# Probe keys for orc_bloom_prune: three present at every SF (orders keys
# are dense from 0) + two absent sentinels whose candidate groups can only
# be bloom false positives (filtered by the verify join). The string
# probes exercise the OTHER ORC bloom hash (Hive 64-bit Murmur3 over
# UTF-8 bytes): two priorities present at every SF + one absent sentinel.
_BLOOM_PROBES = [2, 3, 5, 1000000007, 1000000009]
_BLOOM_STR_PROBES = ["1-URGENT", "5-LOW", "Z-ABSENT"]
_BLOOM_NCHUNKS = 4


@query(
    "orc_bloom_prune",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority,
             o_orderkey % {_BLOOM_NCHUNKS} AS c,
             (row_number() OVER (PARTITION BY o_orderkey % {_BLOOM_NCHUNKS}
                                 ORDER BY o_orderkey) - 1) // {BLOOM_STRIDE} AS rg
      FROM orders
    )
    SELECT 'key' AS probe_kind,
           CAST(o_orderkey AS VARCHAR) AS probe,
           'chunk-' || CAST(c AS VARCHAR) || '.orc' AS file_name,
           CAST(rg AS INTEGER) AS row_group_id
    FROM ranked
    WHERE o_orderkey IN ({",".join(str(p) for p in _BLOOM_PROBES)})
    UNION ALL
    SELECT DISTINCT 'priority' AS probe_kind,
           o_orderpriority AS probe,
           'chunk-' || CAST(c AS VARCHAR) || '.orc' AS file_name,
           CAST(rg AS INTEGER) AS row_group_id
    FROM ranked
    WHERE o_orderpriority IN ({",".join(f"'{p}'" for p in _BLOOM_STR_PROBES)})
    """,
)
def orc_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-guided ROW-GROUP point lookup — membership pruning below the
    min/max statistics ladder, the second axis of the reference's row-level
    TODO (src/opener.rs:64-66). The `orcmeta` bloom mode parses each row
    group's BLOOM_FILTER_UTF8 filter (sources/orcfooter.py) and emits a
    verdict per (row group, probe key), covering BOTH ORC bloom hashes:
    the signed-Wang long hash on the integer sort key and the Hive 64-bit
    Murmur3 on a string column. Candidate groups are then VERIFIED against
    the deterministic sorted layout (orc_bloom_dir_for: group g of chunk
    k = rank g*stride..(g+1)*stride-1 of {{key % 4 == k}} ordered by key,
    stride = tables.BLOOM_STRIDE — the single constant all three sites
    here derive from), so
    the output is exactly the groups that truly contain each probe — which
    the oracle reproduces with the same rank arithmetic. False positives
    are filtered by the verify join; a false NEGATIVE (a wrong hash, in
    either hash family) would DROP rows and fail the gate loudly. At
    100 TB this is the I/O shape of a needle-in-haystack lookup: index
    bytes decide which ~1000-row groups to read, the data scan touches
    only those."""
    from pyspark.sql.window import Window

    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_bloom_dir_for

    d = orc_bloom_dir_for(
        sf_dir, "orders", "o_orderkey", _BLOOM_NCHUNKS,
        extra_bloom=("o_orderpriority",),
    )

    def bloom_cands(column: str, probes: list, hash_kind: str) -> DataFrame:
        return (
            orcmeta.load(
                spark,
                d,
                stats="bloom",
                bloom_column=column,
                bloom_hash=hash_kind,
                bloom_probes=",".join(str(p) for p in probes),
            )
            .filter(F.col("bloom_maybe"))
            .select("file_name", "row_group_id", "probe")
        )

    cand_key = bloom_cands("o_orderkey", _BLOOM_PROBES, "long")
    cand_pri = bloom_cands("o_orderpriority", _BLOOM_STR_PROBES, "utf8")

    orders = load_orc_table(spark, sf_dir, "orders")
    chunk = F.pmod(F.col("o_orderkey"), F.lit(_BLOOM_NCHUNKS))
    w = Window.partitionBy(chunk).orderBy("o_orderkey")
    truth = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.concat(F.lit("chunk-"), chunk.cast("string"), F.lit(".orc")).alias(
            "file_name"
        ),
        ((F.row_number().over(w) - 1) / BLOOM_STRIDE).cast("int").alias(
            "row_group_id"
        ),
    ).localCheckpoint(eager=False)  # one window pass feeds both verifies

    keys = (
        truth.join(
            F.broadcast(cand_key),
            (truth.o_orderkey.cast("string") == cand_key.probe)
            & (truth.file_name == cand_key.file_name)
            & (truth.row_group_id == cand_key.row_group_id),
        )
        .select(
            F.lit("key").alias("probe_kind"),
            F.col("probe"),
            truth.file_name,
            truth.row_group_id,
        )
    )
    pris = (
        truth.join(
            F.broadcast(cand_pri),
            (truth.o_orderpriority == cand_pri.probe)
            & (truth.file_name == cand_pri.file_name)
            & (truth.row_group_id == cand_pri.row_group_id),
        )
        .select(
            F.lit("priority").alias("probe_kind"),
            F.col("probe"),
            truth.file_name,
            truth.row_group_id,
        )
        .distinct()
    )
    return keys.unionAll(pris)


@query(
    "orc_rowgroup_stats",
    oracle=_li_stats_oracle(extra=", TRUE AS matches_stripe_stats"),
)
def orc_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-GROUP-granularity statistics from the ORC ROW_INDEX streams —
    the granularity BELOW stripes, which the reference leaves as its second
    open TODO ("row-level filtering when supported", src/opener.rs:64-66).
    Completes the ladder file → stripe → row group (default stride 10,000
    rows), and CROSS-CHECKS the row-group rollup against the metadata
    section's stripe statistics in the same query: matches_stripe_stats
    asserts, per column, that aggregating every row group reproduces the
    stripe-level count and typed min/max — the invariant row-group pruning
    depends on. I/O stays metadata-only (tail + per-stripe stripe-footer
    and index-region ranged reads), on the driver (`orcmeta.load`)."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_dir_for

    d = orc_dir_for(spark, sf_dir, "lineitem")
    rowgroups = _stats_agg(orcmeta.load(spark, d, stats="rowgroups"))
    stripes = _stats_agg(orcmeta.load(spark, d, stats="stripes"))
    return _stats_consistency(rowgroups, stripes, "matches_stripe_stats")
