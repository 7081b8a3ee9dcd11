"""Mini TPC-DS: ALL 99 VERBATIM public query templates over TPC-DS tables
derived deterministically from the driver testdata.

The reference's broadest claim is running all 99 TPC-DS queries over its ORC
tables (src/bin/tpcds_bench.rs:68-69; table prep scripts/convert_tpcds_to_orc.py:33-58).
This environment ships no TPC-DS dataset, so the full star schema (24
derived tables: 7 facts incl. three returns tables and inventory, 17
dimensions) is DERIVED from the TPC-H-ish testdata with engine-portable
expressions (exact integer / string / decimal ops only — see docs in each
builder), and ALL 99 public TPC-DS query templates run VERBATIM over it on
both engines — q1 through q99, every family:

  star aggregates (q3/q42/q52/q55/q19/q7/q26/q13/q48/q27...), correlated
  average filters (q1/q6/q30/q32/q44/q81/q92), windowed revenue ratios
  (q12/q20/q98/q36/q86/q47/q57/q63/q53/q89), day/week pivots (q2/q43/q59),
  multi-channel UNION rollups (q5/q33/q56/q60/q66/q71/q76/q77/q80),
  channel-exclusive / same-customer sets (q38/q87/q97/q25/q29/q58/q83),
  year-over-year customer growth (q4/q11/q74/q31/q75), EXISTS demographics
  (q10/q35/q69), returns analytics (q49/q50/q85/q91/q93), multi-warehouse
  shipping (q16/q62/q94/q95/q99), inventory (q21/q22/q37/q39/q72/q82),
  time-of-day (q88/q90/q96), item attributes (q41), frequent/best-customer
  sets (q14/q23/q54), rank-over-rollup (q67/q70), ticket banding
  (q34/q46/q68/q73/q79), income-band snowflakes (q84), cumulative windows
  (q51), bucket panels (q9/q28), per-customer rollforward (q17/q18/q24/q40),
  and the 17-relation two-year self-join q64.

Template parameters (year, month, state, manufacturer, ...) are bound to
values the derived data actually contains — exactly how the official
qualification parameters bind against the official dataset. The non-verbatim
surface is deliberately thin and documented inline where it occurs:
(a) a type-normalizing wrapper projection around each query (decimal
aggregates -> DOUBLE; the driver's pandas comparator renders DuckDB decimals
as float64 but Spark decimals as object Decimal), identical on both engines;
(b) minimal output aliases where the official text leaves aggregate/self-join
columns unnamed or duplicate-named (q35/q39/q16/q62...); and (c) ORACLE-side
emulations of genuine engine divergences — halfway-cent decimal casts
(q18/q49), DECIMAL-folded literal bounds (q21), UNION scale unification at
the DECIMAL(38) cap (q66), planner-pathological join order (q72), and
ASC-NULLS placement under a LIMIT cut (q14/q22/q67) — where the Spark side
always runs the verbatim template and only DuckDB's ground-truth text is
restructured to compute the same result.

Measure columns are DECIMAL(12,2) in the derived schema — like real TPC-DS's
decimal(7,2) — so the verbatim SUM(...) aggregates are exact and
order-independent on both engines with no query-text changes.

Scale shape: the derivations are single-pass projections/joins of the base
tables (the store_sales build is the lineitem-orders join TPC-H queries
already do); every verbatim query then runs through Catalyst like any other
registered query — star joins broadcast the dims, aggregates are map-side
partial, the q98 window partitions by i_class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.registry import query
from datafusion_datasource_orc_spark.sources.tables import load_table, materialized_dir

_EPOCH = "1990-01-01"  # d_date_sk = days since this epoch
_STATES = ("TN", "SD", "AL", "GA", "KY")  # s_state ring over nationkey % 5
_CITIES = (
    "Midway",
    "Fairview",
    "Pleasant Hill",
    "Oak Grove",
    "Five Points",
    "Liberty",
    "Greenville",
    "Bethel",
    "Concord",
    "Union",
)  # s_city ring over nationkey % 10
_COUNTIES = (
    "Williamson County",
    "Ziebach County",
    "Walker County",
    "Daviess County",
    "Barrow County",
)  # s_county ring over nationkey % 5
_HD_BUY_POTENTIAL = ("0-500", "501-1000", "1001-5000", "5001-10000", ">10000", "Unknown")
_HD_ROWS = 720  # hd_demo_sk domain; ss_hdemo_sk = o_custkey % 720
_I_SIZES = ("petite", "small", "medium", "large", "extra large", "N/A")
_I_UNITS = ("Unknown", "Each", "Dozen", "Case", "Bunch", "Ounce", "Ton", "Gram")
_CD_CREDIT = ("Low Risk", "Good", "High Risk", "Unknown")
_BIRTH_COUNTRIES = (
    "UNITED STATES",
    "CANADA",
    "MEXICO",
    "FRANCE",
    "GERMANY",
    "JAPAN",
    "BRAZIL",
)
_SM_TYPES = ("EXPRESS", "AIR", "SURFACE", "SEA", "OVERNIGHT")
_SM_CARRIERS = ("UPS", "FEDEX", "DHL", "USPS")
_CP_TYPES = ("monthly", "quarterly", "bi-annual")
_CP_ROWS = 40  # cp_catalog_page_sk domain; sized so q5/q80's channel-id
# ROLLUP output (25 stores + 40 pages + 10 sites + levels) stays under the
# templates' LIMIT 100 — past it, Spark/DuckDB null-ordering diverges on cut


# ---------------------------------------------------------------- Spark side
def _date_dim(spark: SparkSession) -> DataFrame:
    d = spark.sql("SELECT explode(sequence(DATE'1995-01-01', DATE'2002-12-31')) AS d_date")
    sk = F.datediff("d_date", F.lit(_EPOCH).cast("date"))
    return d.select(
        sk.alias("d_date_sk"),
        "d_date",
        F.year("d_date").alias("d_year"),
        F.month("d_date").alias("d_moy"),
        F.dayofmonth("d_date").alias("d_dom"),
        F.quarter("d_date").alias("d_qoy"),
        ((F.year("d_date") - 1990) * 12 + F.month("d_date") - 1).alias("d_month_seq"),
        # Sunday-start weeks since the epoch week (1989-12-31 was a Sunday);
        # (sk+1)/7 is an exact small-int double division on both engines
        F.floor((sk + 1) / 7).cast("int").alias("d_week_seq"),
        ((sk + 1) % 7).alias("d_dow"),  # 0=Sunday .. 6=Saturday (epoch was a Monday)
        F.date_format("d_date", "EEEE").alias("d_day_name"),
        F.concat(
            F.year("d_date").cast("string"), F.lit("Q"), F.quarter("d_date").cast("string")
        ).alias("d_quarter_name"),
    )


def _item(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("i_item_sk"),
        F.concat(F.lit("ITEM_"), F.col("p_partkey").cast("string")).alias("i_item_id"),
        # unique desc (partkey suffix): q65's verbatim ORDER BY + LIMIT ends
        # on i_item_desc — duplicated descs would make the cut nondeterministic
        F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string")).alias(
            "i_item_desc"
        ),
        F.concat(F.col("p_name"), F.lit(" #"), F.col("p_partkey").cast("string")).alias(
            "i_product_name"
        ),
        F.col("p_brand").alias("i_brand"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).cast("int").alias("i_brand_id"),
        F.split(F.col("p_name"), " ")[1].alias("i_class"),
        # portable int id per class (same first-char x100 + length scheme as
        # i_category_id; collisions across classes are harmless — it is a
        # grouping key, not a unique key)
        (
            F.ascii(F.split(F.col("p_name"), " ")[1]) * 100
            + F.length(F.split(F.col("p_name"), " ")[1])
        ).cast("int").alias("i_class_id"),
        F.split(F.col("p_name"), " ")[0].alias("i_color"),
        F.col("p_type").alias("i_category"),
        # stable portable int id per category (6 single-word categories;
        # first-char code x100 + length disambiguates SMALL vs STANDARD)
        (F.ascii("p_type") * 100 + F.length("p_type")).cast("int").alias("i_category_id"),
        (F.col("p_partkey") % 100).cast("int").alias("i_manufact_id"),
        F.concat(F.lit("Manufact#"), (F.col("p_partkey") % 100).cast("string")).alias(
            "i_manufact"
        ),
        (F.col("p_partkey") % 50).cast("int").alias("i_manager_id"),
        # shifted to a wide relative spread (50.00-149.90): q6's verbatim
        # `price > 1.2 * avg(price)` filter selects nothing on the raw
        # 900-999.9 band (1.2x its mean exceeds its max)
        (F.col("p_retailprice") - 850).cast("decimal(12,2)").alias("i_current_price"),
        (F.col("p_retailprice") - 880).cast("decimal(12,2)").alias("i_wholesale_cost"),
        # q41's attribute-combination filters: sizes ring over the integer
        # p_size, units over the partkey — engine-portable integer ops
        F.element_at(
            F.array(*[F.lit(s) for s in _I_SIZES]),
            (F.col("p_size") % len(_I_SIZES) + 1).cast("int"),
        ).alias("i_size"),
        F.element_at(
            F.array(*[F.lit(u) for u in _I_UNITS]),
            (F.col("p_partkey") % len(_I_UNITS) + 1).cast("int"),
        ).alias("i_units"),
        F.lit("Unknown").alias("i_container"),
    )


# ca_state ring: first five overlap the store-state ring so county+state
# address-to-store joins (q54) have support; CA/WA keep two pure-web states
_CA_STATES = ("TN", "SD", "AL", "GA", "KY", "CA", "WA")


_SALUTATIONS = ("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir")


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    salutation = F.element_at(
        F.array(*[F.lit(s) for s in _SALUTATIONS]),
        (F.col("c_custkey") % len(_SALUTATIONS) + 1).cast("int"),
    )
    return c.select(
        F.col("c_custkey").alias("c_customer_sk"),
        F.col("c_name").alias("c_customer_id"),
        F.col("c_custkey").alias("c_current_addr_sk"),
        F.concat(F.lit("First_"), (F.col("c_custkey") % 97).cast("string")).alias(
            "c_first_name"
        ),
        F.concat(F.lit("Last_"), (F.col("c_custkey") % 89).cast("string")).alias(
            "c_last_name"
        ),
        salutation.alias("c_salutation"),
        F.when(F.col("c_custkey") % 2 == 0, "Y").otherwise("N").alias(
            "c_preferred_cust_flag"
        ),
        F.col("c_custkey").alias("c_current_cdemo_sk"),
        (F.col("c_custkey") % _HD_ROWS).alias("c_current_hdemo_sk"),
        ((F.col("c_custkey") % 12) + 1).alias("c_birth_month"),
        (1930 + F.col("c_custkey") % 60).alias("c_birth_year"),
        ((F.col("c_custkey") % 28) + 1).alias("c_birth_day"),
        F.element_at(
            F.array(*[F.lit(s) for s in _BIRTH_COUNTRIES]),
            (F.col("c_custkey") % len(_BIRTH_COUNTRIES) + 1).cast("int"),
        ).alias("c_birth_country"),
        F.concat(F.lit("login_"), F.col("c_custkey").cast("string")).alias("c_login"),
        F.concat(
            F.lit("Customer_"), F.col("c_custkey").cast("string"), F.lit("@example.com")
        ).alias("c_email_address"),
        (2000 + F.col("c_custkey") % 1000).alias("c_last_review_date_sk"),
        (1900 + F.col("c_custkey") % 1500).alias("c_first_sales_date_sk"),
        (1930 + F.col("c_custkey") % 1500).alias("c_first_shipto_date_sk"),
    )


def _customer_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    state = F.element_at(
        F.array(*[F.lit(s) for s in _CA_STATES]),
        (F.col("c_nationkey") % len(_CA_STATES) + 1).cast("int"),
    )
    return c.select(
        F.col("c_custkey").alias("ca_address_sk"),
        state.alias("ca_state"),
        # 700 distinct zips (10000 + multiples of 7): dense enough that the
        # store-zip equi-join (q24) and preferred-customer zip counts (q8)
        # have real support, still all prefix '10' like the store zips
        (10000 + (F.col("c_custkey") * 7) % 700).cast("string").alias("ca_zip"),
        F.concat(F.lit("city_"), ((F.col("c_custkey") * 13) % 97).cast("string")).alias(
            "ca_city"
        ),
        F.element_at(
            F.array(*[F.lit(c) for c in _COUNTIES]),
            (F.col("c_custkey") % 5 + 1).cast("int"),
        ).alias("ca_county"),
        F.lit(-5).alias("ca_gmt_offset"),
        F.lit("United States").alias("ca_country"),
        (100 + F.col("c_custkey") % 900).cast("string").alias("ca_street_number"),
        F.element_at(
            F.array(*[F.lit(c) for c in _CITIES]),
            (F.col("c_custkey") % 10 + 1).cast("int"),
        ).alias("ca_street_name"),
        F.lit("Street").alias("ca_street_type"),
        F.concat(F.lit("Suite "), (F.col("c_custkey") % 100).cast("string")).alias(
            "ca_suite_number"
        ),
        F.when(F.col("c_custkey") % 3 == 0, "apartment")
        .otherwise(F.lit("single family"))
        .alias("ca_location_type"),
    )


def _store(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    state = F.element_at(
        F.array(*[F.lit(s) for s in _STATES]), (F.col("n_nationkey") % 5 + 1).cast("int")
    )
    city = F.element_at(
        F.array(*[F.lit(c) for c in _CITIES]), (F.col("n_nationkey") % 10 + 1).cast("int")
    )
    county = F.element_at(
        F.array(*[F.lit(c) for c in _COUNTIES]), (F.col("n_nationkey") % 5 + 1).cast("int")
    )
    return n.select(
        F.col("n_nationkey").alias("s_store_sk"),
        F.concat(F.lit("store_"), F.col("n_nationkey").cast("string")).alias("s_store_id"),
        F.concat(F.lit("Store_"), F.col("n_name")).alias("s_store_name"),
        state.alias("s_state"),
        city.alias("s_city"),
        county.alias("s_county"),
        # zips live in the customer-zip domain (10000 + 7k mod 700, prefix
        # '10') so q24's s_zip = ca_zip equi-join matches ~N/100 customers
        (10000 + (F.col("n_nationkey") * 7 * 37) % 700).cast("string").alias("s_zip"),
        (F.col("n_nationkey") % 10).alias("s_market_id"),
        F.lit(-5).alias("s_gmt_offset"),
        (200 + F.col("n_nationkey") * 5).alias("s_number_employees"),
        # constant, like the official dsdgen store table (q47/q89 group on it)
        F.lit("Unknown").alias("s_company_name"),
        F.lit(1).alias("s_company_id"),
        (100 + F.col("n_nationkey")).cast("string").alias("s_street_number"),
        city.alias("s_street_name"),
        F.lit("Street").alias("s_street_type"),
        F.concat(F.lit("Suite "), (F.col("n_nationkey") * 10).cast("string")).alias(
            "s_suite_number"
        ),
    )


def _sales_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey)


def _store_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Channels are DISJOINT slices of the lineitem-orders join (store slice 2;
    # web 0, catalog 1 below) — like real TPC-DS, where each purchase event
    # lands in exactly one channel fact. Overlapping channels would make
    # cross-channel comparisons structurally degenerate (web-beats-store
    # filters in q31/q51 and channel-exclusive counts in q97/q38/q87 could
    # never fire if store were a superset of the other channels).
    j = _sales_base(spark, sf_dir).filter(
        (F.col("l_orderkey") + F.col("l_linenumber")) % 3 == 2
    )
    return j.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "ss_sold_date_sk"
        ),
        F.col("l_partkey").alias("ss_item_sk"),
        # walk-in sales (no customer) — TPC-DS's nullable ss_customer_sk;
        # q44's correlated baseline averages exactly these rows
        F.when(F.col("o_custkey") % 40 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("ss_customer_sk"),
        # ~2% of tickets have no store recorded — TPC-DS fact keys are
        # nullable and q76 counts exactly these rows per channel
        F.when((F.col("l_orderkey") + F.col("l_suppkey")) % 43 == 0, F.lit(None))
        .otherwise(F.col("l_suppkey") % 25)
        .alias("ss_store_sk"),
        F.col("l_orderkey").alias("ss_ticket_number"),
        F.col("l_quantity").cast("int").alias("ss_quantity"),
        # exact decimal product (scale 2+4=6), NOT a cast of the double
        # product: .XX5-halfway cents round HALF_UP on Spark but half-even on
        # DuckDB — full-scale decimals never round, so the engines agree
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("ss_sales_price"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("ss_ext_sales_price"),
        # exact decimal, sign varies with discount around the 5% midpoint
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.col("l_discount").cast("decimal(6,4)") - F.lit(0.05).cast("decimal(6,4)"))
        ).alias("ss_net_profit"),
        # q7 surface: demographics / promotion keys + price columns, all
        # exact decimal products (same halfway-cent discipline as above).
        # The at-purchase demographic is OFFSET from the customer's current
        # one (c_current_cdemo_sk = c_custkey): q64 filters on
        # cd1.cd_marital_status <> cd2.cd_marital_status, which an identical
        # key would make unsatisfiable. The +linenumber-1 key dangles past
        # the last customer for a handful of rows — dropped identically by
        # both engines' demographic joins.
        (F.col("o_custkey") + F.col("l_linenumber") - 1).alias("ss_cdemo_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 13) % 100).alias("ss_promo_sk"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ss_list_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("ss_coupon_amt"),
        # ship-to address: usually the customer's own, sometimes (1 in 4
        # orders) the next customer's — q68's cross-city filter needs sales
        # bought in a city other than the current address (a +1 key past the
        # max custkey dangles and drops identically on both engines)
        (F.col("o_custkey") + F.when(F.col("l_orderkey") % 4 == 0, 1).otherwise(0)).alias(
            "ss_addr_sk"
        ),
        (F.col("o_custkey") % _HD_ROWS).alias("ss_hdemo_sk"),
        ((F.col("l_orderkey") * 7919 + F.col("l_linenumber") * 86393) % 86400).alias(
            "ss_sold_time_sk"
        ),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ss_ext_list_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_tax").cast("decimal(6,4)")
        ).alias("ss_ext_tax"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ss_ext_wholesale_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("ss_ext_discount_amt"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("ss_net_paid"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ss_wholesale_cost"),
    )


def _store_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Returns of the STORE channel slice only, so every sr row joins back to
    # its ss row on (ticket, item) — q25/q29/q50/q93 rely on that closure.
    j = _sales_base(spark, sf_dir).filter(
        (F.col("l_returnflag") == "R")
        & ((F.col("l_orderkey") + F.col("l_linenumber")) % 3 == 2)
    )
    return j.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "sr_returned_date_sk"
        ),
        F.col("l_partkey").alias("sr_item_sk"),
        F.col("o_custkey").alias("sr_customer_sk"),
        (F.col("l_suppkey") % 25).alias("sr_store_sk"),
        F.col("l_orderkey").alias("sr_ticket_number"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("sr_return_amt"),
        # partial returns (half the sold quantity, floor): full-quantity
        # returns would zero q75's net sales_cnt and hit ANSI /0
        F.floor(F.col("l_quantity") / 2).cast("int").alias("sr_return_quantity"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(0.1).cast("decimal(6,4)") + F.col("l_tax").cast("decimal(6,4)"))
        ).alias("sr_net_loss"),
        (F.col("l_linenumber") % 10).alias("sr_reason_sk"),
        F.col("o_custkey").alias("sr_cdemo_sk"),
    )


# Channel split: each source line lands in exactly one primary channel
# (slice 0 = web, 1 = catalog, 2 = store). On top of the primary slices,
# two deterministic groups of MULTI-CHANNEL SHOPPERS mirror their store
# purchases into the direct channels (custkey%5==0 -> catalog, custkey%7==3
# -> web), the way real TPC-DS customers buy the same item through several
# channels. The mirroring is what gives the cross-channel same-customer-
# same-item joins (q25/q29-style) a non-empty support at small scale while
# keeping channel-exclusive sets (q38/q87/q97) non-degenerate.
def _web_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (F.col("l_orderkey") + F.col("l_linenumber")) % 3
    j = _sales_base(spark, sf_dir).filter(
        (s == 0) | ((s == 2) & (F.col("o_custkey") % 7 == 3))
    )
    return j.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "ws_sold_date_sk"
        ),
        F.col("l_partkey").alias("ws_item_sk"),
        F.col("o_custkey").alias("ws_bill_customer_sk"),
        F.col("o_custkey").alias("ws_bill_addr_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 13) % 100).alias("ws_promo_sk"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ws_list_price"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("ws_ext_sales_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("ws_sales_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("ws_ext_discount_amt"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("ws_net_paid"),
        ((F.col("l_orderkey") * 7919 + F.col("l_linenumber") * 86393) % 86400).alias(
            "ws_sold_time_sk"
        ),
        # ~2.7% of web orders ship to an unrecorded customer (q76's web leg)
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 37 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("ws_ship_customer_sk"),
        F.col("l_quantity").cast("int").alias("ws_quantity"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.col("l_discount").cast("decimal(6,4)") - F.lit(0.05).cast("decimal(6,4)"))
        ).alias("ws_net_profit"),
        F.col("l_orderkey").alias("ws_order_number"),
        (F.col("l_suppkey") % 5).alias("ws_warehouse_sk"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "ws_ship_date_sk"
        ),
        F.col("o_custkey").alias("ws_ship_addr_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 7) % 20).alias("ws_web_page_sk"),
        (F.col("l_suppkey") % 10).alias("ws_web_site_sk"),
        (F.col("o_custkey") % _HD_ROWS).alias("ws_ship_hdemo_sk"),
        ((F.col("l_orderkey") + F.col("l_suppkey")) % 20).alias("ws_ship_mode_sk"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ws_ext_wholesale_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ws_wholesale_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ws_ext_list_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_tax").cast("decimal(6,4)")
        ).alias("ws_ext_ship_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("ws_net_paid_inc_tax"),
    )


def _catalog_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (F.col("l_orderkey") + F.col("l_linenumber")) % 3
    j = _sales_base(spark, sf_dir).filter(
        (s == 1) | ((s == 2) & (F.col("o_custkey") % 5 == 0))
    )
    return j.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "cs_sold_date_sk"
        ),
        F.col("l_partkey").alias("cs_item_sk"),
        F.col("o_custkey").alias("cs_bill_customer_sk"),
        F.col("o_custkey").alias("cs_bill_cdemo_sk"),
        (F.col("o_custkey") % _HD_ROWS).alias("cs_bill_hdemo_sk"),
        F.col("o_custkey").alias("cs_bill_addr_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 13) % 100).alias("cs_promo_sk"),
        F.col("l_quantity").cast("int").alias("cs_quantity"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("cs_ext_sales_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("cs_sales_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cs_list_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("cs_coupon_amt"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.col("l_discount").cast("decimal(6,4)") - F.lit(0.05).cast("decimal(6,4)"))
        ).alias("cs_net_profit"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("cs_ext_discount_amt"),
        ((F.col("l_orderkey") * 7919 + F.col("l_linenumber") * 86393) % 86400).alias(
            "cs_sold_time_sk"
        ),
        # ~2.4% of catalog orders lack a ship-to address (q76's catalog leg)
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 41 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("cs_ship_addr_sk"),
        F.col("l_orderkey").alias("cs_order_number"),
        (F.col("l_suppkey") % 5).alias("cs_warehouse_sk"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "cs_ship_date_sk"
        ),
        ((F.col("l_orderkey") + F.col("l_suppkey")) % 20).alias("cs_ship_mode_sk"),
        (F.col("o_custkey") % 6).alias("cs_call_center_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 11) % _CP_ROWS).alias(
            "cs_catalog_page_sk"
        ),
        F.col("o_custkey").alias("cs_ship_customer_sk"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_tax").cast("decimal(6,4)")
        ).alias("cs_ext_ship_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cs_ext_wholesale_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cs_wholesale_cost"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cs_ext_list_price"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("cs_net_paid"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cs_net_paid_inc_tax"),
    )


_CD_MARITAL = ("M", "S", "D", "W", "U")
_CD_EDU = (
    "Primary",
    "Secondary",
    "College",
    "2 yr Degree",
    "4 yr Degree",
    "Advanced Degree",
    "Unknown",
)


def _customer_demographics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    marital = F.element_at(
        F.array(*[F.lit(s) for s in _CD_MARITAL]), (F.col("c_custkey") % 5 + 1).cast("int")
    )
    edu = F.element_at(
        F.array(*[F.lit(s) for s in _CD_EDU]), (F.col("c_custkey") % 7 + 1).cast("int")
    )
    return c.select(
        F.col("c_custkey").alias("cd_demo_sk"),
        F.when(F.col("c_custkey") % 2 == 0, "M").otherwise("F").alias("cd_gender"),
        marital.alias("cd_marital_status"),
        edu.alias("cd_education_status"),
        (((F.col("c_custkey") * 7) % 20) * 500 + 500).alias("cd_purchase_estimate"),
        F.element_at(
            F.array(*[F.lit(s) for s in _CD_CREDIT]),
            (F.col("c_custkey") % len(_CD_CREDIT) + 1).cast("int"),
        ).alias("cd_credit_rating"),
        (F.col("c_custkey") % 7).alias("cd_dep_count"),
        ((F.col("c_custkey") * 3) % 7).alias("cd_dep_employed_count"),
        ((F.col("c_custkey") * 5) % 7).alias("cd_dep_college_count"),
    )


def _household_demographics(spark: SparkSession) -> DataFrame:
    h = spark.sql(f"SELECT explode(sequence(0, {_HD_ROWS - 1})) AS hd_demo_sk")
    potential = F.element_at(
        F.array(*[F.lit(s) for s in _HD_BUY_POTENTIAL]),
        (F.col("hd_demo_sk") % len(_HD_BUY_POTENTIAL) + 1).cast("int"),
    )
    return h.select(
        "hd_demo_sk",
        potential.alias("hd_buy_potential"),
        (F.col("hd_demo_sk") % 10).alias("hd_dep_count"),
        (F.col("hd_demo_sk") % 5).alias("hd_vehicle_count"),
        (F.col("hd_demo_sk") % 20).alias("hd_income_band_sk"),
    )


def _income_band(spark: SparkSession) -> DataFrame:
    b = spark.sql("SELECT explode(sequence(0, 19)) AS ib_income_band_sk")
    return b.select(
        "ib_income_band_sk",
        (F.col("ib_income_band_sk") * 10000).alias("ib_lower_bound"),
        (F.col("ib_income_band_sk") * 10000 + 9999).alias("ib_upper_bound"),
    )


def _time_dim(spark: SparkSession) -> DataFrame:
    t = spark.sql("SELECT explode(sequence(0, 86399)) AS t_time_sk")
    hour = F.floor(F.col("t_time_sk") / 3600).cast("int")
    return t.select(
        "t_time_sk",
        F.col("t_time_sk").alias("t_time"),
        hour.alias("t_hour"),
        F.floor((F.col("t_time_sk") % 3600) / 60).cast("int").alias("t_minute"),
        F.when((hour >= 6) & (hour <= 8), "breakfast")
        .when((hour >= 18) & (hour <= 20), "dinner")
        .otherwise(F.lit(None).cast("string"))
        .alias("t_meal_time"),
    )


def _promotion(spark: SparkSession) -> DataFrame:
    p = spark.sql("SELECT explode(sequence(0, 99)) AS p_promo_sk")
    return p.select(
        "p_promo_sk",
        F.when(F.col("p_promo_sk") % 2 == 0, "N").otherwise("Y").alias("p_channel_email"),
        F.when(F.col("p_promo_sk") % 3 == 0, "N").otherwise("Y").alias("p_channel_event"),
        F.when(F.col("p_promo_sk") % 5 == 0, "Y").otherwise("N").alias("p_channel_dmail"),
        F.when(F.col("p_promo_sk") % 7 == 0, "Y").otherwise("N").alias("p_channel_tv"),
    )


def _web_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Returns of the WEB channel slice only (incl. the mirrored multi-channel
    # shopper lines), so every wr row joins back to its ws row on
    # (order_number, item) — the q49/q78/q85 closure.
    s = (F.col("l_orderkey") + F.col("l_linenumber")) % 3
    j = _sales_base(spark, sf_dir).filter(
        (F.col("l_returnflag") == "R")
        & ((s == 0) | ((s == 2) & (F.col("o_custkey") % 7 == 3)))
    )
    return j.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "wr_returned_date_sk"
        ),
        F.col("l_partkey").alias("wr_item_sk"),
        F.col("l_orderkey").alias("wr_order_number"),
        F.col("o_custkey").alias("wr_returning_customer_sk"),
        F.col("o_custkey").alias("wr_refunded_customer_sk"),
        F.col("o_custkey").alias("wr_returning_addr_sk"),
        F.col("o_custkey").alias("wr_refunded_addr_sk"),
        F.col("o_custkey").alias("wr_returning_cdemo_sk"),
        F.col("o_custkey").alias("wr_refunded_cdemo_sk"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("wr_return_amt"),
        # partial returns (half the sold quantity, floor): full-quantity
        # returns would zero q75's net sales_cnt and hit ANSI /0
        F.floor(F.col("l_quantity") / 2).cast("int").alias("wr_return_quantity"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(0.1).cast("decimal(6,4)") + F.col("l_tax").cast("decimal(6,4)"))
        ).alias("wr_net_loss"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(6,4)")
        ).alias("wr_refunded_cash"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("wr_fee"),
        (F.col("l_linenumber") % 10).alias("wr_reason_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 7) % 20).alias("wr_web_page_sk"),
    )


def _catalog_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Returns of the CATALOG channel slice (incl. mirrored lines); cr rows
    # join back to cs rows on (order_number, item).
    s = (F.col("l_orderkey") + F.col("l_linenumber")) % 3
    j = _sales_base(spark, sf_dir).filter(
        (F.col("l_returnflag") == "R")
        & ((s == 1) | ((s == 2) & (F.col("o_custkey") % 5 == 0)))
    )
    return j.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit(_EPOCH).cast("date")).alias(
            "cr_returned_date_sk"
        ),
        F.col("l_partkey").alias("cr_item_sk"),
        F.col("l_orderkey").alias("cr_order_number"),
        F.col("o_custkey").alias("cr_returning_customer_sk"),
        F.col("o_custkey").alias("cr_refunded_customer_sk"),
        F.col("o_custkey").alias("cr_returning_addr_sk"),
        F.col("o_custkey").alias("cr_refunded_addr_sk"),
        F.col("o_custkey").alias("cr_returning_cdemo_sk"),
        F.col("o_custkey").alias("cr_refunded_cdemo_sk"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("cr_return_amount"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(6,4)")
        ).alias("cr_return_amt_inc_tax"),
        # partial returns (half the sold quantity, floor): full-quantity
        # returns would zero q75's net sales_cnt and hit ANSI /0
        F.floor(F.col("l_quantity") / 2).cast("int").alias("cr_return_quantity"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(0.1).cast("decimal(6,4)") + F.col("l_tax").cast("decimal(6,4)"))
        ).alias("cr_net_loss"),
        # cash refund is PARTIAL (0.35-0.45 of the price): with a full
        # (1-discount) refund, q64's cs_ui filter
        # sale > 2*(cash+charge+credit) is algebraically unsatisfiable
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(0.45).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)"))
        ).alias("cr_refunded_cash"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(6,4)")
        ).alias("cr_fee"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_tax").cast("decimal(6,4)")
        ).alias("cr_reversed_charge"),
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.lit(0.05).cast("decimal(6,4)")
        ).alias("cr_store_credit"),
        (F.col("l_linenumber") % 10).alias("cr_reason_sk"),
        (F.col("o_custkey") % 6).alias("cr_call_center_sk"),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 11) % _CP_ROWS).alias(
            "cr_catalog_page_sk"
        ),
        (F.col("l_suppkey") % 5).alias("cr_warehouse_sk"),
    )


def _inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weekly on-hand snapshots (Sundays of 1997, the mid-range full year) for
    # every item x warehouse — the shape of dsdgen's inventory without a
    # multi-year blowup (#parts x 5 x 52 rows). Quantities are deterministic
    # and SKEWED (80% small, 20% large spikes) so q39's stdev/mean > 1 filter
    # has support — a uniform hash gives cov ~0.58 and an empty query.
    p = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("inv_item_sk"))
    w = spark.sql("SELECT explode(sequence(0, 4)) AS inv_warehouse_sk")
    wk = spark.sql("SELECT explode(sequence(0, 51)) AS wk")
    base = (
        F.col("inv_item_sk") * 31 + F.col("inv_warehouse_sk") * 17 + F.col("wk") * 7
    )
    sunday0 = F.datediff(F.lit("1997-01-05").cast("date"), F.lit(_EPOCH).cast("date"))
    return (
        p.crossJoin(w)
        .crossJoin(wk)
        .select(
            "inv_item_sk",
            "inv_warehouse_sk",
            (sunday0 + F.col("wk") * 7).alias("inv_date_sk"),
            F.when(base % 5 == 0, (base * 7919) % 5000)
            .otherwise((base * 104729) % 50)
            .cast("int")
            .alias("inv_quantity_on_hand"),
        )
    )


def _warehouse(spark: SparkSession) -> DataFrame:
    w = spark.sql("SELECT explode(sequence(0, 4)) AS w_warehouse_sk")
    return w.select(
        "w_warehouse_sk",
        F.concat(F.lit("Warehouse_"), F.col("w_warehouse_sk").cast("string")).alias(
            "w_warehouse_name"
        ),
        ((F.col("w_warehouse_sk") + 1) * 10000).alias("w_warehouse_sq_ft"),
        F.element_at(
            F.array(*[F.lit(c) for c in _CITIES]),
            (F.col("w_warehouse_sk") % 10 + 1).cast("int"),
        ).alias("w_city"),
        F.element_at(
            F.array(*[F.lit(c) for c in _COUNTIES]),
            (F.col("w_warehouse_sk") % 5 + 1).cast("int"),
        ).alias("w_county"),
        F.element_at(
            F.array(*[F.lit(s) for s in _STATES]),
            (F.col("w_warehouse_sk") % 5 + 1).cast("int"),
        ).alias("w_state"),
        F.lit("United States").alias("w_country"),
    )


def _ship_mode(spark: SparkSession) -> DataFrame:
    s = spark.sql("SELECT explode(sequence(0, 19)) AS sm_ship_mode_sk")
    return s.select(
        "sm_ship_mode_sk",
        F.element_at(
            F.array(*[F.lit(t) for t in _SM_TYPES]),
            (F.col("sm_ship_mode_sk") % 5 + 1).cast("int"),
        ).alias("sm_type"),
        F.element_at(
            F.array(*[F.lit(c) for c in _SM_CARRIERS]),
            (F.col("sm_ship_mode_sk") % 4 + 1).cast("int"),
        ).alias("sm_carrier"),
        F.concat(F.lit("code_"), F.col("sm_ship_mode_sk").cast("string")).alias(
            "sm_code"
        ),
    )


def _call_center(spark: SparkSession) -> DataFrame:
    c = spark.sql("SELECT explode(sequence(0, 5)) AS cc_call_center_sk")
    return c.select(
        "cc_call_center_sk",
        F.concat(F.lit("cc_"), F.col("cc_call_center_sk").cast("string")).alias(
            "cc_call_center_id"
        ),
        F.concat(F.lit("CallCenter_"), F.col("cc_call_center_sk").cast("string")).alias(
            "cc_name"
        ),
        F.concat(F.lit("Manager_"), F.col("cc_call_center_sk").cast("string")).alias(
            "cc_manager"
        ),
        F.element_at(
            F.array(*[F.lit(c) for c in _COUNTIES]),
            (F.col("cc_call_center_sk") % 5 + 1).cast("int"),
        ).alias("cc_county"),
    )


def _web_site(spark: SparkSession) -> DataFrame:
    w = spark.sql("SELECT explode(sequence(0, 9)) AS web_site_sk")
    return w.select(
        "web_site_sk",
        F.concat(F.lit("site_"), F.col("web_site_sk").cast("string")).alias(
            "web_site_id"
        ),
        F.concat(F.lit("site_"), F.col("web_site_sk").cast("string")).alias("web_name"),
        F.lit("pri").alias("web_company_name"),
    )


def _web_page(spark: SparkSession) -> DataFrame:
    w = spark.sql("SELECT explode(sequence(0, 19)) AS wp_web_page_sk")
    return w.select(
        "wp_web_page_sk",
        (2500 + F.col("wp_web_page_sk") * 100).alias("wp_char_count"),
    )


def _catalog_page(spark: SparkSession) -> DataFrame:
    c = spark.sql(f"SELECT explode(sequence(0, {_CP_ROWS - 1})) AS cp_catalog_page_sk")
    return c.select(
        "cp_catalog_page_sk",
        F.concat(F.lit("page_"), F.col("cp_catalog_page_sk").cast("string")).alias(
            "cp_catalog_page_id"
        ),
        F.element_at(
            F.array(*[F.lit(t) for t in _CP_TYPES]),
            (F.col("cp_catalog_page_sk") % 3 + 1).cast("int"),
        ).alias("cp_type"),
    )


def _reason(spark: SparkSession) -> DataFrame:
    r = spark.sql("SELECT explode(sequence(0, 9)) AS r_reason_sk")
    return r.select(
        "r_reason_sk",
        F.concat(F.lit("reason "), F.col("r_reason_sk").cast("string")).alias(
            "r_reason_desc"
        ),
    )


# view name -> builder; registration is SELECTIVE per query (building all 24
# view DataFrames costs ~5s of driver-side plan/footer work at sf0.1 — pure
# overhead for a star query that touches 4 of them)
_TPCDS_TABLES = {
    "date_dim": lambda spark, sf_dir: _date_dim(spark),
    "item": _item,
    "customer": _customer,
    "customer_address": _customer_address,
    "store": _store,
    "store_sales": _store_sales,
    "store_returns": _store_returns,
    "web_sales": _web_sales,
    "catalog_sales": _catalog_sales,
    "customer_demographics": _customer_demographics,
    "promotion": lambda spark, sf_dir: _promotion(spark),
    "household_demographics": lambda spark, sf_dir: _household_demographics(spark),
    "time_dim": lambda spark, sf_dir: _time_dim(spark),
    "reason": lambda spark, sf_dir: _reason(spark),
    "income_band": lambda spark, sf_dir: _income_band(spark),
    "web_returns": _web_returns,
    "catalog_returns": _catalog_returns,
    "warehouse": lambda spark, sf_dir: _warehouse(spark),
    "ship_mode": lambda spark, sf_dir: _ship_mode(spark),
    "call_center": lambda spark, sf_dir: _call_center(spark),
    "web_site": lambda spark, sf_dir: _web_site(spark),
    "web_page": lambda spark, sf_dir: _web_page(spark),
    "catalog_page": lambda spark, sf_dir: _catalog_page(spark),
    "inventory": _inventory,
}


# Materialized star schema: the reference's harness never derives its tables
# at query time — scripts/convert_tpcds_to_orc.py materializes the star
# schema to ORC once and tpcds_bench registers the FILES
# (src/bin/tpcds_bench.rs:590-614). Likewise each derived table is written
# to ORC once per process (``materialized_dir``) and queries scan the files:
# the per-query cost of re-deriving facts from lineitem/orders disappears
# (tpcds_q14 warm: ~4.4s derived -> ~1.5-2.6s materialized at sf0.1), scans
# get ORC pushdown/pruning, and the builders run exactly once per table.
def _register_tpcds_views(
    spark: SparkSession, sf_dir: str, only: set[str] | None = None
) -> None:
    for name in _TPCDS_TABLES:
        if only is None or name in only:
            path = materialized_dir(
                sf_dir,
                f"tpcds/{name}",
                lambda out: _TPCDS_TABLES[name](spark, sf_dir)
                .write.mode("overwrite")
                .orc(out),
            )
            spark.read.orc(path).createOrReplaceTempView(name)


# --------------------------------------------------------------- DuckDB side
# The same six tables as a CTE prefix over the registered testdata views —
# semantically identical to the Spark builders above, expression by
# expression (exact integer/string/decimal ops; no FP rounding anywhere).
_DDB_DIMS = f"""
date_dim AS (
    SELECT datediff('day', DATE '{_EPOCH}', d_date) AS d_date_sk, d_date,
           year(d_date) AS d_year, month(d_date) AS d_moy,
           day(d_date) AS d_dom,
           quarter(d_date) AS d_qoy,
           (year(d_date) - 1990) * 12 + month(d_date) - 1 AS d_month_seq,
           CAST(floor((datediff('day', DATE '{_EPOCH}', d_date) + 1) / 7) AS INTEGER)
               AS d_week_seq,
           (datediff('day', DATE '{_EPOCH}', d_date) + 1) % 7 AS d_dow,
           dayname(d_date) AS d_day_name,
           CAST(year(d_date) AS VARCHAR) || 'Q' || CAST(quarter(d_date) AS VARCHAR)
               AS d_quarter_name
    FROM (SELECT CAST(UNNEST(generate_series(DATE '1995-01-01',
                                             DATE '2002-12-31',
                                             INTERVAL 1 DAY)) AS DATE) AS d_date)
),
item AS (
    SELECT p_partkey AS i_item_sk,
           'ITEM_' || CAST(p_partkey AS VARCHAR) AS i_item_id,
           p_name || ' #' || CAST(p_partkey AS VARCHAR) AS i_item_desc,
           p_name || ' #' || CAST(p_partkey AS VARCHAR) AS i_product_name,
           p_brand AS i_brand,
           CAST(regexp_extract(p_brand, '([0-9]+)$', 1) AS INTEGER) AS i_brand_id,
           split_part(p_name, ' ', 2) AS i_class,
           CAST(ascii(split_part(p_name, ' ', 2)) * 100
                + length(split_part(p_name, ' ', 2)) AS INTEGER) AS i_class_id,
           split_part(p_name, ' ', 1) AS i_color,
           p_type AS i_category,
           CAST(ascii(p_type) * 100 + length(p_type) AS INTEGER) AS i_category_id,
           CAST(p_partkey % 100 AS INTEGER) AS i_manufact_id,
           'Manufact#' || CAST(p_partkey % 100 AS VARCHAR) AS i_manufact,
           CAST(p_partkey % 50 AS INTEGER) AS i_manager_id,
           CAST(p_retailprice - 850 AS DECIMAL(12,2)) AS i_current_price,
           CAST(p_retailprice - 880 AS DECIMAL(12,2)) AS i_wholesale_cost,
           ['petite','small','medium','large','extra large','N/A']
               [CAST(p_size % 6 AS INTEGER) + 1] AS i_size,
           ['Unknown','Each','Dozen','Case','Bunch','Ounce','Ton','Gram']
               [CAST(p_partkey % 8 AS INTEGER) + 1] AS i_units,
           'Unknown' AS i_container
    FROM part
),
customer AS (
    -- main. qualifier: the CTE name shadows the registered testdata view
    SELECT c_custkey AS c_customer_sk, c_name AS c_customer_id,
           c_custkey AS c_current_addr_sk,
           'First_' || CAST(c_custkey % 97 AS VARCHAR) AS c_first_name,
           'Last_' || CAST(c_custkey % 89 AS VARCHAR) AS c_last_name,
           ['Mr.','Mrs.','Ms.','Dr.','Miss','Sir']
               [CAST(c_custkey % 6 AS INTEGER) + 1] AS c_salutation,
           CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END
               AS c_preferred_cust_flag,
           c_custkey AS c_current_cdemo_sk,
           c_custkey % 720 AS c_current_hdemo_sk,
           (c_custkey % 12) + 1 AS c_birth_month,
           1930 + c_custkey % 60 AS c_birth_year,
           (c_custkey % 28) + 1 AS c_birth_day,
           ['UNITED STATES','CANADA','MEXICO','FRANCE','GERMANY','JAPAN','BRAZIL']
               [CAST(c_custkey % 7 AS INTEGER) + 1] AS c_birth_country,
           'login_' || CAST(c_custkey AS VARCHAR) AS c_login,
           'Customer_' || CAST(c_custkey AS VARCHAR) || '@example.com'
               AS c_email_address,
           2000 + c_custkey % 1000 AS c_last_review_date_sk,
           1900 + c_custkey % 1500 AS c_first_sales_date_sk,
           1930 + c_custkey % 1500 AS c_first_shipto_date_sk
    FROM main.customer
),
customer_address AS (
    SELECT c_custkey AS ca_address_sk,
           ['TN','SD','AL','GA','KY','CA','WA']
               [CAST(c_nationkey % 7 AS INTEGER) + 1] AS ca_state,
           CAST(10000 + (c_custkey * 7) % 700 AS VARCHAR) AS ca_zip,
           'city_' || CAST((c_custkey * 13) % 97 AS VARCHAR) AS ca_city,
           ['Williamson County','Ziebach County','Walker County',
            'Daviess County','Barrow County']
               [CAST(c_custkey % 5 AS INTEGER) + 1] AS ca_county,
           -5 AS ca_gmt_offset,
           'United States' AS ca_country,
           CAST(100 + c_custkey % 900 AS VARCHAR) AS ca_street_number,
           [{", ".join("'%s'" % c for c in _CITIES)}]
               [CAST(c_custkey % 10 AS INTEGER) + 1] AS ca_street_name,
           'Street' AS ca_street_type,
           'Suite ' || CAST(c_custkey % 100 AS VARCHAR) AS ca_suite_number,
           CASE WHEN c_custkey % 3 = 0 THEN 'apartment'
                ELSE 'single family' END AS ca_location_type
    FROM main.customer
),
store AS (
    SELECT n_nationkey AS s_store_sk,
           'store_' || CAST(n_nationkey AS VARCHAR) AS s_store_id,
           'Store_' || n_name AS s_store_name,
           CAST(10000 + (n_nationkey * 7 * 37) % 700 AS VARCHAR) AS s_zip,
           n_nationkey % 10 AS s_market_id,
           ['{_STATES[0]}','{_STATES[1]}','{_STATES[2]}','{_STATES[3]}','{_STATES[4]}']
               [CAST(n_nationkey % 5 AS INTEGER) + 1] AS s_state,
           [{", ".join("'%s'" % c for c in _CITIES)}]
               [CAST(n_nationkey % 10 AS INTEGER) + 1] AS s_city,
           [{", ".join("'%s'" % c for c in _COUNTIES)}]
               [CAST(n_nationkey % 5 AS INTEGER) + 1] AS s_county,
           -5 AS s_gmt_offset,
           200 + n_nationkey * 5 AS s_number_employees,
           'Unknown' AS s_company_name,
           1 AS s_company_id,
           CAST(100 + n_nationkey AS VARCHAR) AS s_street_number,
           [{", ".join("'%s'" % c for c in _CITIES)}]
               [CAST(n_nationkey % 10 AS INTEGER) + 1] AS s_street_name,
           'Street' AS s_street_type,
           'Suite ' || CAST(n_nationkey * 10 AS VARCHAR) AS s_suite_number
    FROM nation
),
store_sales AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS ss_sold_date_sk,
           l_partkey AS ss_item_sk,
           CASE WHEN o_custkey % 40 = 0 THEN NULL ELSE o_custkey END
               AS ss_customer_sk,
           CASE WHEN (l_orderkey + l_suppkey) % 43 = 0 THEN NULL
                ELSE l_suppkey % 25 END AS ss_store_sk,
           l_orderkey AS ss_ticket_number,
           CAST(l_quantity AS INTEGER) AS ss_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS ss_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS ss_ext_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(l_discount AS DECIMAL(6,4)) - CAST(0.05 AS DECIMAL(6,4)))
               AS ss_net_profit,
           o_custkey + l_linenumber - 1 AS ss_cdemo_sk,
           (l_orderkey + l_linenumber * 13) % 100 AS ss_promo_sk,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS ss_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS ss_coupon_amt,
           o_custkey + (CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE 0 END)
               AS ss_addr_sk,
           o_custkey % {_HD_ROWS} AS ss_hdemo_sk,
           (l_orderkey * 7919 + l_linenumber * 86393) % 86400 AS ss_sold_time_sk,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS ss_ext_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_tax AS DECIMAL(6,4)) AS ss_ext_tax,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS ss_ext_wholesale_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS ss_ext_discount_amt,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS ss_net_paid,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS ss_wholesale_cost
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE (l_orderkey + l_linenumber) % 3 = 2
),
household_demographics AS (
    SELECT i AS hd_demo_sk,
           ['{_HD_BUY_POTENTIAL[0]}','{_HD_BUY_POTENTIAL[1]}','{_HD_BUY_POTENTIAL[2]}',
            '{_HD_BUY_POTENTIAL[3]}','{_HD_BUY_POTENTIAL[4]}','{_HD_BUY_POTENTIAL[5]}']
               [CAST(i % 6 AS INTEGER) + 1] AS hd_buy_potential,
           i % 10 AS hd_dep_count,
           i % 5 AS hd_vehicle_count,
           i % 20 AS hd_income_band_sk
    FROM (SELECT UNNEST(generate_series(0, {_HD_ROWS - 1})) AS i)
),
income_band AS (
    SELECT i AS ib_income_band_sk,
           i * 10000 AS ib_lower_bound,
           i * 10000 + 9999 AS ib_upper_bound
    FROM (SELECT UNNEST(generate_series(0, 19)) AS i)
),
time_dim AS (
    SELECT i AS t_time_sk,
           i AS t_time,
           CAST(floor(i / 3600) AS INTEGER) AS t_hour,
           CAST(floor((i % 3600) / 60) AS INTEGER) AS t_minute,
           CASE WHEN floor(i / 3600) BETWEEN 6 AND 8 THEN 'breakfast'
                WHEN floor(i / 3600) BETWEEN 18 AND 20 THEN 'dinner'
                ELSE NULL END AS t_meal_time
    FROM (SELECT UNNEST(generate_series(0, 86399)) AS i)
),
web_sales AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS ws_sold_date_sk,
           l_partkey AS ws_item_sk,
           o_custkey AS ws_bill_customer_sk,
           o_custkey AS ws_bill_addr_sk,
           (l_orderkey + l_linenumber * 13) % 100 AS ws_promo_sk,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS ws_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS ws_ext_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS ws_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS ws_ext_discount_amt,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS ws_net_paid,
           (l_orderkey * 7919 + l_linenumber * 86393) % 86400 AS ws_sold_time_sk,
           CASE WHEN (l_orderkey + l_linenumber) % 37 = 0 THEN NULL
                ELSE o_custkey END AS ws_ship_customer_sk,
           CAST(l_quantity AS INTEGER) AS ws_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(l_discount AS DECIMAL(6,4)) - CAST(0.05 AS DECIMAL(6,4)))
               AS ws_net_profit,
           l_orderkey AS ws_order_number,
           l_suppkey % 5 AS ws_warehouse_sk,
           datediff('day', DATE '{_EPOCH}', CAST(l_shipdate AS DATE)) AS ws_ship_date_sk,
           o_custkey AS ws_ship_addr_sk,
           (l_orderkey + l_linenumber * 7) % 20 AS ws_web_page_sk,
           l_suppkey % 10 AS ws_web_site_sk,
           o_custkey % {_HD_ROWS} AS ws_ship_hdemo_sk,
           (l_orderkey + l_suppkey) % 20 AS ws_ship_mode_sk,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS ws_ext_wholesale_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS ws_wholesale_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS ws_ext_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_tax AS DECIMAL(6,4)) AS ws_ext_ship_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS ws_net_paid_inc_tax
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE (l_orderkey + l_linenumber) % 3 = 0
       OR ((l_orderkey + l_linenumber) % 3 = 2 AND o_custkey % 7 = 3)
),
catalog_sales AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS cs_sold_date_sk,
           l_partkey AS cs_item_sk,
           o_custkey AS cs_bill_customer_sk,
           o_custkey AS cs_bill_cdemo_sk,
           o_custkey % {_HD_ROWS} AS cs_bill_hdemo_sk,
           o_custkey AS cs_bill_addr_sk,
           (l_orderkey + l_linenumber * 13) % 100 AS cs_promo_sk,
           CAST(l_quantity AS INTEGER) AS cs_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS cs_ext_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS cs_sales_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS cs_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS cs_coupon_amt,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(l_discount AS DECIMAL(6,4)) - CAST(0.05 AS DECIMAL(6,4)))
               AS cs_net_profit,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS cs_ext_discount_amt,
           (l_orderkey * 7919 + l_linenumber * 86393) % 86400 AS cs_sold_time_sk,
           CASE WHEN (l_orderkey + l_linenumber) % 41 = 0 THEN NULL
                ELSE o_custkey END AS cs_ship_addr_sk,
           l_orderkey AS cs_order_number,
           l_suppkey % 5 AS cs_warehouse_sk,
           datediff('day', DATE '{_EPOCH}', CAST(l_shipdate AS DATE)) AS cs_ship_date_sk,
           (l_orderkey + l_suppkey) % 20 AS cs_ship_mode_sk,
           o_custkey % 6 AS cs_call_center_sk,
           (l_orderkey + l_linenumber * 11) % {_CP_ROWS} AS cs_catalog_page_sk,
           o_custkey AS cs_ship_customer_sk,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_tax AS DECIMAL(6,4)) AS cs_ext_ship_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS cs_ext_wholesale_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_tax AS DECIMAL(6,4)) AS cs_wholesale_cost,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS cs_ext_list_price,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS cs_net_paid,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS cs_net_paid_inc_tax
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE (l_orderkey + l_linenumber) % 3 = 1
       OR ((l_orderkey + l_linenumber) % 3 = 2 AND o_custkey % 5 = 0)
),
customer_demographics AS (
    SELECT c_custkey AS cd_demo_sk,
           CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
           ['M','S','D','W','U'][CAST(c_custkey % 5 AS INTEGER) + 1]
               AS cd_marital_status,
           ['Primary','Secondary','College','2 yr Degree','4 yr Degree',
            'Advanced Degree','Unknown'][CAST(c_custkey % 7 AS INTEGER) + 1]
               AS cd_education_status,
           ((c_custkey * 7) % 20) * 500 + 500 AS cd_purchase_estimate,
           ['Low Risk','Good','High Risk','Unknown']
               [CAST(c_custkey % 4 AS INTEGER) + 1] AS cd_credit_rating,
           c_custkey % 7 AS cd_dep_count,
           (c_custkey * 3) % 7 AS cd_dep_employed_count,
           (c_custkey * 5) % 7 AS cd_dep_college_count
    FROM main.customer
),
promotion AS (
    SELECT i AS p_promo_sk,
           CASE WHEN i % 2 = 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
           CASE WHEN i % 3 = 0 THEN 'N' ELSE 'Y' END AS p_channel_event,
           CASE WHEN i % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
           CASE WHEN i % 7 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
    FROM (SELECT UNNEST(generate_series(0, 99)) AS i)
),
reason AS (
    SELECT i AS r_reason_sk,
           'reason ' || CAST(i AS VARCHAR) AS r_reason_desc
    FROM (SELECT UNNEST(generate_series(0, 9)) AS i)
),
store_returns AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(l_shipdate AS DATE)) AS sr_returned_date_sk,
           l_partkey AS sr_item_sk,
           o_custkey AS sr_customer_sk,
           l_suppkey % 25 AS sr_store_sk,
           l_orderkey AS sr_ticket_number,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS sr_return_amt,
           CAST(floor(l_quantity / 2) AS INTEGER) AS sr_return_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(0.1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))
               AS sr_net_loss,
           l_linenumber % 10 AS sr_reason_sk,
           o_custkey AS sr_cdemo_sk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R' AND (l_orderkey + l_linenumber) % 3 = 2
),
web_returns AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(l_shipdate AS DATE)) AS wr_returned_date_sk,
           l_partkey AS wr_item_sk,
           l_orderkey AS wr_order_number,
           o_custkey AS wr_returning_customer_sk,
           o_custkey AS wr_refunded_customer_sk,
           o_custkey AS wr_returning_addr_sk,
           o_custkey AS wr_refunded_addr_sk,
           o_custkey AS wr_returning_cdemo_sk,
           o_custkey AS wr_refunded_cdemo_sk,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS wr_return_amt,
           CAST(floor(l_quantity / 2) AS INTEGER) AS wr_return_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(0.1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))
               AS wr_net_loss,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(6,4)) AS wr_refunded_cash,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS wr_fee,
           l_linenumber % 10 AS wr_reason_sk,
           (l_orderkey + l_linenumber * 7) % 20 AS wr_web_page_sk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND ((l_orderkey + l_linenumber) % 3 = 0
           OR ((l_orderkey + l_linenumber) % 3 = 2 AND o_custkey % 7 = 3))
),
catalog_returns AS (
    SELECT datediff('day', DATE '{_EPOCH}', CAST(l_shipdate AS DATE)) AS cr_returned_date_sk,
           l_partkey AS cr_item_sk,
           l_orderkey AS cr_order_number,
           o_custkey AS cr_returning_customer_sk,
           o_custkey AS cr_refunded_customer_sk,
           o_custkey AS cr_returning_addr_sk,
           o_custkey AS cr_refunded_addr_sk,
           o_custkey AS cr_returning_cdemo_sk,
           o_custkey AS cr_refunded_cdemo_sk,
           CAST(l_extendedprice AS DECIMAL(12,2)) AS cr_return_amount,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 + l_tax AS DECIMAL(6,4)) AS cr_return_amt_inc_tax,
           CAST(floor(l_quantity / 2) AS INTEGER) AS cr_return_quantity,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(0.1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))
               AS cr_net_loss,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(0.45 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
               AS cr_refunded_cash,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(6,4)) AS cr_fee,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_tax AS DECIMAL(6,4)) AS cr_reversed_charge,
           CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(0.05 AS DECIMAL(6,4)) AS cr_store_credit,
           l_linenumber % 10 AS cr_reason_sk,
           o_custkey % 6 AS cr_call_center_sk,
           (l_orderkey + l_linenumber * 11) % {_CP_ROWS} AS cr_catalog_page_sk,
           l_suppkey % 5 AS cr_warehouse_sk
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND ((l_orderkey + l_linenumber) % 3 = 1
           OR ((l_orderkey + l_linenumber) % 3 = 2 AND o_custkey % 5 = 0))
),
warehouse AS (
    SELECT i AS w_warehouse_sk,
           'Warehouse_' || CAST(i AS VARCHAR) AS w_warehouse_name,
           (i + 1) * 10000 AS w_warehouse_sq_ft,
           [{", ".join("'%s'" % c for c in _CITIES)}]
               [CAST(i % 10 AS INTEGER) + 1] AS w_city,
           [{", ".join("'%s'" % c for c in _COUNTIES)}]
               [CAST(i % 5 AS INTEGER) + 1] AS w_county,
           ['{_STATES[0]}','{_STATES[1]}','{_STATES[2]}','{_STATES[3]}','{_STATES[4]}']
               [CAST(i % 5 AS INTEGER) + 1] AS w_state,
           'United States' AS w_country
    FROM (SELECT UNNEST(generate_series(0, 4)) AS i)
),
ship_mode AS (
    SELECT i AS sm_ship_mode_sk,
           ['EXPRESS','AIR','SURFACE','SEA','OVERNIGHT']
               [CAST(i % 5 AS INTEGER) + 1] AS sm_type,
           ['UPS','FEDEX','DHL','USPS'][CAST(i % 4 AS INTEGER) + 1] AS sm_carrier,
           'code_' || CAST(i AS VARCHAR) AS sm_code
    FROM (SELECT UNNEST(generate_series(0, 19)) AS i)
),
call_center AS (
    SELECT i AS cc_call_center_sk,
           'cc_' || CAST(i AS VARCHAR) AS cc_call_center_id,
           'CallCenter_' || CAST(i AS VARCHAR) AS cc_name,
           'Manager_' || CAST(i AS VARCHAR) AS cc_manager,
           [{", ".join("'%s'" % c for c in _COUNTIES)}]
               [CAST(i % 5 AS INTEGER) + 1] AS cc_county
    FROM (SELECT UNNEST(generate_series(0, 5)) AS i)
),
web_site AS (
    SELECT i AS web_site_sk,
           'site_' || CAST(i AS VARCHAR) AS web_site_id,
           'site_' || CAST(i AS VARCHAR) AS web_name,
           'pri' AS web_company_name
    FROM (SELECT UNNEST(generate_series(0, 9)) AS i)
),
web_page AS (
    SELECT i AS wp_web_page_sk, 2500 + i * 100 AS wp_char_count
    FROM (SELECT UNNEST(generate_series(0, 19)) AS i)
),
catalog_page AS (
    SELECT i AS cp_catalog_page_sk,
           'page_' || CAST(i AS VARCHAR) AS cp_catalog_page_id,
           ['monthly','quarterly','bi-annual'][CAST(i % 3 AS INTEGER) + 1] AS cp_type
    FROM (SELECT UNNEST(generate_series(0, {_CP_ROWS - 1})) AS i)
),
inventory AS (
    SELECT p_partkey AS inv_item_sk,
           w AS inv_warehouse_sk,
           datediff('day', DATE '{_EPOCH}', DATE '1997-01-05') + wk * 7
               AS inv_date_sk,
           CAST(CASE WHEN (p_partkey * 31 + w * 17 + wk * 7) % 5 = 0
                     THEN ((p_partkey * 31 + w * 17 + wk * 7) * 7919) % 5000
                     ELSE ((p_partkey * 31 + w * 17 + wk * 7) * 104729) % 50
                END AS INTEGER) AS inv_quantity_on_hand
    FROM part,
         (SELECT UNNEST(generate_series(0, 4)) AS w),
         (SELECT UNNEST(generate_series(0, 51)) AS wk)
)
"""


# q18's template re-CASTs the catalog price columns to DECIMAL(12,2) inside
# AVG; on halfway cents (scale-6 products ending .xx5000) Spark's cast rounds
# HALF_UP (away from zero) while DuckDB's rounds HALF_EVEN — a genuine engine
# divergence the output wrapper cannot repair. The q18 oracle therefore runs
# over dims whose four affected columns are pre-rounded with DuckDB's
# round(x, 2) — which IS half-away-from-zero, i.e. exactly Spark's cast — so
# the verbatim in-template cast becomes a no-op on both engines. The Spark
# side is untouched.
import re as _re

_DDB_DIMS_CS_HALFUP = _DDB_DIMS
for _col, _expr in (
    ("cs_sales_price", r"CAST\(1 - l_discount AS DECIMAL\(6,4\)\)"),
    ("cs_list_price", r"CAST\(1 \+ l_tax AS DECIMAL\(6,4\)\)"),
    ("cs_coupon_amt", r"CAST\(l_discount AS DECIMAL\(6,4\)\)"),
    (
        "cs_net_profit",
        r"\(CAST\(l_discount AS DECIMAL\(6,4\)\) - CAST\(0.05 AS DECIMAL\(6,4\)\)\)",
    ),
):
    _pat = (
        r"CAST\(l_extendedprice AS DECIMAL\(12,2\)\)\s*\*\s*"
        + _expr
        + r"\s*AS "
        + _col
    )
    _new, _n = _re.subn(
        _pat,
        lambda m: "round(" + m.group(0)[: -len(" AS " + _col)] + ", 2) AS " + _col,
        _DDB_DIMS_CS_HALFUP,
    )
    assert _n == 1, f"halfup rewrite missed {_col}"
    _DDB_DIMS_CS_HALFUP = _new


# ------------------------------------------------------- verbatim templates
# Public TPC-DS query templates with parameters bound to values the derived
# data contains (year/month/state/manufact/manager/month_seq); the template
# text itself is untouched and parses identically in Spark SQL and DuckDB.
_Q1 = """
WITH customer_total_return AS (
    SELECT sr_customer_sk AS ctr_customer_sk,
           sr_store_sk AS ctr_store_sk,
           SUM(sr_return_amt) AS ctr_total_return
    FROM store_returns, date_dim
    WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
    GROUP BY sr_customer_sk, sr_store_sk
)
SELECT c_customer_id
FROM customer_total_return ctr1, store, customer
WHERE ctr1.ctr_total_return > (SELECT AVG(ctr_total_return) * 1.2
                               FROM customer_total_return ctr2
                               WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  AND s_store_sk = ctr1.ctr_store_sk
  AND s_state = 'TN'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id
LIMIT 100
"""

_Q3 = """
SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       SUM(ss_ext_sales_price) sum_agg
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 28
  AND dt.d_moy = 11
GROUP BY dt.d_year, item.i_brand_id, item.i_brand
ORDER BY dt.d_year, sum_agg DESC, brand_id
LIMIT 100
"""

_Q55 = """
SELECT i_brand_id brand_id, i_brand brand,
       SUM(ss_ext_sales_price) ext_price
FROM date_dim, store_sales, item
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 28
  AND d_moy = 11
  AND d_year = 1999
GROUP BY i_brand_id, i_brand
ORDER BY ext_price DESC, brand_id
LIMIT 100
"""

_Q6 = """
SELECT a.ca_state state, COUNT(*) cnt
FROM customer_address a, customer c, store_sales s, date_dim d, item i
WHERE a.ca_address_sk = c.c_current_addr_sk
  AND c.c_customer_sk = s.ss_customer_sk
  AND s.ss_sold_date_sk = d.d_date_sk
  AND s.ss_item_sk = i.i_item_sk
  AND d.d_month_seq = (SELECT DISTINCT d_month_seq FROM date_dim
                       WHERE d_year = 2001 AND d_moy = 1)
  AND i.i_current_price > 1.2 * (SELECT AVG(j.i_current_price)
                                 FROM item j
                                 WHERE j.i_category = i.i_category)
GROUP BY a.ca_state
HAVING COUNT(*) >= 10
ORDER BY cnt
LIMIT 100
"""

_Q19 = """
SELECT i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
       SUM(ss_ext_sales_price) ext_price
FROM date_dim, store_sales, item, customer, customer_address, store
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 8
  AND d_moy = 11
  AND d_year = 1998
  AND ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
  AND ss_store_sk = s_store_sk
GROUP BY i_brand_id, i_brand, i_manufact_id, i_manufact
ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
LIMIT 100
"""

_Q44 = """
SELECT asceding.rnk, i1.i_product_name best_performing,
       i2.i_product_name worst_performing
FROM (SELECT *
      FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col ASC) rnk
            FROM (SELECT ss_item_sk item_sk, AVG(ss_net_profit) rank_col
                  FROM store_sales ss1
                  WHERE ss_store_sk = 4
                  GROUP BY ss_item_sk
                  HAVING AVG(ss_net_profit) > 0.9 * (SELECT AVG(ss_net_profit) rank_col
                                                     FROM store_sales
                                                     WHERE ss_store_sk = 4
                                                       AND ss_customer_sk IS NULL
                                                     GROUP BY ss_store_sk)) V1) V11
      WHERE rnk < 11) asceding,
     (SELECT *
      FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC) rnk
            FROM (SELECT ss_item_sk item_sk, AVG(ss_net_profit) rank_col
                  FROM store_sales ss1
                  WHERE ss_store_sk = 4
                  GROUP BY ss_item_sk
                  HAVING AVG(ss_net_profit) > 0.9 * (SELECT AVG(ss_net_profit) rank_col
                                                     FROM store_sales
                                                     WHERE ss_store_sk = 4
                                                       AND ss_customer_sk IS NULL
                                                     GROUP BY ss_store_sk)) V2) V21
      WHERE rnk < 11) descending,
     item i1, item i2
WHERE asceding.rnk = descending.rnk
  AND i1.i_item_sk = asceding.item_sk
  AND i2.i_item_sk = descending.item_sk
ORDER BY asceding.rnk
"""

_Q52 = """
SELECT dt.d_year, item.i_brand_id brand_id, item.i_brand brand,
       SUM(ss_ext_sales_price) ext_price
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 2000
GROUP BY dt.d_year, item.i_brand_id, item.i_brand
ORDER BY dt.d_year, ext_price DESC, brand_id
LIMIT 100
"""

_Q65 = """
SELECT s_store_name, i_item_desc, sc.revenue, i_current_price,
       i_wholesale_cost, i_brand
FROM store, item,
     (SELECT ss_store_sk, AVG(revenue) AS ave
      FROM (SELECT ss_store_sk, ss_item_sk, SUM(ss_sales_price) AS revenue
            FROM store_sales, date_dim
            WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 120 AND 131
            GROUP BY ss_store_sk, ss_item_sk) sa
      GROUP BY ss_store_sk) sb,
     (SELECT ss_store_sk, ss_item_sk, SUM(ss_sales_price) AS revenue
      FROM store_sales, date_dim
      WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 120 AND 131
      GROUP BY ss_store_sk, ss_item_sk) sc
WHERE sb.ss_store_sk = sc.ss_store_sk
  AND sc.revenue <= 0.1 * sb.ave
  AND s_store_sk = sc.ss_store_sk
  AND i_item_sk = sc.ss_item_sk
ORDER BY s_store_name, i_item_desc
LIMIT 100
"""

_Q98 = """
SELECT i_item_desc, i_category, i_class, i_current_price,
       SUM(ss_ext_sales_price) AS itemrevenue,
       SUM(ss_ext_sales_price) * 100 / SUM(SUM(ss_ext_sales_price))
           OVER (PARTITION BY i_class) AS revenueratio
FROM store_sales, item, date_dim
WHERE ss_item_sk = i_item_sk
  AND i_category IN ('ECONOMY', 'PROMO', 'STANDARD')
  AND ss_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                 AND (CAST('1999-02-22' AS DATE) + 30)
GROUP BY i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category, i_class, i_item_desc, revenueratio
"""

_Q7 = """
SELECT i_item_id,
       AVG(ss_quantity) agg1,
       AVG(ss_list_price) agg2,
       AVG(ss_coupon_amt) agg3,
       AVG(ss_sales_price) agg4
FROM store_sales, customer_demographics, date_dim, item, promotion
WHERE ss_sold_date_sk = d_date_sk
  AND ss_item_sk = i_item_sk
  AND ss_cdemo_sk = cd_demo_sk
  AND ss_promo_sk = p_promo_sk
  AND cd_gender = 'M'
  AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N')
  AND d_year = 2000
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100
"""

_Q12 = """
SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
       SUM(ws_ext_sales_price) AS itemrevenue,
       SUM(ws_ext_sales_price) * 100 / SUM(SUM(ws_ext_sales_price))
           OVER (PARTITION BY i_class) AS revenueratio
FROM web_sales, item, date_dim
WHERE ws_item_sk = i_item_sk
  AND i_category IN ('ECONOMY', 'PROMO', 'STANDARD')
  AND ws_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                 AND (CAST('1999-02-22' AS DATE) + 30)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
LIMIT 100
"""

_Q15 = """
SELECT ca_zip, SUM(cs_sales_price) AS sum_sales
FROM catalog_sales, customer, customer_address, date_dim
WHERE cs_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND (substr(ca_zip, 1, 5) IN ('10007', '10014', '10021', '10028', '10035',
                                '10042', '10049', '10056', '10063')
       OR ca_state IN ('CA', 'WA', 'GA')
       OR cs_sales_price > 500)
  AND cs_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip
ORDER BY ca_zip
LIMIT 100
"""

_Q20 = """
SELECT i_item_id, i_item_desc, i_category, i_class, i_current_price,
       SUM(cs_ext_sales_price) AS itemrevenue,
       SUM(cs_ext_sales_price) * 100 / SUM(SUM(cs_ext_sales_price))
           OVER (PARTITION BY i_class) AS revenueratio
FROM catalog_sales, item, date_dim
WHERE cs_item_sk = i_item_sk
  AND i_category IN ('ECONOMY', 'PROMO', 'STANDARD')
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE)
                 AND (CAST('1999-02-22' AS DATE) + 30)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
LIMIT 100
"""

_Q36 = """
SELECT SUM(ss_net_profit) / SUM(ss_ext_sales_price) AS gross_margin,
       i_category, i_class,
       GROUPING(i_category) + GROUPING(i_class) AS lochierarchy,
       RANK() OVER (
           PARTITION BY GROUPING(i_category) + GROUPING(i_class),
                        CASE WHEN GROUPING(i_class) = 0 THEN i_category END
           ORDER BY SUM(ss_net_profit) / SUM(ss_ext_sales_price) ASC
       ) AS rank_within_parent
FROM store_sales, date_dim d1, item, store
WHERE d1.d_year = 1998
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND ss_store_sk = s_store_sk
  AND s_state IN ('TN', 'SD', 'AL', 'GA', 'KY', 'TN', 'SD', 'AL')
GROUP BY ROLLUP(i_category, i_class)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN i_category END,
         rank_within_parent
LIMIT 100
"""

_Q42 = """
SELECT dt.d_year, item.i_category_id, item.i_category,
       SUM(ss_ext_sales_price) AS sum_sales
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 2000
GROUP BY dt.d_year, item.i_category_id, item.i_category
ORDER BY SUM(ss_ext_sales_price) DESC, dt.d_year, item.i_category_id, item.i_category
LIMIT 100
"""

_Q43 = """
SELECT s_store_name, s_store_id,
       SUM(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price ELSE null END) sun_sales,
       SUM(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price ELSE null END) mon_sales,
       SUM(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price ELSE null END) tue_sales,
       SUM(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price ELSE null END) wed_sales,
       SUM(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price ELSE null END) thu_sales,
       SUM(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price ELSE null END) fri_sales,
       SUM(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price ELSE null END) sat_sales
FROM date_dim, store_sales, store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_gmt_offset = -5
  AND d_year = 2000
GROUP BY s_store_name, s_store_id
ORDER BY s_store_name, s_store_id, sun_sales, mon_sales, tue_sales, wed_sales,
         thu_sales, fri_sales, sat_sales
LIMIT 100
"""

# q59's seven week-over-week ratio columns are unaliased in the published
# template; the r1..r7 aliases below are part of the thin type-normalizing
# convention (the wrapper must be able to reference them) and change no
# values. Parameter: d_month_seq 108..119 = calendar 1999, +12 = 2000.
_Q59 = """
WITH wss AS (
    SELECT d_week_seq, ss_store_sk,
           SUM(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price ELSE null END) sun_sales,
           SUM(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price ELSE null END) mon_sales,
           SUM(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price ELSE null END) tue_sales,
           SUM(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price ELSE null END) wed_sales,
           SUM(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price ELSE null END) thu_sales,
           SUM(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price ELSE null END) fri_sales,
           SUM(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price ELSE null END) sat_sales
    FROM store_sales, date_dim
    WHERE d_date_sk = ss_sold_date_sk
    GROUP BY d_week_seq, ss_store_sk
)
SELECT s_store_name1, s_store_id1, d_week_seq1,
       sun_sales1 / sun_sales2 AS r1, mon_sales1 / mon_sales2 AS r2,
       tue_sales1 / tue_sales2 AS r3, wed_sales1 / wed_sales2 AS r4,
       thu_sales1 / thu_sales2 AS r5, fri_sales1 / fri_sales2 AS r6,
       sat_sales1 / sat_sales2 AS r7
FROM (SELECT s_store_name s_store_name1, wss.d_week_seq d_week_seq1,
             s_store_id s_store_id1, sun_sales sun_sales1, mon_sales mon_sales1,
             tue_sales tue_sales1, wed_sales wed_sales1, thu_sales thu_sales1,
             fri_sales fri_sales1, sat_sales sat_sales1
      FROM wss, store, date_dim d
      WHERE d.d_week_seq = wss.d_week_seq
        AND ss_store_sk = s_store_sk
        AND d_month_seq BETWEEN 108 AND 108 + 11) y,
     (SELECT s_store_name s_store_name2, wss.d_week_seq d_week_seq2,
             s_store_id s_store_id2, sun_sales sun_sales2, mon_sales mon_sales2,
             tue_sales tue_sales2, wed_sales wed_sales2, thu_sales thu_sales2,
             fri_sales fri_sales2, sat_sales sat_sales2
      FROM wss, store, date_dim d
      WHERE d.d_week_seq = wss.d_week_seq
        AND ss_store_sk = s_store_sk
        AND d_month_seq BETWEEN 108 + 12 AND 108 + 23) x
WHERE s_store_id1 = s_store_id2
  AND d_week_seq1 = d_week_seq2 - 52
ORDER BY s_store_name1, s_store_id1, d_week_seq1
LIMIT 100
"""

_Q25 = """
SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
       MAX(ss_net_profit) AS store_sales_profit,
       MAX(sr_net_loss) AS store_returns_loss,
       MAX(cs_net_profit) AS catalog_sales_profit
FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
WHERE d1.d_moy = 4
  AND d1.d_year = 2000
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_moy BETWEEN 4 AND 10
  AND d2.d_year = 2000
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_moy BETWEEN 4 AND 10
  AND d3.d_year = 2000
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""

_Q26 = """
SELECT i_item_id,
       AVG(cs_quantity) agg1,
       AVG(cs_list_price) agg2,
       AVG(cs_coupon_amt) agg3,
       AVG(cs_sales_price) agg4
FROM catalog_sales, customer_demographics, date_dim, item, promotion
WHERE cs_sold_date_sk = d_date_sk
  AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd_demo_sk
  AND cs_promo_sk = p_promo_sk
  AND cd_gender = 'M'
  AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N')
  AND d_year = 2000
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100
"""

_Q29 = """
SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
       MAX(ss_quantity) AS store_sales_quantity,
       MAX(sr_return_quantity) AS store_returns_quantity,
       MAX(cs_quantity) AS catalog_sales_quantity
FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
WHERE d1.d_moy = 4
  AND d1.d_year = 2000
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_moy BETWEEN 4 AND 4 + 3
  AND d2.d_year = 2000
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_year IN (2000, 2000 + 1, 2000 + 2)
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""

_Q33 = """
WITH ss AS (
    SELECT i_manufact_id, SUM(ss_ext_sales_price) total_sales
    FROM store_sales, date_dim, customer_address, item
    WHERE i_manufact_id IN (SELECT i_manufact_id FROM item
                            WHERE i_category IN ('ECONOMY'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 5
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_manufact_id
),
cs AS (
    SELECT i_manufact_id, SUM(cs_ext_sales_price) total_sales
    FROM catalog_sales, date_dim, customer_address, item
    WHERE i_manufact_id IN (SELECT i_manufact_id FROM item
                            WHERE i_category IN ('ECONOMY'))
      AND cs_item_sk = i_item_sk
      AND cs_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 5
      AND cs_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_manufact_id
),
ws AS (
    SELECT i_manufact_id, SUM(ws_ext_sales_price) total_sales
    FROM web_sales, date_dim, customer_address, item
    WHERE i_manufact_id IN (SELECT i_manufact_id FROM item
                            WHERE i_category IN ('ECONOMY'))
      AND ws_item_sk = i_item_sk
      AND ws_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 5
      AND ws_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_manufact_id
)
SELECT i_manufact_id, SUM(total_sales) total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY i_manufact_id
ORDER BY total_sales
LIMIT 100
"""

_Q45 = """
SELECT ca_zip, ca_city, SUM(ws_sales_price) AS sum_sales
FROM web_sales, customer, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (substr(ca_zip, 1, 5) IN ('10007', '10014', '10021', '10028', '10035',
                                '10042', '10049', '10056', '10063')
       OR i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100
"""

_Q56 = """
WITH ss AS (
    SELECT i_item_id, SUM(ss_ext_sales_price) total_sales
    FROM store_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_color IN ('blue', 'red', 'hot'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 2001
      AND d_moy = 2
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
),
cs AS (
    SELECT i_item_id, SUM(cs_ext_sales_price) total_sales
    FROM catalog_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_color IN ('blue', 'red', 'hot'))
      AND cs_item_sk = i_item_sk
      AND cs_sold_date_sk = d_date_sk
      AND d_year = 2001
      AND d_moy = 2
      AND cs_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
),
ws AS (
    SELECT i_item_id, SUM(ws_ext_sales_price) total_sales
    FROM web_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_color IN ('blue', 'red', 'hot'))
      AND ws_item_sk = i_item_sk
      AND ws_sold_date_sk = d_date_sk
      AND d_year = 2001
      AND d_moy = 2
      AND ws_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
)
SELECT i_item_id, SUM(total_sales) total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY total_sales
LIMIT 100
"""

_Q60 = """
WITH ss AS (
    SELECT i_item_id, SUM(ss_ext_sales_price) total_sales
    FROM store_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_category IN ('ECONOMY'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 1999
      AND d_moy = 9
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
),
cs AS (
    SELECT i_item_id, SUM(cs_ext_sales_price) total_sales
    FROM catalog_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_category IN ('ECONOMY'))
      AND cs_item_sk = i_item_sk
      AND cs_sold_date_sk = d_date_sk
      AND d_year = 1999
      AND d_moy = 9
      AND cs_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
),
ws AS (
    SELECT i_item_id, SUM(ws_ext_sales_price) total_sales
    FROM web_sales, date_dim, customer_address, item
    WHERE i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_category IN ('ECONOMY'))
      AND ws_item_sk = i_item_sk
      AND ws_sold_date_sk = d_date_sk
      AND d_year = 1999
      AND d_moy = 9
      AND ws_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
    GROUP BY i_item_id
)
SELECT i_item_id, SUM(total_sales) total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY i_item_id, total_sales
LIMIT 100
"""

# q68's published template selects the subquery columns unaliased where
# noted; like q59's ratio aliases, any added alias below is part of the thin
# normalizing convention and changes no values.
_Q68 = """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       extended_price, extended_tax, list_price
FROM (SELECT ss_ticket_number, ss_customer_sk, ca_city bought_city,
             SUM(ss_ext_sales_price) extended_price,
             SUM(ss_ext_list_price) list_price,
             SUM(ss_ext_tax) extended_tax
      FROM store_sales, date_dim, store, household_demographics, customer_address
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_store_sk = store.s_store_sk
        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        AND store_sales.ss_addr_sk = customer_address.ca_address_sk
        AND date_dim.d_dom BETWEEN 1 AND 2
        AND (household_demographics.hd_dep_count = 4
             OR household_demographics.hd_vehicle_count = 3)
        AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
        AND store.s_city IN ('Midway', 'Fairview')
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer, customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name, ss_ticket_number
LIMIT 100
"""

_Q73 = """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (SELECT ss_ticket_number, ss_customer_sk, COUNT(*) cnt
      FROM store_sales, date_dim, store, household_demographics
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_store_sk = store.s_store_sk
        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        AND date_dim.d_dom BETWEEN 1 AND 2
        AND (household_demographics.hd_buy_potential = '>10000'
             OR household_demographics.hd_buy_potential = 'Unknown')
        AND household_demographics.hd_vehicle_count > 0
        AND CASE WHEN household_demographics.hd_vehicle_count > 0
                 THEN household_demographics.hd_dep_count
                      / household_demographics.hd_vehicle_count
                 ELSE NULL END > 1
        AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
        AND store.s_county IN ('Williamson County', 'Ziebach County',
                               'Walker County', 'Daviess County')
      GROUP BY ss_ticket_number, ss_customer_sk) dj, customer
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 1 AND 5
ORDER BY cnt DESC, c_last_name ASC
"""

_Q79 = """
SELECT c_last_name, c_first_name, substr(s_city, 1, 30) AS city,
       ss_ticket_number, amt, profit
FROM (SELECT ss_ticket_number, ss_customer_sk, store.s_city,
             SUM(ss_coupon_amt) amt,
             SUM(ss_net_profit) profit
      FROM store_sales, date_dim, store, household_demographics
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_store_sk = store.s_store_sk
        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        AND (household_demographics.hd_dep_count = 6
             OR household_demographics.hd_vehicle_count > 2)
        AND date_dim.d_dow = 1
        AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
        AND store.s_number_employees BETWEEN 200 AND 295
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, store.s_city) ms,
     customer
WHERE ss_customer_sk = c_customer_sk
ORDER BY c_last_name, c_first_name, substr(s_city, 1, 30), profit
LIMIT 100
"""

_Q96 = """
SELECT COUNT(*) AS cnt
FROM store_sales, household_demographics, time_dim, store
WHERE ss_sold_time_sk = time_dim.t_time_sk
  AND ss_hdemo_sk = household_demographics.hd_demo_sk
  AND ss_store_sk = s_store_sk
  AND time_dim.t_hour = 20
  AND time_dim.t_minute >= 30
  AND household_demographics.hd_dep_count = 7
  AND store.s_store_name = 'Store_NATION_4'
ORDER BY COUNT(*)
LIMIT 100
"""

_Q13 = """
SELECT AVG(ss_quantity) AS avg_quantity,
       AVG(ss_ext_sales_price) AS avg_ext_sales_price,
       AVG(ss_ext_wholesale_cost) AS avg_ext_wholesale_cost,
       SUM(ss_ext_wholesale_cost) AS sum_ext_wholesale_cost
FROM store_sales, store, customer_demographics, household_demographics,
     customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_year = 2001
  AND ((ss_hdemo_sk = hd_demo_sk
        AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M'
        AND cd_education_status = 'Advanced Degree'
        AND ss_sales_price BETWEEN 100.00 AND 150.00
        AND hd_dep_count = 3)
       OR (ss_hdemo_sk = hd_demo_sk
           AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'S'
           AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 50.00 AND 100.00
           AND hd_dep_count = 1)
       OR (ss_hdemo_sk = hd_demo_sk
           AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'W'
           AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 150.00 AND 200.00
           AND hd_dep_count = 1))
  AND ((ss_addr_sk = ca_address_sk
        AND ca_country = 'United States'
        AND ca_state IN ('CA', 'TN', 'WA')
        AND ss_net_profit BETWEEN 100 AND 200)
       OR (ss_addr_sk = ca_address_sk
           AND ca_country = 'United States'
           AND ca_state IN ('SD', 'AL', 'GA')
           AND ss_net_profit BETWEEN 150 AND 300)
       OR (ss_addr_sk = ca_address_sk
           AND ca_country = 'United States'
           AND ca_state IN ('KY', 'CA', 'SD')
           AND ss_net_profit BETWEEN 50 AND 250))
"""

_Q27 = """
SELECT i_item_id, s_state, GROUPING(s_state) g_state,
       AVG(ss_quantity) agg1,
       AVG(ss_list_price) agg2,
       AVG(ss_coupon_amt) agg3,
       AVG(ss_sales_price) agg4
FROM store_sales, customer_demographics, date_dim, store, item
WHERE ss_sold_date_sk = d_date_sk
  AND ss_item_sk = i_item_sk
  AND ss_store_sk = s_store_sk
  AND ss_cdemo_sk = cd_demo_sk
  AND cd_gender = 'M'
  AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND d_year = 2000
  AND s_state IN ('TN', 'SD', 'AL', 'GA', 'KY', 'TN')
GROUP BY ROLLUP(i_item_id, s_state)
ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
LIMIT 100
"""
# ^ NULLS FIRST is thin-normalizing text (see _Q93): ROLLUP's subtotal rows
# carry NULL keys and the engines' default NULL sort order differs, which
# would make the LIMIT cut engine-dependent.

_Q32 = """
SELECT SUM(cs_ext_discount_amt) AS excess_discount_amount
FROM catalog_sales, item, date_dim
WHERE i_manufact_id = 77
  AND i_item_sk = cs_item_sk
  AND d_date BETWEEN '2000-01-27' AND (CAST('2000-01-27' AS DATE) + 90)
  AND d_date_sk = cs_sold_date_sk
  AND cs_ext_discount_amt > (SELECT 1.3 * AVG(cs_ext_discount_amt)
                             FROM catalog_sales, date_dim
                             WHERE cs_item_sk = i_item_sk
                               AND d_date BETWEEN '2000-01-27'
                                              AND (CAST('2000-01-27' AS DATE) + 90)
                               AND d_date_sk = cs_sold_date_sk)
ORDER BY SUM(cs_ext_discount_amt)
LIMIT 100
"""

_Q48 = """
SELECT SUM(ss_quantity) AS sum_quantity
FROM store_sales, store, customer_demographics, customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_year = 2000
  AND ((cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M'
        AND cd_education_status = '4 yr Degree'
        AND ss_sales_price BETWEEN 100.00 AND 150.00)
       OR (cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'D'
           AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 50.00 AND 100.00)
       OR (cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'S'
           AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 150.00 AND 200.00))
  AND ((ss_addr_sk = ca_address_sk
        AND ca_country = 'United States'
        AND ca_state IN ('CA', 'TN', 'WA')
        AND ss_net_profit BETWEEN 0 AND 2000)
       OR (ss_addr_sk = ca_address_sk
           AND ca_country = 'United States'
           AND ca_state IN ('SD', 'AL', 'GA')
           AND ss_net_profit BETWEEN 150 AND 3000)
       OR (ss_addr_sk = ca_address_sk
           AND ca_country = 'United States'
           AND ca_state IN ('KY', 'CA', 'SD')
           AND ss_net_profit BETWEEN 50 AND 25000))
"""

_Q61 = """
SELECT promotions, total,
       CAST(promotions AS DECIMAL(15,4)) / CAST(total AS DECIMAL(15,4)) * 100
           AS promo_pct
FROM (SELECT SUM(ss_ext_sales_price) promotions
      FROM store_sales, store, promotion, date_dim, customer, customer_address, item
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_promo_sk = p_promo_sk
        AND ss_customer_sk = c_customer_sk
        AND ca_address_sk = c_current_addr_sk
        AND ss_item_sk = i_item_sk
        AND ca_gmt_offset = -5
        AND i_category = 'ECONOMY'
        AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_tv = 'Y')
        AND s_gmt_offset = -5
        AND d_year = 1998
        AND d_moy = 11) promotional_sales,
     (SELECT SUM(ss_ext_sales_price) total
      FROM store_sales, store, date_dim, customer, customer_address, item
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_customer_sk = c_customer_sk
        AND ca_address_sk = c_current_addr_sk
        AND ss_item_sk = i_item_sk
        AND ca_gmt_offset = -5
        AND i_category = 'ECONOMY'
        AND s_gmt_offset = -5
        AND d_year = 1998
        AND d_moy = 11) all_sales
ORDER BY promotions, total
LIMIT 100
"""

_Q92 = """
SELECT SUM(ws_ext_discount_amt) AS excess_discount_amount
FROM web_sales, item, date_dim
WHERE i_manufact_id = 50
  AND i_item_sk = ws_item_sk
  AND d_date BETWEEN '2000-01-27' AND (CAST('2000-01-27' AS DATE) + 90)
  AND d_date_sk = ws_sold_date_sk
  AND ws_ext_discount_amt > (SELECT 1.3 * AVG(ws_ext_discount_amt)
                             FROM web_sales, date_dim
                             WHERE ws_item_sk = i_item_sk
                               AND d_date BETWEEN '2000-01-27'
                                              AND (CAST('2000-01-27' AS DATE) + 90)
                               AND d_date_sk = ws_sold_date_sk)
ORDER BY SUM(ws_ext_discount_amt)
LIMIT 100
"""

_Q93 = """
SELECT ss_customer_sk, SUM(act_sales) sumsales
FROM (SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
             CASE WHEN sr_return_quantity IS NOT NULL
                  THEN (ss_quantity - sr_return_quantity) * ss_sales_price
                  ELSE (ss_quantity * ss_sales_price) END act_sales
      FROM store_sales LEFT OUTER JOIN store_returns
        ON (sr_item_sk = ss_item_sk AND sr_ticket_number = ss_ticket_number),
        reason
      WHERE sr_reason_sk = r_reason_sk
        AND r_reason_desc = 'reason 2') t
GROUP BY ss_customer_sk
ORDER BY sumsales, ss_customer_sk NULLS FIRST
LIMIT 100
"""
# ^ NULLS FIRST is thin-normalizing text (like q59's aliases): the walk-in
# NULL-customer group ties at the LIMIT cut, and Spark defaults ASC to
# NULLS FIRST while DuckDB defaults to NULLS LAST — the explicit modifier
# pins one deterministic cut on both engines without changing any values.

_Q71 = """
SELECT i_brand_id brand_id, i_brand brand, t_hour, t_minute,
       SUM(ext_price) ext_price
FROM item,
     (SELECT ws_ext_sales_price AS ext_price, ws_sold_date_sk AS sold_date_sk,
             ws_item_sk AS sold_item_sk, ws_sold_time_sk AS time_sk
      FROM web_sales, date_dim
      WHERE d_date_sk = ws_sold_date_sk AND d_moy = 11 AND d_year = 1999
      UNION ALL
      SELECT cs_ext_sales_price AS ext_price, cs_sold_date_sk AS sold_date_sk,
             cs_item_sk AS sold_item_sk, cs_sold_time_sk AS time_sk
      FROM catalog_sales, date_dim
      WHERE d_date_sk = cs_sold_date_sk AND d_moy = 11 AND d_year = 1999
      UNION ALL
      SELECT ss_ext_sales_price AS ext_price, ss_sold_date_sk AS sold_date_sk,
             ss_item_sk AS sold_item_sk, ss_sold_time_sk AS time_sk
      FROM store_sales, date_dim
      WHERE d_date_sk = ss_sold_date_sk AND d_moy = 11 AND d_year = 1999) tmp,
     time_dim
WHERE sold_item_sk = i_item_sk
  AND i_manager_id = 1
  AND time_sk = t_time_sk
  AND (t_meal_time = 'breakfast' OR t_meal_time = 'dinner')
GROUP BY i_brand, i_brand_id, t_hour, t_minute
ORDER BY ext_price DESC, i_brand_id
"""

_Q84 = """
SELECT c_customer_id AS customer_id,
       coalesce(c_last_name, '') || ', ' || coalesce(c_first_name, '') AS customername
FROM customer, customer_address, customer_demographics, household_demographics,
     income_band, store_returns
WHERE ca_city = 'city_42'
  AND c_current_addr_sk = ca_address_sk
  AND ib_lower_bound >= 30000
  AND ib_upper_bound <= 30000 + 50000
  AND ib_income_band_sk = hd_income_band_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND sr_cdemo_sk = cd_demo_sk
ORDER BY c_customer_id
LIMIT 100
"""

_Q86 = """
SELECT SUM(ws_net_paid) AS total_sum, i_category, i_class,
       GROUPING(i_category) + GROUPING(i_class) AS lochierarchy,
       RANK() OVER (
           PARTITION BY GROUPING(i_category) + GROUPING(i_class),
                        CASE WHEN GROUPING(i_class) = 0 THEN i_category END
           ORDER BY SUM(ws_net_paid) DESC
       ) AS rank_within_parent
FROM web_sales, date_dim d1, item
WHERE d1.d_month_seq BETWEEN 108 AND 108 + 11
  AND d1.d_date_sk = ws_sold_date_sk
  AND i_item_sk = ws_item_sk
GROUP BY ROLLUP(i_category, i_class)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN i_category END,
         rank_within_parent
LIMIT 100
"""

_Q88 = """
SELECT *
FROM (SELECT COUNT(*) h8_30_to_9
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 8
        AND time_dim.t_minute >= 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s1,
     (SELECT COUNT(*) h9_to_9_30
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 9
        AND time_dim.t_minute < 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s2,
     (SELECT COUNT(*) h9_30_to_10
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 9
        AND time_dim.t_minute >= 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s3,
     (SELECT COUNT(*) h10_to_10_30
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 10
        AND time_dim.t_minute < 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s4,
     (SELECT COUNT(*) h10_30_to_11
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 10
        AND time_dim.t_minute >= 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s5,
     (SELECT COUNT(*) h11_to_11_30
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 11
        AND time_dim.t_minute < 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s6,
     (SELECT COUNT(*) h11_30_to_12
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 11
        AND time_dim.t_minute >= 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s7,
     (SELECT COUNT(*) h12_to_12_30
      FROM store_sales, household_demographics, time_dim, store
      WHERE ss_sold_time_sk = time_dim.t_time_sk
        AND ss_hdemo_sk = household_demographics.hd_demo_sk
        AND ss_store_sk = s_store_sk
        AND time_dim.t_hour = 12
        AND time_dim.t_minute < 30
        AND ((household_demographics.hd_dep_count = 4
              AND household_demographics.hd_vehicle_count <= 4 + 2)
             OR (household_demographics.hd_dep_count = 2
                 AND household_demographics.hd_vehicle_count <= 2 + 2)
             OR (household_demographics.hd_dep_count = 0
                 AND household_demographics.hd_vehicle_count <= 0 + 2))
        AND store.s_store_name = 'Store_NATION_4') s8
"""

# Type-normalizing wrappers (identical text on both engines): decimal
# aggregate outputs -> DOUBLE; q98's decimal-division ratio additionally
# floor-truncated at 1e-6 (engines round division scales differently in far
# digits — oracle-determinism conventions).
#
# Known boundary sensitivity (data-dependent, empirically green at all three
# scales): the correlated threshold filters (q6 `1.2 * AVG`, q44 `0.9 * AVG`,
# q65 `0.1 * ave`) and q36's rank over a decimal division compare Spark's
# exact-decimal arithmetic against DuckDB's double AVG/division. A value
# landing EXACTLY on a threshold, or two averages equal in double but not in
# decimal, could flip row membership or a rank tie between engines. The
# verbatim template text is kept untouched (normalizing inside the template
# would forfeit verbatim status); the wrappers only normalize the OUTPUT.
# The q6/q44/q65 thresholds are PROBED, not just documented:
# tests/test_boundary_probes.py recomputes every threshold in exact Fraction
# arithmetic at all three SFs and fails if any compared value comes within
# 1e-9 relative of its threshold (observed minimum: 5e-5 at sf0.1) — a
# testdata-generator change that lands a boundary coincidence now fails
# pytest instead of surfacing as a 1-row driver-gate diff.
_Q31 = """
WITH ss AS (
    SELECT ca_county, d_qoy, d_year, SUM(ss_ext_sales_price) AS store_sales
    FROM store_sales, date_dim, customer_address
    WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
    GROUP BY ca_county, d_qoy, d_year),
ws AS (
    SELECT ca_county, d_qoy, d_year, SUM(ws_ext_sales_price) AS web_sales
    FROM web_sales, date_dim, customer_address
    WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
    GROUP BY ca_county, d_qoy, d_year)
SELECT ss1.ca_county, ss1.d_year,
       ws2.web_sales / ws1.web_sales AS web_q1_q2_increase,
       ss2.store_sales / ss1.store_sales AS store_q1_q2_increase,
       ws3.web_sales / ws2.web_sales AS web_q2_q3_increase,
       ss3.store_sales / ss2.store_sales AS store_q2_q3_increase
FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE ss1.d_qoy = 1 AND ss1.d_year = 1997 AND ss1.ca_county = ss2.ca_county
  AND ss2.d_qoy = 2 AND ss2.d_year = 1997 AND ss2.ca_county = ss3.ca_county
  AND ss3.d_qoy = 3 AND ss3.d_year = 1997
  AND ss1.ca_county = ws1.ca_county AND ws1.d_qoy = 1 AND ws1.d_year = 1997
  AND ws1.ca_county = ws2.ca_county AND ws2.d_qoy = 2 AND ws2.d_year = 1997
  AND ws1.ca_county = ws3.ca_county AND ws3.d_qoy = 3 AND ws3.d_year = 1997
  AND CASE WHEN ws1.web_sales > 0 THEN ws2.web_sales / ws1.web_sales ELSE NULL END
      > CASE WHEN ss1.store_sales > 0 THEN ss2.store_sales / ss1.store_sales ELSE NULL END
  AND CASE WHEN ws2.web_sales > 0 THEN ws3.web_sales / ws2.web_sales ELSE NULL END
      > CASE WHEN ss2.store_sales > 0 THEN ss3.store_sales / ss2.store_sales ELSE NULL END
ORDER BY ss1.ca_county
"""

_Q34 = """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (SELECT ss_ticket_number, ss_customer_sk, COUNT(*) cnt
      FROM store_sales, date_dim, store, household_demographics
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_store_sk = store.s_store_sk
        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        AND (date_dim.d_dom BETWEEN 1 AND 3 OR date_dim.d_dom BETWEEN 25 AND 28)
        AND (household_demographics.hd_buy_potential = '>10000'
             OR household_demographics.hd_buy_potential = 'Unknown')
        AND household_demographics.hd_vehicle_count > 0
        AND (CASE WHEN household_demographics.hd_vehicle_count > 0
                  THEN household_demographics.hd_dep_count
                       / household_demographics.hd_vehicle_count
                  ELSE NULL END) > 1.2
        AND date_dim.d_year IN (1995, 1995 + 1, 1995 + 2)
        AND store.s_county IN ('Williamson County', 'Ziebach County',
                               'Walker County', 'Daviess County', 'Barrow County')
      GROUP BY ss_ticket_number, ss_customer_sk) dn, customer
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 2 AND 20
ORDER BY c_last_name, c_first_name, c_salutation, c_preferred_cust_flag DESC,
         ss_ticket_number
"""

_Q38 = """
SELECT COUNT(*) AS cnt
FROM (
    SELECT DISTINCT c_last_name, c_first_name, d_date
    FROM store_sales, date_dim, customer
    WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
      AND store_sales.ss_customer_sk = customer.c_customer_sk
      AND d_month_seq BETWEEN 72 AND 72 + 11
    INTERSECT
    SELECT DISTINCT c_last_name, c_first_name, d_date
    FROM catalog_sales, date_dim, customer
    WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
      AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
      AND d_month_seq BETWEEN 72 AND 72 + 11
    INTERSECT
    SELECT DISTINCT c_last_name, c_first_name, d_date
    FROM web_sales, date_dim, customer
    WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
      AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
      AND d_month_seq BETWEEN 72 AND 72 + 11
) hot_cust
LIMIT 100
"""

_Q46 = """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       amt, profit
FROM (SELECT ss_ticket_number, ss_customer_sk, ca_city bought_city,
             SUM(ss_coupon_amt) amt, SUM(ss_net_profit) profit
      FROM store_sales, date_dim, store, household_demographics, customer_address
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_store_sk = store.s_store_sk
        AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
        AND store_sales.ss_addr_sk = customer_address.ca_address_sk
        AND (household_demographics.hd_dep_count = 4
             OR household_demographics.hd_vehicle_count = 3)
        AND date_dim.d_dow IN (6, 0)
        AND date_dim.d_year IN (1995, 1995 + 1, 1995 + 2)
        AND store.s_city IN ('Midway', 'Fairview', 'Pleasant Hill',
                             'Oak Grove', 'Five Points')
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer, customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number
LIMIT 100
"""

_Q47 = """
WITH v1 AS (
    SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
           SUM(ss_sales_price) sum_sales,
           AVG(SUM(ss_sales_price)) OVER
               (PARTITION BY i_category, i_brand, s_store_name, s_company_name,
                             d_year) avg_monthly_sales,
           RANK() OVER
               (PARTITION BY i_category, i_brand, s_store_name, s_company_name
                ORDER BY d_year, d_moy) rn
    FROM item, store_sales, date_dim, store
    WHERE ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND ss_store_sk = s_store_sk
      AND (d_year = 1996
           OR (d_year = 1996 - 1 AND d_moy = 12)
           OR (d_year = 1996 + 1 AND d_moy = 1))
    GROUP BY i_category, i_brand, s_store_name, s_company_name, d_year, d_moy),
v2 AS (
    SELECT v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
           v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
           v1_lag.sum_sales psum, v1_lead.sum_sales nsum
    FROM v1, v1 v1_lag, v1 v1_lead
    WHERE v1.i_category = v1_lag.i_category
      AND v1.i_category = v1_lead.i_category
      AND v1.i_brand = v1_lag.i_brand
      AND v1.i_brand = v1_lead.i_brand
      AND v1.s_store_name = v1_lag.s_store_name
      AND v1.s_store_name = v1_lead.s_store_name
      AND v1.s_company_name = v1_lag.s_company_name
      AND v1.s_company_name = v1_lead.s_company_name
      AND v1.rn = v1_lag.rn + 1
      AND v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1996
  AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, 3
LIMIT 100
"""

_Q51 = """
WITH web_v1 AS (
    SELECT ws_item_sk item_sk, d_date,
           SUM(SUM(ws_sales_price)) OVER
               (PARTITION BY ws_item_sk ORDER BY d_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
    FROM web_sales, date_dim
    WHERE ws_sold_date_sk = d_date_sk
      AND d_month_seq BETWEEN 72 AND 72 + 11
      AND ws_item_sk IS NOT NULL
    GROUP BY ws_item_sk, d_date),
store_v1 AS (
    SELECT ss_item_sk item_sk, d_date,
           SUM(SUM(ss_sales_price)) OVER
               (PARTITION BY ss_item_sk ORDER BY d_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
    FROM store_sales, date_dim
    WHERE ss_sold_date_sk = d_date_sk
      AND d_month_seq BETWEEN 72 AND 72 + 11
      AND ss_item_sk IS NOT NULL
    GROUP BY ss_item_sk, d_date)
SELECT *
FROM (SELECT item_sk, d_date, web_sales, store_sales,
             MAX(web_sales) OVER
                 (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) web_cumulative,
             MAX(store_sales) OVER
                 (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) store_cumulative
      FROM (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
                        ELSE store.item_sk END item_sk,
                   CASE WHEN web.d_date IS NOT NULL THEN web.d_date
                        ELSE store.d_date END d_date,
                   web.cume_sales web_sales,
                   store.cume_sales store_sales
            FROM web_v1 web FULL OUTER JOIN store_v1 store
                 ON (web.item_sk = store.item_sk AND web.d_date = store.d_date)) x) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT 100
"""

_Q53 = """
SELECT *
FROM (SELECT i_manufact_id, SUM(ss_sales_price) sum_sales,
             AVG(SUM(ss_sales_price)) OVER (PARTITION BY i_manufact_id)
                 avg_quarterly_sales
      FROM item, store_sales, date_dim, store
      WHERE ss_item_sk = i_item_sk
        AND ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND d_month_seq IN (72, 72 + 1, 72 + 2, 72 + 3, 72 + 4, 72 + 5, 72 + 6,
                            72 + 7, 72 + 8, 72 + 9, 72 + 10, 72 + 11)
        AND ((i_category IN ('ECONOMY', 'STANDARD', 'LARGE')
              AND i_class IN ('ring', 'widget', 'bolt', 'gear'))
             OR (i_category IN ('MEDIUM', 'SMALL', 'PROMO')
                 AND i_class IN ('gizmo', 'anvil', 'plate', 'rod')))
      GROUP BY i_manufact_id, d_qoy) tmp1
WHERE CASE WHEN avg_quarterly_sales > 0
           THEN ABS(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
           ELSE NULL END > 0.1
ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id
LIMIT 100
"""

_Q63 = """
SELECT *
FROM (SELECT i_manager_id, SUM(ss_sales_price) sum_sales,
             AVG(SUM(ss_sales_price)) OVER (PARTITION BY i_manager_id)
                 avg_monthly_sales
      FROM item, store_sales, date_dim, store
      WHERE ss_item_sk = i_item_sk
        AND ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND d_month_seq IN (72, 72 + 1, 72 + 2, 72 + 3, 72 + 4, 72 + 5, 72 + 6,
                            72 + 7, 72 + 8, 72 + 9, 72 + 10, 72 + 11)
        AND ((i_category IN ('ECONOMY', 'STANDARD', 'LARGE')
              AND i_class IN ('ring', 'widget', 'bolt', 'gear'))
             OR (i_category IN ('MEDIUM', 'SMALL', 'PROMO')
                 AND i_class IN ('gizmo', 'anvil', 'plate', 'rod')))
      GROUP BY i_manager_id, d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY i_manager_id, avg_monthly_sales, sum_sales
LIMIT 100
"""

_Q70 = """
SELECT SUM(ss_net_profit) AS total_sum, s_state, s_county,
       GROUPING(s_state) + GROUPING(s_county) AS lochierarchy,
       RANK() OVER
           (PARTITION BY GROUPING(s_state) + GROUPING(s_county),
                         CASE WHEN GROUPING(s_county) = 0 THEN s_state END
            ORDER BY SUM(ss_net_profit) DESC) AS rank_within_parent
FROM store_sales, date_dim d1, store
WHERE d1.d_month_seq BETWEEN 72 AND 72 + 11
  AND d1.d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_state IN (SELECT s_state
                  FROM (SELECT s_state AS s_state,
                               RANK() OVER (PARTITION BY s_state
                                            ORDER BY SUM(ss_net_profit) DESC) AS ranking
                        FROM store_sales, store, date_dim
                        WHERE d_month_seq BETWEEN 72 AND 72 + 11
                          AND d_date_sk = ss_sold_date_sk
                          AND s_store_sk = ss_store_sk
                        GROUP BY s_state) tmp1
                  WHERE ranking <= 5)
GROUP BY ROLLUP (s_state, s_county)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN s_state END,
         rank_within_parent
LIMIT 100
"""

_Q87 = """
SELECT COUNT(*) AS cnt
FROM ((SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM store_sales, date_dim, customer
       WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
         AND store_sales.ss_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 72 AND 72 + 11)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM catalog_sales, date_dim, customer
       WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 72 AND 72 + 11)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM web_sales, date_dim, customer
       WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
         AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 72 AND 72 + 11)) cool_cust
"""

_Q89 = """
SELECT *
FROM (SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
             SUM(ss_sales_price) sum_sales,
             AVG(SUM(ss_sales_price)) OVER
                 (PARTITION BY i_category, i_brand, s_store_name, s_company_name)
                 avg_monthly_sales
      FROM item, store_sales, date_dim, store
      WHERE ss_item_sk = i_item_sk
        AND ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND d_year IN (1996)
        AND ((i_category IN ('ECONOMY', 'STANDARD', 'LARGE')
              AND i_class IN ('ring', 'widget', 'bolt'))
             OR (i_category IN ('MEDIUM', 'SMALL', 'PROMO')
                 AND i_class IN ('gizmo', 'anvil', 'plate')))
      GROUP BY i_category, i_class, i_brand, s_store_name, s_company_name,
               d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales <> 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name
LIMIT 100
"""

_Q97 = """
WITH ssci AS (
    SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
    FROM store_sales, date_dim
    WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 72 AND 72 + 11
    GROUP BY ss_customer_sk, ss_item_sk),
csci AS (
    SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
    FROM catalog_sales, date_dim
    WHERE cs_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 72 AND 72 + 11
    GROUP BY cs_bill_customer_sk, cs_item_sk)
SELECT SUM(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
                THEN 1 ELSE 0 END) AS store_only,
       SUM(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
                THEN 1 ELSE 0 END) AS catalog_only,
       SUM(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
                THEN 1 ELSE 0 END) AS store_and_catalog
FROM ssci FULL OUTER JOIN csci
     ON (ssci.customer_sk = csci.customer_sk AND ssci.item_sk = csci.item_sk)
LIMIT 100
"""

_Q2 = """
WITH wscs AS (
    SELECT sold_date_sk, sales_price
    FROM (SELECT ws_sold_date_sk sold_date_sk, ws_ext_sales_price sales_price
          FROM web_sales
          UNION ALL
          SELECT cs_sold_date_sk sold_date_sk, cs_ext_sales_price sales_price
          FROM catalog_sales) x),
wswscs AS (
    SELECT d_week_seq,
           SUM(CASE WHEN (d_day_name = 'Sunday') THEN sales_price ELSE NULL END)
               sun_sales,
           SUM(CASE WHEN (d_day_name = 'Monday') THEN sales_price ELSE NULL END)
               mon_sales,
           SUM(CASE WHEN (d_day_name = 'Tuesday') THEN sales_price ELSE NULL END)
               tue_sales,
           SUM(CASE WHEN (d_day_name = 'Wednesday') THEN sales_price ELSE NULL END)
               wed_sales,
           SUM(CASE WHEN (d_day_name = 'Thursday') THEN sales_price ELSE NULL END)
               thu_sales,
           SUM(CASE WHEN (d_day_name = 'Friday') THEN sales_price ELSE NULL END)
               fri_sales,
           SUM(CASE WHEN (d_day_name = 'Saturday') THEN sales_price ELSE NULL END)
               sat_sales
    FROM wscs, date_dim
    WHERE d_date_sk = sold_date_sk
    GROUP BY d_week_seq)
SELECT d_week_seq1,
       ROUND(sun_sales1 / sun_sales2, 2) AS sun_ratio,
       ROUND(mon_sales1 / mon_sales2, 2) AS mon_ratio,
       ROUND(tue_sales1 / tue_sales2, 2) AS tue_ratio,
       ROUND(wed_sales1 / wed_sales2, 2) AS wed_ratio,
       ROUND(thu_sales1 / thu_sales2, 2) AS thu_ratio,
       ROUND(fri_sales1 / fri_sales2, 2) AS fri_ratio,
       ROUND(sat_sales1 / sat_sales2, 2) AS sat_ratio
FROM (SELECT wswscs.d_week_seq d_week_seq1, sun_sales sun_sales1,
             mon_sales mon_sales1, tue_sales tue_sales1, wed_sales wed_sales1,
             thu_sales thu_sales1, fri_sales fri_sales1, sat_sales sat_sales1
      FROM wswscs, date_dim
      WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 1996) y,
     (SELECT wswscs.d_week_seq d_week_seq2, sun_sales sun_sales2,
             mon_sales mon_sales2, tue_sales tue_sales2, wed_sales wed_sales2,
             thu_sales thu_sales2, fri_sales fri_sales2, sat_sales sat_sales2
      FROM wswscs, date_dim
      WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 1996 + 1) z
WHERE d_week_seq1 = d_week_seq2 - 53
ORDER BY d_week_seq1
"""

_Q17 = """
SELECT i_item_id, i_item_desc, s_state,
       COUNT(ss_quantity) AS store_sales_quantitycount,
       AVG(ss_quantity) AS store_sales_quantityave,
       STDDEV_SAMP(ss_quantity) AS store_sales_quantitystdev,
       STDDEV_SAMP(ss_quantity) / AVG(ss_quantity) AS store_sales_quantitycov,
       COUNT(sr_return_quantity) AS store_returns_quantitycount,
       AVG(sr_return_quantity) AS store_returns_quantityave,
       STDDEV_SAMP(sr_return_quantity) AS store_returns_quantitystdev,
       STDDEV_SAMP(sr_return_quantity) / AVG(sr_return_quantity)
           AS store_returns_quantitycov,
       COUNT(cs_quantity) AS catalog_sales_quantitycount,
       AVG(cs_quantity) AS catalog_sales_quantityave,
       STDDEV_SAMP(cs_quantity) / AVG(cs_quantity) AS catalog_sales_quantitystdev,
       STDDEV_SAMP(cs_quantity) / AVG(cs_quantity) AS catalog_sales_quantitycov
FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
WHERE d1.d_quarter_name = '1998Q1'
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_quarter_name IN ('1998Q1', '1998Q2', '1998Q3')
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_quarter_name IN ('1998Q1', '1998Q2', '1998Q3')
GROUP BY i_item_id, i_item_desc, s_state
ORDER BY i_item_id, i_item_desc, s_state
LIMIT 100
"""

_Q50 = """
SELECT s_store_name, s_company_id, s_street_number, s_street_name,
       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
       SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk <= 30)
                THEN 1 ELSE 0 END) AS days30,
       SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 30)
                 AND (sr_returned_date_sk - ss_sold_date_sk <= 60)
                THEN 1 ELSE 0 END) AS days31_60,
       SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 60)
                 AND (sr_returned_date_sk - ss_sold_date_sk <= 90)
                THEN 1 ELSE 0 END) AS days61_90,
       SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 90)
                 AND (sr_returned_date_sk - ss_sold_date_sk <= 120)
                THEN 1 ELSE 0 END) AS days91_120,
       SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 120)
                THEN 1 ELSE 0 END) AS days120plus
FROM store_sales, store_returns, store, date_dim d1, date_dim d2
WHERE d2.d_year = 1998
  AND d2.d_moy = 8
  AND ss_ticket_number = sr_ticket_number
  AND ss_item_sk = sr_item_sk
  AND ss_sold_date_sk = d1.d_date_sk
  AND sr_returned_date_sk = d2.d_date_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_store_sk = s_store_sk
GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
LIMIT 100
"""

_Q54 = """
WITH my_customers AS (
    SELECT DISTINCT c_customer_sk, c_current_addr_sk
    FROM (SELECT cs_sold_date_sk sold_date_sk, cs_bill_customer_sk customer_sk,
                 cs_item_sk item_sk
          FROM catalog_sales
          UNION ALL
          SELECT ws_sold_date_sk sold_date_sk, ws_bill_customer_sk customer_sk,
                 ws_item_sk item_sk
          FROM web_sales) cs_or_ws_sales, item, date_dim, customer
    WHERE sold_date_sk = d_date_sk
      AND item_sk = i_item_sk
      AND i_category = 'STANDARD'
      AND i_class = 'plate'
      AND c_customer_sk = cs_or_ws_sales.customer_sk
      AND d_moy = 3
      AND d_year = 1996),
my_revenue AS (
    SELECT c_customer_sk, SUM(ss_ext_sales_price) AS revenue
    FROM my_customers, store_sales, customer_address, store, date_dim
    WHERE c_current_addr_sk = ca_address_sk
      AND ca_county = s_county
      AND ca_state = s_state
      AND ss_sold_date_sk = d_date_sk
      AND c_customer_sk = ss_customer_sk
      AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
                               FROM date_dim WHERE d_year = 1996 AND d_moy = 3)
                          AND (SELECT DISTINCT d_month_seq + 3
                               FROM date_dim WHERE d_year = 1996 AND d_moy = 3)
    GROUP BY c_customer_sk),
segments AS (
    SELECT CAST((revenue / 50) AS INT) AS segment FROM my_revenue)
SELECT segment, COUNT(*) AS num_customers, segment * 50 AS segment_base
FROM segments
GROUP BY segment
ORDER BY segment, num_customers
LIMIT 100
"""

_Q9 = """
SELECT CASE WHEN (SELECT COUNT(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 10) > 5000
            THEN (SELECT AVG(ss_ext_discount_amt) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 10)
            ELSE (SELECT AVG(ss_net_paid) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 10) END bucket1,
       CASE WHEN (SELECT COUNT(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 11 AND 20) > 4000
            THEN (SELECT AVG(ss_ext_discount_amt) FROM store_sales
                  WHERE ss_quantity BETWEEN 11 AND 20)
            ELSE (SELECT AVG(ss_net_paid) FROM store_sales
                  WHERE ss_quantity BETWEEN 11 AND 20) END bucket2,
       CASE WHEN (SELECT COUNT(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 30) > 3000
            THEN (SELECT AVG(ss_ext_discount_amt) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 30)
            ELSE (SELECT AVG(ss_net_paid) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 30) END bucket3,
       CASE WHEN (SELECT COUNT(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 31 AND 40) > 2000
            THEN (SELECT AVG(ss_ext_discount_amt) FROM store_sales
                  WHERE ss_quantity BETWEEN 31 AND 40)
            ELSE (SELECT AVG(ss_net_paid) FROM store_sales
                  WHERE ss_quantity BETWEEN 31 AND 40) END bucket4,
       CASE WHEN (SELECT COUNT(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) > 1000
            THEN (SELECT AVG(ss_ext_discount_amt) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50)
            ELSE (SELECT AVG(ss_net_paid) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) END bucket5
FROM reason
WHERE r_reason_sk = 1
"""

_Q28 = """
SELECT *
FROM (SELECT AVG(ss_list_price) B1_LP, COUNT(ss_list_price) B1_CNT,
             COUNT(DISTINCT ss_list_price) B1_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 0 AND 5
        AND (ss_list_price BETWEEN 8000 AND 8000 + 100
             OR ss_coupon_amt BETWEEN 400 AND 400 + 1000
             OR ss_wholesale_cost BETWEEN 5000 AND 5000 + 200)) B1,
     (SELECT AVG(ss_list_price) B2_LP, COUNT(ss_list_price) B2_CNT,
             COUNT(DISTINCT ss_list_price) B2_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 6 AND 10
        AND (ss_list_price BETWEEN 9000 AND 9000 + 100
             OR ss_coupon_amt BETWEEN 800 AND 800 + 1000
             OR ss_wholesale_cost BETWEEN 6000 AND 6000 + 200)) B2,
     (SELECT AVG(ss_list_price) B3_LP, COUNT(ss_list_price) B3_CNT,
             COUNT(DISTINCT ss_list_price) B3_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 11 AND 15
        AND (ss_list_price BETWEEN 10000 AND 10000 + 100
             OR ss_coupon_amt BETWEEN 1200 AND 1200 + 1000
             OR ss_wholesale_cost BETWEEN 7000 AND 7000 + 200)) B3,
     (SELECT AVG(ss_list_price) B4_LP, COUNT(ss_list_price) B4_CNT,
             COUNT(DISTINCT ss_list_price) B4_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 16 AND 20
        AND (ss_list_price BETWEEN 12000 AND 12000 + 100
             OR ss_coupon_amt BETWEEN 1600 AND 1600 + 1000
             OR ss_wholesale_cost BETWEEN 8000 AND 8000 + 200)) B4,
     (SELECT AVG(ss_list_price) B5_LP, COUNT(ss_list_price) B5_CNT,
             COUNT(DISTINCT ss_list_price) B5_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 21 AND 25
        AND (ss_list_price BETWEEN 15000 AND 15000 + 100
             OR ss_coupon_amt BETWEEN 2000 AND 2000 + 1000
             OR ss_wholesale_cost BETWEEN 9000 AND 9000 + 200)) B5,
     (SELECT AVG(ss_list_price) B6_LP, COUNT(ss_list_price) B6_CNT,
             COUNT(DISTINCT ss_list_price) B6_CNTD
      FROM store_sales
      WHERE ss_quantity BETWEEN 26 AND 30
        AND (ss_list_price BETWEEN 20000 AND 20000 + 100
             OR ss_coupon_amt BETWEEN 2400 AND 2400 + 1000
             OR ss_wholesale_cost BETWEEN 10000 AND 10000 + 200)) B6
LIMIT 100
"""

_Q41 = """
SELECT DISTINCT (i_product_name)
FROM item i1
WHERE i_manufact_id BETWEEN 20 AND 20 + 40
  AND (SELECT COUNT(*) AS item_cnt
       FROM item
       WHERE (i_manufact = i1.i_manufact AND
              ((i_category = 'MEDIUM' AND (i_color = 'red' OR i_color = 'blue')
                AND (i_units = 'Ounce' OR i_units = 'Each')
                AND (i_size = 'medium' OR i_size = 'extra large'))
               OR (i_category = 'MEDIUM' AND (i_color = 'hot' OR i_color = 'cold')
                   AND (i_units = 'Case' OR i_units = 'Bunch')
                   AND (i_size = 'petite' OR i_size = 'large'))
               OR (i_category = 'STANDARD' AND (i_color = 'small' OR i_color = 'old')
                   AND (i_units = 'Ton' OR i_units = 'Gram')
                   AND (i_size = 'medium' OR i_size = 'extra large'))
               OR (i_category = 'STANDARD' AND (i_color = 'large' OR i_color = 'new')
                   AND (i_units = 'Dozen' OR i_units = 'Unknown')
                   AND (i_size = 'petite' OR i_size = 'large'))))
          OR (i_manufact = i1.i_manufact AND
              ((i_category = 'PROMO' AND (i_color = 'red' OR i_color = 'cold')
                AND (i_units = 'Each' OR i_units = 'Ton')
                AND (i_size = 'medium' OR i_size = 'extra large'))
               OR (i_category = 'PROMO' AND (i_color = 'blue' OR i_color = 'new')
                   AND (i_units = 'Dozen' OR i_units = 'Bunch')
                   AND (i_size = 'petite' OR i_size = 'large'))
               OR (i_category = 'ECONOMY' AND (i_color = 'hot' OR i_color = 'small')
                   AND (i_units = 'Case' OR i_units = 'Gram')
                   AND (i_size = 'medium' OR i_size = 'extra large'))
               OR (i_category = 'ECONOMY' AND (i_color = 'old' OR i_color = 'large')
                   AND (i_units = 'Ounce' OR i_units = 'Unknown')
                   AND (i_size = 'petite' OR i_size = 'large'))))) > 0
ORDER BY i_product_name
LIMIT 100
"""

_Q76 = """
SELECT channel, col_name, d_year, d_qoy, i_category, COUNT(*) sales_cnt,
       SUM(ext_sales_price) sales_amt
FROM (SELECT 'store' AS channel, 'ss_store_sk' col_name, d_year, d_qoy,
             i_category, ss_ext_sales_price ext_sales_price
      FROM store_sales, item, date_dim
      WHERE ss_store_sk IS NULL
        AND ss_sold_date_sk = d_date_sk
        AND ss_item_sk = i_item_sk
      UNION ALL
      SELECT 'web' AS channel, 'ws_ship_customer_sk' col_name, d_year, d_qoy,
             i_category, ws_ext_sales_price ext_sales_price
      FROM web_sales, item, date_dim
      WHERE ws_ship_customer_sk IS NULL
        AND ws_sold_date_sk = d_date_sk
        AND ws_item_sk = i_item_sk
      UNION ALL
      SELECT 'catalog' AS channel, 'cs_ship_addr_sk' col_name, d_year, d_qoy,
             i_category, cs_ext_sales_price ext_sales_price
      FROM catalog_sales, item, date_dim
      WHERE cs_ship_addr_sk IS NULL
        AND cs_sold_date_sk = d_date_sk
        AND cs_item_sk = i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
LIMIT 100
"""

_Q10 = """
SELECT cd_gender, cd_marital_status, cd_education_status, COUNT(*) cnt1,
       cd_purchase_estimate, COUNT(*) cnt2, cd_credit_rating, COUNT(*) cnt3,
       cd_dep_count, COUNT(*) cnt4, cd_dep_employed_count, COUNT(*) cnt5,
       cd_dep_college_count, COUNT(*) cnt6
FROM customer c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_county IN ('Williamson County', 'Ziebach County', 'Walker County',
                    'Daviess County', 'Barrow County')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM store_sales, date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 1997 AND d_moy BETWEEN 1 AND 1 + 3)
  AND (EXISTS (SELECT * FROM web_sales, date_dim
               WHERE c.c_customer_sk = ws_bill_customer_sk
                 AND ws_sold_date_sk = d_date_sk
                 AND d_year = 1997 AND d_moy BETWEEN 1 AND 1 + 3)
       OR EXISTS (SELECT * FROM catalog_sales, date_dim
                  WHERE c.c_customer_sk = cs_ship_customer_sk
                    AND cs_sold_date_sk = d_date_sk
                    AND d_year = 1997 AND d_moy BETWEEN 1 AND 1 + 3))
GROUP BY cd_gender, cd_marital_status, cd_education_status, cd_purchase_estimate,
         cd_credit_rating, cd_dep_count, cd_dep_employed_count, cd_dep_college_count
ORDER BY cd_gender, cd_marital_status, cd_education_status, cd_purchase_estimate,
         cd_credit_rating, cd_dep_count, cd_dep_employed_count, cd_dep_college_count
LIMIT 100
"""

# q35's aggregate columns carry aliases (avg1/max1/sum1, ...) so the
# type-normalizing wrapper can reference them; the official template leaves
# them unnamed, which yields engine-specific auto-generated names.
_Q35 = """
SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count, COUNT(*) cnt1,
       AVG(cd_dep_count) avg1, MAX(cd_dep_count) max1, SUM(cd_dep_count) sum1,
       cd_dep_employed_count, COUNT(*) cnt2,
       AVG(cd_dep_employed_count) avg2, MAX(cd_dep_employed_count) max2,
       SUM(cd_dep_employed_count) sum2,
       cd_dep_college_count, COUNT(*) cnt3,
       AVG(cd_dep_college_count) avg3, MAX(cd_dep_college_count) max3,
       SUM(cd_dep_college_count) sum3
FROM customer c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM store_sales, date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 1997 AND d_qoy < 4)
  AND (EXISTS (SELECT * FROM web_sales, date_dim
               WHERE c.c_customer_sk = ws_bill_customer_sk
                 AND ws_sold_date_sk = d_date_sk
                 AND d_year = 1997 AND d_qoy < 4)
       OR EXISTS (SELECT * FROM catalog_sales, date_dim
                  WHERE c.c_customer_sk = cs_ship_customer_sk
                    AND cs_sold_date_sk = d_date_sk
                    AND d_year = 1997 AND d_qoy < 4))
GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
ORDER BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
LIMIT 100
"""

_Q69 = """
SELECT cd_gender, cd_marital_status, cd_education_status, COUNT(*) cnt1,
       cd_purchase_estimate, COUNT(*) cnt2, cd_credit_rating, COUNT(*) cnt3
FROM customer c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_state IN ('KY', 'GA', 'CA')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM store_sales, date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 1997 AND d_moy BETWEEN 4 AND 4 + 0)
  AND (NOT EXISTS (SELECT * FROM web_sales, date_dim
                   WHERE c.c_customer_sk = ws_bill_customer_sk
                     AND ws_sold_date_sk = d_date_sk
                     AND d_year = 1997 AND d_moy BETWEEN 4 AND 4 + 0)
       AND NOT EXISTS (SELECT * FROM catalog_sales, date_dim
                       WHERE c.c_customer_sk = cs_ship_customer_sk
                         AND cs_sold_date_sk = d_date_sk
                         AND d_year = 1997 AND d_moy BETWEEN 4 AND 4 + 0))
GROUP BY cd_gender, cd_marital_status, cd_education_status, cd_purchase_estimate,
         cd_credit_rating
ORDER BY cd_gender, cd_marital_status, cd_education_status, cd_purchase_estimate,
         cd_credit_rating
LIMIT 100
"""

# q8's zip list is bound to the derived domain (ca_zip = 10000 + 7*custkey for
# small keys, all prefixed '10' like the store zips); the preferred-customer
# HAVING threshold is bound to 0 — the official "> 10" assumes dsdgen's
# 100k-customer-per-SF zip density that a mini schema cannot reach.
_Q8_ZIPS = ", ".join(f"'{10000 + 14 * k}'" for k in range(1, 101))

_Q8 = f"""
SELECT s_store_name, SUM(ss_net_profit) profit
FROM store_sales, date_dim, store,
     (SELECT ca_zip
      FROM (
        (SELECT substr(ca_zip, 1, 5) ca_zip
         FROM customer_address
         WHERE substr(ca_zip, 1, 5) IN ({_Q8_ZIPS}))
        INTERSECT
        (SELECT ca_zip
         FROM (SELECT substr(ca_zip, 1, 5) ca_zip, COUNT(*) cnt
               FROM customer_address, customer
               WHERE ca_address_sk = c_current_addr_sk
                 AND c_preferred_cust_flag = 'Y'
               GROUP BY ca_zip
               HAVING COUNT(*) > 0) A1)) A2) V1
WHERE ss_store_sk = s_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 1997
  AND (substr(s_zip, 1, 2) = substr(V1.ca_zip, 1, 2))
GROUP BY s_store_name
ORDER BY s_store_name
LIMIT 100
"""

_Q18 = """
SELECT i_item_id, ca_country, ca_state, ca_county,
       AVG(CAST(cs_quantity AS DECIMAL(12,2))) agg1,
       AVG(CAST(cs_list_price AS DECIMAL(12,2))) agg2,
       AVG(CAST(cs_coupon_amt AS DECIMAL(12,2))) agg3,
       AVG(CAST(cs_sales_price AS DECIMAL(12,2))) agg4,
       AVG(CAST(cs_net_profit AS DECIMAL(12,2))) agg5,
       AVG(CAST(c_birth_year AS DECIMAL(12,2))) agg6,
       AVG(CAST(cd1.cd_dep_count AS DECIMAL(12,2))) agg7
FROM catalog_sales, customer_demographics cd1, customer_demographics cd2,
     customer, customer_address, date_dim, item
WHERE cs_sold_date_sk = d_date_sk
  AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd1.cd_demo_sk
  AND cs_bill_customer_sk = c_customer_sk
  AND cd1.cd_gender = 'F'
  AND cd1.cd_education_status = 'Unknown'
  AND c_current_cdemo_sk = cd2.cd_demo_sk
  AND c_current_addr_sk = ca_address_sk
  AND c_birth_month IN (12)
  AND d_year = 2001
  AND ca_state IN ('GA')
GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
ORDER BY ca_country, ca_state, ca_county, i_item_id
LIMIT 100
"""

_Q74 = """
WITH year_total AS (
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name, d_year AS year,
           SUM(ss_net_paid) year_total, 's' sale_type
    FROM customer, store_sales, date_dim
    WHERE c_customer_sk = ss_customer_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year IN (1996, 1996 + 1)
    GROUP BY c_customer_id, c_first_name, c_last_name, d_year
    UNION ALL
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name, d_year AS year,
           SUM(ws_net_paid) year_total, 'w' sale_type
    FROM customer, web_sales, date_dim
    WHERE c_customer_sk = ws_bill_customer_sk
      AND ws_sold_date_sk = d_date_sk
      AND d_year IN (1996, 1996 + 1)
    GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.year = 1996
  AND t_s_secyear.year = 1996 + 1
  AND t_w_firstyear.year = 1996
  AND t_w_secyear.year = 1996 + 1
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE NULL END
ORDER BY 1, 1, 1
LIMIT 100
"""

_Q11 = """
WITH year_total AS (
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name,
           c_preferred_cust_flag customer_preferred_cust_flag,
           d_year AS dyear,
           SUM(ss_ext_list_price - ss_ext_discount_amt) year_total,
           's' sale_type
    FROM customer, store_sales, date_dim
    WHERE c_customer_sk = ss_customer_sk
      AND ss_sold_date_sk = d_date_sk
    GROUP BY c_customer_id, c_first_name, c_last_name,
             c_preferred_cust_flag, d_year
    UNION ALL
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name,
           c_preferred_cust_flag customer_preferred_cust_flag,
           d_year AS dyear,
           SUM(ws_ext_list_price - ws_ext_discount_amt) year_total,
           'w' sale_type
    FROM customer, web_sales, date_dim
    WHERE c_customer_sk = ws_bill_customer_sk
      AND ws_sold_date_sk = d_date_sk
    GROUP BY c_customer_id, c_first_name, c_last_name,
             c_preferred_cust_flag, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1996
  AND t_s_secyear.dyear = 1996 + 1
  AND t_w_firstyear.dyear = 1996
  AND t_w_secyear.dyear = 1996 + 1
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE 0.0 END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE 0.0 END
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
LIMIT 100
"""

_Q4 = """
WITH year_total AS (
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name,
           c_preferred_cust_flag customer_preferred_cust_flag,
           d_year AS dyear,
           SUM(((ss_ext_list_price - ss_ext_wholesale_cost
                 - ss_ext_discount_amt) + ss_ext_sales_price) / 2) year_total,
           's' sale_type
    FROM customer, store_sales, date_dim
    WHERE c_customer_sk = ss_customer_sk
      AND ss_sold_date_sk = d_date_sk
    GROUP BY c_customer_id, c_first_name, c_last_name,
             c_preferred_cust_flag, d_year
    UNION ALL
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name,
           c_preferred_cust_flag customer_preferred_cust_flag,
           d_year AS dyear,
           SUM(((cs_ext_list_price - cs_ext_wholesale_cost
                 - cs_ext_discount_amt) + cs_ext_sales_price) / 2) year_total,
           'c' sale_type
    FROM customer, catalog_sales, date_dim
    WHERE c_customer_sk = cs_bill_customer_sk
      AND cs_sold_date_sk = d_date_sk
    GROUP BY c_customer_id, c_first_name, c_last_name,
             c_preferred_cust_flag, d_year
    UNION ALL
    SELECT c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name,
           c_preferred_cust_flag customer_preferred_cust_flag,
           d_year AS dyear,
           SUM(((ws_ext_list_price - ws_ext_wholesale_cost
                 - ws_ext_discount_amt) + ws_ext_sales_price) / 2) year_total,
           'w' sale_type
    FROM customer, web_sales, date_dim
    WHERE c_customer_sk = ws_bill_customer_sk
      AND ws_sold_date_sk = d_date_sk
    GROUP BY c_customer_id, c_first_name, c_last_name,
             c_preferred_cust_flag, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1996
  AND t_s_secyear.dyear = 1996 + 1
  AND t_c_firstyear.dyear = 1996
  AND t_c_secyear.dyear = 1996 + 1
  AND t_w_firstyear.dyear = 1996
  AND t_w_secyear.dyear = 1996 + 1
  AND t_s_firstyear.year_total > 0
  AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE NULL END
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_w_firstyear.year_total > 0
             THEN t_w_secyear.year_total / t_w_firstyear.year_total
             ELSE NULL END
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name,
         t_s_secyear.customer_preferred_cust_flag
LIMIT 100
"""

_Q58 = """
WITH ss_items AS (
    SELECT i_item_id item_id, SUM(ss_ext_sales_price) ss_item_rev
    FROM store_sales, item, date_dim
    WHERE ss_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq = (SELECT d_week_seq FROM date_dim
                                         WHERE d_date = '1997-02-25'))
      AND ss_sold_date_sk = d_date_sk
    GROUP BY i_item_id),
cs_items AS (
    SELECT i_item_id item_id, SUM(cs_ext_sales_price) cs_item_rev
    FROM catalog_sales, item, date_dim
    WHERE cs_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq = (SELECT d_week_seq FROM date_dim
                                         WHERE d_date = '1997-02-25'))
      AND cs_sold_date_sk = d_date_sk
    GROUP BY i_item_id),
ws_items AS (
    SELECT i_item_id item_id, SUM(ws_ext_sales_price) ws_item_rev
    FROM web_sales, item, date_dim
    WHERE ws_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq = (SELECT d_week_seq FROM date_dim
                                         WHERE d_date = '1997-02-25'))
      AND ws_sold_date_sk = d_date_sk
    GROUP BY i_item_id)
SELECT ss_items.item_id, ss_item_rev,
       ss_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 ss_dev,
       cs_item_rev,
       cs_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 cs_dev,
       ws_item_rev,
       ws_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 ws_dev,
       (ss_item_rev + cs_item_rev + ws_item_rev) / 3 average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  AND ss_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
  AND cs_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
  AND ss_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
  AND ws_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
  AND cs_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
  AND ws_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
ORDER BY ss_items.item_id, ss_item_rev
LIMIT 100
"""

_Q30 = """
WITH customer_total_return AS (
    SELECT wr_returning_customer_sk AS ctr_customer_sk, ca_state AS ctr_state,
           SUM(wr_return_amt) AS ctr_total_return
    FROM web_returns, date_dim, customer_address
    WHERE wr_returned_date_sk = d_date_sk AND d_year = 1997
      AND wr_returning_addr_sk = ca_address_sk
    GROUP BY wr_returning_customer_sk, ca_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
       c_birth_country, c_login, c_email_address, c_last_review_date_sk,
       ctr_total_return
FROM customer_total_return ctr1, customer_address, customer
WHERE ctr1.ctr_total_return > (SELECT AVG(ctr_total_return) * 1.2
                               FROM customer_total_return ctr2
                               WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'GA'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name,
         c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
         c_birth_country, c_login, c_email_address, c_last_review_date_sk,
         ctr_total_return
LIMIT 100
"""

_Q81 = """
WITH customer_total_return AS (
    SELECT cr_returning_customer_sk AS ctr_customer_sk, ca_state AS ctr_state,
           SUM(cr_return_amt_inc_tax) AS ctr_total_return
    FROM catalog_returns, date_dim, customer_address
    WHERE cr_returned_date_sk = d_date_sk AND d_year = 1997
      AND cr_returning_addr_sk = ca_address_sk
    GROUP BY cr_returning_customer_sk, ctr_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
       ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
       ca_location_type, ctr_total_return
FROM customer_total_return ctr1, customer_address, customer
WHERE ctr1.ctr_total_return > (SELECT AVG(ctr_total_return) * 1.2
                               FROM customer_total_return ctr2
                               WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'TN'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name,
         ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
         ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
         ca_location_type, ctr_total_return
LIMIT 100
"""

_Q83 = """
WITH sr_items AS (
    SELECT i_item_id item_id, SUM(sr_return_quantity) sr_item_qty
    FROM store_returns, item, date_dim
    WHERE sr_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
                                          WHERE d_date IN ('1997-03-19',
                                                           '1997-06-25',
                                                           '1997-10-16')))
      AND sr_returned_date_sk = d_date_sk
    GROUP BY i_item_id),
cr_items AS (
    SELECT i_item_id item_id, SUM(cr_return_quantity) cr_item_qty
    FROM catalog_returns, item, date_dim
    WHERE cr_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
                                          WHERE d_date IN ('1997-03-19',
                                                           '1997-06-25',
                                                           '1997-10-16')))
      AND cr_returned_date_sk = d_date_sk
    GROUP BY i_item_id),
wr_items AS (
    SELECT i_item_id item_id, SUM(wr_return_quantity) wr_item_qty
    FROM web_returns, item, date_dim
    WHERE wr_item_sk = i_item_sk
      AND d_date IN (SELECT d_date FROM date_dim
                     WHERE d_week_seq IN (SELECT d_week_seq FROM date_dim
                                          WHERE d_date IN ('1997-03-19',
                                                           '1997-06-25',
                                                           '1997-10-16')))
      AND wr_returned_date_sk = d_date_sk
    GROUP BY i_item_id)
SELECT sr_items.item_id, sr_item_qty,
       sr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 sr_dev,
       cr_item_qty,
       cr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 cr_dev,
       wr_item_qty,
       wr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 wr_dev,
       (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id, sr_item_qty
LIMIT 100
"""

_Q91 = """
SELECT cc_call_center_id Call_Center, cc_name Call_Center_Name,
       cc_manager Manager, SUM(cr_net_loss) Returns_Loss
FROM call_center, catalog_returns, date_dim, customer, customer_address,
     customer_demographics, household_demographics
WHERE cr_call_center_sk = cc_call_center_sk
  AND cr_returned_date_sk = d_date_sk
  AND cr_returning_customer_sk = c_customer_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND ca_address_sk = c_current_addr_sk
  AND d_year = 1997
  AND d_moy = 11
  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
       OR (cd_marital_status = 'W' AND cd_education_status = 'Advanced Degree'))
  AND hd_buy_potential LIKE 'Unknown%'
  AND ca_gmt_offset = -5
GROUP BY cc_call_center_id, cc_name, cc_manager, cd_marital_status,
         cd_education_status
ORDER BY SUM(cr_net_loss) DESC
"""

_Q77 = """
WITH ss AS (
    SELECT s_store_sk, SUM(ss_ext_sales_price) AS sales,
           SUM(ss_net_profit) AS profit
    FROM store_sales, date_dim, store
    WHERE ss_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
      AND ss_store_sk = s_store_sk
    GROUP BY s_store_sk),
sr AS (
    SELECT s_store_sk, SUM(sr_return_amt) AS returns,
           SUM(sr_net_loss) AS profit_loss
    FROM store_returns, date_dim, store
    WHERE sr_returned_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
      AND sr_store_sk = s_store_sk
    GROUP BY s_store_sk),
cs AS (
    SELECT cs_call_center_sk, SUM(cs_ext_sales_price) AS sales,
           SUM(cs_net_profit) AS profit
    FROM catalog_sales, date_dim
    WHERE cs_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
    GROUP BY cs_call_center_sk),
cr AS (
    SELECT cr_call_center_sk, SUM(cr_return_amount) AS returns,
           SUM(cr_net_loss) AS profit_loss
    FROM catalog_returns, date_dim
    WHERE cr_returned_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
    GROUP BY cr_call_center_sk),
ws AS (
    SELECT wp_web_page_sk, SUM(ws_ext_sales_price) AS sales,
           SUM(ws_net_profit) AS profit
    FROM web_sales, date_dim, web_page
    WHERE ws_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
      AND ws_web_page_sk = wp_web_page_sk
    GROUP BY wp_web_page_sk),
wr AS (
    SELECT wp_web_page_sk, SUM(wr_return_amt) AS returns,
           SUM(wr_net_loss) AS profit_loss
    FROM web_returns, date_dim, web_page
    WHERE wr_returned_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-03' AS DATE)
                     AND (CAST('1997-08-03' AS DATE) + INTERVAL 30 DAY)
      AND wr_web_page_sk = wp_web_page_sk
    GROUP BY wp_web_page_sk)
SELECT channel, id, SUM(sales) AS sales, SUM(returns) AS returns,
       SUM(profit) AS profit
FROM (SELECT 'store channel' AS channel, ss.s_store_sk AS id, sales,
             COALESCE(returns, 0) AS returns,
             (profit - COALESCE(profit_loss, 0)) AS profit
      FROM ss LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
      UNION ALL
      SELECT 'catalog channel' AS channel, cs_call_center_sk AS id, sales,
             returns, (profit - profit_loss) AS profit
      FROM cs, cr
      UNION ALL
      SELECT 'web channel' AS channel, ws.wp_web_page_sk AS id, sales,
             COALESCE(returns, 0) AS returns,
             (profit - COALESCE(profit_loss, 0)) AS profit
      FROM ws LEFT JOIN wr ON ws.wp_web_page_sk = wr.wp_web_page_sk) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

_Q5 = """
WITH ssr AS (
    SELECT s_store_id, SUM(sales_price) AS sales, SUM(profit) AS profit,
           SUM(return_amt) AS returns, SUM(net_loss) AS profit_loss
    FROM (SELECT ss_store_sk AS store_sk, ss_sold_date_sk AS date_sk,
                 ss_ext_sales_price AS sales_price, ss_net_profit AS profit,
                 CAST(0 AS DECIMAL(7,2)) AS return_amt,
                 CAST(0 AS DECIMAL(7,2)) AS net_loss
          FROM store_sales
          UNION ALL
          SELECT sr_store_sk AS store_sk, sr_returned_date_sk AS date_sk,
                 CAST(0 AS DECIMAL(7,2)) AS sales_price,
                 CAST(0 AS DECIMAL(7,2)) AS profit,
                 sr_return_amt AS return_amt, sr_net_loss AS net_loss
          FROM store_returns) salesreturns, date_dim, store
    WHERE date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 14 DAY)
      AND store_sk = s_store_sk
    GROUP BY s_store_id),
csr AS (
    SELECT cp_catalog_page_id, SUM(sales_price) AS sales, SUM(profit) AS profit,
           SUM(return_amt) AS returns, SUM(net_loss) AS profit_loss
    FROM (SELECT cs_catalog_page_sk AS page_sk, cs_sold_date_sk AS date_sk,
                 cs_ext_sales_price AS sales_price, cs_net_profit AS profit,
                 CAST(0 AS DECIMAL(7,2)) AS return_amt,
                 CAST(0 AS DECIMAL(7,2)) AS net_loss
          FROM catalog_sales
          UNION ALL
          SELECT cr_catalog_page_sk AS page_sk, cr_returned_date_sk AS date_sk,
                 CAST(0 AS DECIMAL(7,2)) AS sales_price,
                 CAST(0 AS DECIMAL(7,2)) AS profit,
                 cr_return_amount AS return_amt, cr_net_loss AS net_loss
          FROM catalog_returns) salesreturns, date_dim, catalog_page
    WHERE date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 14 DAY)
      AND page_sk = cp_catalog_page_sk
    GROUP BY cp_catalog_page_id),
wsr AS (
    SELECT web_site_id, SUM(sales_price) AS sales, SUM(profit) AS profit,
           SUM(return_amt) AS returns, SUM(net_loss) AS profit_loss
    FROM (SELECT ws_web_site_sk AS wsr_web_site_sk, ws_sold_date_sk AS date_sk,
                 ws_ext_sales_price AS sales_price, ws_net_profit AS profit,
                 CAST(0 AS DECIMAL(7,2)) AS return_amt,
                 CAST(0 AS DECIMAL(7,2)) AS net_loss
          FROM web_sales
          UNION ALL
          SELECT ws_web_site_sk AS wsr_web_site_sk,
                 wr_returned_date_sk AS date_sk,
                 CAST(0 AS DECIMAL(7,2)) AS sales_price,
                 CAST(0 AS DECIMAL(7,2)) AS profit,
                 wr_return_amt AS return_amt, wr_net_loss AS net_loss
          FROM web_returns LEFT OUTER JOIN web_sales
               ON (wr_item_sk = ws_item_sk
                   AND wr_order_number = ws_order_number)) salesreturns,
         date_dim, web_site
    WHERE date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 14 DAY)
      AND wsr_web_site_sk = web_site_sk
    GROUP BY web_site_id)
SELECT channel, id, SUM(sales) AS sales, SUM(returns) AS returns,
       SUM(profit) AS profit
FROM (SELECT 'store channel' AS channel, 'store' || s_store_id AS id,
             sales, returns, (profit - profit_loss) AS profit
      FROM ssr
      UNION ALL
      SELECT 'catalog channel' AS channel,
             'catalog_page' || cp_catalog_page_id AS id,
             sales, returns, (profit - profit_loss) AS profit
      FROM csr
      UNION ALL
      SELECT 'web channel' AS channel, 'web_site' || web_site_id AS id,
             sales, returns, (profit - profit_loss) AS profit
      FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

_Q80 = """
WITH ssr AS (
    SELECT s_store_id AS store_id, SUM(ss_ext_sales_price) AS sales,
           SUM(COALESCE(sr_return_amt, 0)) AS returns,
           SUM(ss_net_profit - COALESCE(sr_net_loss, 0)) AS profit
    FROM store_sales LEFT OUTER JOIN store_returns
         ON (ss_item_sk = sr_item_sk AND ss_ticket_number = sr_ticket_number),
         date_dim, store, item, promotion
    WHERE ss_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 30 DAY)
      AND ss_store_sk = s_store_sk
      AND ss_item_sk = i_item_sk
      AND i_current_price > 50
      AND ss_promo_sk = p_promo_sk
      AND p_channel_tv = 'N'
    GROUP BY s_store_id),
csr AS (
    SELECT cp_catalog_page_id AS catalog_page_id,
           SUM(cs_ext_sales_price) AS sales,
           SUM(COALESCE(cr_return_amount, 0)) AS returns,
           SUM(cs_net_profit - COALESCE(cr_net_loss, 0)) AS profit
    FROM catalog_sales LEFT OUTER JOIN catalog_returns
         ON (cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number),
         date_dim, catalog_page, item, promotion
    WHERE cs_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 30 DAY)
      AND cs_catalog_page_sk = cp_catalog_page_sk
      AND cs_item_sk = i_item_sk
      AND i_current_price > 50
      AND cs_promo_sk = p_promo_sk
      AND p_channel_tv = 'N'
    GROUP BY cp_catalog_page_id),
wsr AS (
    SELECT web_site_id, SUM(ws_ext_sales_price) AS sales,
           SUM(COALESCE(wr_return_amt, 0)) AS returns,
           SUM(ws_net_profit - COALESCE(wr_net_loss, 0)) AS profit
    FROM web_sales LEFT OUTER JOIN web_returns
         ON (ws_item_sk = wr_item_sk AND ws_order_number = wr_order_number),
         date_dim, web_site, item, promotion
    WHERE ws_sold_date_sk = d_date_sk
      AND d_date BETWEEN CAST('1997-08-23' AS DATE)
                     AND (CAST('1997-08-23' AS DATE) + INTERVAL 30 DAY)
      AND ws_web_site_sk = web_site_sk
      AND ws_item_sk = i_item_sk
      AND i_current_price > 50
      AND ws_promo_sk = p_promo_sk
      AND p_channel_tv = 'N'
    GROUP BY web_site_id)
SELECT channel, id, SUM(sales) AS sales, SUM(returns) AS returns,
       SUM(profit) AS profit
FROM (SELECT 'store channel' AS channel, 'store' || store_id AS id,
             sales, returns, profit
      FROM ssr
      UNION ALL
      SELECT 'catalog channel' AS channel,
             'catalog_page' || catalog_page_id AS id,
             sales, returns, profit
      FROM csr
      UNION ALL
      SELECT 'web channel' AS channel, 'web_site' || web_site_id AS id,
             sales, returns, profit
      FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

_Q75 = """
WITH all_sales AS (
    SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
           SUM(sales_cnt) AS sales_cnt, SUM(sales_amt) AS sales_amt
    FROM (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                 cs_quantity - COALESCE(cr_return_quantity, 0) AS sales_cnt,
                 cs_ext_sales_price - COALESCE(cr_return_amount, 0.0) AS sales_amt
          FROM catalog_sales
               JOIN item ON i_item_sk = cs_item_sk
               JOIN date_dim ON d_date_sk = cs_sold_date_sk
               LEFT JOIN catalog_returns ON (cs_order_number = cr_order_number
                                             AND cs_item_sk = cr_item_sk)
          WHERE i_category = 'STANDARD'
          UNION
          SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                 ss_quantity - COALESCE(sr_return_quantity, 0) AS sales_cnt,
                 ss_ext_sales_price - COALESCE(sr_return_amt, 0.0) AS sales_amt
          FROM store_sales
               JOIN item ON i_item_sk = ss_item_sk
               JOIN date_dim ON d_date_sk = ss_sold_date_sk
               LEFT JOIN store_returns ON (ss_ticket_number = sr_ticket_number
                                           AND ss_item_sk = sr_item_sk)
          WHERE i_category = 'STANDARD'
          UNION
          SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                 ws_quantity - COALESCE(wr_return_quantity, 0) AS sales_cnt,
                 ws_ext_sales_price - COALESCE(wr_return_amt, 0.0) AS sales_amt
          FROM web_sales
               JOIN item ON i_item_sk = ws_item_sk
               JOIN date_dim ON d_date_sk = ws_sold_date_sk
               LEFT JOIN web_returns ON (ws_order_number = wr_order_number
                                         AND ws_item_sk = wr_item_sk)
          WHERE i_category = 'STANDARD') sales_detail
    GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year,
       curr_yr.i_brand_id, curr_yr.i_class_id, curr_yr.i_category_id,
       curr_yr.i_manufact_id, prev_yr.sales_cnt AS prev_yr_cnt,
       curr_yr.sales_cnt AS curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
       curr_yr.sales_amt - prev_yr.sales_amt AS sales_amt_diff
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_class_id = prev_yr.i_class_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
  AND curr_yr.d_year = 1997
  AND prev_yr.d_year = 1997 - 1
  AND CAST(curr_yr.sales_cnt AS DECIMAL(17,2))
      / CAST(prev_yr.sales_cnt AS DECIMAL(17,2)) < 0.9
ORDER BY sales_cnt_diff, sales_amt_diff
LIMIT 100
"""

_Q78 = """
WITH ws AS (
    SELECT d_year AS ws_sold_year, ws_item_sk,
           ws_bill_customer_sk ws_customer_sk,
           SUM(ws_quantity) ws_qty, SUM(ws_wholesale_cost) ws_wc,
           SUM(ws_sales_price) ws_sp
    FROM web_sales
         LEFT JOIN web_returns ON wr_order_number = ws_order_number
                                  AND ws_item_sk = wr_item_sk
         JOIN date_dim ON ws_sold_date_sk = d_date_sk
    WHERE wr_order_number IS NULL
    GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
cs AS (
    SELECT d_year AS cs_sold_year, cs_item_sk,
           cs_bill_customer_sk cs_customer_sk,
           SUM(cs_quantity) cs_qty, SUM(cs_wholesale_cost) cs_wc,
           SUM(cs_sales_price) cs_sp
    FROM catalog_sales
         LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
                                      AND cs_item_sk = cr_item_sk
         JOIN date_dim ON cs_sold_date_sk = d_date_sk
    WHERE cr_order_number IS NULL
    GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
ss AS (
    SELECT d_year AS ss_sold_year, ss_item_sk,
           ss_customer_sk,
           SUM(ss_quantity) ss_qty, SUM(ss_wholesale_cost) ss_wc,
           SUM(ss_sales_price) ss_sp
    FROM store_sales
         LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
                                    AND ss_item_sk = sr_item_sk
         JOIN date_dim ON ss_sold_date_sk = d_date_sk
    WHERE sr_ticket_number IS NULL
    GROUP BY d_year, ss_item_sk, ss_customer_sk)
SELECT ss_sold_year, ss_item_sk, ss_customer_sk,
       round(ss_qty / (COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0)), 2) ratio,
       ss_qty store_qty, ss_wc store_wholesale_cost,
       ss_sp store_sales_price,
       COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0) other_chan_qty,
       COALESCE(ws_wc, 0) + COALESCE(cs_wc, 0) other_chan_wholesale_cost,
       COALESCE(ws_sp, 0) + COALESCE(cs_sp, 0) other_chan_sales_price
FROM ss
     LEFT JOIN ws ON (ws_sold_year = ss_sold_year
                      AND ws_item_sk = ss_item_sk
                      AND ws_customer_sk = ss_customer_sk)
     LEFT JOIN cs ON (cs_sold_year = ss_sold_year
                      AND cs_item_sk = ss_item_sk
                      AND cs_customer_sk = ss_customer_sk)
WHERE (COALESCE(ws_qty, 0) > 0 OR COALESCE(cs_qty, 0) > 0)
  AND ss_sold_year = 1997
ORDER BY ss_sold_year, ss_item_sk, ss_customer_sk, ss_qty DESC, ss_wc DESC,
         ss_sp DESC, other_chan_qty, other_chan_wholesale_cost,
         other_chan_sales_price, ratio
LIMIT 100
"""

# q16/q94's official quoted aliases ("order count", ...) are rendered as the
# repo's usual snake_case aliases — quoted identifiers parse as string
# literals on Spark without a session conf the driver does not set.
_Q16 = """
SELECT COUNT(DISTINCT cs_order_number) AS order_count,
       SUM(cs_ext_ship_cost) AS total_shipping_cost,
       SUM(cs_net_profit) AS total_net_profit
FROM catalog_sales cs1, date_dim, customer_address, call_center
WHERE d_date BETWEEN '1997-02-01'
                 AND (CAST('1997-02-01' AS DATE) + INTERVAL 60 DAY)
  AND cs1.cs_ship_date_sk = d_date_sk
  AND cs1.cs_ship_addr_sk = ca_address_sk
  AND ca_state = 'GA'
  AND cs1.cs_call_center_sk = cc_call_center_sk
  AND cc_county IN ('Williamson County', 'Ziebach County', 'Walker County',
                    'Daviess County', 'Barrow County')
  AND EXISTS (SELECT * FROM catalog_sales cs2
              WHERE cs1.cs_order_number = cs2.cs_order_number
                AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  AND NOT EXISTS (SELECT * FROM catalog_returns cr1
                  WHERE cs1.cs_order_number = cr1.cr_order_number)
ORDER BY COUNT(DISTINCT cs_order_number)
LIMIT 100
"""

_Q94 = """
SELECT COUNT(DISTINCT ws_order_number) AS order_count,
       SUM(ws_ext_ship_cost) AS total_shipping_cost,
       SUM(ws_net_profit) AS total_net_profit
FROM web_sales ws1, date_dim, customer_address, web_site
WHERE d_date BETWEEN '1997-02-01'
                 AND (CAST('1997-02-01' AS DATE) + INTERVAL 60 DAY)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'GA'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'pri'
  AND EXISTS (SELECT * FROM web_sales ws2
              WHERE ws1.ws_order_number = ws2.ws_order_number
                AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  AND NOT EXISTS (SELECT * FROM web_returns wr1
                  WHERE ws1.ws_order_number = wr1.wr_order_number)
ORDER BY COUNT(DISTINCT ws_order_number)
LIMIT 100
"""

_Q40 = """
SELECT w_state, i_item_id,
       SUM(CASE WHEN (CAST(d_date AS DATE) < CAST('1997-03-11' AS DATE))
                THEN cs_sales_price - COALESCE(cr_refunded_cash, 0)
                ELSE 0 END) AS sales_before,
       SUM(CASE WHEN (CAST(d_date AS DATE) >= CAST('1997-03-11' AS DATE))
                THEN cs_sales_price - COALESCE(cr_refunded_cash, 0)
                ELSE 0 END) AS sales_after
FROM catalog_sales LEFT OUTER JOIN catalog_returns
     ON (cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk),
     warehouse, item, date_dim
WHERE i_current_price BETWEEN 99 AND 129
  AND i_item_sk = cs_item_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN (CAST('1997-03-11' AS DATE) - INTERVAL 30 DAY)
                 AND (CAST('1997-03-11' AS DATE) + INTERVAL 30 DAY)
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100
"""

_Q62 = """
SELECT substr(w_warehouse_name, 1, 20) AS warehouse_name, sm_type, web_name,
       SUM(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk <= 30)
                THEN 1 ELSE 0 END) AS days30,
       SUM(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 30)
                 AND (ws_ship_date_sk - ws_sold_date_sk <= 60)
                THEN 1 ELSE 0 END) AS days31_60,
       SUM(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 60)
                 AND (ws_ship_date_sk - ws_sold_date_sk <= 90)
                THEN 1 ELSE 0 END) AS days61_90,
       SUM(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 90)
                 AND (ws_ship_date_sk - ws_sold_date_sk <= 120)
                THEN 1 ELSE 0 END) AS days91_120,
       SUM(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 120)
                THEN 1 ELSE 0 END) AS days120plus
FROM web_sales, warehouse, ship_mode, web_site, date_dim
WHERE d_month_seq BETWEEN 84 AND 84 + 11
  AND ws_ship_date_sk = d_date_sk
  AND ws_warehouse_sk = w_warehouse_sk
  AND ws_ship_mode_sk = sm_ship_mode_sk
  AND ws_web_site_sk = web_site_sk
GROUP BY substr(w_warehouse_name, 1, 20), sm_type, web_name
ORDER BY substr(w_warehouse_name, 1, 20), sm_type, web_name
LIMIT 100
"""

_Q99 = """
SELECT substr(w_warehouse_name, 1, 20) AS warehouse_name, sm_type, cc_name,
       SUM(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk <= 30)
                THEN 1 ELSE 0 END) AS days30,
       SUM(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 30)
                 AND (cs_ship_date_sk - cs_sold_date_sk <= 60)
                THEN 1 ELSE 0 END) AS days31_60,
       SUM(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 60)
                 AND (cs_ship_date_sk - cs_sold_date_sk <= 90)
                THEN 1 ELSE 0 END) AS days61_90,
       SUM(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 90)
                 AND (cs_ship_date_sk - cs_sold_date_sk <= 120)
                THEN 1 ELSE 0 END) AS days91_120,
       SUM(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 120)
                THEN 1 ELSE 0 END) AS days120plus
FROM catalog_sales, warehouse, ship_mode, call_center, date_dim
WHERE d_month_seq BETWEEN 84 AND 84 + 11
  AND cs_ship_date_sk = d_date_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_ship_mode_sk = sm_ship_mode_sk
  AND cs_call_center_sk = cc_call_center_sk
GROUP BY substr(w_warehouse_name, 1, 20), sm_type, cc_name
ORDER BY substr(w_warehouse_name, 1, 20), sm_type, cc_name
LIMIT 100
"""

_Q90 = """
SELECT CAST(amc AS DECIMAL(15,4)) / CAST(pmc AS DECIMAL(15,4)) am_pm_ratio
FROM (SELECT COUNT(*) amc
      FROM web_sales, household_demographics, time_dim, web_page
      WHERE ws_sold_time_sk = time_dim.t_time_sk
        AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        AND ws_web_page_sk = web_page.wp_web_page_sk
        AND time_dim.t_hour BETWEEN 8 AND 8 + 1
        AND household_demographics.hd_dep_count = 6
        AND web_page.wp_char_count BETWEEN 2500 AND 4400) at,
     (SELECT COUNT(*) pmc
      FROM web_sales, household_demographics, time_dim, web_page
      WHERE ws_sold_time_sk = time_dim.t_time_sk
        AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
        AND ws_web_page_sk = web_page.wp_web_page_sk
        AND time_dim.t_hour BETWEEN 19 AND 19 + 1
        AND household_demographics.hd_dep_count = 6
        AND web_page.wp_char_count BETWEEN 2500 AND 4400) pt
ORDER BY am_pm_ratio
LIMIT 100
"""

_Q85 = """
SELECT substr(r_reason_desc, 1, 20) AS reason_desc, AVG(ws_quantity) avg_qty,
       AVG(wr_refunded_cash) avg_refunded, AVG(wr_fee) avg_fee
FROM web_sales, web_returns, web_page, customer_demographics cd1,
     customer_demographics cd2, customer_address, date_dim, reason
WHERE ws_web_page_sk = wp_web_page_sk
  AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number
  AND ws_sold_date_sk = d_date_sk
  AND d_year = 1997
  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk
  AND r_reason_sk = wr_reason_sk
  AND ((cd1.cd_marital_status = 'M'
        AND cd1.cd_marital_status = cd2.cd_marital_status
        AND cd1.cd_education_status = 'Advanced Degree'
        AND cd1.cd_education_status = cd2.cd_education_status
        AND ws_sales_price BETWEEN 5000.00 AND 10000.00)
       OR (cd1.cd_marital_status = 'S'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'College'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 1000.00 AND 5000.00)
       OR (cd1.cd_marital_status = 'W'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = '2 yr Degree'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 10000.00 AND 20000.00))
  AND ((ca_country = 'United States'
        AND ca_state IN ('TN', 'SD', 'AL')
        AND ws_net_profit BETWEEN 100 AND 2000)
       OR (ca_country = 'United States'
           AND ca_state IN ('GA', 'KY', 'CA')
           AND ws_net_profit BETWEEN 0 AND 100)
       OR (ca_country = 'United States'
           AND ca_state IN ('WA', 'TN', 'GA')
           AND ws_net_profit BETWEEN -2000 AND 0))
GROUP BY r_reason_desc
ORDER BY substr(r_reason_desc, 1, 20), AVG(ws_quantity),
         AVG(wr_refunded_cash), AVG(wr_fee)
LIMIT 100
"""

_Q66 = """
SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
       w_country, ship_carriers, year,
       SUM(jan_sales) AS jan_sales, SUM(feb_sales) AS feb_sales,
       SUM(mar_sales) AS mar_sales, SUM(apr_sales) AS apr_sales,
       SUM(may_sales) AS may_sales, SUM(jun_sales) AS jun_sales,
       SUM(jul_sales) AS jul_sales, SUM(aug_sales) AS aug_sales,
       SUM(sep_sales) AS sep_sales, SUM(oct_sales) AS oct_sales,
       SUM(nov_sales) AS nov_sales, SUM(dec_sales) AS dec_sales,
       SUM(jan_sales / w_warehouse_sq_ft) AS jan_sales_per_sq_foot,
       SUM(feb_sales / w_warehouse_sq_ft) AS feb_sales_per_sq_foot,
       SUM(mar_sales / w_warehouse_sq_ft) AS mar_sales_per_sq_foot,
       SUM(apr_sales / w_warehouse_sq_ft) AS apr_sales_per_sq_foot,
       SUM(may_sales / w_warehouse_sq_ft) AS may_sales_per_sq_foot,
       SUM(jun_sales / w_warehouse_sq_ft) AS jun_sales_per_sq_foot,
       SUM(jul_sales / w_warehouse_sq_ft) AS jul_sales_per_sq_foot,
       SUM(aug_sales / w_warehouse_sq_ft) AS aug_sales_per_sq_foot,
       SUM(sep_sales / w_warehouse_sq_ft) AS sep_sales_per_sq_foot,
       SUM(oct_sales / w_warehouse_sq_ft) AS oct_sales_per_sq_foot,
       SUM(nov_sales / w_warehouse_sq_ft) AS nov_sales_per_sq_foot,
       SUM(dec_sales / w_warehouse_sq_ft) AS dec_sales_per_sq_foot,
       SUM(jan_net) AS jan_net, SUM(feb_net) AS feb_net,
       SUM(mar_net) AS mar_net, SUM(apr_net) AS apr_net,
       SUM(may_net) AS may_net, SUM(jun_net) AS jun_net,
       SUM(jul_net) AS jul_net, SUM(aug_net) AS aug_net,
       SUM(sep_net) AS sep_net, SUM(oct_net) AS oct_net,
       SUM(nov_net) AS nov_net, SUM(dec_net) AS dec_net
FROM (SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
             w_country, 'DHL,UPS' AS ship_carriers, d_year AS year,
             SUM(CASE WHEN d_moy = 1 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS jan_sales,
             SUM(CASE WHEN d_moy = 2 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS feb_sales,
             SUM(CASE WHEN d_moy = 3 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS mar_sales,
             SUM(CASE WHEN d_moy = 4 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS apr_sales,
             SUM(CASE WHEN d_moy = 5 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS may_sales,
             SUM(CASE WHEN d_moy = 6 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS jun_sales,
             SUM(CASE WHEN d_moy = 7 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS jul_sales,
             SUM(CASE WHEN d_moy = 8 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS aug_sales,
             SUM(CASE WHEN d_moy = 9 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS sep_sales,
             SUM(CASE WHEN d_moy = 10 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS oct_sales,
             SUM(CASE WHEN d_moy = 11 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS nov_sales,
             SUM(CASE WHEN d_moy = 12 THEN ws_ext_sales_price * ws_quantity
                      ELSE 0 END) AS dec_sales,
             SUM(CASE WHEN d_moy = 1 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS jan_net,
             SUM(CASE WHEN d_moy = 2 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS feb_net,
             SUM(CASE WHEN d_moy = 3 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS mar_net,
             SUM(CASE WHEN d_moy = 4 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS apr_net,
             SUM(CASE WHEN d_moy = 5 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS may_net,
             SUM(CASE WHEN d_moy = 6 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS jun_net,
             SUM(CASE WHEN d_moy = 7 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS jul_net,
             SUM(CASE WHEN d_moy = 8 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS aug_net,
             SUM(CASE WHEN d_moy = 9 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS sep_net,
             SUM(CASE WHEN d_moy = 10 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS oct_net,
             SUM(CASE WHEN d_moy = 11 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS nov_net,
             SUM(CASE WHEN d_moy = 12 THEN ws_net_paid_inc_tax * ws_quantity
                      ELSE 0 END) AS dec_net
      FROM web_sales, warehouse, date_dim, time_dim, ship_mode
      WHERE ws_warehouse_sk = w_warehouse_sk
        AND ws_sold_date_sk = d_date_sk
        AND ws_sold_time_sk = t_time_sk
        AND ws_ship_mode_sk = sm_ship_mode_sk
        AND d_year = 1997
        AND t_time BETWEEN 0 AND 0 + 43200
        AND sm_carrier IN ('DHL', 'UPS')
      GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
               w_country, d_year
      UNION ALL
      SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
             w_country, 'DHL,UPS' AS ship_carriers, d_year AS year,
             SUM(CASE WHEN d_moy = 1 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS jan_sales,
             SUM(CASE WHEN d_moy = 2 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS feb_sales,
             SUM(CASE WHEN d_moy = 3 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS mar_sales,
             SUM(CASE WHEN d_moy = 4 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS apr_sales,
             SUM(CASE WHEN d_moy = 5 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS may_sales,
             SUM(CASE WHEN d_moy = 6 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS jun_sales,
             SUM(CASE WHEN d_moy = 7 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS jul_sales,
             SUM(CASE WHEN d_moy = 8 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS aug_sales,
             SUM(CASE WHEN d_moy = 9 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS sep_sales,
             SUM(CASE WHEN d_moy = 10 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS oct_sales,
             SUM(CASE WHEN d_moy = 11 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS nov_sales,
             SUM(CASE WHEN d_moy = 12 THEN cs_sales_price * cs_quantity
                      ELSE 0 END) AS dec_sales,
             SUM(CASE WHEN d_moy = 1 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS jan_net,
             SUM(CASE WHEN d_moy = 2 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS feb_net,
             SUM(CASE WHEN d_moy = 3 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS mar_net,
             SUM(CASE WHEN d_moy = 4 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS apr_net,
             SUM(CASE WHEN d_moy = 5 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS may_net,
             SUM(CASE WHEN d_moy = 6 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS jun_net,
             SUM(CASE WHEN d_moy = 7 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS jul_net,
             SUM(CASE WHEN d_moy = 8 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS aug_net,
             SUM(CASE WHEN d_moy = 9 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS sep_net,
             SUM(CASE WHEN d_moy = 10 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS oct_net,
             SUM(CASE WHEN d_moy = 11 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS nov_net,
             SUM(CASE WHEN d_moy = 12 THEN cs_net_paid_inc_tax * cs_quantity
                      ELSE 0 END) AS dec_net
      FROM catalog_sales, warehouse, date_dim, time_dim, ship_mode
      WHERE cs_warehouse_sk = w_warehouse_sk
        AND cs_sold_date_sk = d_date_sk
        AND cs_sold_time_sk = t_time_sk
        AND cs_ship_mode_sk = sm_ship_mode_sk
        AND d_year = 1997
        AND t_time BETWEEN 0 AND 0 + 43200
        AND sm_carrier IN ('DHL', 'UPS')
      GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
               w_country, d_year) x
GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
         w_country, ship_carriers, year
ORDER BY w_warehouse_name
LIMIT 100
"""

_Q21 = """
SELECT *
FROM (SELECT w_warehouse_name, i_item_id,
             SUM(CASE WHEN (CAST(d_date AS DATE)
                            < CAST('1997-03-11' AS DATE))
                      THEN inv_quantity_on_hand ELSE 0 END) AS inv_before,
             SUM(CASE WHEN (CAST(d_date AS DATE)
                            >= CAST('1997-03-11' AS DATE))
                      THEN inv_quantity_on_hand ELSE 0 END) AS inv_after
      FROM inventory, warehouse, item, date_dim
      WHERE i_current_price BETWEEN 99 AND 149
        AND i_item_sk = inv_item_sk
        AND inv_warehouse_sk = w_warehouse_sk
        AND inv_date_sk = d_date_sk
        AND d_date BETWEEN (CAST('1997-03-11' AS DATE) - INTERVAL 30 DAY)
                       AND (CAST('1997-03-11' AS DATE) + INTERVAL 30 DAY)
      GROUP BY w_warehouse_name, i_item_id) x
WHERE (CASE WHEN inv_before > 0 THEN inv_after / inv_before
            ELSE NULL END) BETWEEN 2.0 / 3.0 AND 3.0 / 2.0
ORDER BY w_warehouse_name, i_item_id
LIMIT 100
"""

_Q22 = """
SELECT i_product_name, i_brand, i_class, i_category,
       AVG(inv_quantity_on_hand) qoh
FROM inventory, date_dim, item
WHERE inv_date_sk = d_date_sk
  AND inv_item_sk = i_item_sk
  AND d_month_seq BETWEEN 84 AND 84 + 11
GROUP BY ROLLUP (i_product_name, i_brand, i_class, i_category)
ORDER BY qoh, i_product_name, i_brand, i_class, i_category
LIMIT 100
"""

_Q37 = """
SELECT i_item_id, i_item_desc, i_current_price
FROM item, inventory, date_dim, catalog_sales
WHERE i_current_price BETWEEN 90 AND 90 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('1997-02-01' AS DATE)
                 AND (CAST('1997-02-01' AS DATE) + INTERVAL 60 DAY)
  AND i_manufact_id IN (17, 40, 64, 88)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND cs_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""

_Q82 = """
SELECT i_item_id, i_item_desc, i_current_price
FROM item, inventory, date_dim, store_sales
WHERE i_current_price BETWEEN 60 AND 60 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('1997-05-25' AS DATE)
                 AND (CAST('1997-05-25' AS DATE) + INTERVAL 60 DAY)
  AND i_manufact_id IN (9, 33, 57, 81)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""

# q39's aggregate/self-join output columns carry aliases (inv1_*, inv2_*):
# the official template projects the same column names from both sides of
# the self-join, which the pandas comparator cannot disambiguate.
_Q39 = """
WITH inv AS (
    SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
           CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
    FROM (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
                 stddev_samp(inv_quantity_on_hand) stdev,
                 AVG(inv_quantity_on_hand) mean
          FROM inventory, item, warehouse, date_dim
          WHERE inv_item_sk = i_item_sk
            AND inv_warehouse_sk = w_warehouse_sk
            AND inv_date_sk = d_date_sk
            AND d_year = 1997
          GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
    WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 1)
SELECT inv1.w_warehouse_sk inv1_w_warehouse_sk, inv1.i_item_sk inv1_i_item_sk,
       inv1.d_moy inv1_d_moy, inv1.mean inv1_mean, inv1.cov inv1_cov,
       inv2.w_warehouse_sk inv2_w_warehouse_sk, inv2.i_item_sk inv2_i_item_sk,
       inv2.d_moy inv2_d_moy, inv2.mean inv2_mean, inv2.cov inv2_cov
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1
  AND inv2.d_moy = 1 + 1
ORDER BY inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean,
         inv1.cov, inv2.d_moy, inv2.mean, inv2.cov
"""

_Q72 = """
SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
       SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) no_promo,
       SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) promo,
       COUNT(*) total_cnt
FROM catalog_sales
     JOIN inventory ON (cs_item_sk = inv_item_sk)
     JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
     JOIN item ON (i_item_sk = cs_item_sk)
     JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
     JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
     JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
     JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)
     JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
     LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
     LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
                                         AND cr_order_number = cs_order_number)
WHERE d1.d_week_seq = d2.d_week_seq
  AND inv_quantity_on_hand < cs_quantity
  AND d3.d_date > d1.d_date + 5
  AND hd_buy_potential = '>10000'
  AND d1.d_year = 1997
  AND cd_marital_status = 'D'
GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, d1.d_week_seq
LIMIT 100
"""

_Q95 = """
WITH ws_wh AS (
    SELECT ws1.ws_order_number, ws1.ws_warehouse_sk wh1, ws2.ws_warehouse_sk wh2
    FROM web_sales ws1, web_sales ws2
    WHERE ws1.ws_order_number = ws2.ws_order_number
      AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
SELECT COUNT(DISTINCT ws_order_number) AS order_count,
       SUM(ws_ext_ship_cost) AS total_shipping_cost,
       SUM(ws_net_profit) AS total_net_profit
FROM web_sales ws1, date_dim, customer_address, web_site
WHERE d_date BETWEEN '1997-02-01'
                 AND (CAST('1997-02-01' AS DATE) + INTERVAL 60 DAY)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'GA'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'pri'
  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
  AND ws1.ws_order_number IN (SELECT wr_order_number
                              FROM web_returns, ws_wh
                              WHERE wr_order_number = ws_wh.ws_order_number)
ORDER BY COUNT(DISTINCT ws_order_number)
LIMIT 100
"""

_Q57 = """
WITH v1 AS (
    SELECT i_category, i_brand, cc_name, d_year, d_moy,
           SUM(cs_sales_price) sum_sales,
           AVG(SUM(cs_sales_price)) OVER (PARTITION BY i_category, i_brand,
                                          cc_name, d_year) avg_monthly_sales,
           RANK() OVER (PARTITION BY i_category, i_brand, cc_name
                        ORDER BY d_year, d_moy) rn
    FROM item, catalog_sales, date_dim, call_center
    WHERE cs_item_sk = i_item_sk
      AND cs_sold_date_sk = d_date_sk
      AND cc_call_center_sk = cs_call_center_sk
      AND (d_year = 1997
           OR (d_year = 1997 - 1 AND d_moy = 12)
           OR (d_year = 1997 + 1 AND d_moy = 1))
    GROUP BY i_category, i_brand, cc_name, d_year, d_moy),
v2 AS (
    SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
           v1.avg_monthly_sales, v1.sum_sales, v1_lag.sum_sales psum,
           v1_lead.sum_sales nsum
    FROM v1, v1 v1_lag, v1 v1_lead
    WHERE v1.i_category = v1_lag.i_category
      AND v1.i_category = v1_lead.i_category
      AND v1.i_brand = v1_lag.i_brand
      AND v1.i_brand = v1_lead.i_brand
      AND v1.cc_name = v1_lag.cc_name
      AND v1.cc_name = v1_lead.cc_name
      AND v1.rn = v1_lag.rn + 1
      AND v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1997
  AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, cc_name
LIMIT 100
"""

_Q49 = """
SELECT channel, item, return_ratio, return_rank, currency_rank
FROM (SELECT 'web' AS channel, web.item, web.return_ratio, web.return_rank,
             web.currency_rank
      FROM (SELECT item, return_ratio, currency_ratio,
                   RANK() OVER (ORDER BY return_ratio) AS return_rank,
                   RANK() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM (SELECT ws.ws_item_sk AS item,
                         (CAST(SUM(COALESCE(wr.wr_return_quantity, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(ws.ws_quantity, 0))
                                 AS DECIMAL(15,4))) AS return_ratio,
                         (CAST(SUM(COALESCE(wr.wr_return_amt, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(ws.ws_net_paid, 0))
                                 AS DECIMAL(15,4))) AS currency_ratio
                  FROM web_sales ws
                       LEFT OUTER JOIN web_returns wr
                       ON (ws.ws_order_number = wr.wr_order_number
                           AND ws.ws_item_sk = wr.wr_item_sk), date_dim
                  WHERE wr.wr_return_amt > 10000
                    AND ws.ws_net_profit > 1
                    AND ws.ws_net_paid > 0
                    AND ws.ws_quantity > 0
                    AND ws_sold_date_sk = d_date_sk
                    AND d_year = 1997
                    AND d_moy = 12
                  GROUP BY ws.ws_item_sk) in_web) web
      WHERE (web.return_rank <= 10 OR web.currency_rank <= 10)
      UNION
      SELECT 'catalog' AS channel, catalog.item, catalog.return_ratio,
             catalog.return_rank, catalog.currency_rank
      FROM (SELECT item, return_ratio, currency_ratio,
                   RANK() OVER (ORDER BY return_ratio) AS return_rank,
                   RANK() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM (SELECT cs.cs_item_sk AS item,
                         (CAST(SUM(COALESCE(cr.cr_return_quantity, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(cs.cs_quantity, 0))
                                 AS DECIMAL(15,4))) AS return_ratio,
                         (CAST(SUM(COALESCE(cr.cr_return_amount, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(cs.cs_net_paid, 0))
                                 AS DECIMAL(15,4))) AS currency_ratio
                  FROM catalog_sales cs
                       LEFT OUTER JOIN catalog_returns cr
                       ON (cs.cs_order_number = cr.cr_order_number
                           AND cs.cs_item_sk = cr.cr_item_sk), date_dim
                  WHERE cr.cr_return_amount > 10000
                    AND cs.cs_net_profit > 1
                    AND cs.cs_net_paid > 0
                    AND cs.cs_quantity > 0
                    AND cs_sold_date_sk = d_date_sk
                    AND d_year = 1997
                    AND d_moy = 12
                  GROUP BY cs.cs_item_sk) in_cat) catalog
      WHERE (catalog.return_rank <= 10 OR catalog.currency_rank <= 10)
      UNION
      SELECT 'store' AS channel, store.item, store.return_ratio,
             store.return_rank, store.currency_rank
      FROM (SELECT item, return_ratio, currency_ratio,
                   RANK() OVER (ORDER BY return_ratio) AS return_rank,
                   RANK() OVER (ORDER BY currency_ratio) AS currency_rank
            FROM (SELECT sts.ss_item_sk AS item,
                         (CAST(SUM(COALESCE(sr.sr_return_quantity, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(sts.ss_quantity, 0))
                                 AS DECIMAL(15,4))) AS return_ratio,
                         (CAST(SUM(COALESCE(sr.sr_return_amt, 0))
                               AS DECIMAL(15,4))
                          / CAST(SUM(COALESCE(sts.ss_net_paid, 0))
                                 AS DECIMAL(15,4))) AS currency_ratio
                  FROM store_sales sts
                       LEFT OUTER JOIN store_returns sr
                       ON (sts.ss_ticket_number = sr.sr_ticket_number
                           AND sts.ss_item_sk = sr.sr_item_sk), date_dim
                  WHERE sr.sr_return_amt > 10000
                    AND sts.ss_net_profit > 1
                    AND sts.ss_net_paid > 0
                    AND sts.ss_quantity > 0
                    AND ss_sold_date_sk = d_date_sk
                    AND d_year = 1997
                    AND d_moy = 12
                  GROUP BY sts.ss_item_sk) in_store) store
      WHERE (store.return_rank <= 10 OR store.currency_rank <= 10)) tmp
ORDER BY 1, 4, 5, 2
LIMIT 100
"""

# q23's "frequent item" HAVING is bound to > 0: same-item-same-day repeat
# sales (dsdgen's > 4) are vanishingly rare in a lineitem-derived fact at
# these scales — a larger literal empties the CTE and degenerates the query
# to SUM(NULL) at every SF.
_Q23 = """
WITH frequent_ss_items AS (
    SELECT substr(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk,
           d_date solddate, COUNT(*) cnt
    FROM store_sales, date_dim, item
    WHERE ss_sold_date_sk = d_date_sk
      AND ss_item_sk = i_item_sk
      AND d_year IN (1995, 1995 + 1, 1995 + 2, 1995 + 3)
    GROUP BY substr(i_item_desc, 1, 30), i_item_sk, d_date
    HAVING COUNT(*) > 0),
max_store_sales AS (
    SELECT MAX(csales) tpcds_cmax
    FROM (SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) csales
          FROM store_sales, customer, date_dim
          WHERE ss_customer_sk = c_customer_sk
            AND ss_sold_date_sk = d_date_sk
            AND d_year IN (1995, 1995 + 1, 1995 + 2, 1995 + 3)
          GROUP BY c_customer_sk) x),
best_ss_customer AS (
    SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) ssales
    FROM store_sales, customer
    WHERE ss_customer_sk = c_customer_sk
    GROUP BY c_customer_sk
    HAVING SUM(ss_quantity * ss_sales_price)
           > (50 / 100.0) * (SELECT * FROM max_store_sales))
SELECT SUM(sales) total_sales
FROM (SELECT cs_quantity * cs_list_price sales
      FROM catalog_sales, date_dim
      WHERE d_year = 1995
        AND d_moy = 2
        AND cs_sold_date_sk = d_date_sk
        AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND cs_bill_customer_sk IN (SELECT c_customer_sk FROM best_ss_customer)
      UNION ALL
      SELECT ws_quantity * ws_list_price sales
      FROM web_sales, date_dim
      WHERE d_year = 1995
        AND d_moy = 2
        AND ws_sold_date_sk = d_date_sk
        AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
        AND ws_bill_customer_sk IN (SELECT c_customer_sk
                                    FROM best_ss_customer)) y
LIMIT 100
"""

_Q24 = """
WITH ssales AS (
    SELECT c_last_name, c_first_name, s_store_name, ca_state, s_state,
           i_color, i_current_price, i_manager_id, i_units, i_size,
           SUM(ss_net_paid) netpaid
    FROM store_sales, store_returns, store, item, customer, customer_address
    WHERE ss_ticket_number = sr_ticket_number
      AND ss_item_sk = sr_item_sk
      AND ss_customer_sk = c_customer_sk
      AND ss_item_sk = i_item_sk
      AND ss_store_sk = s_store_sk
      AND c_current_addr_sk = ca_address_sk
      AND c_birth_country <> upper(ca_country)
      AND s_zip = ca_zip
      AND s_market_id = 8
    GROUP BY c_last_name, c_first_name, s_store_name, ca_state, s_state,
             i_color, i_current_price, i_manager_id, i_units, i_size)
SELECT c_last_name, c_first_name, s_store_name, SUM(netpaid) paid
FROM ssales
WHERE i_color = 'red'
GROUP BY c_last_name, c_first_name, s_store_name
HAVING SUM(netpaid) > (SELECT 0.05 * AVG(netpaid) FROM ssales)
ORDER BY c_last_name, c_first_name, s_store_name
"""

_Q14 = """
WITH cross_items AS (
    SELECT i_item_sk ss_item_sk
    FROM item,
         (SELECT iss.i_brand_id brand_id, iss.i_class_id class_id,
                 iss.i_category_id category_id
          FROM store_sales, item iss, date_dim d1
          WHERE ss_item_sk = iss.i_item_sk
            AND ss_sold_date_sk = d1.d_date_sk
            AND d1.d_year BETWEEN 1995 AND 1995 + 2
          INTERSECT
          SELECT ics.i_brand_id, ics.i_class_id, ics.i_category_id
          FROM catalog_sales, item ics, date_dim d2
          WHERE cs_item_sk = ics.i_item_sk
            AND cs_sold_date_sk = d2.d_date_sk
            AND d2.d_year BETWEEN 1995 AND 1995 + 2
          INTERSECT
          SELECT iws.i_brand_id, iws.i_class_id, iws.i_category_id
          FROM web_sales, item iws, date_dim d3
          WHERE ws_item_sk = iws.i_item_sk
            AND ws_sold_date_sk = d3.d_date_sk
            AND d3.d_year BETWEEN 1995 AND 1995 + 2) x
    WHERE i_brand_id = brand_id
      AND i_class_id = class_id
      AND i_category_id = category_id),
avg_sales AS (
    SELECT AVG(quantity * list_price) average_sales
    FROM (SELECT ss_quantity quantity, ss_list_price list_price
          FROM store_sales, date_dim
          WHERE ss_sold_date_sk = d_date_sk
            AND d_year BETWEEN 1995 AND 1995 + 2
          UNION ALL
          SELECT cs_quantity quantity, cs_list_price list_price
          FROM catalog_sales, date_dim
          WHERE cs_sold_date_sk = d_date_sk
            AND d_year BETWEEN 1995 AND 1995 + 2
          UNION ALL
          SELECT ws_quantity quantity, ws_list_price list_price
          FROM web_sales, date_dim
          WHERE ws_sold_date_sk = d_date_sk
            AND d_year BETWEEN 1995 AND 1995 + 2) x)
SELECT channel, i_brand_id, i_class_id, i_category_id, SUM(sales) sum_sales,
       SUM(number_sales) sum_number_sales
FROM (SELECT 'store' channel, i_brand_id, i_class_id, i_category_id,
             SUM(ss_quantity * ss_list_price) sales,
             COUNT(*) number_sales
      FROM store_sales, item, date_dim
      WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ss_item_sk = i_item_sk
        AND ss_sold_date_sk = d_date_sk
        AND d_month_seq BETWEEN 84 AND 84 + 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(ss_quantity * ss_list_price)
             > (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'catalog' channel, i_brand_id, i_class_id, i_category_id,
             SUM(cs_quantity * cs_list_price) sales,
             COUNT(*) number_sales
      FROM catalog_sales, item, date_dim
      WHERE cs_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND cs_item_sk = i_item_sk
        AND cs_sold_date_sk = d_date_sk
        AND d_month_seq BETWEEN 84 AND 84 + 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(cs_quantity * cs_list_price)
             > (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'web' channel, i_brand_id, i_class_id, i_category_id,
             SUM(ws_quantity * ws_list_price) sales,
             COUNT(*) number_sales
      FROM web_sales, item, date_dim
      WHERE ws_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ws_item_sk = i_item_sk
        AND ws_sold_date_sk = d_date_sk
        AND d_month_seq BETWEEN 84 AND 84 + 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(ws_quantity * ws_list_price)
             > (SELECT average_sales FROM avg_sales)) y
GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
ORDER BY channel, i_brand_id, i_class_id, i_category_id
LIMIT 100
"""

_Q64 = """
WITH cs_ui AS (
    SELECT cs_item_sk,
           SUM(cs_ext_list_price) AS sale,
           SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit)
               AS refund
    FROM catalog_sales, catalog_returns
    WHERE cs_item_sk = cr_item_sk
      AND cs_order_number = cr_order_number
    GROUP BY cs_item_sk
    HAVING SUM(cs_ext_list_price)
           > 2 * SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
cross_sales AS (
    SELECT i_product_name product_name, i_item_sk item_sk,
           s_store_name store_name, s_zip store_zip,
           ad1.ca_street_number b_street_number,
           ad1.ca_street_name b_street_name,
           ad1.ca_city b_city, ad1.ca_zip b_zip,
           ad2.ca_street_number c_street_number,
           ad2.ca_street_name c_street_name,
           ad2.ca_city c_city, ad2.ca_zip c_zip,
           d1.d_year AS syear, d2.d_year AS fsyear, d3.d_year s2year,
           COUNT(*) cnt, SUM(ss_wholesale_cost) s1, SUM(ss_list_price) s2,
           SUM(ss_coupon_amt) s3
    FROM store_sales, store_returns, cs_ui, date_dim d1, date_dim d2,
         date_dim d3, store, customer, customer_demographics cd1,
         customer_demographics cd2, promotion, household_demographics hd1,
         household_demographics hd2, customer_address ad1,
         customer_address ad2, income_band ib1, income_band ib2, item
    WHERE ss_store_sk = s_store_sk
      AND ss_sold_date_sk = d1.d_date_sk
      AND ss_item_sk = i_item_sk
      AND ss_customer_sk = c_customer_sk
      AND ss_cdemo_sk = cd1.cd_demo_sk
      AND ss_hdemo_sk = hd1.hd_demo_sk
      AND ss_addr_sk = ad1.ca_address_sk
      AND ss_item_sk = sr_item_sk
      AND ss_ticket_number = sr_ticket_number
      AND ss_item_sk = cs_ui.cs_item_sk
      AND c_current_cdemo_sk = cd2.cd_demo_sk
      AND c_current_hdemo_sk = hd2.hd_demo_sk
      AND c_current_addr_sk = ad2.ca_address_sk
      AND c_first_sales_date_sk = d2.d_date_sk
      AND c_first_shipto_date_sk = d3.d_date_sk
      AND ss_promo_sk = p_promo_sk
      AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
      AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
      AND cd1.cd_marital_status <> cd2.cd_marital_status
      AND i_color IN ('old', 'small', 'hot', 'cold', 'red', 'blue')
      AND i_current_price BETWEEN 64 AND 64 + 10
      AND i_current_price BETWEEN 64 + 1 AND 64 + 15
    GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
             ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
             ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
             ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
       cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
       cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
       cs1.syear, cs1.cnt, cs1.s1 AS s11, cs1.s2 AS s21, cs1.s3 AS s31,
       cs2.s1 AS s12, cs2.s2 AS s22, cs2.s3 AS s32, cs2.syear AS syear2,
       cs2.cnt AS cnt2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk
  AND cs1.syear = 1995
  AND cs2.syear = 1995 + 1
  AND cs2.cnt <= cs1.cnt
  AND cs1.store_name = cs2.store_name
  AND cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name, cs1.store_name, cs2.cnt, cs1.s1, cs2.s1
"""

_Q67 = """
SELECT *
FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
             d_moy, s_store_id, sumsales,
             RANK() OVER (PARTITION BY i_category
                          ORDER BY sumsales DESC) rk
      FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year,
                   d_qoy, d_moy, s_store_id,
                   SUM(COALESCE(ss_sales_price * ss_quantity, 0)) sumsales
            FROM store_sales, date_dim, store, item
            WHERE ss_sold_date_sk = d_date_sk
              AND ss_item_sk = i_item_sk
              AND ss_store_sk = s_store_sk
              AND d_month_seq BETWEEN 84 AND 84 + 11
            GROUP BY ROLLUP (i_category, i_class, i_brand, i_product_name,
                             d_year, d_qoy, d_moy, s_store_id)) dw1) dw2
WHERE rk <= 100
ORDER BY i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,
         s_store_id, sumsales, rk
LIMIT 100
"""

_WRAPPED = {
    "tpcds_q1": f"SELECT c_customer_id FROM ({_Q1}) v",
    "tpcds_q3": (
        "SELECT d_year, brand_id, brand, CAST(sum_agg AS DOUBLE) AS sum_agg "
        f"FROM ({_Q3}) v"
    ),
    "tpcds_q6": f"SELECT state, cnt FROM ({_Q6}) v",
    "tpcds_q19": (
        "SELECT brand_id, brand, i_manufact_id, i_manufact, "
        "CAST(ext_price AS DOUBLE) AS ext_price "
        f"FROM ({_Q19}) v"
    ),
    "tpcds_q44": f"SELECT rnk, best_performing, worst_performing FROM ({_Q44}) v",
    "tpcds_q52": (
        "SELECT d_year, brand_id, brand, CAST(ext_price AS DOUBLE) AS ext_price "
        f"FROM ({_Q52}) v"
    ),
    "tpcds_q55": (
        "SELECT brand_id, brand, CAST(ext_price AS DOUBLE) AS ext_price "
        f"FROM ({_Q55}) v"
    ),
    "tpcds_q65": (
        "SELECT s_store_name, i_item_desc, CAST(revenue AS DOUBLE) AS revenue, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price, "
        "CAST(i_wholesale_cost AS DOUBLE) AS i_wholesale_cost, i_brand "
        f"FROM ({_Q65}) v"
    ),
    "tpcds_q98": (
        "SELECT i_item_desc, i_category, i_class, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price, "
        "CAST(itemrevenue AS DOUBLE) AS itemrevenue, "
        "floor(CAST(revenueratio AS DOUBLE) * 1e6) / 1e6 AS revenueratio "
        f"FROM ({_Q98}) v"
    ),
    # q7's AVG over DECIMAL returns DOUBLE on DuckDB but exact DECIMAL on
    # Spark; truncation at 1e-4 keeps both on the same grid despite DuckDB's
    # double-accumulation error (~1e-9 absolute at these magnitudes).
    "tpcds_q7": (
        "SELECT i_item_id, "
        "floor(CAST(agg1 AS DOUBLE) * 1e4) / 1e4 AS agg1, "
        "floor(CAST(agg2 AS DOUBLE) * 1e4) / 1e4 AS agg2, "
        "floor(CAST(agg3 AS DOUBLE) * 1e4) / 1e4 AS agg3, "
        "floor(CAST(agg4 AS DOUBLE) * 1e4) / 1e4 AS agg4 "
        f"FROM ({_Q7}) v"
    ),
    "tpcds_q12": (
        "SELECT i_item_id, i_item_desc, i_category, i_class, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price, "
        "CAST(itemrevenue AS DOUBLE) AS itemrevenue, "
        "floor(CAST(revenueratio AS DOUBLE) * 1e6) / 1e6 AS revenueratio "
        f"FROM ({_Q12}) v"
    ),
    "tpcds_q15": (
        f"SELECT ca_zip, CAST(sum_sales AS DOUBLE) AS sum_sales FROM ({_Q15}) v"
    ),
    "tpcds_q20": (
        "SELECT i_item_id, i_item_desc, i_category, i_class, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price, "
        "CAST(itemrevenue AS DOUBLE) AS itemrevenue, "
        "floor(CAST(revenueratio AS DOUBLE) * 1e6) / 1e6 AS revenueratio "
        f"FROM ({_Q20}) v"
    ),
    # round (not floor) for the ratio: an exact-decimal margin that lands ON
    # the 1e-6 grid (e.g. a single-discount class at -0.04) carries ±1-ulp
    # double noise that floor amplifies to a full grid step; round collapses
    # it back onto the grid on both engines. The year binding (1998) is
    # probed exact-tie-free at all three SFs so the template-internal RANK
    # over the raw ratio agrees between decimal and double arithmetic.
    "tpcds_q36": (
        "SELECT round(CAST(gross_margin AS DOUBLE) * 1e6) / 1e6 AS gross_margin, "
        "i_category, i_class, CAST(lochierarchy AS INT) AS lochierarchy, "
        "CAST(rank_within_parent AS INT) AS rank_within_parent "
        f"FROM ({_Q36}) v"
    ),
    "tpcds_q42": (
        "SELECT d_year, i_category_id, i_category, "
        "CAST(sum_sales AS DOUBLE) AS sum_sales "
        f"FROM ({_Q42}) v"
    ),
    "tpcds_q43": (
        "SELECT s_store_name, s_store_id, "
        + ", ".join(
            f"CAST({d}_sales AS DOUBLE) AS {d}_sales"
            for d in ("sun", "mon", "tue", "wed", "thu", "fri", "sat")
        )
        + f" FROM ({_Q43}) v"
    ),
    "tpcds_q59": (
        "SELECT s_store_name1, s_store_id1, d_week_seq1, "
        + ", ".join(
            f"floor(CAST(r{i} AS DOUBLE) * 1e6) / 1e6 AS r{i}" for i in range(1, 8)
        )
        + f" FROM ({_Q59}) v"
    ),
    "tpcds_q25": (
        "SELECT i_item_id, i_item_desc, s_store_id, s_store_name, "
        "CAST(store_sales_profit AS DOUBLE) AS store_sales_profit, "
        "CAST(store_returns_loss AS DOUBLE) AS store_returns_loss, "
        "CAST(catalog_sales_profit AS DOUBLE) AS catalog_sales_profit "
        f"FROM ({_Q25}) v"
    ),
    "tpcds_q26": (
        "SELECT i_item_id, "
        "floor(CAST(agg1 AS DOUBLE) * 1e4) / 1e4 AS agg1, "
        "floor(CAST(agg2 AS DOUBLE) * 1e4) / 1e4 AS agg2, "
        "floor(CAST(agg3 AS DOUBLE) * 1e4) / 1e4 AS agg3, "
        "floor(CAST(agg4 AS DOUBLE) * 1e4) / 1e4 AS agg4 "
        f"FROM ({_Q26}) v"
    ),
    "tpcds_q29": (
        "SELECT i_item_id, i_item_desc, s_store_id, s_store_name, "
        "store_sales_quantity, store_returns_quantity, catalog_sales_quantity "
        f"FROM ({_Q29}) v"
    ),
    "tpcds_q33": (
        "SELECT i_manufact_id, CAST(total_sales AS DOUBLE) AS total_sales "
        f"FROM ({_Q33}) v"
    ),
    "tpcds_q45": (
        f"SELECT ca_zip, ca_city, CAST(sum_sales AS DOUBLE) AS sum_sales FROM ({_Q45}) v"
    ),
    "tpcds_q56": (
        "SELECT i_item_id, CAST(total_sales AS DOUBLE) AS total_sales "
        f"FROM ({_Q56}) v"
    ),
    "tpcds_q60": (
        "SELECT i_item_id, CAST(total_sales AS DOUBLE) AS total_sales "
        f"FROM ({_Q60}) v"
    ),
    "tpcds_q68": (
        "SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number, "
        "CAST(extended_price AS DOUBLE) AS extended_price, "
        "CAST(extended_tax AS DOUBLE) AS extended_tax, "
        "CAST(list_price AS DOUBLE) AS list_price "
        f"FROM ({_Q68}) v"
    ),
    "tpcds_q73": (
        "SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag, "
        "ss_ticket_number, cnt "
        f"FROM ({_Q73}) v"
    ),
    "tpcds_q79": (
        "SELECT c_last_name, c_first_name, city, ss_ticket_number, "
        "CAST(amt AS DOUBLE) AS amt, CAST(profit AS DOUBLE) AS profit "
        f"FROM ({_Q79}) v"
    ),
    "tpcds_q96": f"SELECT cnt FROM ({_Q96}) v",
    "tpcds_q13": (
        "SELECT floor(CAST(avg_quantity AS DOUBLE) * 1e4) / 1e4 AS avg_quantity, "
        "floor(CAST(avg_ext_sales_price AS DOUBLE) * 1e4) / 1e4 AS avg_ext_sales_price, "
        "floor(CAST(avg_ext_wholesale_cost AS DOUBLE) * 1e4) / 1e4 "
        "AS avg_ext_wholesale_cost, "
        "CAST(sum_ext_wholesale_cost AS DOUBLE) AS sum_ext_wholesale_cost "
        f"FROM ({_Q13}) v"
    ),
    "tpcds_q27": (
        "SELECT i_item_id, s_state, CAST(g_state AS INT) AS g_state, "
        "floor(CAST(agg1 AS DOUBLE) * 1e4) / 1e4 AS agg1, "
        "floor(CAST(agg2 AS DOUBLE) * 1e4) / 1e4 AS agg2, "
        "floor(CAST(agg3 AS DOUBLE) * 1e4) / 1e4 AS agg3, "
        "floor(CAST(agg4 AS DOUBLE) * 1e4) / 1e4 AS agg4 "
        f"FROM ({_Q27}) v"
    ),
    "tpcds_q32": (
        "SELECT CAST(excess_discount_amount AS DOUBLE) AS excess_discount_amount "
        f"FROM ({_Q32}) v"
    ),
    "tpcds_q48": f"SELECT sum_quantity FROM ({_Q48}) v",
    "tpcds_q61": (
        "SELECT CAST(promotions AS DOUBLE) AS promotions, "
        "CAST(total AS DOUBLE) AS total, "
        "floor(CAST(promo_pct AS DOUBLE) * 1e6) / 1e6 AS promo_pct "
        f"FROM ({_Q61}) v"
    ),
    "tpcds_q92": (
        "SELECT CAST(excess_discount_amount AS DOUBLE) AS excess_discount_amount "
        f"FROM ({_Q92}) v"
    ),
    "tpcds_q93": (
        "SELECT ss_customer_sk, CAST(sumsales AS DOUBLE) AS sumsales "
        f"FROM ({_Q93}) v"
    ),
    "tpcds_q71": (
        "SELECT brand_id, brand, t_hour, t_minute, "
        "CAST(ext_price AS DOUBLE) AS ext_price "
        f"FROM ({_Q71}) v"
    ),
    "tpcds_q84": f"SELECT customer_id, customername FROM ({_Q84}) v",
    "tpcds_q86": (
        "SELECT CAST(total_sum AS DOUBLE) AS total_sum, i_category, i_class, "
        "CAST(lochierarchy AS INT) AS lochierarchy, "
        "CAST(rank_within_parent AS INT) AS rank_within_parent "
        f"FROM ({_Q86}) v"
    ),
    "tpcds_q88": (
        "SELECT h8_30_to_9, h9_to_9_30, h9_30_to_10, h10_to_10_30, "
        "h10_30_to_11, h11_to_11_30, h11_30_to_12, h12_to_12_30 "
        f"FROM ({_Q88}) v"
    ),
    "tpcds_q2": (
        "SELECT d_week_seq1, "
        + ", ".join(
            f"CAST({d}_ratio AS DOUBLE) AS {d}_ratio"
            for d in ("sun", "mon", "tue", "wed", "thu", "fri", "sat")
        )
        + f" FROM ({_Q2}) v"
    ),
    "tpcds_q17": (
        "SELECT i_item_id, i_item_desc, s_state, "
        "CAST(store_sales_quantitycount AS BIGINT) AS store_sales_quantitycount, "
        "round(CAST(store_sales_quantityave AS DOUBLE) * 1e4) / 1e4 AS store_sales_quantityave, "
        "round(CAST(store_sales_quantitystdev AS DOUBLE) * 1e4) / 1e4 AS store_sales_quantitystdev, "
        "round(CAST(store_sales_quantitycov AS DOUBLE) * 1e4) / 1e4 AS store_sales_quantitycov, "
        "CAST(store_returns_quantitycount AS BIGINT) AS store_returns_quantitycount, "
        "round(CAST(store_returns_quantityave AS DOUBLE) * 1e4) / 1e4 AS store_returns_quantityave, "
        "round(CAST(store_returns_quantitystdev AS DOUBLE) * 1e4) / 1e4 AS store_returns_quantitystdev, "
        "round(CAST(store_returns_quantitycov AS DOUBLE) * 1e4) / 1e4 AS store_returns_quantitycov, "
        "CAST(catalog_sales_quantitycount AS BIGINT) AS catalog_sales_quantitycount, "
        "round(CAST(catalog_sales_quantityave AS DOUBLE) * 1e4) / 1e4 AS catalog_sales_quantityave, "
        "round(CAST(catalog_sales_quantitystdev AS DOUBLE) * 1e4) / 1e4 AS catalog_sales_quantitystdev, "
        "round(CAST(catalog_sales_quantitycov AS DOUBLE) * 1e4) / 1e4 AS catalog_sales_quantitycov "
        f"FROM ({_Q17}) v"
    ),
    "tpcds_q50": (
        "SELECT s_store_name, s_company_id, s_street_number, s_street_name, "
        "s_street_type, s_suite_number, s_city, s_county, s_state, s_zip, "
        "CAST(days30 AS BIGINT) AS days30, "
        "CAST(days31_60 AS BIGINT) AS days31_60, "
        "CAST(days61_90 AS BIGINT) AS days61_90, "
        "CAST(days91_120 AS BIGINT) AS days91_120, "
        "CAST(days120plus AS BIGINT) AS days120plus "
        f"FROM ({_Q50}) v"
    ),
    "tpcds_q54": (
        "SELECT CAST(segment AS INT) AS segment, "
        "CAST(num_customers AS BIGINT) AS num_customers, "
        "CAST(segment_base AS INT) AS segment_base "
        f"FROM ({_Q54}) v"
    ),
    "tpcds_q31": (
        "SELECT ca_county, d_year, "
        + ", ".join(
            f"floor(CAST({c} AS DOUBLE) * 1e6) / 1e6 AS {c}"
            for c in (
                "web_q1_q2_increase",
                "store_q1_q2_increase",
                "web_q2_q3_increase",
                "store_q2_q3_increase",
            )
        )
        + f" FROM ({_Q31}) v"
    ),
    "tpcds_q34": (
        "SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag, "
        f"ss_ticket_number, cnt FROM ({_Q34}) v"
    ),
    "tpcds_q38": f"SELECT cnt FROM ({_Q38}) v",
    "tpcds_q46": (
        "SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number, "
        "CAST(amt AS DOUBLE) AS amt, CAST(profit AS DOUBLE) AS profit "
        f"FROM ({_Q46}) v"
    ),
    "tpcds_q47": (
        "SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy, "
        "floor(CAST(avg_monthly_sales AS DOUBLE) * 1e4) / 1e4 AS avg_monthly_sales, "
        "CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "CAST(psum AS DOUBLE) AS psum, CAST(nsum AS DOUBLE) AS nsum "
        f"FROM ({_Q47}) v"
    ),
    "tpcds_q51": (
        "SELECT item_sk, CAST(d_date AS TIMESTAMP) AS d_date, "
        "CAST(web_sales AS DOUBLE) AS web_sales, "
        "CAST(store_sales AS DOUBLE) AS store_sales, "
        "CAST(web_cumulative AS DOUBLE) AS web_cumulative, "
        "CAST(store_cumulative AS DOUBLE) AS store_cumulative "
        f"FROM ({_Q51}) v"
    ),
    "tpcds_q53": (
        "SELECT i_manufact_id, CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "floor(CAST(avg_quarterly_sales AS DOUBLE) * 1e4) / 1e4 AS avg_quarterly_sales "
        f"FROM ({_Q53}) v"
    ),
    "tpcds_q63": (
        "SELECT i_manager_id, CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "floor(CAST(avg_monthly_sales AS DOUBLE) * 1e4) / 1e4 AS avg_monthly_sales "
        f"FROM ({_Q63}) v"
    ),
    "tpcds_q70": (
        "SELECT CAST(total_sum AS DOUBLE) AS total_sum, s_state, s_county, "
        "CAST(lochierarchy AS INT) AS lochierarchy, "
        "CAST(rank_within_parent AS INT) AS rank_within_parent "
        f"FROM ({_Q70}) v"
    ),
    "tpcds_q87": f"SELECT cnt FROM ({_Q87}) v",
    "tpcds_q89": (
        "SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy, "
        "CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "floor(CAST(avg_monthly_sales AS DOUBLE) * 1e4) / 1e4 AS avg_monthly_sales "
        f"FROM ({_Q89}) v"
    ),
    # DuckDB's SUM over INTEGER yields HUGEINT (rendered float64 by pandas);
    # Spark yields BIGINT — pin both to BIGINT.
    "tpcds_q97": (
        "SELECT CAST(store_only AS BIGINT) AS store_only, "
        "CAST(catalog_only AS BIGINT) AS catalog_only, "
        "CAST(store_and_catalog AS BIGINT) AS store_and_catalog "
        f"FROM ({_Q97}) v"
    ),
    "tpcds_q9": (
        "SELECT "
        + ", ".join(
            f"floor(CAST(bucket{i} AS DOUBLE) * 1e4) / 1e4 AS bucket{i}"
            for i in range(1, 6)
        )
        + f" FROM ({_Q9}) v"
    ),
    "tpcds_q28": (
        "SELECT "
        + ", ".join(
            f"floor(CAST(B{i}_LP AS DOUBLE) * 1e4) / 1e4 AS b{i}_lp, "
            f"CAST(B{i}_CNT AS BIGINT) AS b{i}_cnt, "
            f"CAST(B{i}_CNTD AS BIGINT) AS b{i}_cntd"
            for i in range(1, 7)
        )
        + f" FROM ({_Q28}) v"
    ),
    "tpcds_q41": f"SELECT i_product_name FROM ({_Q41}) v",
    "tpcds_q74": (
        "SELECT customer_id, customer_first_name, customer_last_name "
        f"FROM ({_Q74}) v"
    ),
    "tpcds_q11": (
        "SELECT customer_id, customer_first_name, customer_last_name, "
        "customer_preferred_cust_flag "
        f"FROM ({_Q11}) v"
    ),
    "tpcds_q4": (
        "SELECT customer_id, customer_first_name, customer_last_name, "
        "customer_preferred_cust_flag "
        f"FROM ({_Q4}) v"
    ),
    "tpcds_q58": (
        "SELECT item_id, CAST(ss_item_rev AS DOUBLE) AS ss_item_rev, "
        "round(CAST(ss_dev AS DOUBLE) * 1e4) / 1e4 AS ss_dev, "
        "CAST(cs_item_rev AS DOUBLE) AS cs_item_rev, "
        "round(CAST(cs_dev AS DOUBLE) * 1e4) / 1e4 AS cs_dev, "
        "CAST(ws_item_rev AS DOUBLE) AS ws_item_rev, "
        "round(CAST(ws_dev AS DOUBLE) * 1e4) / 1e4 AS ws_dev, "
        "round(CAST(average AS DOUBLE) * 1e4) / 1e4 AS average "
        f"FROM ({_Q58}) v"
    ),
    "tpcds_q8": (
        f"SELECT s_store_name, CAST(profit AS DOUBLE) AS profit FROM ({_Q8}) v"
    ),
    "tpcds_q64": (
        "SELECT product_name, store_name, store_zip, b_street_number, "
        "b_street_name, b_city, b_zip, c_street_number, c_street_name, "
        "c_city, c_zip, CAST(syear AS INT) AS syear, "
        "CAST(cnt AS BIGINT) AS cnt, "
        "CAST(s11 AS DOUBLE) AS s11, CAST(s21 AS DOUBLE) AS s21, "
        "CAST(s31 AS DOUBLE) AS s31, CAST(s12 AS DOUBLE) AS s12, "
        "CAST(s22 AS DOUBLE) AS s22, CAST(s32 AS DOUBLE) AS s32, "
        "CAST(syear2 AS INT) AS syear2, CAST(cnt2 AS BIGINT) AS cnt2 "
        f"FROM ({_Q64}) v"
    ),
    "tpcds_q67": (
        "SELECT i_category, i_class, i_brand, i_product_name, "
        "CAST(d_year AS INT) AS d_year, CAST(d_qoy AS INT) AS d_qoy, "
        "CAST(d_moy AS INT) AS d_moy, s_store_id, "
        "CAST(sumsales AS DOUBLE) AS sumsales, CAST(rk AS BIGINT) AS rk "
        f"FROM ({_Q67}) v"
    ),
    "tpcds_q23": (
        f"SELECT CAST(total_sales AS DOUBLE) AS total_sales FROM ({_Q23}) v"
    ),
    "tpcds_q24": (
        "SELECT c_last_name, c_first_name, s_store_name, "
        "CAST(paid AS DOUBLE) AS paid "
        f"FROM ({_Q24}) v"
    ),
    "tpcds_q14": (
        "SELECT channel, CAST(i_brand_id AS INT) AS i_brand_id, "
        "CAST(i_class_id AS INT) AS i_class_id, "
        "CAST(i_category_id AS INT) AS i_category_id, "
        "CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "CAST(sum_number_sales AS BIGINT) AS sum_number_sales "
        f"FROM ({_Q14}) v"
    ),
    "tpcds_q95": (
        "SELECT CAST(order_count AS BIGINT) AS order_count, "
        "CAST(total_shipping_cost AS DOUBLE) AS total_shipping_cost, "
        "CAST(total_net_profit AS DOUBLE) AS total_net_profit "
        f"FROM ({_Q95}) v"
    ),
    "tpcds_q57": (
        "SELECT i_category, i_brand, cc_name, CAST(d_year AS INT) AS d_year, "
        "CAST(d_moy AS INT) AS d_moy, "
        "round(CAST(avg_monthly_sales AS DOUBLE) * 1e4) / 1e4 AS avg_monthly_sales, "
        "CAST(sum_sales AS DOUBLE) AS sum_sales, "
        "CAST(psum AS DOUBLE) AS psum, CAST(nsum AS DOUBLE) AS nsum "
        f"FROM ({_Q57}) v"
    ),
    "tpcds_q49": (
        "SELECT channel, CAST(item AS BIGINT) AS item, "
        "round(CAST(return_ratio AS DOUBLE) * 1e6) / 1e6 AS return_ratio, "
        "CAST(return_rank AS BIGINT) AS return_rank, "
        "CAST(currency_rank AS BIGINT) AS currency_rank "
        f"FROM ({_Q49}) v"
    ),
    "tpcds_q21": (
        "SELECT w_warehouse_name, i_item_id, "
        "CAST(inv_before AS BIGINT) AS inv_before, "
        "CAST(inv_after AS BIGINT) AS inv_after "
        f"FROM ({_Q21}) v"
    ),
    "tpcds_q22": (
        "SELECT i_product_name, i_brand, i_class, i_category, "
        "round(CAST(qoh AS DOUBLE) * 1e4) / 1e4 AS qoh "
        f"FROM ({_Q22}) v"
    ),
    "tpcds_q37": (
        "SELECT i_item_id, i_item_desc, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price "
        f"FROM ({_Q37}) v"
    ),
    "tpcds_q82": (
        "SELECT i_item_id, i_item_desc, "
        "CAST(i_current_price AS DOUBLE) AS i_current_price "
        f"FROM ({_Q82}) v"
    ),
    "tpcds_q39": (
        "SELECT CAST(inv1_w_warehouse_sk AS BIGINT) AS inv1_w_warehouse_sk, "
        "CAST(inv1_i_item_sk AS BIGINT) AS inv1_i_item_sk, "
        "CAST(inv1_d_moy AS INT) AS inv1_d_moy, "
        "round(CAST(inv1_mean AS DOUBLE) * 1e4) / 1e4 AS inv1_mean, "
        "round(CAST(inv1_cov AS DOUBLE) * 1e4) / 1e4 AS inv1_cov, "
        "CAST(inv2_w_warehouse_sk AS BIGINT) AS inv2_w_warehouse_sk, "
        "CAST(inv2_i_item_sk AS BIGINT) AS inv2_i_item_sk, "
        "CAST(inv2_d_moy AS INT) AS inv2_d_moy, "
        "round(CAST(inv2_mean AS DOUBLE) * 1e4) / 1e4 AS inv2_mean, "
        "round(CAST(inv2_cov AS DOUBLE) * 1e4) / 1e4 AS inv2_cov "
        f"FROM ({_Q39}) v"
    ),
    "tpcds_q72": (
        "SELECT i_item_desc, w_warehouse_name, "
        "CAST(d_week_seq AS INT) AS d_week_seq, "
        "CAST(no_promo AS BIGINT) AS no_promo, "
        "CAST(promo AS BIGINT) AS promo, "
        "CAST(total_cnt AS BIGINT) AS total_cnt "
        f"FROM ({_Q72}) v"
    ),
    "tpcds_q16": (
        "SELECT CAST(order_count AS BIGINT) AS order_count, "
        "CAST(total_shipping_cost AS DOUBLE) AS total_shipping_cost, "
        "CAST(total_net_profit AS DOUBLE) AS total_net_profit "
        f"FROM ({_Q16}) v"
    ),
    "tpcds_q94": (
        "SELECT CAST(order_count AS BIGINT) AS order_count, "
        "CAST(total_shipping_cost AS DOUBLE) AS total_shipping_cost, "
        "CAST(total_net_profit AS DOUBLE) AS total_net_profit "
        f"FROM ({_Q94}) v"
    ),
    "tpcds_q40": (
        "SELECT w_state, i_item_id, "
        "CAST(sales_before AS DOUBLE) AS sales_before, "
        "CAST(sales_after AS DOUBLE) AS sales_after "
        f"FROM ({_Q40}) v"
    ),
    "tpcds_q62": (
        "SELECT warehouse_name, sm_type, web_name, "
        + ", ".join(
            f"CAST({c} AS BIGINT) AS {c}"
            for c in ("days30", "days31_60", "days61_90", "days91_120", "days120plus")
        )
        + f" FROM ({_Q62}) v"
    ),
    "tpcds_q99": (
        "SELECT warehouse_name, sm_type, cc_name, "
        + ", ".join(
            f"CAST({c} AS BIGINT) AS {c}"
            for c in ("days30", "days31_60", "days61_90", "days91_120", "days120plus")
        )
        + f" FROM ({_Q99}) v"
    ),
    "tpcds_q90": (
        "SELECT round(CAST(am_pm_ratio AS DOUBLE) * 1e6) / 1e6 AS am_pm_ratio "
        f"FROM ({_Q90}) v"
    ),
    "tpcds_q85": (
        "SELECT reason_desc, "
        "round(CAST(avg_qty AS DOUBLE) * 1e4) / 1e4 AS avg_qty, "
        "round(CAST(avg_refunded AS DOUBLE) * 1e4) / 1e4 AS avg_refunded, "
        "round(CAST(avg_fee AS DOUBLE) * 1e4) / 1e4 AS avg_fee "
        f"FROM ({_Q85}) v"
    ),
    # sales/net sums are exact decimal-by-int products on both engines; the
    # per-sq-foot columns sum DOUBLE quotients on DuckDB vs exact decimals on
    # Spark — normalized on a cent grid (values O(1e2-1e4), noise O(1e-9))
    "tpcds_q66": (
        "SELECT w_warehouse_name, "
        "CAST(w_warehouse_sq_ft AS BIGINT) AS w_warehouse_sq_ft, "
        "w_city, w_county, w_state, w_country, ship_carriers, "
        "CAST(year AS INT) AS year, "
        + ", ".join(
            f"CAST({m}_sales AS DOUBLE) AS {m}_sales"
            for m in ("jan", "feb", "mar", "apr", "may", "jun",
                      "jul", "aug", "sep", "oct", "nov", "dec")
        )
        + ", "
        + ", ".join(
            f"round(CAST({m}_sales_per_sq_foot AS DOUBLE) * 1e2) / 1e2 "
            f"AS {m}_sales_per_sq_foot"
            for m in ("jan", "feb", "mar", "apr", "may", "jun",
                      "jul", "aug", "sep", "oct", "nov", "dec")
        )
        + ", "
        + ", ".join(
            f"CAST({m}_net AS DOUBLE) AS {m}_net"
            for m in ("jan", "feb", "mar", "apr", "may", "jun",
                      "jul", "aug", "sep", "oct", "nov", "dec")
        )
        + f" FROM ({_Q66}) v"
    ),
    "tpcds_q77": (
        "SELECT channel, CAST(id AS BIGINT) AS id, "
        "CAST(sales AS DOUBLE) AS sales, CAST(returns AS DOUBLE) AS returns, "
        "CAST(profit AS DOUBLE) AS profit "
        f"FROM ({_Q77}) v"
    ),
    "tpcds_q5": (
        "SELECT channel, id, CAST(sales AS DOUBLE) AS sales, "
        "CAST(returns AS DOUBLE) AS returns, CAST(profit AS DOUBLE) AS profit "
        f"FROM ({_Q5}) v"
    ),
    "tpcds_q80": (
        "SELECT channel, id, CAST(sales AS DOUBLE) AS sales, "
        "CAST(returns AS DOUBLE) AS returns, CAST(profit AS DOUBLE) AS profit "
        f"FROM ({_Q80}) v"
    ),
    "tpcds_q75": (
        "SELECT CAST(prev_year AS INT) AS prev_year, CAST(year AS INT) AS year, "
        "CAST(i_brand_id AS INT) AS i_brand_id, "
        "CAST(i_class_id AS INT) AS i_class_id, "
        "CAST(i_category_id AS INT) AS i_category_id, "
        "CAST(i_manufact_id AS INT) AS i_manufact_id, "
        "CAST(prev_yr_cnt AS BIGINT) AS prev_yr_cnt, "
        "CAST(curr_yr_cnt AS BIGINT) AS curr_yr_cnt, "
        "CAST(sales_cnt_diff AS BIGINT) AS sales_cnt_diff, "
        "CAST(sales_amt_diff AS DOUBLE) AS sales_amt_diff "
        f"FROM ({_Q75}) v"
    ),
    "tpcds_q78": (
        "SELECT CAST(ss_sold_year AS INT) AS ss_sold_year, "
        "CAST(ss_item_sk AS BIGINT) AS ss_item_sk, "
        "CAST(ss_customer_sk AS BIGINT) AS ss_customer_sk, "
        "CAST(ratio AS DOUBLE) AS ratio, "
        "CAST(store_qty AS BIGINT) AS store_qty, "
        "CAST(store_wholesale_cost AS DOUBLE) AS store_wholesale_cost, "
        "CAST(store_sales_price AS DOUBLE) AS store_sales_price, "
        "CAST(other_chan_qty AS BIGINT) AS other_chan_qty, "
        "CAST(other_chan_wholesale_cost AS DOUBLE) AS other_chan_wholesale_cost, "
        "CAST(other_chan_sales_price AS DOUBLE) AS other_chan_sales_price "
        f"FROM ({_Q78}) v"
    ),
    "tpcds_q30": (
        "SELECT c_customer_id, c_salutation, c_first_name, c_last_name, "
        "c_preferred_cust_flag, CAST(c_birth_day AS BIGINT) AS c_birth_day, "
        "CAST(c_birth_month AS BIGINT) AS c_birth_month, "
        "CAST(c_birth_year AS BIGINT) AS c_birth_year, c_birth_country, "
        "c_login, c_email_address, "
        "CAST(c_last_review_date_sk AS BIGINT) AS c_last_review_date_sk, "
        "CAST(ctr_total_return AS DOUBLE) AS ctr_total_return "
        f"FROM ({_Q30}) v"
    ),
    "tpcds_q81": (
        "SELECT c_customer_id, c_salutation, c_first_name, c_last_name, "
        "ca_street_number, ca_street_name, ca_street_type, ca_suite_number, "
        "ca_city, ca_county, ca_state, ca_zip, ca_country, "
        "CAST(ca_gmt_offset AS BIGINT) AS ca_gmt_offset, ca_location_type, "
        "CAST(ctr_total_return AS DOUBLE) AS ctr_total_return "
        f"FROM ({_Q81}) v"
    ),
    "tpcds_q83": (
        "SELECT item_id, CAST(sr_item_qty AS BIGINT) AS sr_item_qty, "
        "round(CAST(sr_dev AS DOUBLE) * 1e6) / 1e6 AS sr_dev, "
        "CAST(cr_item_qty AS BIGINT) AS cr_item_qty, "
        "round(CAST(cr_dev AS DOUBLE) * 1e6) / 1e6 AS cr_dev, "
        "CAST(wr_item_qty AS BIGINT) AS wr_item_qty, "
        "round(CAST(wr_dev AS DOUBLE) * 1e6) / 1e6 AS wr_dev, "
        "round(CAST(average AS DOUBLE) * 1e6) / 1e6 AS average "
        f"FROM ({_Q83}) v"
    ),
    "tpcds_q91": (
        "SELECT Call_Center AS call_center, Call_Center_Name AS call_center_name, "
        "Manager AS manager, CAST(Returns_Loss AS DOUBLE) AS returns_loss "
        f"FROM ({_Q91}) v"
    ),
    "tpcds_q10": (
        "SELECT cd_gender, cd_marital_status, cd_education_status, "
        "CAST(cnt1 AS BIGINT) AS cnt1, CAST(cd_purchase_estimate AS BIGINT) "
        "AS cd_purchase_estimate, CAST(cnt2 AS BIGINT) AS cnt2, "
        "cd_credit_rating, CAST(cnt3 AS BIGINT) AS cnt3, "
        "CAST(cd_dep_count AS BIGINT) AS cd_dep_count, "
        "CAST(cnt4 AS BIGINT) AS cnt4, "
        "CAST(cd_dep_employed_count AS BIGINT) AS cd_dep_employed_count, "
        "CAST(cnt5 AS BIGINT) AS cnt5, "
        "CAST(cd_dep_college_count AS BIGINT) AS cd_dep_college_count, "
        "CAST(cnt6 AS BIGINT) AS cnt6 "
        f"FROM ({_Q10}) v"
    ),
    "tpcds_q35": (
        "SELECT ca_state, cd_gender, cd_marital_status, "
        "CAST(cd_dep_count AS BIGINT) AS cd_dep_count, "
        "CAST(cnt1 AS BIGINT) AS cnt1, CAST(avg1 AS DOUBLE) AS avg1, "
        "CAST(max1 AS BIGINT) AS max1, CAST(sum1 AS BIGINT) AS sum1, "
        "CAST(cd_dep_employed_count AS BIGINT) AS cd_dep_employed_count, "
        "CAST(cnt2 AS BIGINT) AS cnt2, CAST(avg2 AS DOUBLE) AS avg2, "
        "CAST(max2 AS BIGINT) AS max2, CAST(sum2 AS BIGINT) AS sum2, "
        "CAST(cd_dep_college_count AS BIGINT) AS cd_dep_college_count, "
        "CAST(cnt3 AS BIGINT) AS cnt3, CAST(avg3 AS DOUBLE) AS avg3, "
        "CAST(max3 AS BIGINT) AS max3, CAST(sum3 AS BIGINT) AS sum3 "
        f"FROM ({_Q35}) v"
    ),
    "tpcds_q69": (
        "SELECT cd_gender, cd_marital_status, cd_education_status, "
        "CAST(cnt1 AS BIGINT) AS cnt1, CAST(cd_purchase_estimate AS BIGINT) "
        "AS cd_purchase_estimate, CAST(cnt2 AS BIGINT) AS cnt2, "
        "cd_credit_rating, CAST(cnt3 AS BIGINT) AS cnt3 "
        f"FROM ({_Q69}) v"
    ),
    # round (not floor): agg5 averages a signed profit — floor amplifies
    # -1-ulp double noise on negative grid values (see q36's convention note).
    # The i_item_id IS NOT NULL guard drops exactly the ROLLUP grand-total
    # row (the only level without an item key): on EMPTY input DuckDB still
    # emits that one all-NULL row while Spark emits nothing — an engine
    # divergence the guard normalizes identically on both sides.
    "tpcds_q18": (
        "SELECT i_item_id, ca_country, ca_state, ca_county, "
        + ", ".join(
            f"round(CAST(agg{i} AS DOUBLE) * 1e4) / 1e4 AS agg{i}"
            for i in range(1, 8)
        )
        + f" FROM ({_Q18}) v WHERE i_item_id IS NOT NULL"
    ),
    "tpcds_q76": (
        "SELECT channel, col_name, d_year, d_qoy, i_category, "
        "CAST(sales_cnt AS BIGINT) AS sales_cnt, "
        "CAST(sales_amt AS DOUBLE) AS sales_amt "
        f"FROM ({_Q76}) v"
    ),
}


def _tpcds_query(name: str):
    # dependency scan over the SQL with single-quoted string literals
    # stripped first: a bare \b-regex would also match channel LITERALS
    # ('store channel' in q5/q76/q77/q80) and output aliases (q49's AS
    # item), first-use materializing tables the query never scans —
    # efficiency only, but a full table scan + ORC write per phantom
    # dependency.
    _scan_sql = _re.sub(r"'[^']*'", "''", _WRAPPED[name])
    # aliases can also shadow table names (q49's `... AS item`): a genuine
    # table reference never follows AS, so blank the alias position too
    _scan_sql = _re.sub(r"\bAS\s+(\w+)", "AS _", _scan_sql, flags=_re.IGNORECASE)
    needed = {
        t for t in _TPCDS_TABLES if _re.search(rf"\b{t}\b", _scan_sql)
    }

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_tpcds_views(spark, sf_dir, only=needed)
        return spark.sql(_WRAPPED[name])

    run.__name__ = name
    run.__qualname__ = name
    run.__doc__ = (
        "Verbatim public TPC-DS template over the derived mini star schema "
        "(see module docstring; reference runs the full 99 via "
        "src/bin/tpcds_bench.rs:68-69)."
    )
    return run


# q66 UNION-ALLs a web branch summing ws_ext_sales_price*qty (scale 2) with a
# catalog branch summing cs_sales_price*qty (scale 6). Both SUMs saturate
# DECIMAL(38,s); at that width DuckDB unifies the UNION at the NARROWER scale
# (rounding the catalog cents away) while Spark keeps scale 6. Storing the
# oracle's ws_ext_sales_price at scale 6 — value-identical, 2-dp prices are
# exact at 6 dp — makes both branches scale 6 so no engine rescales anything.
_DDB_DIMS_WS_SCALE6 = _DDB_DIMS.replace(
    "CAST(l_extendedprice AS DECIMAL(12,2)) AS ws_ext_sales_price",
    "CAST(l_extendedprice AS DECIMAL(16,6)) AS ws_ext_sales_price",
)
assert _DDB_DIMS_WS_SCALE6 != _DDB_DIMS

# q72's verbatim join order (catalog_sales x inventory on item alone, week
# equality applied only through two date_dim hops) runs >10 min on DuckDB at
# the sf0.01 gate scale — DuckDB keeps the full 260-snapshots-per-item
# blowup; Spark/Catalyst pushes the demographic filters first and runs it in
# seconds. The ORACLE is a hand-restructured equivalent (filter-first,
# MATERIALIZED sides, identical join semantics incl. the 0/1-multiplying
# LEFT JOINs); the Spark side runs the verbatim template.
_DDB_DIMS_Q72 = (
    _DDB_DIMS
    + """,
cs_q72 AS MATERIALIZED (
    SELECT cs_item_sk, cs_order_number, cs_quantity, cs_promo_sk,
           d1.d_week_seq
    FROM catalog_sales
         JOIN customer_demographics ON cs_bill_cdemo_sk = cd_demo_sk
         JOIN household_demographics ON cs_bill_hdemo_sk = hd_demo_sk
         JOIN date_dim d1 ON cs_sold_date_sk = d1.d_date_sk
         JOIN date_dim d3 ON cs_ship_date_sk = d3.d_date_sk
    WHERE hd_buy_potential = '>10000'
      AND d1.d_year = 1997
      AND cd_marital_status = 'D'
      AND d3.d_date > d1.d_date + 5
),
inv_q72 AS MATERIALIZED (
    SELECT inv_item_sk, inv_warehouse_sk, inv_quantity_on_hand, d2.d_week_seq
    FROM inventory JOIN date_dim d2 ON inv_date_sk = d2.d_date_sk
)"""
)

_Q72_ORACLE_BODY = """
SELECT i_item_desc, w_warehouse_name, cs_q72.d_week_seq AS d_week_seq,
       SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) no_promo,
       SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) promo,
       COUNT(*) total_cnt
FROM cs_q72
     JOIN inv_q72 ON (cs_item_sk = inv_item_sk
                      AND cs_q72.d_week_seq = inv_q72.d_week_seq
                      AND inv_quantity_on_hand < cs_quantity)
     JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
     JOIN item ON (i_item_sk = cs_item_sk)
     LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
     LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
                                         AND cr_order_number = cs_order_number)
GROUP BY i_item_desc, w_warehouse_name, cs_q72.d_week_seq
ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, d_week_seq
LIMIT 100
"""

# per-query oracle dim overrides (engine-rounding / engine-planner
# emulation; see _DDB_DIMS_CS_HALFUP, _DDB_DIMS_WS_SCALE6, _DDB_DIMS_Q72)
_ORACLE_DIMS = {
    "tpcds_q18": _DDB_DIMS_CS_HALFUP,
    "tpcds_q66": _DDB_DIMS_WS_SCALE6,
    "tpcds_q72": _DDB_DIMS_Q72,
}

# q21's lower bound literal `2.0 / 3.0` is folded by Spark in DECIMAL
# arithmetic to 0.666667 (decimal(8,6), HALF_UP) but evaluated by DuckDB in
# DOUBLE (0.66666666666666663) — an inventory ratio of exactly 2/3 is inside
# Spark's bound but outside DuckDB's. The oracle text inlines Spark's folded
# constant so both engines apply the same bound; the Spark side runs the
# verbatim template.
_ORACLE_WRAPPED = {
    "tpcds_q21": _WRAPPED["tpcds_q21"].replace("BETWEEN 2.0 / 3.0", "BETWEEN 0.666667"),
    "tpcds_q72": _WRAPPED["tpcds_q72"].replace(_Q72, _Q72_ORACLE_BODY),
    # q54 segments CASTs a decimal quotient to INT: Spark truncates toward
    # zero (revenue 812925.95 / 50 = 16258.519 → 16258) while DuckDB's
    # decimal→INT cast rounds half away (→ 16259). revenue >= 0, so
    # trunc == Spark's cast; the Spark side runs the verbatim template.
    # The divergence needs a row to bite: a parameter binding that returns
    # 0 rows at the gate scale would hide it.
    "tpcds_q54": _WRAPPED["tpcds_q54"].replace(
        "CAST((revenue / 50) AS INT)", "CAST(trunc(revenue / 50) AS INT)"
    ),
}
assert _ORACLE_WRAPPED["tpcds_q21"] != _WRAPPED["tpcds_q21"]
assert _ORACLE_WRAPPED["tpcds_q72"] != _WRAPPED["tpcds_q72"]
assert _ORACLE_WRAPPED["tpcds_q54"] != _WRAPPED["tpcds_q54"]

# q49 RANKs over DECIMAL(15,4)/DECIMAL(15,4) quotients. Spark evaluates the
# division in DECIMAL at scale 20 (HALF_UP), so equal true ratios (e.g. the
# single-discount 1/0.94 family) are exactly equal and tie; DuckDB evaluates
# it in DOUBLE, where different operand magnitudes of the same rational can
# land 1 ulp apart — splitting the tie and shifting every downstream rank.
# The oracle therefore ranks on Spark's value computed EXACTLY in HUGEINT:
# key = round_half_up(A/B * 10^20) = (2*A*10^20 + B) // (2*B), with A and B
# the half-up-4dp operands (round(x,4) is half-away in DuckDB = Spark's
# cast). Output ratio columns keep the double quotient — the wrapper's 1e-6
# grid makes it indistinguishable from Spark's scale-20 decimal.
def _q49_oracle_channel(fact, ret, qty_r, qty_s, amt_r, amt_s):
    s20 = "100000000000000000000"
    return f"""
            (SELECT item, return_ratio, currency_ratio,
                    RANK() OVER (ORDER BY (2 * rq * {s20} + sq) // (2 * sq))
                        AS return_rank,
                    RANK() OVER (ORDER BY (2 * ra * {s20} + sp) // (2 * sp))
                        AS currency_rank
             FROM (SELECT {fact}_item_sk AS item,
                          CAST(SUM(COALESCE({qty_r}, 0)) AS HUGEINT) AS rq,
                          CAST(SUM(COALESCE({qty_s}, 0)) AS HUGEINT) AS sq,
                          CAST(round(SUM(COALESCE({amt_r}, 0)), 4) * 10000
                               AS HUGEINT) AS ra,
                          CAST(round(SUM(COALESCE({amt_s}, 0)), 4) * 10000
                               AS HUGEINT) AS sp,
                          (CAST(SUM(COALESCE({qty_r}, 0)) AS DECIMAL(15,4))
                           / CAST(SUM(COALESCE({qty_s}, 0)) AS DECIMAL(15,4)))
                              AS return_ratio,
                          (CAST(SUM(COALESCE({amt_r}, 0)) AS DECIMAL(15,4))
                           / CAST(SUM(COALESCE({amt_s}, 0)) AS DECIMAL(15,4)))
                              AS currency_ratio
                   FROM {{body}}
                   GROUP BY {fact}_item_sk) inner_q) ranked
             WHERE (ranked.return_rank <= 10 OR ranked.currency_rank <= 10)"""


_Q49_ORACLE_BODY = f"""
SELECT channel, item, return_ratio, return_rank, currency_rank
FROM (SELECT 'web' AS channel, ranked.item, ranked.return_ratio,
             ranked.return_rank, ranked.currency_rank
      FROM {_q49_oracle_channel("ws", "wr", "wr_return_quantity",
                                "ws_quantity", "wr_return_amt",
                                "ws_net_paid").format(body='''
                        web_sales LEFT OUTER JOIN web_returns
                        ON (ws_order_number = wr_order_number
                            AND ws_item_sk = wr_item_sk), date_dim
                   WHERE wr_return_amt > 10000 AND ws_net_profit > 1
                     AND ws_net_paid > 0 AND ws_quantity > 0
                     AND ws_sold_date_sk = d_date_sk
                     AND d_year = 1997 AND d_moy = 12''')}
      UNION
      SELECT 'catalog' AS channel, ranked.item, ranked.return_ratio,
             ranked.return_rank, ranked.currency_rank
      FROM {_q49_oracle_channel("cs", "cr", "cr_return_quantity",
                                "cs_quantity", "cr_return_amount",
                                "cs_net_paid").format(body='''
                        catalog_sales LEFT OUTER JOIN catalog_returns
                        ON (cs_order_number = cr_order_number
                            AND cs_item_sk = cr_item_sk), date_dim
                   WHERE cr_return_amount > 10000 AND cs_net_profit > 1
                     AND cs_net_paid > 0 AND cs_quantity > 0
                     AND cs_sold_date_sk = d_date_sk
                     AND d_year = 1997 AND d_moy = 12''')}
      UNION
      SELECT 'store' AS channel, ranked.item, ranked.return_ratio,
             ranked.return_rank, ranked.currency_rank
      FROM {_q49_oracle_channel("ss", "sr", "sr_return_quantity",
                                "ss_quantity", "sr_return_amt",
                                "ss_net_paid").format(body='''
                        store_sales LEFT OUTER JOIN store_returns
                        ON (ss_ticket_number = sr_ticket_number
                            AND ss_item_sk = sr_item_sk), date_dim
                   WHERE sr_return_amt > 10000 AND ss_net_profit > 1
                     AND ss_net_paid > 0 AND ss_quantity > 0
                     AND ss_sold_date_sk = d_date_sk
                     AND d_year = 1997 AND d_moy = 12''')}
     ) tmp
ORDER BY 1, 4, 5, 2
LIMIT 100
"""

_ORACLE_WRAPPED["tpcds_q49"] = _WRAPPED["tpcds_q49"].replace(_Q49, _Q49_ORACLE_BODY)
assert _ORACLE_WRAPPED["tpcds_q49"] != _WRAPPED["tpcds_q49"]


# ROLLUP templates whose output exceeds their LIMIT need the oracle's sort to
# place NULL super-aggregate keys where Spark places them: Spark sorts ASC
# NULLS FIRST, DuckDB ASC NULLS LAST — with >LIMIT rows the two engines cut
# different sets. The oracle rewrites each ASC ORDER BY key with an explicit
# NULLS FIRST (DESC defaults already agree); the Spark side stays verbatim.
def _oracle_nulls_first(name: str, order_by: str) -> None:
    keys = ", ".join(f"{k.strip()} NULLS FIRST" for k in order_by.split(","))
    src = _ORACLE_WRAPPED.get(name, _WRAPPED[name])
    out = src.replace(f"ORDER BY {order_by}", f"ORDER BY {keys}")
    assert out != src, name
    _ORACLE_WRAPPED[name] = out


_oracle_nulls_first("tpcds_q14", "channel, i_brand_id, i_class_id, i_category_id")
# q18: ROLLUP ORDER BY keys are NULL on every super-aggregate row, and the
# output grows past the LIMIT from ~.scale/sf0.5 up (616 rows pre-LIMIT at
# 5×, 1196 at 10× vs 44/72 at the gate scales) — without the rewrite the
# two engines' top-100 cuts are fully DISJOINT there (Spark NULLS FIRST
# keeps the subtotal rows + the grand-total row that the wrapper's
# post-LIMIT i_item_id guard then drops → 99 rows; DuckDB NULLS LAST keeps
# 100 detail rows). Confirmed on the rehearsal slices; latent at the
# certified scales.
_oracle_nulls_first("tpcds_q18", "ca_country, ca_state, ca_county, i_item_id")
_oracle_nulls_first(
    "tpcds_q22",
    "qoh, i_product_name, i_brand, i_class, i_category",
)
_oracle_nulls_first(
    "tpcds_q67",
    "i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,\n"
    "         s_store_id, sumsales, rk",
)

for _name in _WRAPPED:
    _dims = _ORACLE_DIMS.get(_name, _DDB_DIMS)
    _sql = _ORACLE_WRAPPED.get(_name, _WRAPPED[_name])
    query(_name, oracle=f"WITH {_dims} {_sql}")(_tpcds_query(_name))
