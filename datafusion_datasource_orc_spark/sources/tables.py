"""Testdata table access + ORC materialization.

The driver testdata is parquet (TESTDATA.md). The reference's whole point is
the ORC *scan path* (projection/predicate/limit pushdown hit the ORC reader),
so connector-surface queries first materialize each table as ORC
(``df.write.orc``) and re-read it — the exact flow of the reference's data
prep scripts (scripts/convert_tpcds_to_orc.py:61-83: parquet → ORC per table).

``materialized_dir`` is the one per-process cache for every derived ORC
directory: the fixture tables and layouts here, the ingest staging batch,
the span and triage indexes, and the TPC-DS star schema. Each is built once
per (sf_dir, name) under one temp root, so repeated queries in a process pay
the conversion once, and the root is removed at interpreter exit. Everything
after the write is a plain ORC listing-table scan, identical to registering
the directory in the reference (src/bin/tpcds_bench.rs:590-614).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_datasource_orc_spark.session import ORC_CODEC

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# materialized_dir's cache: (abspath(sf_dir), name) -> built directory
_MATERIALIZED: dict[tuple[str, str], str] = {}
_MATERIALIZED_ROOT: str | None = None

# DataFrame (lazy plan) cache per session: spark.read.parquet re-reads the
# footer schema on every call, which dominates derived-view registration
# (the TPC-DS fact builders alone trigger ~16 loads per query without it).
# One (session, plans) pair, not a WeakKeyDictionary: each cached DataFrame
# strongly references its session (df._session), so weak entries could
# never be collected and a getOrCreate-cycling process would leak every
# stopped session's plans. Holding exactly one session's cache bounds the
# retained garbage to that single pair; a new session evicts the old one.
_DF_CACHE_SESSION: SparkSession | None = None
_DF_CACHE_PLANS: dict[tuple[str, str], DataFrame] = {}


def _pin_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only when it differs (avoids repeated mutation and
    the RuntimeConfig round-trip on every load_table call)."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet read of one testdata table (lazy; metadata only).

    Timestamp columns are pinned to TIMESTAMP (LTZ, UTC instants), never
    TIMESTAMP_NTZ: the testdata's parquet timestamps are naive
    (isAdjustedToUTC=false), which Spark 4 would infer as NTZ — a type that
    cannot be cast to double/long and that DuckDB's naive TIMESTAMP does not
    round-trip with. Disabling ``inferTimestampNTZ`` reads the stored
    microseconds as UTC instants, exactly DuckDB's interpretation, and keeps
    predicate pushdown on the raw column (no cast wrapper in the plan).

    ``events.ts`` as parquet TIMESTAMP(NANOS) (earlier testdata generations)
    is rejected by Spark's reader outright (PARQUET_TYPE_ILLEGAL); we read it
    as raw nanos via the ``nanosAsLong`` conf and truncate to microseconds —
    what DuckDB's TIMESTAMP_NS → TIMESTAMP coercion does, so the oracle
    agrees.

    PUBLIC-API SIDE EFFECT: these pins mutate the CALLER'S session confs
    (session timezone → UTC, NTZ inference off) and persist for subsequent
    non-framework queries on the same session. This is load-bearing for
    oracle parity — the driver compares against a tz-naive DuckDB — and is
    the documented contract of every ``queries()`` entry. Confs are only
    written when they differ, so repeated loads don't re-mutate."""
    _pin_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # UTC pin at the data boundary: the caller may hand us a session with any
    # timezone (the driver uses its own SparkSession); date extraction /
    # epoch arithmetic over the LTZ timestamps must match the tz-naive DuckDB
    # oracle, which reads the stored values as-is.
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    global _DF_CACHE_SESSION
    if _DF_CACHE_SESSION is not spark:
        _DF_CACHE_SESSION = spark
        _DF_CACHE_PLANS.clear()
    cache = _DF_CACHE_PLANS
    # abspath-normalized so relative/absolute spellings of one directory share
    # an entry. The cached plan freezes the file listing + footer schema at
    # first load — fine for the static driver testdata this repo reads, but a
    # directory whose files change within a session would need invalidation.
    key = (os.path.abspath(sf_dir), name)
    if key in cache:
        return cache[key]
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer DIV: float division would lose precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        df = spark.read.parquet(path)
    cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so ``spark.sql`` queries see the star schema —
    the ctx.register_table loop of the reference harness
    (src/bin/tpcds_bench.rs:521-541)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def materialized_dir(sf_dir: str, name: str, build: Callable[[str], object]) -> str:
    """The directory holding derived data ``name`` of ``sf_dir``, built once
    per process: ``build(path)`` fills the directory, created beforehand, on
    the first call and again only if the directory has disappeared since.

    ``name`` is namespaced by kind (``orc/customer``, ``tpcds/customer``,
    ``chunked/orders/o_orderkey/4``, ``triage_index``), so derived data of
    different kinds never shares a key. Its directory is one path component,
    the name with ``/`` written as ``.``, so no directory nests inside
    another's (``bloom/orders/o_orderkey/4/1000`` and its extra-column
    variant are siblings). It sits under ``<sf_dir basename>_<md5 of
    abspath(sf_dir)>``, so two corpora with the same basename never write
    into, and then serve, each other's files. The temp root holding every
    directory is removed at interpreter exit."""
    global _MATERIALIZED_ROOT
    key = (os.path.abspath(sf_dir), name)
    path = _MATERIALIZED.get(key)
    if path and os.path.isdir(path):
        return path
    if _MATERIALIZED_ROOT is None:
        _MATERIALIZED_ROOT = tempfile.mkdtemp(prefix="orc_materialized_")
        atexit.register(shutil.rmtree, _MATERIALIZED_ROOT, ignore_errors=True)
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    digest = hashlib.md5(key[0].encode()).hexdigest()[:8]
    path = os.path.join(
        _MATERIALIZED_ROOT, f"{sf_tag}_{digest}", name.replace("/", ".")
    )
    os.makedirs(path, exist_ok=True)
    build(path)
    _MATERIALIZED[key] = path
    return path


def orc_dir_for(spark: SparkSession, sf_dir: str, name: str) -> str:
    """A testdata table as an ORC directory, written by Spark with the
    session's codec once per process (``materialized_dir``)."""
    return materialized_dir(
        sf_dir,
        f"orc/{name}",
        lambda path: load_table(spark, sf_dir, name).write.mode("overwrite").orc(path),
    )


def load_orc_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The ORC-scan-path loader: parquet → ORC (cached) → spark.read.orc."""
    return spark.read.orc(orc_dir_for(spark, sf_dir, name))


def _write_key_chunks(
    table, key, nchunks: int, path: str, sort_by: str | None = None, **options
) -> list[str]:
    """Write ``nchunks`` files chunk-<k>.orc into ``path``, file k holding
    exactly the rows of ``table`` whose ``key`` (an integer array aligned
    with its rows) satisfies ``key % nchunks == k``, sorted by column
    ``sort_by`` when given, with pyarrow's writer, ``ORC_CODEC`` and
    ``options``. Returns the file paths in chunk order."""
    import pyarrow.compute as pc
    import pyarrow.orc as porc

    # mask == modulo only holds for power-of-two nchunks AND non-negative
    # keys (two's-complement masking of a negative key disagrees with SQL
    # `%`) — assert both loudly rather than silently drift from the oracle
    assert nchunks & (nchunks - 1) == 0, "nchunks must be a power of two"
    # NULL keys would vanish silently: bit_wise_and(NULL)=NULL, the equal()
    # mask is NULL, and Arrow's filter drops null-mask rows from EVERY
    # chunk — so the layout would under-count vs the parquet source with no
    # error. Fail loudly instead (and note pc.min of an all-null column is
    # None, which the >= 0 assertion alone would wave through).
    assert key.null_count == 0, (
        f"chunk key has {key.null_count} NULLs; NULL-keyed rows would be "
        f"silently excluded from every chunk file"
    )
    key_min = pc.min(key).as_py()
    assert key_min is None or key_min >= 0, (
        f"chunk key has negative values (min={key_min}); the bit_wise_and "
        f"layout would disagree with the oracle's % contract"
    )
    bucket = pc.bit_wise_and(key, nchunks - 1)
    outs = []
    for k in range(nchunks):
        chunk = table.filter(pc.equal(bucket, k))
        if sort_by:
            chunk = chunk.sort_by(sort_by)
        out = os.path.join(path, f"chunk-{k}.orc")
        porc.write_table(chunk, out, compression=ORC_CODEC, **options)
        outs.append(out)
    return outs


def orc_chunked_dir_for(
    sf_dir: str, name: str, key: str, nchunks: int = 4
) -> str:
    """A DETERMINISTIC-layout ORC directory: ``nchunks`` files named
    chunk-<k>.orc, file k holding exactly the rows where ``key % nchunks
    == k``. Written with pyarrow (not Spark) so file names AND per-file
    row assignment are reproducible — which is what makes per-file facts
    (orcmeta's num_rows for one named file) oracle-checkable: the DuckDB
    twin recomputes a chunk's content from the SAME modulo rule instead of
    guessing writer parallelism."""
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        _write_key_chunks(table, table.column(key), nchunks, path)

    return materialized_dir(sf_dir, f"chunked/{name}/{key}/{nchunks}", build)


BLOOM_STRIDE = 1000  # row_index_stride for the bloom-indexed layout


def orc_bloom_dir_for(
    sf_dir: str,
    name: str,
    key: str,
    nchunks: int = 4,
    stride: int = BLOOM_STRIDE,
    extra_bloom: tuple[str, ...] = (),
) -> str:
    """A deterministic BLOOM-INDEXED layout: like orc_chunked_dir_for but
    each chunk is SORTED by ``key`` and written with a bloom filter on it
    (pyarrow `bloom_filter_columns` takes FLATTENED ORC type ids; the key's
    id is its column index + 1, root struct being 0) at a fixed
    ``row_index_stride``. Sorting is what makes row-group MEMBERSHIP
    oracle-checkable: row group g of chunk k is exactly rows
    rank g*stride..(g+1)*stride-1 of {key % nchunks == k} ordered by key —
    arithmetic both engines reproduce. Each chunk must land in ONE stripe
    (asserted loudly) so group numbering never restarts mid-file."""
    import pyarrow.orc as porc
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        # flattened ORC type ids: root struct is 0, column j is j+1
        bloom_ids = [table.schema.get_field_index(c) + 1 for c in (key, *extra_bloom)]
        for out in _write_key_chunks(
            table,
            table.column(key),
            nchunks,
            path,
            sort_by=key,
            row_index_stride=stride,
            bloom_filter_columns=bloom_ids,
            bloom_filter_fpp=0.01,
        ):
            nstripes = porc.ORCFile(out).nstripes
            assert nstripes <= 1, (
                f"bloom layout chunk {out} spans {nstripes} stripes; group "
                f"numbering would restart mid-file and break the oracle's rank "
                f"arithmetic — shrink the source or raise stripe_size"
            )

    variant = "/".join((name, key, str(nchunks), str(stride), *extra_bloom))
    return materialized_dir(sf_dir, f"bloom/{variant}", build)


# Columns materialized for the encoding-stats layout: three low-cardinality
# strings (dictionary candidates) and one int64 (always DIRECT_V2).
ENCODING_COLUMNS = ("l_orderkey", "l_returnflag", "l_linestatus")


def orc_encoding_dir_for(sf_dir: str, name: str = "lineitem") -> str:
    """Two single-stripe ORC variants of the same projection, differing ONLY
    in the writer's dictionary decision: `direct` is written with
    dictionary_key_size_threshold=0.0 (pyarrow's default — every column
    DIRECT_V2) and `dict` with 1.0 (every string column DICTIONARY_V2,
    dictionarySize = the stripe's exact distinct count). Thresholds 0/1
    make the encoding choice DETERMINISTIC by construction — no replication
    of the Java writer's 0.8 sampling heuristic — which is what lets a
    DuckDB oracle pin the parsed encodings with literals + COUNT(DISTINCT).
    Single stripe asserted so dictionarySize equals the whole file's ndv."""
    import pyarrow.orc as porc
    import pyarrow.parquet as pq

    def build(path: str) -> None:
        table = pq.read_table(
            os.path.join(sf_dir, f"{name}.parquet"), columns=list(ENCODING_COLUMNS)
        )
        for tag, thr in (("direct", 0.0), ("dict", 1.0)):
            out = os.path.join(path, f"{tag}.orc")
            porc.write_table(
                table,
                out,
                compression=ORC_CODEC,
                dictionary_key_size_threshold=thr,
                stripe_size=512 * 1024 * 1024,
            )
            nstripes = porc.ORCFile(out).nstripes
            assert nstripes == 1, (
                f"encoding layout {out} spans {nstripes} stripes; dictionarySize "
                "would be per-stripe, not per-file — raise stripe_size"
            )

    return materialized_dir(sf_dir, f"encodings/{name}", build)
