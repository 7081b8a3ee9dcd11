"""Column-encoding statistics — the fourth axis of the ORC metadata ladder
(file stats → stripe stats → row-group stats/bloom → ENCODINGS): which
physical encoding each column actually got, and the exact dictionary
cardinality where one was built. The reference never surfaces encodings at
all (its stats TODO stops at min/max, src/metadata.rs:79-84); this is what
a storage-layout audit at 100 TB reads FIRST, because a high-cardinality
string column accidentally dictionary-encoded (or a low-cardinality one
that fell back to DIRECT) is a silent size/speed regression across every
downstream scan.

Oracle-ability by construction: the fixture (tables.orc_encoding_dir_for)
writes the same projection twice with dictionary_key_size_threshold 0.0
and 1.0 — the two ends of the writer's dial, where the encoding decision
is deterministic (every string DIRECT_V2, resp. DICTIONARY_V2 with
dictionarySize = the stripe's exact distinct count). The DuckDB twin pins
the kinds as literals and the dictionary sizes as COUNT(DISTINCT) over
the same rows — a parser or writer drift fails the hash gate loudly.

Scale shape: the orcmeta reader parses one stripe footer per file (tail +
one ranged read) on the driver (``orcmeta.load``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_datasource_orc_spark.operators.registry import query

_STRING_COLS = ("l_returnflag", "l_linestatus")


def _encoding_oracle() -> str:
    dict_rows = " UNION ALL ".join(
        f"SELECT 'dict' AS variant, '{c}' AS column_name, "
        f"'DICTIONARY_V2' AS encoding, "
        f"CAST((SELECT COUNT(DISTINCT {c}) FROM lineitem) AS BIGINT) "
        f"AS dictionary_size"
        for c in _STRING_COLS
    )
    direct_rows = " UNION ALL ".join(
        f"SELECT 'direct', '{c}', 'DIRECT_V2', CAST(0 AS BIGINT)"
        for c in _STRING_COLS
    )
    return f"""
    {dict_rows}
    UNION ALL SELECT 'dict', 'l_orderkey', 'DIRECT_V2', CAST(0 AS BIGINT)
    UNION ALL {direct_rows}
    UNION ALL SELECT 'direct', 'l_orderkey', 'DIRECT_V2', CAST(0 AS BIGINT)
    """


@query("orc_encoding_stats", oracle=_encoding_oracle())
def orc_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring: per-(variant, column) physical encoding and
    dictionary cardinality, parsed from the StripeFooter by
    orcfooter.read_column_encodings through the orcmeta plugin seam."""
    from datafusion_datasource_orc_spark.sources import orcmeta
    from datafusion_datasource_orc_spark.sources.tables import orc_encoding_dir_for

    d = orc_encoding_dir_for(sf_dir)
    return (
        orcmeta.load(spark, d, stats="encodings")
        .select(
            F.regexp_replace("file_name", r"\.orc$", "").alias("variant"),
            "column_name",
            "encoding",
            F.col("dictionary_size").cast("long").alias("dictionary_size"),
        )
    )
