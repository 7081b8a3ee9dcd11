"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The inventory lives in ``datafusion_datasource_orc_spark.operators``; every
operator registers its Spark callable and DuckDB oracle side-by-side
(operators/registry.py), which keeps output column names aligned between the
two — the comparator hashes values under sorted column names.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Mirrors the reference's flagship group-by golden
    (tests/basic_reading.rs:919-948) over the ORC scan path: parquet →
    ORC materialization → spark.read.orc → filter → groupBy → count.
    """
    from datafusion_datasource_orc_spark.operators.scan import orc_groupby_count

    return orc_groupby_count(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Gate rotation policy. The driver's correctness gate hash-checks the FIRST
# 50 entries of queries(), so this order is the coverage policy. It is
# derived only from committed evidence: the CORRECTNESS_r*.json artifacts
# (a stamp is a ``hash_match: true`` record) and stamp_hashes.json (the
# module blob each stamp certified, written by tools/stamp_ledger.py).
# queries() sorts once, by tier, then latest stamp round (oldest evidence
# first), then registration position:
#
#   0. never stamped;
#   1. latest stamp certified 0 rows, unless the stamp before it did too
#      (a 0-row hash match is the weakest certificate; twice-confirmed empty
#      results rotate normally);
#   2. stale: the registered module changed since its latest stamp;
#   3. current.
# ---------------------------------------------------------------------------


def _driver_stamps(paths: list[str] | None = None) -> dict[str, list[tuple[int, object]]]:
    """name → ``(round, spark_rows)`` of every hash-matched record, oldest
    first, read once from ``paths`` (default: the committed
    CORRECTNESS_r*.json) in NUMERIC round order — a lexicographic sort would
    put r100 before r11. Red, errored and ``no_oracle`` rows grant nothing,
    nor does an unreadable or non-dict artifact."""
    if paths is None:
        here = os.path.dirname(os.path.abspath(__file__))
        paths = glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
    rounds = []
    for path in paths:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    stamps: dict[str, list[tuple[int, object]]] = {}
    for rnd, path in sorted(rounds):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in rows.items() if isinstance(rows, dict) else ():
            if isinstance(rec, dict) and rec.get("hash_match") is True:
                stamps.setdefault(name, []).append((rnd, rec.get("spark_rows")))
    return stamps


def _git_blob_sha(path: str) -> str | None:
    """Git blob sha1 of a file's current on-disk bytes, computed without a
    git binary (sha1 of b"blob <len>\\0" + content) — matches `git hash-object`
    so it compares directly against `git ls-tree` output from the sidecar."""
    import hashlib

    try:
        with open(path, "rb") as f:
            content = f.read()
    except OSError:
        return None
    h = hashlib.sha1(b"blob %d\x00" % len(content))
    h.update(content)
    return h.hexdigest()


def _stale_stamps(stamped: set[str]) -> set[str]:
    """Re-front-on-material-change rule (judge r05 task 3).

    A driver stamp certifies the query AS IT WAS when the artifact was
    recorded. `tools/stamp_ledger.py` (run at round start, committed) writes
    stamp_hashes.json mapping each hard-stamped query to the git blob sha of
    its registered module at its LATEST stamp commit. A stamped query whose
    module content has since changed is STALE: it re-enters the fresh pool
    (behind never-stamped queries) so the driver re-certifies the changed
    code. Names absent from the sidecar keep their stamp — the rule only
    acts on recorded evidence, never guesses.
    """
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    sidecar = os.path.join(here, "stamp_hashes.json")
    try:
        with open(sidecar) as f:
            recorded = json.load(f)
    except (OSError, ValueError):
        return set()
    if not isinstance(recorded, dict):
        return set()

    from datafusion_datasource_orc_spark.operators import QUERIES

    current_blob: dict[str, str | None] = {}  # module name → blob sha cache
    stale: set[str] = set()
    for name in stamped:
        rec = recorded.get(name)
        if not isinstance(rec, dict) or name not in QUERIES:
            continue
        modname = QUERIES[name].__module__
        if modname not in current_blob:
            modfile = getattr(sys.modules.get(modname), "__file__", None)
            current_blob[modname] = _git_blob_sha(modfile) if modfile else None
        if rec.get("blob") != current_blob[modname]:
            stale.add(name)
    return stale


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in gate order
    (see the rotation policy above)."""
    from datafusion_datasource_orc_spark.operators import QUERIES

    stamps = _driver_stamps()
    stale = _stale_stamps(set(stamps))

    def key(name: str) -> tuple[int, int]:
        history = stamps.get(name)
        if not history:
            return (0, 0)
        rows = [r for _, r in history[-2:]]
        if rows[-1] == 0 and rows != [0, 0]:
            tier = 1
        else:
            tier = 2 if name in stale else 3
        return (tier, history[-1][0])

    # sorted() is stable, so equal keys keep registration order
    return {n: QUERIES[n] for n in sorted(QUERIES, key=key)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for EVERY registered query (since
    round 5 — multimodal_decode's stub-decode features became exact integer
    byte sums + single IEEE divisions, so even it is hash-checked; a
    missing oracle row is now a regression, see tests/test_oracle_parity).

    Sketches are oracle-exact by construction: simhash buckets are
    md5-nibble bit votes DuckDB replicates exactly; minhash-LSH /
    vector-LSH / IVF / SQ / PQ / power-iteration use engine-replicable
    integer-mix or exact-decimal arithmetic; and the approx percentile /
    heavy-hitter / distinct queries emit exact twins + boolean
    sketch-guarantee columns."""
    from datafusion_datasource_orc_spark.operators import ORACLES

    return dict(ORACLES)
