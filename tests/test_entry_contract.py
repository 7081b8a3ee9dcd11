"""Driver-contract shape tests for __spark_entry__.

The external driver imports entry/queries/oracle_sql and relies on: a stable
entry() schema, every queries() value being a (spark, sf_dir) callable, and
oracle keys being a subset of query names. A regression here fails the
driver's gate before any correctness comparison even runs — cheapest
possible guard.
"""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as entrymod


def test_entry_returns_stable_schema(spark):
    df = entrymod.entry(spark)
    assert df.schema.simpleString() == "struct<l_returnflag:string,cnt:bigint>"
    assert len(df.collect()) >= 1


def test_queries_are_two_arg_callables():
    q = entrymod.queries()
    assert len(q) >= 144
    for name, fn in q.items():
        assert callable(fn), name
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (inspect.Parameter.POSITIONAL_ONLY, inspect.Parameter.POSITIONAL_OR_KEYWORD)
        ]
        assert len(params) == 2, f"{name} must take exactly (spark, sf_dir)"


def test_oracle_keys_subset_of_queries_and_nonempty_sql():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH")) for s in o.values())


def test_query_names_are_identifier_like():
    for name in entrymod.queries():
        assert name.replace("_", "").isalnum() and name == name.lower(), name


def test_no_nested_or_date_output_columns(spark, sf_dir):
    """Driver-comparator conventions, enforced at the schema level (plans
    are built, never executed):

    - no array/map/struct outputs — the pandas-based canonicalizer crashes
      on list/dict cells; serialize at the boundary (array_join/to_json);
    - no DATE outputs — Spark dates reach pandas as datetime.date objects
      while DuckDB DATE becomes datetime64 midnight Timestamps, which can
      never hash-match; emit TIMESTAMP_NTZ (Spark) / TIMESTAMP (DuckDB)
      instead (naive datetime64 on both engines)."""
    from pyspark.sql import types as T

    offenders = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType, T.DateType)
            ):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def _write_artifacts(tmp_path, artifacts):
    """Write {round: rows} as CORRECTNESS_r{round}.json; return their paths."""
    import json

    paths = []
    for rnd, rows in artifacts.items():
        path = tmp_path / f"CORRECTNESS_r{rnd}.json"
        path.write_text(json.dumps(rows))
        paths.append(str(path))
    return paths


def test_gate_rotation_ledger_policy(tmp_path):
    """Only hash-matched records are stamps; red, errored and no_oracle rows
    leave the query unstamped, so it keeps its front slot until it earns
    one. Artifacts are read in numeric round order (r9 before r10)."""
    paths = _write_artifacts(
        tmp_path,
        {
            10: {"hard_green": {"hash_match": True, "spark_rows": 4}},
            9: {
                "hard_green": {"hash_match": True, "spark_rows": 3},
                "red_row": {"hash_match": False, "err": None},
                "errored": {"hash_match": None, "err": "boom"},
                "weak": {"hash_match": None, "err": "no_oracle"},
            },
        },
    )
    assert entrymod._driver_stamps(paths) == {"hard_green": [(9, 3), (10, 4)]}


def test_gate_rotation_legacy_list_artifact(tmp_path):
    """A list-format artifact carries no per-row status, so it cannot prove
    a hash match: it grants no stamp."""
    paths = _write_artifacts(tmp_path, {98: ["listed_a", "listed_b"]})
    assert entrymod._driver_stamps(paths) == {}


@pytest.mark.parametrize(
    "histories, expected",
    [
        # a single 0-row stamp re-fronts ahead of a same-round nonzero one
        ({"b": [3, 3], "a": [3, 0]}, ["a", "b"]),
        # a 0-row stamp re-confirmed 0-row by the next examination is
        # by-nature empty: it leaves the 0-row tier and rotates normally
        ({"a": [0, 0], "b": [0]}, ["b", "a"]),
        # a zero after a nonzero is fresh news, even with an older zero
        ({"b": [4, 4, 4], "a": [0, 4, 0]}, ["a", "b"]),
    ],
    ids=[
        "single_zero_row_stamp_refronts",
        "twice_confirmed_zero_exits_tier",
        "nonzero_then_zero_refronts_again",
    ],
)
def test_bounded_zero_row_refront(tmp_path, monkeypatch, histories, expected):
    """histories: {name: spark_rows per stamp, oldest..newest}, each ending
    at the newest round; registration order is the dict order."""
    n_rounds = max(len(h) for h in histories.values())
    artifacts = {rnd: {} for rnd in range(1, n_rounds + 1)}
    for name, h in histories.items():
        for rnd, rows in enumerate(h, start=n_rounds - len(h) + 1):
            artifacts[rnd][name] = {"hash_match": True, "spark_rows": rows}
    paths = _write_artifacts(tmp_path, artifacts)
    real = entrymod._driver_stamps
    monkeypatch.setattr(entrymod, "_driver_stamps", lambda: real(paths))
    monkeypatch.setattr(entrymod, "_stale_stamps", lambda stamped: set())
    monkeypatch.setattr(
        "datafusion_datasource_orc_spark.operators.QUERIES",
        dict.fromkeys(histories),
    )
    assert list(entrymod.queries()) == expected


def test_git_blob_sha_matches_git_hash_object(tmp_path):
    """_git_blob_sha replicates `git hash-object` without a git binary; the
    stale-stamp rule compares it against `git ls-tree` shas, so the two
    implementations must agree byte-for-byte."""
    import subprocess

    p = tmp_path / "blob.bin"
    p.write_bytes(b"stale-stamp probe \x00\xff\n")
    expect = subprocess.run(
        ["git", "hash-object", str(p)], capture_output=True, text=True, check=True
    ).stdout.strip()
    assert entrymod._git_blob_sha(str(p)) == expect
    assert entrymod._git_blob_sha(str(tmp_path / "missing")) is None


def test_stale_stamps_refront_on_module_change(tmp_path, monkeypatch):
    """Re-front-on-material-change (judge r05 task 3): a stamped query whose
    module blob sha no longer matches its recorded stamp-time sha is stale;
    matching shas and sidecar-absent names keep their stamp."""
    import json
    import sys
    import types

    mod_ok = tmp_path / "mod_ok.py"
    mod_ok.write_bytes(b"A = 1\n")
    mod_changed = tmp_path / "mod_changed.py"
    mod_changed.write_bytes(b"B = 2\n")

    for modname, path in (("_stale_ok", mod_ok), ("_stale_chg", mod_changed)):
        m = types.ModuleType(modname)
        m.__file__ = str(path)
        monkeypatch.setitem(sys.modules, modname, m)

    def fake_q(modname):
        def fn(spark, sf_dir):  # pragma: no cover - shape only
            raise NotImplementedError

        fn.__module__ = modname
        return fn

    monkeypatch.setattr(
        "datafusion_datasource_orc_spark.operators.QUERIES",
        {
            "q_unchanged": fake_q("_stale_ok"),
            "q_changed": fake_q("_stale_chg"),
            "q_unrecorded": fake_q("_stale_ok"),
        },
    )
    (tmp_path / "stamp_hashes.json").write_text(
        json.dumps(
            {
                "q_unchanged": {"round": 5, "blob": entrymod._git_blob_sha(str(mod_ok))},
                "q_changed": {"round": 5, "blob": "0" * 40},
                "q_gone_from_registry": {"round": 3, "blob": "1" * 40},
            }
        )
    )
    monkeypatch.setattr(entrymod.os.path, "dirname", lambda _: str(tmp_path))
    stale = entrymod._stale_stamps({"q_unchanged", "q_changed", "q_unrecorded"})
    assert stale == {"q_changed"}


def test_queries_order_fresh_then_stale_then_stamped():
    """Ordering contract over the REAL registry + committed artifacts:
    never-stamped first (first stamps outrank everything), then a single
    0-row latest stamp, then stale re-fronts (material change since stamp),
    then current stamps; within a tier, oldest latest stamp first."""
    stamps = entrymod._driver_stamps()
    stale = entrymod._stale_stamps(set(stamps))

    def tier(name):
        if name not in stamps:
            return (0, 0)
        rows = [r for _, r in stamps[name]]
        zero = rows[-1] == 0 and rows[-2:] != [0, 0]
        return (1 if zero else 2 if name in stale else 3, stamps[name][-1][0])

    tiers = [tier(n) for n in entrymod.queries()]
    assert tiers == sorted(tiers), "queries() must order fresh < 0-row < stale < current"


# The 21 queries whose module changed after their latest stamp, per the
# stamp_hashes.json regenerated over CORRECTNESS_r01..r15.
_STALE_AT_R15 = {
    "approx_heavy_hitters", "dedup_embedding_cosine", "embedding_dim_stats",
    "embedding_kmeans", "embedding_power_iteration", "embedding_stats",
    "embedding_whitening", "except_all_keys", "grouping_id_rollup",
    "join_null_safe", "percentile_by_priority", "simsearch_bruteforce",
    "simsearch_bruteforce_arrow", "simsearch_ivf", "simsearch_ivfpq",
    "simsearch_knn_join", "simsearch_lsh", "simsearch_pq", "simsearch_sq",
    "udaf_sum_squares", "udtf_sentences",
}

# The driver's first-50 gate window over those frozen inputs: the 21 stale
# queries (r14 stamps, then r15), then the 29 oldest current stamps (24 from
# r8, 5 from r9), each run in registration order.
_GATE_WINDOW_AT_R15 = [
    "except_all_keys", "join_null_safe", "grouping_id_rollup",
    "percentile_by_priority", "udtf_sentences", "udaf_sum_squares",
    "approx_heavy_hitters", "embedding_whitening", "simsearch_sq",
    "simsearch_bruteforce", "simsearch_knn_join", "simsearch_lsh",
    "dedup_embedding_cosine", "simsearch_ivf", "embedding_stats",
    "simsearch_bruteforce_arrow", "embedding_dim_stats", "simsearch_pq",
    "embedding_power_iteration", "simsearch_ivfpq", "embedding_kmeans",
    "dedup_containment", "approx_countmin_tokens", "events_conversion_funnel",
    "events_zscore_anomaly", "events_retention_cohorts",
    "events_interarrival_stats", "events_ewma_smooth", "simsearch_hybrid_rrf",
    "simsearch_ivf_kmeans", "multimodal_bytes", "multimodal_frame_sample",
    "multimodal_batch_packing", "orc_encoding_stats", "agg_avg_filter",
    "distinct_values", "join_inner", "orc_scan_full", "orc_projection",
    "orc_filter_eq", "orc_filter_range", "orc_filter_neq",
    "orc_filter_compound", "orc_filter_isnull", "training_epoch_shard",
    "training_curriculum_quantiles", "multimodal_phash_neardup",
    "text_pii_scrub", "text_blocklist_screen", "window_rank",
]


def test_gate_window_golden(monkeypatch):
    """Pin the first 50 of queries() over frozen inputs: CORRECTNESS_r01..r15
    only, and the stale set above instead of the live module hashes, so a
    later artifact or an operator edit does not move it."""
    import os

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    frozen = [os.path.join(here, f"CORRECTNESS_r{r:02d}.json") for r in range(1, 16)]
    real = entrymod._driver_stamps
    monkeypatch.setattr(entrymod, "_driver_stamps", lambda: real(frozen))
    monkeypatch.setattr(
        entrymod, "_stale_stamps", lambda stamped: _STALE_AT_R15 & stamped
    )
    assert list(entrymod.queries())[:50] == _GATE_WINDOW_AT_R15


def test_stamp_hashes_sidecar_is_current():
    """The committed sidecar must equal a rebuild over the artifact rounds it
    claims to cover (rounds newer than its max are tolerated — the driver
    writes its artifact before the builder can regenerate the sidecar)."""
    import json
    import os

    from tools.stamp_ledger import SIDECAR, build

    if not os.path.exists(SIDECAR):
        pytest.skip("no sidecar committed yet")
    with open(SIDECAR) as f:
        sidecar = json.load(f)
    max_round = max((r.get("round", 0) for r in sidecar.values()), default=0)
    assert sidecar == build(max_round=max_round), (
        "stamp_hashes.json is stale; run python tools/stamp_ledger.py"
    )


def test_every_registered_query_is_nontrivial_at_some_scale():
    """Judge r08 task 5: a 0-row hash match is a weak certificate. Every
    registered query must return >0 rows at at least one committed scale,
    as recorded in sweep_rows.json (written by
    `tools/check_oracles.py --rows-out <sf_dir>` during the per-round
    sweeps — table-driven off the sweep ledger, so the assertion tracks
    exactly what the sweeps measured, not a hand-maintained list)."""
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "sweep_rows.json")) as f:
        ledger = json.load(f)
    names = set(entrymod.queries())
    missing = sorted(names - set(ledger))
    assert not missing, (
        f"{len(missing)} queries have no recorded sweep row count "
        f"(e.g. {missing[:5]}); run tools/check_oracles.py --rows-out"
    )
    trivial = sorted(
        n for n in names if not any(v > 0 for v in ledger[n].values())
    )
    assert not trivial, (
        f"{len(trivial)} queries return 0 rows at every recorded scale: "
        f"{trivial} — extend the fixture (the multimodal_phash_neardup twin "
        "precedent) or tighten the query"
    )


# The driver's own session: plain builder, hostile timezone, none of
# get_spark's confs. Prints one JSON line: per query, the Spark and DuckDB
# row counts, sorted column names and value hashes, plus the materialization
# root and whether it existed before exit.
_VANILLA_PROBE = """
import json, os, sys

import duckdb
from pyspark.sql import SparkSession

repo, sf_dir = sys.argv[1], sys.argv[2]
sys.path[:0] = [repo, os.path.join(repo, "tools")]
import __spark_entry__ as entrymod
from check_oracles import value_hash
from datafusion_datasource_orc_spark.sources import tables

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.session.timeZone", "America/Los_Angeles")
    .getOrCreate()
)
con = duckdb.connect()
for t in tables.TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
    )
queries, oracles = entrymod.queries(), entrymod.oracle_sql()


def side(pdf):
    rows = list(pdf.itertuples(index=False, name=None))
    return [len(rows), sorted(pdf.columns), value_hash(rows, list(pdf.columns))]


checks = {"entry": (entrymod.entry(spark), "orc_groupby_count")}
for name in (
    "orc_file_metadata_pruned",
    "orc_rowgroup_stats",
    "events_tumbling_window",
    "tpcds_q98",
):
    checks[name] = (queries[name](spark, sf_dir), name)
out = {
    name: [side(df.toPandas()), side(con.execute(oracles[oracle]).df())]
    for name, (df, oracle) in checks.items()
}
root = tables._MATERIALIZED_ROOT
out["root"] = [root, os.path.isdir(root)]
spark.stop()
print(json.dumps(out))
"""


def test_vanilla_session_driver_probe(tmp_path, sf_dir):
    """The driver runs entry() and queries() in its own SparkSession, not
    get_spark's. A child process builds one the way the driver does
    (``local[2]``, session timezone America/Los_Angeles) and runs entry()
    (the orc_groupby_count flagship at the default sf0.001 corpus), the
    chunked-layout metadata query, the row-group statistics query (footers
    parsed on the driver into an Arrow-built frame, which must need none of
    get_spark's Arrow confs), the events table's tumbling window and a
    TPC-DS query; each must value-hash-match its DuckDB oracle with rows.
    The child's materialization root, under its TMPDIR, must be gone once
    the child has exited."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
    )
    r = subprocess.run(
        [sys.executable, "-c", _VANILLA_PROBE, repo, sf_dir],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    root, existed = out.pop("root")
    assert existed and os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root), "materialization root left behind at exit"
    assert sorted(out) == sorted(
        [
            "entry",
            "orc_file_metadata_pruned",
            "orc_rowgroup_stats",
            "events_tumbling_window",
            "tpcds_q98",
        ]
    )
    for name, (spark_side, oracle_side) in out.items():
        assert spark_side[0] > 0, f"{name}: no rows"
        assert spark_side == oracle_side, f"{name}: spark {spark_side} != oracle {oracle_side}"
