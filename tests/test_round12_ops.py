"""Round-12 operator properties: hybrid-BM25 fusion, BPE encode
train/apply consistency, the triage probe-path widen fix, and the sweep
re-certification ledger mechanics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --------------------------------------------------------------- hybrid bm25
class TestHybridBm25:
    def test_lexical_leg_is_exactly_bm25_rank(self, spark, sf_dir):
        """The fused query's lexical leg must be the CERTIFIED scorer, not a
        reimplementation: recompute bm25_rank at the hybrid's leg geometry
        and check every lexical-leg rank the fusion consumed is derivable
        from it (a doc fused with n_legs=2 or appearing without a vector
        rank must hold a bm25 rank <= HY_LEG_K)."""
        from datafusion_datasource_orc_spark.operators.bm25 import bm25_rank
        from datafusion_datasource_orc_spark.operators.hybrid import (
            HY_LEG_K,
            HY_QUERIES,
            HY_RRF_K,
        )
        from datafusion_datasource_orc_spark.operators.hybrid_bm25 import (
            simsearch_hybrid_bm25,
        )
        from datafusion_datasource_orc_spark.sources.tables import load_table

        fused = {
            (r.q_doc_id, r.doc_id): (r.n_legs, r.rrf_score)
            for r in simsearch_hybrid_bm25(spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        lex = {
            (r.q_doc_id, r.doc_id): r.rnk
            for r in bm25_rank(docs, n_queries=HY_QUERIES, topk=HY_LEG_K).collect()
        }
        assert fused, "hybrid fusion returned nothing"
        for key, (n_legs, score) in fused.items():
            lex_rk = lex.get(key)
            if n_legs == 2:
                assert lex_rk is not None, f"{key} fused 2 legs without a bm25 rank"
            if lex_rk is not None and n_legs == 1:
                # the doc holds a bm25 rank inside the cut, so its single
                # fused leg IS the lexical one — the score must be exactly
                # that rank's integer RRF contribution
                assert score == 1_000_000 // (HY_RRF_K + lex_rk), (
                    key,
                    score,
                    lex_rk,
                )

    def test_two_leg_scores_are_exact_integer_sums(self, spark):
        """Constructed corpus where doc 10 is the unique nearest lexical
        neighbour of query 0: its fused score must be the exact integer
        RRF contribution(s) — no float fuzz anywhere in the fusion."""
        from datafusion_datasource_orc_spark.operators.bm25 import bm25_rank
        from datafusion_datasource_orc_spark.operators.hybrid import (
            HY_RRF_K,
            rrf_fuse,
        )

        docs = _docs(
            spark,
            [
                (0, "alpha beta gamma"),
                (10, "alpha beta gamma delta"),
                (11, "zeta eta theta iota"),
                (12, "kappa llama mu nu"),
            ],
        )
        lexr = bm25_rank(docs, n_queries=1, topk=5).select(
            F.col("q_doc_id").alias("q"), "doc_id", F.col("rnk").alias("rk")
        )
        out = {r.doc_id: r.rrf_score for r in rrf_fuse(lexr, HY_RRF_K, 5).collect()}
        assert out[10] == 1_000_000 // (HY_RRF_K + 1)
        assert set(out) <= {10, 11, 12}


# ---------------------------------------------------------------- bpe encode
class TestBpeEncode:
    def test_apply_matches_training_trajectory(self, spark):
        """Train/apply consistency on a constructed corpus: encode counts
        must equal a by-hand replay of the merges bpe_merge_rounds returns
        (shared machinery means neither side can drift)."""
        from datafusion_datasource_orc_spark.operators.bpe import (
            BPE_ROUNDS,
            bpe_merge_rounds,
        )
        from datafusion_datasource_orc_spark.operators.bpe_apply import (
            bpe_encode_counts,
        )

        rows = [
            (0, "banana banana bandana"),
            (1, "banana anna"),
            (2, "nab nab nab banana"),
        ]
        docs = _docs(spark, rows)
        merges = [
            (r.left_sym, r.right_sym)
            for r in sorted(
                bpe_merge_rounds(docs).collect(), key=lambda r: r.merge_round
            )
        ]
        assert len(merges) == BPE_ROUNDS

        def encode_len(word: str) -> int:
            syms = list(word)
            for p1, p2 in merges:
                out = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == p1 and syms[i + 1] == p2:
                        out.append(p1 + p2)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        got = {
            r.doc_id: (r.ws_tokens, r.bpe_tokens, r.ratio_ppm)
            for r in bpe_encode_counts(docs).collect()
        }
        for doc_id, text in rows:
            words = [w for w in text.lower().split() if w]
            ws = len(words)
            bpe = sum(encode_len(w) for w in words)
            assert got[doc_id] == (ws, bpe, bpe * 1_000_000 // ws), (
                doc_id,
                got[doc_id],
                (ws, bpe),
            )

    def test_merges_reduce_token_count(self, spark):
        """On a corpus with a dominant bigram, encoding under the learned
        merges must yield strictly fewer tokens than character-level
        (i.e. the merges APPLIED — the operator is not a word counter)."""
        from datafusion_datasource_orc_spark.operators.bpe_apply import (
            bpe_encode_counts,
        )

        docs = _docs(spark, [(0, "abab abab ababab"), (1, "ab ab abab")])
        r = {x.doc_id: x for x in bpe_encode_counts(docs).collect()}
        chars0 = sum(len(w) for w in "abab abab ababab".split())
        assert r[0].bpe_tokens < chars0
        assert r[0].ws_tokens == 3

    def test_merge_exhausted_corpus_keeps_every_document(self, spark):
        """r12 ADVICE: a corpus whose only word is 'ab' exhausts learnable
        merges after ONE round (a+b -> ab, then no adjacent pair remains
        anywhere). Encode semantics require one row per document
        regardless — the old CROSS JOIN against the empty round-2 argmax
        annihilated the sequence table and returned ZERO rows, and the
        oracle mirrored it, so the hash gate could not see the bug. Both
        engines must now reach the same fixed point (Spark: loop break;
        oracle: LEFT JOIN + coalesce no-op)."""
        import duckdb

        from datafusion_datasource_orc_spark.operators.bpe_apply import (
            _bpe_encode_oracle,
            bpe_encode_counts,
        )

        rows = [(0, "ab ab ab"), (1, "ab")]
        got = {
            r.doc_id: (r.ws_tokens, r.bpe_tokens, r.ratio_ppm)
            for r in bpe_encode_counts(_docs(spark, rows)).collect()
        }
        # after the single learnable merge every 'ab' is ONE symbol
        want = {0: (3, 3, 1_000_000), 1: (1, 1, 1_000_000)}
        assert got == want
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            "(0, 'ab ab ab'), (1, 'ab')) t(doc_id, text)"
        )
        oracle = {
            r[0]: (r[1], r[2], r[3])
            for r in con.sql(_bpe_encode_oracle()).fetchall()
        }
        assert oracle == want


# ------------------------------------------------------- widen flag (triage)
class TestCheckpointedShinglesWiden:
    def test_widen_false_keeps_input_partitioning(self, spark):
        """The per-batch probe path must not repartition: with widen=False
        the shingle table's partition count tracks the input's, not
        defaultParallelism//2 (the r11 warm-floor regression)."""
        from datafusion_datasource_orc_spark.operators.dedup import (
            checkpointed_shingles,
        )

        docs = _docs(
            spark, [(i, "w%d x y z a b c" % i) for i in range(40)]
        ).coalesce(1)
        narrow = checkpointed_shingles(docs, widen=False)
        assert narrow.rdd.getNumPartitions() == 1
        half = spark.sparkContext.defaultParallelism // 2
        if half > 1:
            wide = checkpointed_shingles(docs, widen=True)
            assert wide.rdd.getNumPartitions() == half


# --------------------------------------------------- sweep re-certification
class TestSweepRecertLedger:
    def _build(self, monkeypatch, artifacts, blobs):
        """Drive tools.stamp_ledger.build() against synthetic artifacts:
        ``artifacts`` = [(round, kind, rows_dict)], ``blobs`` = {(commit,
        module) -> sha}. Git access is monkeypatched out so the test pins
        ONLY the evidence-merge policy."""
        import json as _json

        import tools.stamp_ledger as sl

        paths = {}
        for rnd, kind, rows in artifacts:
            name = ("CORRECTNESS_r%d.json" if kind == 0 else "SWEEP_r%d.json") % rnd
            paths[name] = rows

        def fake_rounds():
            out = []
            for rnd, kind, rows in artifacts:
                name = (
                    "CORRECTNESS_r%d.json" if kind == 0 else "SWEEP_r%d.json"
                ) % rnd
                out.append((rnd, kind, name))
            return sorted(out)

        import builtins

        real_open = builtins.open

        def fake_open(path, *a, **kw):
            import io
            import os as _os

            base = _os.path.basename(str(path))
            if base in paths:
                return io.StringIO(_json.dumps(paths[base]))
            return real_open(path, *a, **kw)

        monkeypatch.setattr(sl, "artifact_rounds", fake_rounds)
        monkeypatch.setattr(sl, "introducing_commit", lambda p: "c_" + p)
        monkeypatch.setattr(
            sl, "blob_at", lambda commit, rel: blobs.get((commit, rel))
        )
        monkeypatch.setattr("builtins.open", fake_open)
        return sl.build()

    def test_sweep_recertifies_but_never_first_stamps(self, monkeypatch):
        ok = {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 5,
            "oracle_rows": 5,
            "err": None,
        }
        artifacts = [
            (5, 0, {"q_old": ok}),  # driver stamps q_old in round 5
            # round-12 full sweep re-certifies q_old and claims q_new —
            # q_new has no driver stamp, so the claim must be ignored
            (
                12,
                1,
                {
                    "__meta__": {"full_registry": True, "n_registry": 2, "n_run": 2},
                    "q_old": {**ok, "module_blob": "sha_r12"},
                    "q_new": {**ok, "module_blob": "sha_new"},
                },
            ),
        ]
        blobs = {("c_CORRECTNESS_r5.json", "mod_a.py"): "sha_r5"}
        import sys
        import types

        import tools.stamp_ledger as sl

        for modname, path in (("_sw_a", "mod_a.py"), ("_sw_b", "mod_b.py")):
            m = types.ModuleType(modname)
            m.__file__ = path
            monkeypatch.setitem(sys.modules, modname, m)

        def fake_q(modname):
            def fn(spark, sf_dir):  # pragma: no cover
                raise NotImplementedError

            fn.__module__ = modname
            return fn

        monkeypatch.setattr(
            "datafusion_datasource_orc_spark.operators.QUERIES",
            {"q_old": fake_q("_sw_a"), "q_new": fake_q("_sw_b")},
        )
        monkeypatch.setattr(
            sl.os.path,
            "relpath",
            lambda p, _repo: __import__("os").path.basename(p),
            raising=True,
        )
        records = self._build(monkeypatch, artifacts, blobs)
        assert "q_new" not in records, "sweep granted a FIRST stamp"
        assert records["q_old"]["round"] == 12
        assert records["q_old"]["blob"] == "sha_r12"
        assert records["q_old"]["evidence"] == "sweep"

    def test_later_driver_stamp_beats_earlier_sweep(self, monkeypatch):
        ok = {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "spark_rows": 5,
            "oracle_rows": 5,
            "err": None,
        }
        artifacts = [
            (5, 0, {"q": ok}),
            (
                12,
                1,
                {
                    "__meta__": {"full_registry": True, "n_registry": 1, "n_run": 1},
                    "q": {**ok, "module_blob": "s12"},
                },
            ),
            (13, 0, {"q": ok}),
        ]
        blobs = {
            ("c_CORRECTNESS_r5.json", "m.py"): "s5",
            ("c_CORRECTNESS_r13.json", "m.py"): "s13",
        }
        import sys
        import types

        import tools.stamp_ledger as sl

        m = types.ModuleType("_sw_c")
        m.__file__ = "m.py"
        monkeypatch.setitem(sys.modules, "_sw_c", m)

        def fn(spark, sf_dir):  # pragma: no cover
            raise NotImplementedError

        fn.__module__ = "_sw_c"
        monkeypatch.setattr(
            "datafusion_datasource_orc_spark.operators.QUERIES", {"q": fn}
        )
        monkeypatch.setattr(
            sl.os.path,
            "relpath",
            lambda p, _repo: __import__("os").path.basename(p),
            raising=True,
        )
        records = self._build(monkeypatch, artifacts, blobs)
        assert records["q"]["round"] == 13
        assert records["q"]["blob"] == "s13"
        assert "evidence" not in records["q"]


# --------------------------------------------------- fixed 0-row certificates
class TestZeroRowFixes:
    @pytest.mark.parametrize(
        "name", ["join_anti", "tpcds_q54", "tpcds_q58", "tpcds_q64"]
    )
    def test_nonzero_at_gate_scale(self, name):
        """Judge r11 task 5: the four queries whose latest stamps certified
        empty results must now be non-trivial at the sf0.01 gate scale, as
        recorded in the committed sweep ledger."""
        import json
        import os

        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "sweep_rows.json")) as f:
            ledger = json.load(f)
        assert ledger[name].get("sf0.01", 0) > 0, (name, ledger.get(name))
