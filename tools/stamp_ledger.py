"""Record stamp-time module hashes for the re-front-on-material-change rule.

The driver's CORRECTNESS_r*.json artifacts certify each query AS OF the
commit that introduced the artifact. This tool walks those artifacts via
git, and for every hard-stamped query (hash_match=true) records the git
blob sha of the query's registered module at its LATEST stamp commit into
stamp_hashes.json (committed). ``__spark_entry__._stale_stamps`` compares
those recorded shas against the current on-disk modules: a mismatch means
the stamped code has materially changed, so the query re-enters the fresh
pool for re-certification (judge r05 task 3).

Committed SWEEP_r{N}.json artifacts (tools/check_oracles.py --sweep-out,
in the CORRECTNESS row schema) count as RE-certification evidence: a
sweep's hash_match=true row updates the recorded blob for a query that
ALREADY holds a driver hash stamp, so an edit re-verified by a committed
sweep stops re-consuming gate slots. First stamps stay driver-only.
Evidence is processed in (round, driver-before-sweep) order with
latest-wins, so a later driver stamp supersedes an earlier sweep and a
round-end sweep supersedes that round's gate.

A sweep certifies the tree that actually RAN, not the commit the artifact
lands in: check_oracles records each query's registered-module git blob
sha at run time ("module_blob") plus a "__meta__" scope record, and this
tool certifies THOSE shas. A module edited after the sweep ran therefore
stays stale. Only a sweep whose meta says full_registry=true counts; a
partial (--front / named-query / --shard) run or a sweep without meta
grants nothing.

Run at ROUND START (before editing code) so the working tree still equals
the state the driver verified; re-runs are idempotent. Mechanical and
auditable end-to-end: inputs are only the committed artifacts + git
history, never a hand-maintained list.

Usage: python tools/stamp_ledger.py [--check]
  --check  exit 1 if stamp_hashes.json is missing a round that has a
           committed artifact (CI/pytest guard), without writing.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SIDECAR = os.path.join(REPO, "stamp_hashes.json")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def artifact_rounds() -> list[tuple[int, int, str]]:
    """(round, kind, path) ascending; kind 0 = driver CORRECTNESS artifact,
    kind 1 = committed builder SWEEP artifact. Within a round the sweep
    sorts after the gate — it is produced at round end over the final tree."""
    out = []
    for kind, pat in ((0, "CORRECTNESS_r*.json"), (1, "SWEEP_r*.json")):
        for path in glob.glob(os.path.join(REPO, pat)):
            m = re.search(r"_r(\d+)\.json$", path)
            if m:
                out.append((int(m.group(1)), kind, path))
    return sorted(out)


def introducing_commit(path: str) -> str | None:
    """The commit that ADDED the artifact. Deliberately NOT the newest
    commit touching it: artifacts are driver-written once, and a future
    non-driver commit that incidentally touches an artifact (bulk reformat,
    merge resolution) while also editing operator modules would otherwise
    become the 'stamp commit' and silently re-certify those modules —
    defeating the stale-stamp re-front. If the driver ever starts amending
    artifacts, revisit with an author-based filter."""
    rel = os.path.relpath(path, REPO)
    sha = _git("log", "--diff-filter=A", "--format=%H", "-n", "1", "--", rel)
    return sha or None


def blob_at(commit: str, relpath: str) -> str | None:
    # `git ls-tree <commit> -- <path>` → "<mode> blob <sha>\t<path>"
    out = _git("ls-tree", commit, "--", relpath)
    parts = out.split()
    return parts[2] if len(parts) >= 3 and parts[1] == "blob" else None


def build(max_round: int | None = None) -> dict[str, dict[str, object]]:
    """max_round lets the pytest freshness guard rebuild only the rounds the
    committed sidecar claims to cover, so a just-written driver artifact
    (round N+1, sidecar not yet regenerated) doesn't fail the suite."""
    from datafusion_datasource_orc_spark.operators import QUERIES

    module_rel: dict[str, str] = {}
    for name, fn in QUERIES.items():
        mod = sys.modules[fn.__module__]
        module_rel[name] = os.path.relpath(os.path.abspath(mod.__file__), REPO)

    records: dict[str, dict[str, object]] = {}
    rounds = artifact_rounds()
    if max_round is not None:
        rounds = [(r, k, p) for r, k, p in rounds if r <= max_round]
    for rnd, kind, path in rounds:  # ascending → latest evidence wins
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # legacy list artifacts grant no hard stamp
        meta = rows.get("__meta__")
        if kind == 1 and not (isinstance(meta, dict) and meta.get("full_registry")):
            continue  # only a full-registry sweep is re-certification evidence
        hard = [
            n
            for n, rec in rows.items()
            if isinstance(rec, dict) and rec.get("hash_match") is True
        ]
        if not hard:
            continue
        commit = introducing_commit(path)
        if commit is None:
            continue  # uncommitted artifact: its round isn't final yet
        for name in hard:
            rel = module_rel.get(name)
            if rel is None:
                continue  # query no longer registered
            if kind == 1 and name not in records:
                # sweeps RE-certify only: first stamps stay driver-only
                # (judge r11 task 2 — the gate window is the authority
                # for fresh work)
                continue
            if kind == 1:
                # certify ONLY the blob that RAN (recorded by check_oracles
                # at run time) — a post-sweep edit committed alongside the
                # artifact stays stale. A null/missing module_blob is NO
                # evidence, so the prior record stands.
                blob = rows[name].get("module_blob")
                if not blob:
                    continue
            else:
                # driver artifacts: the blob at the introducing commit
                blob = blob_at(commit, rel)
            records[name] = {
                "round": rnd,
                "commit": commit,
                "module": rel,
                "blob": blob,
            }
            if kind == 1:
                records[name]["evidence"] = "sweep"
    return records


def main() -> int:
    check = "--check" in sys.argv[1:]
    records = build()
    if check:
        try:
            with open(SIDECAR) as f:
                existing = json.load(f)
        except (OSError, ValueError):
            existing = {}
        missing = {
            n
            for n, rec in records.items()
            if n not in existing or existing[n].get("round") != rec["round"]
        }
        if missing:
            print(
                f"stamp_hashes.json out of date for {len(missing)} queries "
                f"(e.g. {sorted(missing)[:5]}); run python tools/stamp_ledger.py"
            )
            return 1
        print(f"stamp_hashes.json current ({len(existing)} records)")
        return 0
    with open(SIDECAR, "w") as f:
        json.dump(records, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {SIDECAR}: {len(records)} hard-stamped queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
