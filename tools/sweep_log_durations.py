"""Parse a check_oracles sweep log into the committed per-scale duration
ledger (sweep_durations.json) — the scheduling input the sf0.1 sweep
lacks (SWEEP_r*.json artifacts record secs at sf0.01 only; the sf0.1
long pole — dedup_substring_spans' ~17-min DuckDB oracle — is invisible
to --slowest-first without a recorded sf0.1 figure).

Usage: python tools/sweep_log_durations.py LOGFILE SF_KEY
  e.g.: python tools/sweep_log_durations.py /tmp/sweep01.log sf0.1

Merges (never replaces) {query: {sf_key: secs}} into sweep_durations.json.
check_oracles' --slowest-first and --shard read it (``_recorded_secs``): the
SWEEP_r*.json artifacts give sf0.01 figures, the newest winning, and this
ledger's entries for the scale being swept overlay them.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "sweep_durations.json")

# "ok    name    rows=N (12.3s)" — also match FAIL lines with a duration
_LINE = re.compile(r"^(?:ok|weak|FAIL)\s+(\S+)\s+.*\((\d+(?:\.\d+)?)s\)")


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    log_path, sf_key = sys.argv[1], sys.argv[2]
    try:
        with open(LEDGER) as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        ledger = {}
    n = 0
    with open(log_path, errors="replace") as f:
        for raw in f:
            # Spark progress bars embed \r; the status line can be ANY
            # segment (progress redraws may follow it), so scan them all
            for line in raw.split("\r"):
                m = _LINE.match(line)
                if m:
                    ledger.setdefault(m.group(1), {})[sf_key] = float(m.group(2))
                    n += 1
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"merged {n} durations into {LEDGER} [{sf_key}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
