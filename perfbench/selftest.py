#!/usr/bin/env python3
"""Self-test of the benchmark, at scale factor 0.001.

    python3 perfbench/selftest.py

Runs every workload twice: as is, where every output check must pass
(``failed == 0``), and with ``--wrong-expected``, which corrupts one
expected value, where the run must report the failure (``failed > 0``,
``correct`` false). lakehouse_dml runs traced, so its query sweep (the
headline registry queries against their oracle SQL) is checked too.
Exits non-zero if any expectation does not hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = (("sequence_etl", "0"), ("lakehouse_dml", "1"))


def run(workload: str, trace: str, wrong: bool) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", trace, "--sf", "0.001"]
    if wrong:
        cmd.append("--wrong-expected")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = []
    for workload, trace in RUNS:
        for wrong in (False, True):
            r = run(workload, trace, wrong)
            ok = (r["failed"] > 0 and not r["correct"]) if wrong else (
                r["failed"] == 0 and r["correct"])
            label = "wrong expected value" if wrong else "as is"
            print(f"{'ok  ' if ok else 'FAIL'} {workload} ({label}): "
                  f"failed {r['failed']} of {r['attempted']}", flush=True)
            if not ok:
                bad.append((workload, label))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
