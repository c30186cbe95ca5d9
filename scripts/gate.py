#!/usr/bin/env python3
"""Pre-snapshot gate: everything the driver and judge will check, run
locally, exiting nonzero on ANY failure. Round 2 shipped a red test in
its final snapshot; this script makes that impossible to do silently —
run it before every end-of-round commit:

    python scripts/gate.py            # full gate (pytest + oracles + audits)
    python scripts/gate.py --fast     # skip pytest (oracle sweep + audits only)

Steps:
  1. pytest tests/ -q -m "slow or not slow"   (full suite: pytest.ini's
                                               default deselects the slow tier)
  2. scripts/check_correctness.py sf0.01       (every oracle query vs DuckDB)
  3. scripts/audit.py plan                     (plan shape + output schema;
                                               rewrites PLAN_AUDIT.json)
  4. scripts/gen_coverage.py --check           (COVERAGE.md + README.md fresh)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> bool:
    print(f"\n=== gate: {label}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    rc = subprocess.call(cmd, cwd=ROOT)
    print(f"=== gate: {label}: {'OK' if rc == 0 else f'FAILED rc={rc}'} "
          f"({time.time() - t0:.0f}s)", flush=True)
    return rc == 0


def main() -> None:
    fast = "--fast" in sys.argv
    steps = []
    if not fast:
        steps.append(("pytest", [sys.executable, "-m", "pytest", "tests/", "-q",
                                 "-m", "slow or not slow"]))
    steps += [
        ("correctness sf0.01",
         [sys.executable, "scripts/check_correctness.py", "/root/testdata/sf0.01"]),
        ("plan audit", [sys.executable, "scripts/audit.py", "plan"]),
        ("coverage/README fresh",
         [sys.executable, "scripts/gen_coverage.py", "--check"]),
    ]
    failed = [label for label, cmd in steps if not run(label, cmd)]
    if failed:
        print(f"\nGATE FAILED: {', '.join(failed)}")
        sys.exit(1)
    print("\nGATE GREEN: safe to snapshot")


if __name__ == "__main__":
    main()
