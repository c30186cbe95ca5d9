#!/usr/bin/env python3
"""Pre-snapshot gate: everything the driver and judge will check, run
locally, exiting nonzero on ANY failure. Round 2 shipped a red test in
its final snapshot; this script makes that impossible to do silently —
run it before every end-of-round commit:

    python scripts/gate.py            # full gate (pytest + oracles + audits)
    python scripts/gate.py --fast     # skip pytest (oracle sweep + audits only)

Steps:
  1. pytest tests/ -q -m "not integration"    (full offline suite: pytest.ini's
                                               default deselects the slow tier;
                                               integration tests send network
                                               requests and stay opt-in)
  2. scripts/check_correctness.py sf0.01       (every oracle query vs DuckDB)
  3. scripts/audit.py plan                     (plan shape + output schema;
                                               rewrites PLAN_AUDIT.json)
  4. scripts/gen_coverage.py --check           (COVERAGE.md + README.md fresh)
  5. perfbench/run.py --workload refresh|serve (seed 1, untraced: the spine
                                               end to end, melt into load_batch
                                               and stream drains, every op
                                               checked against its reference;
                                               fails unless correct and 0 failed)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def perfbench_verdict(stdout: str) -> str | None:
    """Why a perfbench run's last output line (its result JSON) fails
    the gate, or None when every op was correct."""
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return "no result line"
    if result.get("correct") is not True or result.get("failed") != 0:
        return (f"correct={result.get('correct')} failed={result.get('failed')} "
                f"of {result.get('attempted')}")
    return None


def run(label: str, cmd: list[str], verdict=None) -> bool:
    """Run ``cmd`` from the repository root; it passes on exit 0 and,
    with ``verdict``, when ``verdict(stdout)`` finds nothing wrong."""
    print(f"\n=== gate: {label}: {' '.join(cmd)}", flush=True)
    t0 = time.time()
    if verdict is None:
        rc = subprocess.call(cmd, cwd=ROOT)
        why = None if rc == 0 else f"rc={rc}"
    else:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        print(*proc.stdout.strip().splitlines()[-1:], flush=True)
        why = f"rc={proc.returncode}" if proc.returncode else verdict(proc.stdout)
    print(f"=== gate: {label}: {'OK' if why is None else f'FAILED {why}'} "
          f"({time.time() - t0:.0f}s)", flush=True)
    return why is None


def main() -> None:
    fast = "--fast" in sys.argv
    steps = []
    if not fast:
        steps.append(("pytest", [sys.executable, "-m", "pytest", "tests/", "-q",
                                 "-m", "not integration"]))
    steps += [
        ("correctness sf0.01",
         [sys.executable, "scripts/check_correctness.py", "/root/testdata/sf0.01"]),
        ("plan audit", [sys.executable, "scripts/audit.py", "plan"]),
        ("coverage/README fresh",
         [sys.executable, "scripts/gen_coverage.py", "--check"]),
    ]
    steps += [
        (f"perfbench {w}",
         [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "1",
          "--seconds", "20", "--trace", "0"],
         perfbench_verdict)
        for w in ("refresh", "serve")
    ]
    failed = [step[0] for step in steps if not run(*step)]
    if failed:
        print(f"\nGATE FAILED: {', '.join(failed)}")
        sys.exit(1)
    print("\nGATE GREEN: safe to snapshot")


if __name__ == "__main__":
    main()
