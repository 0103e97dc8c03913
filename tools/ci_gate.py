"""One-command fast invariant gate (VERDICT r4 item 8).

Runs the four checks that prove the library's core invariants (about
eight minutes on a shared 4-core host, four and a half for --fast), so every
round's FIRST commit can re-establish them before any new work:

1. full oracle harness at sf0.001 (every registered query vs its
   DuckDB oracle — rows, columns, value multiset);
2. whole-library plan audit (no CartesianProduct, no rogue
   BroadcastNestedLoopJoin, lineage-truncated iterative plans,
   WindowGroupLimit / join-strategy shapes, no JSON parse inside a
   view's Filter);
3. the bundle-pipeline truth table (the reference's conflict-
   resolution goldens + encoder round-trips), the stream's
   crash-recovery replays, the keyed-table sink goldens (merge,
   delete, file-count target, compaction, swap recovery, the recorded
   read-back schema), the change feed and its fold, and the
   materialized views that publish through the same swap;
4. the bench harness: bench.py still emits its one JSON line (tail
   contract included) when an entry fails, and a headline and an
   end-to-end entry carry the same per-entry record.

Usage:

    python tools/ci_gate.py            # all four, fail-fast off
    python tools/ci_gate.py --fast     # only the first two

Exit code 0 only if every stage passes. Each stage runs in a
subprocess so one stage's Spark session state can't leak into the
next (the orphaned-cache lesson from round 4).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# same single source of truth as tests/conftest.py: redirecting the
# env var redirects every stage consistently
GATE_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

STAGES = [
    (
        "oracle-harness",
        [sys.executable, "tools/check_oracles.py", GATE_SF_DIR],
    ),
    (
        "plan-audit",
        [sys.executable, "-m", "pytest", "tests/test_plan_audit.py", "-q"],
    ),
    (
        "truth-table",
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_bundles.py",
            "tests/test_encoder_widened.py",
            "tests/test_crash_recovery_stream.py",
            "tests/test_sink.py",
            "tests/test_materialized_view.py",
            "tests/test_changelog.py",
            "-q",
        ],
    ),
    (
        "bench-harness",
        [sys.executable, "-m", "pytest", "tests/test_bench_isolation.py", "-q"],
    ),
]


def main() -> int:
    fast = "--fast" in sys.argv[1:]
    stages = STAGES[:2] if fast else STAGES
    failures = []
    t_all = time.perf_counter()
    for name, cmd in stages:
        t0 = time.perf_counter()
        print(f"=== {name}: {' '.join(cmd[1:])}", flush=True)
        proc = subprocess.run(cmd, cwd=REPO)
        dt = time.perf_counter() - t0
        status = "PASS" if proc.returncode == 0 else "FAIL"
        print(f"=== {name}: {status} in {dt:.0f}s", flush=True)
        if proc.returncode != 0:
            failures.append(name)
    total = time.perf_counter() - t_all
    if failures:
        print(f"ci_gate: FAILED ({', '.join(failures)}) in {total:.0f}s")
        return 1
    print(f"ci_gate: all {len(stages)} stages green in {total:.0f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
