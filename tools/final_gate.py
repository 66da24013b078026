"""Session-final gate (r11, per VERDICT r10 #1): the r10 Theil slip
proved that lint batteries run MID-session can be bypassed by one more
operator commit AFTER them. This tool bundles every fast structural
gate into one <2-minute command that is the MANDATORY LAST ACT of a
build session — run it, fix anything red, commit, stop.

Checks (all static/AST or sub-minute — no registry bind, no Spark):
  1. broadcast_lint      — no F.broadcast() on SF-proportional lineage
  2. token-pin lint      — no .persist/.cache/.localCheckpoint on
                           token-proportional tables (test_plans rule)
  3. coverage_state      — COVERAGE.md block and DRIVER_DIGESTS.json current
  4. registry integrity  — every query has an oracle; imports clean
  5. docs/lint pytest    — tests/test_docs.py + the AST-level plan
                           lints + the oracle canon's own tests + the
                           sweep's --only name check + the re-check
                           order (the subset that needs no Spark bind)
  6. git cleanliness     — warns (not fails) on uncommitted changes so
                           "green at HEAD" means the actual HEAD

Usage: python tools/final_gate.py     -> exit 0 = ship it, 1 = fix first
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _step(name: str, fn) -> bool:
    t0 = time.time()
    try:
        ok, detail = fn()
    except Exception as exc:  # a gate that crashes is a failed gate
        ok, detail = False, f"gate raised: {exc!r}"
    dt = time.time() - t0
    print(f"[{'PASS' if ok else 'FAIL'}] {name} ({dt:.1f}s)"
          + (f" — {detail}" if detail else ""))
    return ok


def _broadcast_lint():
    import tools.broadcast_lint as bl

    hits, waivers = bl.lint_package(
        os.path.join(REPO, "data_warehouse_data_mining_spark")
    )
    return not hits, ("; ".join(hits)[:400] if hits
                      else f"0 violations, {len(waivers)} waivers")


def _coverage_state():
    from tools.coverage_state import check_block

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        return check_block(fh.read())


def _registry_integrity():
    from data_warehouse_data_mining_spark.registry import all_queries

    qs = all_queries()
    missing = sorted(n for n, q in qs.items() if q.oracle is None)
    if missing:
        return False, f"queries without oracles: {missing}"
    return True, f"{len(qs)} queries, all with oracles"


def _pytest_fast():
    # explicit node ids: ONLY the fixture-less gates — a -k name filter
    # would still start a SparkSession for plan-shape tests, blowing
    # the <2-min budget
    p = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-q", "--no-header",
            os.path.join(REPO, "tests", "test_docs.py"),
            os.path.join(REPO, "tests", "test_plans.py")
            + "::test_no_pins_on_token_proportional_tables",
            os.path.join(REPO, "tests", "test_plans.py")
            + "::test_no_broadcast_hints_on_unbounded_tables",
            os.path.join(REPO, "tests", "test_plans.py")
            + "::test_lineage_truncation_lives_in_iterate",
            os.path.join(REPO, "tests", "test_plans.py")
            + "::test_no_module_level_caches",
            os.path.join(REPO, "tests", "test_plans.py")
            + "::test_parquet_reads_go_through_read_parquet",
            os.path.join(REPO, "tests", "test_oracle_types.py")
            + "::test_canon_distinguishes_decimal_from_double",
            os.path.join(REPO, "tests", "test_oracle_types.py")
            + "::test_compare_rejects_boolean_against_integer",
            os.path.join(REPO, "tests", "test_bench.py")
            + "::test_driver_sweep_unknown_only_name_exits_before_spark",
            os.path.join(REPO, "tests", "test_entry.py")
            + "::test_edited_builder_joins_driver_recheck_group",
            os.path.join(REPO, "tests", "test_entry.py")
            + "::test_all_queries_order_ignores_what_was_imported_first",
            os.path.join(REPO, "tests", "test_bench.py")
            + "::test_preflight_load_names_the_host_cpu_count_nproc",
            "-p", "no:cacheprovider",
        ],
        capture_output=True, text=True, cwd=REPO,
    )
    tail = (p.stdout.strip().splitlines() or [""])[-1]
    return p.returncode == 0, tail


def _git_clean():
    p = subprocess.run(
        ["git", "status", "--porcelain"], capture_output=True, text=True,
        cwd=REPO,
    )
    dirty = [l for l in p.stdout.splitlines() if l.strip()]
    # advisory only: the gate's job is code health; committing is the
    # caller's next action
    return True, (f"{len(dirty)} uncommitted paths — commit before stopping"
                  if dirty else "working tree clean")


def main() -> None:
    t0 = time.time()
    results = [
        _step("broadcast-lint", _broadcast_lint),
        _step("coverage-state", _coverage_state),
        _step("registry-integrity", _registry_integrity),
        _step("docs+ast-lint pytest", _pytest_fast),
        _step("git-status (advisory)", _git_clean),
    ]
    ok = all(results)
    print(f"final_gate: {'GREEN' if ok else 'RED'} in {time.time()-t0:.0f}s")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
