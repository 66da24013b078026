"""Regenerate the driver-derived state: COVERAGE.md's state block from
the registry (r10: hand-written "final state" paragraphs had drifted),
and DRIVER_DIGESTS.json, which orders the registry's re-check queue.
Per query name in any CORRECTNESS_r*.json it holds the latest driver
row's round, whether that row was green, and the name's
``registry.source_digests`` digest at the commit that added the round
file (the driver's round commits touch no package file, so that tree
is the code it checked). Regenerate after a new round lands or after
``source_digests`` changes its rule.

Usage: python tools/coverage_state.py          # rewrite both (runs git)
       python tools/coverage_state.py --check  # exit 1 if stale (no git)

tests/test_docs.py and tools/final_gate.py run the --check path.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_warehouse_data_mining_spark"
DIGESTS = os.path.join(REPO, "DRIVER_DIGESTS.json")
sys.path.insert(0, REPO)
BEGIN = "<!-- STATE:BEGIN (generated by tools/coverage_state.py — do not hand-edit) -->"
END = "<!-- STATE:END -->"


def _test_function_count() -> int:
    n = 0
    for path in glob.glob(os.path.join(REPO, "tests", "test_*.py")):
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        n += sum(
            isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
            for node in ast.walk(tree)
        )
    return n


def _green(rec: dict) -> bool:
    return bool(
        not rec.get("err")
        and rec.get("rows_match")
        and rec.get("schema_match", True)
        and rec.get("hash_match", True)
    )


def _rounds() -> dict[str, dict]:
    """{round label: rows} of every driver sweep file, oldest first."""
    out = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            out[re.search(r"CORRECTNESS_(r\d+)", path).group(1)] = json.load(fh)
    return out


def _tally(label: str, rows: dict) -> tuple[str, int, int]:
    """(round label, green rows, total rows) of one driver sweep."""
    return label, sum(map(_green, rows.values())), len(rows)


def check_block(doc: str) -> tuple[bool, str]:
    """Timing-drift-tolerant check (r11, VERDICT r10 #3): the driver drops
    CORRECTNESS_r{N}.json AFTER the round's last commit, so requiring the
    doc to cite the NEWEST file would redden the suite retroactively.
    Instead: the registry line must match exactly, and the sweep line must
    match what the round file it NAMES actually contains — a newer,
    uncited file is fine; a miscounted or missing cited file is not.
    DRIVER_DIGESTS.json, by contrast, must list every round present: it
    orders the sweep, so a round it lacks would leave names mis-queued.
    Reads files only, runs no git."""
    m = re.search(re.escape(BEGIN) + r".*?" + re.escape(END), doc, re.DOTALL)
    if not m:
        return False, f"COVERAGE.md has no {BEGIN} marker"
    committed = m.group(0)
    cite = re.search(r"Latest driver sweep \((r\d+)\)", committed)
    rounds = _rounds()
    sweep: tuple = ()
    if cite:
        label = cite.group(1)
        if label not in rounds:
            return False, f"state block cites {label} but its round file is missing"
        sweep = _tally(label, rounds[label])
    with open(DIGESTS) as fh:
        missing = sorted(set(rounds) - set(json.load(fh)["rounds"]))
    if missing:
        return False, (
            f"DRIVER_DIGESTS.json lacks driver round(s) {missing} — run "
            "`python tools/coverage_state.py`"
        )
    expected = render_block(sweep=sweep)
    if committed != expected:
        return False, (
            "COVERAGE.md state block is stale — run "
            "`python tools/coverage_state.py`"
        )
    return True, "COVERAGE.md state block and DRIVER_DIGESTS.json rounds are current"


def render_block(sweep: tuple[str, int, int] | tuple | None = None) -> str:
    from data_warehouse_data_mining_spark.registry import all_queries

    qs = all_queries()
    headline = sum(1 for q in qs.values() if q.headline)
    modules = len({q.builder.__module__ for q in qs.values()})
    lines = [
        BEGIN,
        f"**Registry state:** {len(qs)} registered queries — "
        "all with exact DuckDB oracles; "
        f"{headline} headline (bench-tracked) queries across {modules} modules. "
        f"Test suite: {_test_function_count()} test functions.",
    ]
    if sweep is None:
        rounds = _rounds()
        sweep = _tally(*list(rounds.items())[-1]) if rounds else ()
    if sweep:
        label, green, total = sweep
        lines.append(f"Latest driver sweep ({label}): {green}/{total} rows green.")
    lines.append(END)
    return "\n".join(lines)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def render_digests() -> dict:
    """DRIVER_DIGESTS.json's content, from the round files and git."""
    from data_warehouse_data_mining_spark.registry import source_digests

    rounds = _rounds()
    latest = {
        name: (label, rec) for label, rows in rounds.items() for name, rec in rows.items()
    }
    checked: dict[str, dict[str, str]] = {}
    for label in sorted({label for label, _ in latest.values()}):
        rev = _git("log", "--diff-filter=A", "--format=%H", "--", f"CORRECTNESS_{label}.json")
        if not rev:
            sys.exit(f"CORRECTNESS_{label}.json is not committed; commit it first")
        rev = rev.split()[-1]
        checked[label] = {}
        for path in _git("ls-tree", "-r", "--name-only", rev, "--", PACKAGE).split():
            if path.endswith(".py"):
                checked[label].update(source_digests(_git("show", f"{rev}:{path}")))
    return {
        "rounds": list(rounds),
        "queries": {
            name: {"round": label, "green": _green(rec), "digest": checked[label].get(name)}
            for name, (label, rec) in sorted(latest.items())
        },
    }


def main() -> None:
    check = "--check" in sys.argv
    path = os.path.join(REPO, "COVERAGE.md")
    with open(path) as fh:
        doc = fh.read()
    if check:
        ok, msg = check_block(doc)
        print(msg, file=sys.stderr if not ok else sys.stdout)
        sys.exit(0 if ok else 1)
    block = render_block()
    pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.DOTALL)
    if not pat.search(doc):
        print(f"COVERAGE.md has no {BEGIN} marker", file=sys.stderr)
        sys.exit(2)
    new = pat.sub(lambda _m: block, doc)
    with open(path, "w") as fh:
        fh.write(new)
    with open(DIGESTS, "w") as fh:
        json.dump(render_digests(), fh, indent=1)
        fh.write("\n")
    print("COVERAGE.md state block and DRIVER_DIGESTS.json regenerated")


if __name__ == "__main__":
    main()
