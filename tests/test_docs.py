"""Docs-can't-drift gates (r10, VERDICT r9 #4): COVERAGE.md's state
block is generated from the registry by tools/coverage_state.py; this
test fails whenever the registry changes without re-emitting it."""

from __future__ import annotations

import os
import re


def test_coverage_state_block_current():
    from tools.coverage_state import REPO, check_block

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        doc = fh.read()
    ok, msg = check_block(doc)
    assert ok, msg


def test_coverage_state_tolerates_newer_driver_sweep():
    """VERDICT r10 #3: the driver drops CORRECTNESS_r{N}.json AFTER the
    round's final commit; that must not retroactively redden the suite.
    The check validates the sweep the doc CITES, not the newest file."""
    from tools.coverage_state import REPO, check_block

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        doc = fh.read()
    cite = re.search(r"Latest driver sweep \((r\d+)\)", doc)
    assert cite, "state block should cite a driver sweep round"
    # Simulate a newer driver artifact: the check must not consult it.
    # (check_block only reads the cited round's file, so the mere
    # existence of CORRECTNESS_r99.json in the tree is irrelevant.)
    ok, msg = check_block(doc)
    assert ok, msg
    # A doc citing a missing round must still fail loudly.
    broken = doc.replace(
        f"Latest driver sweep ({cite.group(1)})",
        "Latest driver sweep (r98)",
    )
    ok2, msg2 = check_block(broken)
    assert not ok2 and "missing" in msg2


def test_coverage_state_fails_when_digests_lack_a_driver_round(
    tmp_path, monkeypatch
):
    """DRIVER_DIGESTS.json orders the driver's re-check queue, so a
    driver round it does not cover must redden the check: seed a copy
    with the newest round dropped."""
    import json

    import tools.coverage_state as cs

    with open(cs.DIGESTS) as fh:
        recorded = json.load(fh)
    dropped = recorded["rounds"].pop()
    seeded = tmp_path / "DRIVER_DIGESTS.json"
    seeded.write_text(json.dumps(recorded))
    monkeypatch.setattr(cs, "DIGESTS", str(seeded))
    with open(os.path.join(cs.REPO, "COVERAGE.md")) as fh:
        ok, msg = cs.check_block(fh.read())
    assert not ok and dropped in msg


def test_registry_count_matches_doc():
    """The headline claim in the generated block — total query count, each
    query with an oracle — re-derived here so a registry regression (a
    query losing its oracle) is caught even if someone regenerates the
    doc."""
    from data_warehouse_data_mining_spark.registry import all_queries

    qs = all_queries()
    missing_oracle = sorted(n for n, q in qs.items() if q.oracle is None)
    assert not missing_oracle, (
        f"queries without oracles (every claim needs the hash gate): "
        f"{missing_oracle}"
    )
    assert len(qs) >= 377, f"registry shrank: {len(qs)}"
