"""Pin the driver-verification window math in ``__spark_entry__``.

Each verification round checks the FIRST 50 ``queries()`` entries and
commits the verdicts as ``CORRECTNESS_r<round>.json``.  ``_ordered()``
derives the next window from those files alone (failed, then pending,
then proven; oldest newest-verdict first inside each group); these
tests pin that derivation.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from bi_etl_and_integration_spark.queries import (  # noqa: E402
    ORACLE, QUERIES)

WINDOW = 50
ROOT = Path(__file__).resolve().parents[1]


def test_window_prefix_spends_no_slot_on_settled_queries():
    """Every slot in the next window must buy NEW information: a query
    that already holds its strongest verdict (hash-green, or rows-only
    green with no oracle to upgrade to) must not occupy the prefix
    while any pending query waits outside it."""
    green, hashed, _failed, _last = entry._verified_so_far()
    order = entry._ordered()
    window, rest = order[:WINDOW], order[WINDOW:]

    def pending(n):
        return (n not in green) or (n in ORACLE and n not in hashed)

    settled_inside = [n for n in window if not pending(n)]
    pending_outside = [n for n in rest if pending(n)]
    if pending_outside:
        assert not settled_inside, (
            f"window wastes slots on settled {settled_inside} while "
            f"{len(pending_outside)} pending queries wait")


def test_ordered_is_a_permutation_of_queries():
    order = entry._ordered()
    assert sorted(order) == sorted(QUERIES)
    assert set(entry.oracle_sql()) == set(ORACLE)


def test_committed_verdicts_rotate_the_window():
    """On the committed verdict files the next window is the stalest
    one: q17b (result logic changed after its round-1 verdict) is in
    it, and none of the 50 queries verified in round 12 is."""
    window = list(entry.queries())[:WINDOW]
    assert "q17b_asof_join" in window
    latest = json.loads((ROOT / "CORRECTNESS_r12.json").read_text())
    assert len(latest) == WINDOW
    assert not set(window) & set(latest)


def _verdicts(names, *, failed=()):
    """Verdict rows as committed: hash-green where an oracle exists, rows-only
    green otherwise, and a hash mismatch for ``failed``."""
    def row(n):
        if n in failed:
            return {"hash_match": False, "spark_rows": 1,
                    "err": "hash_mismatch"}
        if n in ORACLE:
            return {"hash_match": True, "spark_rows": 1, "err": None}
        return {"hash_match": False, "spark_rows": 1, "err": "no_oracle"}
    return {n: row(n) for n in names}


def test_window_rotates_oldest_verdict_first(tmp_path, monkeypatch):
    """Synthetic verdict files: once every query is proven, a newer
    round covering the current window pushes the next window onto a
    disjoint set, and a failed row still sorts first."""
    monkeypatch.setattr(entry, "__file__",
                        str(tmp_path / "__spark_entry__.py"))

    def write(rnd, verdicts):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(verdicts))

    write(1, _verdicts(QUERIES))
    first = entry._ordered()[:WINDOW]
    assert first == list(QUERIES)[:WINDOW]   # all tied: declaration

    write(2, _verdicts(first))
    second = entry._ordered()[:WINDOW]
    assert not set(second) & set(first)

    flaky = second[-1]
    write(3, _verdicts(second, failed={flaky}))
    order = entry._ordered()
    assert order[0] == flaky
    assert not set(order[1:WINDOW]) & (set(first) | set(second))
