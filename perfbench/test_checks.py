"""Each output check passes on a correct output and fails on a deliberately
corrupted one.  Pure Python, no Spark:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402

GOLDEN = [
    ("Sleep Study", "measures", "Sleep Quality", "u1"),
    ("Sleep Study", "measures", "Sleep Quality", "u2"),
    ("Yoga", "targets", "Fall Risk", "u2"),
]


def test_committed_triples_accepts_the_golden_set():
    assert checks.check_committed_triples(list(GOLDEN), GOLDEN) == []


def test_committed_triples_rejects_a_missing_row():
    assert checks.check_committed_triples(GOLDEN[:-1], GOLDEN)


def test_committed_triples_rejects_an_extra_row():
    assert checks.check_committed_triples(GOLDEN + [("Yoga", "targets", "Sleep Quality", "u9")], GOLDEN)


def test_committed_triples_rejects_a_duplicate_copy():
    assert checks.check_committed_triples(GOLDEN + [GOLDEN[0]], GOLDEN)


def test_lineage_accepts_one_row_per_url():
    assert checks.check_lineage([("u1", 1), ("u2", 1)], ["u1", "u2"]) == []


def test_lineage_rejects_a_twice_committed_url():
    assert checks.check_lineage([("u1", 2), ("u2", 1)], ["u1", "u2"])


def test_lineage_rejects_a_missing_url():
    assert checks.check_lineage([("u1", 1)], ["u1", "u2"])


def test_new_pages_must_match():
    assert checks.check_new_pages({"new_pages": 2}, 2) == []
    assert checks.check_new_pages({"new_pages": 1}, 2)


def test_query_accepts_golden_distinct_rows():
    rows = [("Sleep Study", "measures", "Sleep Quality", 2, "u1"), ("Yoga", "targets", "Fall Risk", 1, "u2")]
    assert checks.check_query(rows, GOLDEN) == []


def test_query_rejects_a_wrong_provenance_count():
    rows = [("Sleep Study", "measures", "Sleep Quality", 1, "u1"), ("Yoga", "targets", "Fall Risk", 1, "u2")]
    assert checks.check_query(rows, GOLDEN)


def test_query_rejects_a_key_returned_twice():
    rows = [
        ("Sleep Study", "measures", "Sleep Quality", 2, "u1"),
        ("Sleep Study", "measures", "Sleep Quality", 2, "u1"),
        ("Yoga", "targets", "Fall Risk", 1, "u2"),
    ]
    assert checks.check_query(rows, GOLDEN)


HISTORY = [1, 2, 3]
INJECTED = [10, 11]


def test_ingest_accepts_survivors_without_duplicates():
    problems, digest = checks.check_ingest(HISTORY + [20, 21], HISTORY, INJECTED, 2, None)
    assert problems == []
    again, same = checks.check_ingest([21, 20] + HISTORY, HISTORY, INJECTED, 2, digest)
    assert again == [] and same == digest


def test_ingest_rejects_a_surviving_injected_duplicate():
    problems, _ = checks.check_ingest(HISTORY + [20, 10], HISTORY, INJECTED, 2, None)
    assert problems


def test_ingest_rejects_a_lost_history_document():
    problems, _ = checks.check_ingest([1, 2, 20, 21], HISTORY, INJECTED, 2, None)
    assert problems


def test_ingest_rejects_a_survivor_count_mismatch():
    problems, _ = checks.check_ingest(HISTORY + [20, 21], HISTORY, INJECTED, 3, None)
    assert problems


def test_ingest_rejects_a_changed_survivor_set():
    _, digest = checks.check_ingest(HISTORY + [20, 21], HISTORY, INJECTED, 2, None)
    problems, _ = checks.check_ingest(HISTORY + [20, 22], HISTORY, INJECTED, 2, digest)
    assert problems


def test_ingest_rejects_a_document_committed_twice():
    problems, _ = checks.check_ingest(HISTORY + [20, 21, 21], HISTORY, INJECTED, 2, None)
    assert problems
