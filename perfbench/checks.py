"""Output checks for the benchmark's ops.

Every check is a pure function over rows the benchmark collected from the
program's output, and returns a list of problems (empty means the output is
correct).  Keeping them free of Spark lets `test_checks.py` show that each
one rejects a deliberately corrupted output.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from typing import Iterable


def _diff(name: str, got: set, want: set, limit: int = 3) -> list[str]:
    out = []
    missing, extra = want - got, got - want
    if missing:
        out.append(f"{name}: {len(missing)} missing, e.g. {sorted(missing)[:limit]}")
    if extra:
        out.append(f"{name}: {len(extra)} unexpected, e.g. {sorted(extra)[:limit]}")
    return out


def check_committed_triples(rows: Iterable[tuple], expected: Iterable[tuple]) -> list[str]:
    """The committed (subj, pred, obj, url) rows equal the generator's golden
    triple set, row for row: no row is missing, none is extra, and no row is
    committed twice (P = R = 1.0 and no duplicate copies)."""
    counts = Counter(tuple(r) for r in rows)
    dups = {r: n for r, n in counts.items() if n > 1}
    out = []
    if dups:
        sample = sorted(dups.items())[:3]
        out.append(f"triples: {len(dups)} rows committed more than once, e.g. {sample}")
    return out + _diff("triples", set(counts), {tuple(r) for r in expected})


def check_lineage(url_rows: Iterable[tuple], expected_urls: Iterable[str]) -> list[str]:
    """Lineage holds exactly one row per submitted url.  `url_rows` are
    (url, n_rows) pairs from a group-by over the lineage table."""
    counts = dict(url_rows)
    out = []
    multi = sorted(u for u, n in counts.items() if n != 1)
    if multi:
        out.append(f"lineage: {len(multi)} urls without exactly one row, e.g. {multi[:3]}")
    return out + _diff("lineage urls", set(counts), set(expected_urls))


def check_new_pages(summary: dict, expected_new: int) -> list[str]:
    """run_pipeline reports as new exactly the urls that were not committed."""
    got = summary.get("new_pages")
    if got != expected_new:
        return [f"new_pages: got {got}, expected {expected_new}"]
    return []


def golden_distinct(expected: Iterable[tuple]) -> set[tuple]:
    """(subj, pred, obj, n_pages, first_url) rows that
    `distinct_triples` must return for the golden triples."""
    urls: dict[tuple, set] = defaultdict(set)
    for subj, pred, obj, url in expected:
        urls[(subj, pred, obj)].add(url)
    return {(s, p, o, len(u), min(u)) for (s, p, o), u in urls.items()}


def check_query(rows: Iterable[tuple], expected: Iterable[tuple]) -> list[str]:
    """The graph query's (subj, pred, obj, n_pages, first_url) rows match
    the golden-derived distinct triples, with no key returned twice."""
    rows = [tuple(r) for r in rows]
    out = []
    keys = Counter(r[:3] for r in rows)
    dup = sorted(k for k, n in keys.items() if n > 1)
    if dup:
        out.append(f"query: {len(dup)} (subj, pred, obj) keys returned twice, e.g. {dup[:3]}")
    return out + _diff("query rows", set(rows), golden_distinct(expected))


def survivor_digest(ids: Iterable[int]) -> str:
    """Order-independent digest of a survivor id set."""
    h = hashlib.sha256()
    for i in sorted(set(ids)):
        h.update(str(i).encode() + b",")
    return h.hexdigest()


def check_ingest(
    committed_ids: Iterable[int],
    history_ids: Iterable[int],
    injected_ids: Iterable[int],
    new_docs: int,
    reference_digest: str | None,
) -> tuple[list[str], str]:
    """After one `ingest_shard`:

    * every committed history document is still committed;
    * no injected exact or near duplicate was committed;
    * the shard's survivors match the `new_docs` the call reported;
    * the survivor set equals the one the first op of the run committed
      (`reference_digest`; None for the first op).

    Returns (problems, digest of this op's survivor set)."""
    committed = Counter(committed_ids)
    history = set(history_ids)
    out = []
    twice = sorted(i for i, n in committed.items() if n > 1)
    if twice:
        out.append(f"ingest: {len(twice)} documents committed twice, e.g. {twice[:3]}")
    lost = history - set(committed)
    if lost:
        out.append(f"ingest: {len(lost)} history documents vanished, e.g. {sorted(lost)[:3]}")
    leaked = sorted(set(injected_ids) & set(committed))
    if leaked:
        out.append(f"ingest: {len(leaked)} injected duplicates survived, e.g. {leaked[:3]}")
    survivors = set(committed) - history
    if len(survivors) != new_docs:
        out.append(f"ingest: {len(survivors)} shard survivors, summary says {new_docs}")
    digest = survivor_digest(survivors)
    if reference_digest is not None and digest != reference_digest:
        out.append("ingest: survivor set differs from the run's first op")
    return out, digest
