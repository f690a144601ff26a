"""Output check: the committed RoundStore against the generator's oracle.

Reads the store with pyarrow only (no Spark job, so nothing here is
timed or counted as engine work) and compares every committed record's
``url``, ``title`` and ``abstract`` with ``gen.expected_crawl``.

A failure is one of: an extraction error row, a record whose fields
differ from the expectation, a duplicate record, a record for a URL
outside the expected set, an expected record that is missing, or a
fetch-miss row that differs from the planted dead links.  An expected
URL that the committed seen filter claims to hold but that was never
fetched is a cuckoo false-positive drop: it is counted as
``fp_dropped`` and the oracle is recomputed without it.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

import pyarrow.parquet as pq

from gen import Corpus, Expected, expected_crawl

FETCH_MISS = "FetchMiss"


@dataclass
class StoreView:
    rounds: List[int]
    records: List[Tuple[str, str, str]]   # (url, title, abstract)
    errors: List[Tuple[str, str]]         # (url, error)
    queue_rows: Dict[int, int]            # round -> committed queue rows
    seen_blobs: List[Tuple[int, bytes]]   # last round's (shard, blob)


def _table(path: str, columns):
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, columns=columns)


def read_store(root: str) -> StoreView:
    rdir = os.path.join(root, "rounds")
    rounds = sorted(
        int(name.split("-")[1]) for name in os.listdir(rdir)
        if name.startswith("round-")
        and os.path.exists(os.path.join(rdir, name, "MANIFEST.json"))
    )
    records, errors, queue_rows, seen = [], [], {}, []
    for n in rounds:
        base = os.path.join(rdir, f"round-{n:05d}")
        with open(os.path.join(base, "MANIFEST.json")) as fh:
            tables = json.load(fh)["tables"]
        rec = _table(os.path.join(base, "records"),
                     ["url", "title", "abstract"])
        if rec is not None:
            records += zip(*(rec.column(c).to_pylist()
                             for c in ("url", "title", "abstract")))
        err = _table(os.path.join(base, "errors"), ["url", "error"])
        if err is not None:
            errors += zip(err.column("url").to_pylist(),
                          err.column("error").to_pylist())
        if "queue" in tables:
            queue_rows[n] = pq.ParquetDataset(
                os.path.join(base, "queue")).read(columns=["url"]).num_rows
        if n == rounds[-1] and "seen" in tables:
            st = _table(os.path.join(base, "seen"), ["shard", "blob"])
            seen = list(zip(st.column("shard").to_pylist(),
                            st.column("blob").to_pylist()))
    return StoreView(rounds, records, errors, queue_rows, seen)


@dataclass
class Report:
    failed: int = 0
    fp_dropped: int = 0
    problems: Counter = field(default_factory=Counter)
    examples: List[str] = field(default_factory=list)

    def fail(self, kind: str, url: str, n: int = 1) -> None:
        self.failed += n
        self.problems[kind] += n
        if len(self.examples) < 5:
            self.examples.append(f"{kind}: {url}")


def compare(expected: Expected, records, errors) -> Report:
    rep = Report()
    by_url = Counter(r[0] for r in records)
    for url, n in by_url.items():
        if n > 1:
            rep.fail("duplicate record", url, n - 1)
    for url, title, abstract in records:
        want = expected.records.get(url)
        if want is None:
            rep.fail("unexpected record", url)
        elif (title, abstract) != want:
            rep.fail("field mismatch", url)
    for url in expected.records.keys() - by_url.keys():
        rep.fail("missing record", url)
    misses = set()
    for url, err in errors:
        if err.startswith(FETCH_MISS):
            misses.add(url)
        else:
            rep.fail("extraction error", f"{url} {err[:80]}")
    for url in misses ^ expected.fetch_miss:
        rep.fail("fetch-miss mismatch", url)
    return rep


def check_store(corpus: Corpus, view: StoreView, max_depth: int,
                contains: Optional[Callable[[List[str]], List[bool]]] = None
                ) -> Tuple[Report, Expected]:
    """Compare a committed store with the oracle.  ``contains(urls)``
    probes the committed seen filter for URLs the crawl never fetched;
    those it holds are false-positive drops, not failures."""
    expected = expected_crawl(corpus, max_depth)
    rep = compare(expected, view.records, view.errors)
    fetched = {r[0] for r in view.records} | {e[0] for e in view.errors}
    missing = sorted(expected.records.keys() - fetched)
    if missing and contains is not None:
        pruned = {u for u, hit in zip(missing, contains(missing)) if hit}
        if pruned:
            expected = expected_crawl(corpus, max_depth, pruned)
            rep = compare(expected, view.records, view.errors)
            rep.fp_dropped = len(pruned)
    return rep, expected
