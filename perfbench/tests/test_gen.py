"""Generator determinism and output-check tests (no Spark needed).

Run: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import StoreView, check_store, compare, read_store  # noqa: E402
from gen import (BLOCKED_EXTENSIONS, DISALLOW_PREFIX, Spec,  # noqa: E402
                 expected_crawl, generate, write_inputs)

SPEC = Spec(levels=(5, 30, 120), hosts=12, zipf_s=1.1, forward_links=8,
            back_links=4, text_words=12, dead_links=0.2,
            blocked_ext_links=0.2, robots_hosts=2, robots_links=0.2)
TABLES = ("pages", "seeds", "robots", "politeness")


def _bytes(tmp_path, seed, name):
    paths = write_inputs(generate(SPEC, seed), str(tmp_path / name))
    return {t: open(paths[t], "rb").read() for t in TABLES}


def test_same_seed_gives_identical_tables(tmp_path):
    assert _bytes(tmp_path, 7, "a") == _bytes(tmp_path, 7, "b")


def test_different_seed_gives_different_tables(tmp_path):
    a, b = _bytes(tmp_path, 7, "a"), _bytes(tmp_path, 8, "b")
    assert all(a[t] != b[t] for t in TABLES)


def test_oracle_applies_the_gates():
    corpus = generate(SPEC, 3)
    exp = expected_crawl(corpus, max_depth=64)
    robots_hosts = {h for h, _, _ in corpus.robots}
    assert exp.records and exp.fetch_miss
    for url in exp.records:
        assert not url.endswith(tuple("." + e for e in BLOCKED_EXTENSIONS))
        host, path = url.split("/")[2], "/" + url.split("/", 3)[3]
        assert not (host in robots_hosts and path.startswith(DISALLOW_PREFIX))
    # every generated level page is reachable; planted targets exist in
    # the corpus but are gated away
    level_pages = {u for u in corpus.links if "/l" in u and "/files/" not in u
                   and DISALLOW_PREFIX not in u}
    assert level_pages <= exp.records.keys()
    assert len(corpus.titles) > len(exp.records)
    assert exp.rounds == len(SPEC.levels)


def test_generated_urls_are_canonical():
    # the output check fingerprints a URL as its own canon_url
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))))
    from hepcrawl_spark.functions.textutils import canonicalize_url

    corpus = generate(SPEC, 3)
    urls = set(corpus.titles) | {u for out in corpus.links.values()
                                 for u in out}
    assert all(canonicalize_url(u) == u for u in urls)


def test_depth_limit_cuts():
    corpus = generate(SPEC, 3)
    assert len(expected_crawl(corpus, max_depth=0).records) == SPEC.levels[0]


def _fake_store(root, records, errors):
    """The committed layout RoundStore writes: one round directory with
    parquet tables and its MANIFEST.json."""
    rdir = os.path.join(root, "rounds", "round-00000")
    for name, table in {
        "records": pa.table({
            "url": [r[0] for r in records],
            "title": [r[1] for r in records],
            "abstract": [r[2] for r in records],
        }),
        "errors": pa.table({"url": [e[0] for e in errors],
                            "error": [e[1] for e in errors]}),
        "queue": pa.table({"url": pa.array([], pa.string())}),
    }.items():
        os.makedirs(os.path.join(rdir, name))
        pq.write_table(table, os.path.join(rdir, name, "part-0.parquet"))
    with open(os.path.join(rdir, "MANIFEST.json"), "w") as fh:
        json.dump({"round": 0, "tables": {"records": "records",
                                          "errors": "errors",
                                          "queue": "queue"}}, fh)


def _correct_store(corpus):
    exp = expected_crawl(corpus, max_depth=64)
    records = [(u, t, a) for u, (t, a) in sorted(exp.records.items())]
    errors = [(u, "FetchMiss: url not in corpus") for u in sorted(exp.fetch_miss)]
    return exp, records, errors


def test_check_accepts_a_correct_store(tmp_path):
    corpus = generate(SPEC, 5)
    _, records, errors = _correct_store(corpus)
    _fake_store(str(tmp_path), records, errors)
    rep, _ = check_store(corpus, read_store(str(tmp_path)), 64)
    assert rep.failed == 0, rep.examples


def test_check_has_teeth():
    corpus = generate(SPEC, 5)
    exp, records, errors = _correct_store(corpus)
    url, title, abstract = records[0]
    cases = {
        "field mismatch": [(url, title, abstract + " x")] + records[1:],
        "duplicate record": records + records[:1],
        "missing record": records[1:],
        "unexpected record": records + [("http://elsewhere.test/", "t", "a")],
    }
    for kind, recs in cases.items():
        rep = compare(exp, recs, errors)
        assert rep.failed > 0 and rep.problems[kind] > 0, kind
    assert compare(exp, records, errors[1:]).failed == 1
    assert compare(exp, records, errors + [(url, "ValueError: boom")]).failed == 1


def test_fp_drop_is_not_a_failure():
    corpus = generate(SPEC, 5)
    exp, records, errors = _correct_store(corpus)
    # drop one leaf page as if the seen filter falsely claimed it
    leaf = next(u for u, _, _ in records if "/l2/" in u)
    kept = [r for r in records if r[0] != leaf]
    view = StoreView([0], kept, errors, {0: 0}, [])
    rep, _ = check_store(corpus, view, 64, contains=lambda urls: [
        u == leaf for u in urls])
    assert rep.failed == 0 and rep.fp_dropped == 1
    rep, _ = check_store(corpus, view, 64, contains=lambda urls: [
        False for _ in urls])
    assert rep.problems["missing record"] == 1
