"""Seeded input generator for the crawl benchmark.

``generate(spec, seed)`` builds a layered web graph in pure Python: a
Common-Crawl-style pages table (``url, warc_ts, html, text, lang``),
the seed list, a robots table and a politeness table.  The same
``(spec, seed)`` always yields byte-identical tables; the engine only
ever sees the parquet files ``write_inputs`` produces.

``expected_crawl`` is the independent oracle: a breadth-first walk of
the generator's own link graph that applies the same queue-entry rules
the crawl is configured with (path-extension blocklist, robots
Disallow prefixes, one fetch per URL, depth limit).  It yields the
exact record set a correct crawl commits, and the dead links it must
report as fetch misses.

Graph shape: level 0 are the seeds; every page of level ``l`` gets one
parent in level ``l-1`` (so every page is reachable), the rest of its
parents' forward links point at random next-level pages, and the
remaining out-links point back at the same or earlier levels (already
seen when they are probed).  Last-level pages are leaves without
out-links, so a crawl fetches one level per round and then drains.  Pages sit on hosts drawn Zipf-skewed, so link
targets are Zipf-skewed over hosts.  Some links carry a blocked
extension, some point under a robots-disallowed prefix, and a few are
dead; the first two kinds exist in the pages table, so a gate that
lets them through shows up as an unexpected record.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

FORMAT = "html-generic"
BLOCKED_EXTENSIONS = ("pdf", "zip")
DISALLOW_PREFIX = "/private/"

# page text vocabulary: five languages, zh written without spaces
WORDS = {
    "en": ("crawl frontier record page host link seed round queue shard "
           "filter robots politeness schedule fetch extract commit state "
           "index corpus document parser spark stream batch physics paper "
           "detector energy quantum field theory measurement").split(),
    "de": ("seite verbindung warteschlange zustand daten forschung "
           "teilchen energie messung theorie quelle dokument archiv "
           "sammlung abfrage ergebnis verfahren grenze netz rechner "
           "speicher zeitschrift artikel").split(),
    "fr": ("page lien file etat donnee recherche particule energie mesure "
           "theorie source document archive collection requete resultat "
           "methode limite reseau calcul memoire revue article").split(),
    "es": ("pagina enlace cola estado dato investigacion particula energia "
           "medida teoria fuente documento archivo coleccion consulta "
           "resultado metodo limite red calculo memoria revista").split(),
    "zh": list("网页链接队列状态数据研究粒子能量测量理论来源文档档案集合查询结果方法边界网络计算存储期刊文章物理"),
}
LANGS = tuple(sorted(WORDS))
_EPOCH = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Spec:
    """Shape of one generated crawl input."""

    levels: Tuple[int, ...]      # pages per BFS level; level 0 = seeds
    hosts: int                   # host count (Zipf-ranked)
    zipf_s: float                # host-skew exponent (0 = uniform)
    forward_links: int           # out-links per page into the next level
    back_links: int              # out-links per page into earlier levels
    text_words: int              # words of body text per page
    dead_links: float = 0.0      # share of pages with one dead link
    blocked_ext_links: float = 0.0   # share with one .pdf/.zip link
    robots_hosts: int = 0        # hosts with a Disallow rule
    robots_links: float = 0.0    # share with one disallowed link


@dataclass
class Corpus:
    pages: List[tuple]           # (url, warc_ts, html, text, lang)
    seeds: List[str]             # seed urls in yield order
    robots: List[tuple]          # (url_host, [disallow prefixes], delay)
    politeness: List[tuple]      # (url_host, download_delay, max_per_host)
    links: Dict[str, List[str]]  # page url -> out-links in page order
    titles: Dict[str, str]
    abstracts: Dict[str, str]


def _host(seed: int, i: int) -> str:
    return f"h{i:03d}.s{seed}.bench.test"


def _zipf_picker(rnd: random.Random, n: int, s: float):
    cum, acc = [], 0.0
    for rank in range(1, n + 1):
        acc += 1.0 / rank ** s
        cum.append(acc)

    def pick() -> int:
        return min(bisect.bisect_left(cum, rnd.random() * acc), n - 1)
    return pick


def _text(rnd: random.Random, lang: str, n: int) -> str:
    words = rnd.choices(WORDS[lang], k=n)
    if lang == "zh":   # one run of characters per 8, so whitespace breaks it
        return " ".join("".join(words[i:i + 8]) for i in range(0, n, 8))
    return " ".join(words)


def generate(spec: Spec, seed: int) -> Corpus:
    rnd = random.Random(f"perfbench:{seed}")
    pick_host = _zipf_picker(rnd, spec.hosts, spec.zipf_s)
    hosts = [_host(seed, i) for i in range(spec.hosts)]

    levels: List[List[str]] = []
    for lvl, size in enumerate(spec.levels):
        urls = []
        for k in range(size):
            lang = LANGS[rnd.randrange(len(LANGS))]
            host = hosts[pick_host()]
            urls.append(f"http://{host}/{lang}/l{lvl}/p{k:06d}.html")
        levels.append(urls)

    robots_hosts = hosts[:spec.robots_hosts]   # the hottest hosts
    links: Dict[str, List[str]] = {u: [] for lv in levels for u in lv}
    extra_pages: List[str] = []   # blocked-extension / disallowed targets
    for lvl in range(len(levels)):
        cur = levels[lvl]
        nxt = levels[lvl + 1] if lvl + 1 < len(levels) else []
        earlier = [u for lv in levels[:lvl + 1] for u in lv]
        # one guaranteed parent per next-level page
        for child in nxt:
            links[cur[rnd.randrange(len(cur))]].append(child)
        if not nxt:
            break   # the last level holds leaves without out-links
        for i, url in enumerate(cur):
            own = links[url]
            while len(own) < spec.forward_links:
                own.append(nxt[rnd.randrange(len(nxt))])
            for _ in range(spec.back_links):
                own.append(earlier[rnd.randrange(len(earlier))])
            host = url.split("/")[2]
            if rnd.random() < spec.dead_links:
                own.append(f"http://{host}/gone/l{lvl}/p{i:06d}.html")
            if rnd.random() < spec.blocked_ext_links:
                ext = BLOCKED_EXTENSIONS[i % len(BLOCKED_EXTENSIONS)]
                target = f"http://{host}/files/l{lvl}/p{i:06d}.{ext}"
                own.append(target)
                extra_pages.append(target)
            if robots_hosts and rnd.random() < spec.robots_links:
                rh = robots_hosts[rnd.randrange(len(robots_hosts))]
                target = f"http://{rh}{DISALLOW_PREFIX}l{lvl}/p{i:06d}.html"
                own.append(target)
                extra_pages.append(target)
            rnd.shuffle(own)

    pages, titles, abstracts = [], {}, {}
    for url in [u for lv in levels for u in lv] + extra_pages:
        lang = url.split("/")[3] if url.split("/")[3] in WORDS else "en"
        title = f"{lang} {url.rsplit('/', 1)[1]} " + _text(rnd, lang, 4)
        text = _text(rnd, lang, spec.text_words)
        out = links.get(url, [])
        anchors = [_text(rnd, lang, 2) for _ in out]
        items = "".join(
            f'<li><a href="{u}">{a}</a></li>' for u, a in zip(out, anchors)
        )
        html = (
            f"<html><head><meta charset=\"utf-8\"><title>{title}</title>"
            f"</head><body><h1>{title}</h1><p>{text}</p><ul>{items}</ul>"
            f"</body></html>"
        ).encode("utf-8")
        ts = _EPOCH + dt.timedelta(seconds=rnd.randrange(86400 * 365))
        pages.append((url, ts, html, text, lang))
        titles[url] = " ".join(title.split())
        # the visible text of the page, in document order
        abstracts[url] = " ".join(
            " ".join([title, title, text] + anchors).split()
        )
    rnd.shuffle(pages)   # corpus order is not crawl order

    robots = [(h, [DISALLOW_PREFIX], None) for h in robots_hosts]
    politeness = [
        (h, float(rnd.choice((0.5, 1.0, 2.0))), rnd.choice((2, 4, 8)))
        for h in hosts
    ]
    return Corpus(pages, list(levels[0]), robots, politeness, links,
                  titles, abstracts)


def _blocked(url: str, robots_hosts: set) -> bool:
    _, _, host, path = url.split("/", 3)
    name = path.rsplit("/", 1)[-1]
    if "." in name and name.rsplit(".", 1)[1].lower() in BLOCKED_EXTENSIONS:
        return True
    return host in robots_hosts and ("/" + path).startswith(DISALLOW_PREFIX)


@dataclass
class Expected:
    records: Dict[str, Tuple[str, str]]   # url -> (title, abstract)
    fetch_miss: set                       # dead urls the crawl fetches
    rounds: int                           # BFS levels that fetch pages


def expected_crawl(corpus: Corpus, max_depth: int,
                   pruned: Optional[set] = None) -> Expected:
    """BFS over the generated link graph with the crawl's gate rules.

    ``pruned`` urls are treated as never admitted (a false-positive
    drop of the probabilistic seen gate): neither fetched nor expanded.
    """
    robots_hosts = {h for h, _, _ in corpus.robots}
    pruned = pruned or set()
    in_corpus = corpus.titles
    seen: set = set()
    records, miss = {}, set()
    frontier = list(corpus.seeds)
    depth, rounds = 0, 0
    while frontier:
        nxt = []
        fetched_any = False
        for url in frontier:
            if url in seen or url in pruned or _blocked(url, robots_hosts):
                continue
            seen.add(url)
            fetched_any = True
            if url not in in_corpus:
                miss.add(url)
                continue
            records[url] = (corpus.titles[url], corpus.abstracts[url])
            if depth < max_depth:
                nxt.extend(corpus.links.get(url, ()))
        rounds += fetched_any
        frontier = nxt
        depth += 1
    return Expected(records, miss, rounds)


def write_inputs(corpus: Corpus, out_dir: str) -> Dict[str, str]:
    """Write the four input tables as parquet; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "pages": pa.table({
            "url": [p[0] for p in corpus.pages],
            "warc_ts": pa.array([p[1] for p in corpus.pages],
                                pa.timestamp("us")),
            "html": pa.array([p[2] for p in corpus.pages], pa.binary()),
            "text": [p[3] for p in corpus.pages],
            "lang": [p[4] for p in corpus.pages],
        }),
        "seeds": pa.table({
            "url": corpus.seeds,
            "source": [FORMAT] * len(corpus.seeds),
            "priority": pa.array([0] * len(corpus.seeds), pa.int64()),
        }),
        "robots": pa.table({
            "url_host": [r[0] for r in corpus.robots],
            "disallow_prefixes": pa.array([r[1] for r in corpus.robots],
                                          pa.list_(pa.string())),
            "crawl_delay": pa.array([r[2] for r in corpus.robots],
                                    pa.float64()),
        }),
        "politeness": pa.table({
            "url_host": [p[0] for p in corpus.politeness],
            "download_delay": [p[1] for p in corpus.politeness],
            "max_per_host": pa.array([p[2] for p in corpus.politeness],
                                     pa.int32()),
        }),
    }
    paths = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths[name] = path
    return paths
