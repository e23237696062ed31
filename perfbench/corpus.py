"""Seeded benchmark inputs, written to parquet before anything is timed.

The program only ever sees the parquet tables these functions write. The
page shapes are those of ``sources.synth`` (``make_page`` /
``make_crawl_page``); the workload seed replaces ``synth.SEED`` while the
rows are generated, so one seed always gives the same table and another
seed gives different content with the same structure and size.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import random

import pandas as pd

from distributed_extraction_framework_spark.schema import PAGES_SCHEMA
from distributed_extraction_framework_spark.sources import synth

# web crawl shape: every chain is 768 hops long, so pointer doubling always
# needs 10 rounds plus one converged round (far below the 2^12 hops where
# transitive_closure(max_iter=12) stops without raising) and every seed
# gives the same number of captures; loops have power-of-two length, the
# only cycle lengths doubling collapses to self-loops and drops
CHAIN_HOPS = 768
LOOP_LENGTHS = (2, 4)
RECAPTURE_SHARE = 0.17
LINKED_SHARE = 0.3

CRAWL_SCHEMA = "page_id long, url string, warc_ts timestamp, html binary, " \
    "text string, lang string, http_status int, http_location string"


@contextlib.contextmanager
def _synth_seed(seed: int):
    old = synth.SEED
    synth.SEED = 1_000 + seed
    try:
        yield
    finally:
        synth.SEED = old


def wiki_pages(seed: int, n: int) -> list[dict]:
    """``n`` wiki pages with the ``sources.synth`` markup mix."""
    with _synth_seed(seed):
        return synth.local_pages(n)


def write_wiki(spark, seed: int, n: int, path: str) -> list[dict]:
    rows = wiki_pages(seed, n)
    pdf = pd.DataFrame(rows, columns=PAGES_SCHEMA.names)
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.parquet(path)
    return rows


class Crawl:
    """A crawl corpus: pages, older re-captures and deep 3xx chains.

    ``expected_closure`` maps every redirecting URL of a chain to the page
    its chain ends on; loop members have no entry. ``latest_ids`` are the
    ``page_id`` values ``latest_capture`` must keep: the newest capture of
    each URL.
    """

    def __init__(self, seed: int, n_pages: int, n_chains: int, n_loops: int):
        rnd = random.Random(seed)
        with _synth_seed(seed):
            pages = [synth.make_crawl_page(i, n_pages) for i in range(n_pages)]
        chains = [[f"https://r{c}.hop.example/{seed}/{h}"
                   for h in range(CHAIN_HOPS)]
                  for c in range(n_chains)]
        rows: list[dict] = []

        def add(url, ts, html, text, lang, status, location):
            rows.append({"page_id": len(rows), "url": url, "warc_ts": ts,
                         "html": html, "text": text, "lang": lang,
                         "http_status": status, "http_location": location})

        for p in pages:
            html = p["html"]
            # a share of pages link into a chain, so resolution rewrites
            # their outlink objects
            if chains and rnd.random() < LINKED_SHARE:
                hop = rnd.choice(rnd.choice(chains))
                html += f'<a href="{hop}">moved</a>'.encode()
            add(p["url"], p["warc_ts"], html, p["text"], p["lang"], 200, None)
        # an older capture carries another page's markup, so keeping the
        # wrong capture changes the triples
        for i in sorted(rnd.sample(range(n_pages),
                                   int(n_pages * RECAPTURE_SHARE))):
            p, other = pages[i], pages[(i + 1) % n_pages]
            age = dt.timedelta(days=rnd.randint(1, 300))
            add(p["url"], p["warc_ts"] - age, other["html"], other["text"],
                p["lang"], 200, None)

        self.expected_closure: dict[str, str] = {}
        crawl_ts = dt.datetime(2024, 6, 1)
        for urls in chains:
            target = pages[rnd.randrange(n_pages)]["url"]
            for h, u in enumerate(urls):
                nxt = urls[h + 1] if h + 1 < len(urls) else target
                add(u, crawl_ts, b"", None, None, 301, nxt)
                self.expected_closure[u] = target
        for k in range(n_loops):
            size = LOOP_LENGTHS[k % len(LOOP_LENGTHS)]
            urls = [f"https://loop{k}.hop.example/{seed}/{j}"
                    for j in range(size)]
            for j, u in enumerate(urls):
                add(u, crawl_ts, b"", None, None, 302, urls[(j + 1) % size])
        newest: dict[str, dict] = {}
        for r in rows:
            if r["url"] not in newest or r["warc_ts"] > newest[r["url"]]["warc_ts"]:
                newest[r["url"]] = r
        self.latest_ids = {r["page_id"] for r in newest.values()}
        self.n_urls = len(newest)
        self.rows = rows

    def write(self, spark, path: str) -> None:
        pdf = pd.DataFrame(self.rows)
        spark.createDataFrame(pdf, schema=CRAWL_SCHEMA).write.parquet(path)
