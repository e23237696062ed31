"""Deterministic synthetic Common-Crawl-style pages source.

Replaces the reference's one-page enwiki fixture
(extraction/src/test/resources/data/enwiki/20160407/...multistream.xml.bz2)
with a seed-fixed generator covering every markup construct the extractor
suite consumes (FIXTURES.md §1): bold leads, internal/external/
interlanguage links, categories, redirect chains + a 2-cycle, template-ns
redirect pairs, infoboxes, coordinate templates, file pages, and
pathological rows.

Generation is a pure function of (index, n_pages) — ``make_page`` — so the
table is identical whether built driver-side (tests / pure-Python oracle)
or distributed via ``spark.range(n).mapInPandas`` (bench at sf0.1+, and the
same shape scales to 10^12 rows on a real cluster: no driver materialized
list, no shuffle, one narrow stage).
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import PAGES_SCHEMA

SEED = 42

_WORDS = (
    "alpha beta gamma delta epsilon zeta river mountain city music history "
    "physics painter engine bridge island harbor castle valley forest star "
    "quantum theory novel poem symphony treaty empire dynasty festival"
).split()

_EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


def _rng(i: int) -> random.Random:
    return random.Random(SEED * 1_000_003 + i)


def _lang(i: int, r: random.Random) -> str:
    x = r.random()
    if x < 0.8:
        return "en"
    return "de" if x < 0.9 else "fr"


def _main_idx(i: int, n: int, r: random.Random) -> int:
    """A deterministic main-article index (residue 0-69) != i."""
    if n <= 100:
        t = r.randrange(min(n, 70))
    else:
        t = r.randrange(n // 100) * 100 + r.randrange(70)
    if t == i:
        t = (t + 100) % n if t + 100 < n else (t + 1) % min(n, 70)
    return t


def _title(i: int) -> str:
    """Deterministic title for page index i (underscored form)."""
    res = i % 100
    if res < 70:
        return f"Article_{i}"
    if res < 78:
        return f"Article_{i}"  # redirect pages are main-ns articles
    if res < 86:
        return f"Category:Cat_{i}"
    if res < 90:
        return f"Template:Tmpl_{i}"
    if res < 93:
        return f"File:File_{i}.png"
    if res == 96:
        return f"Éxample_Ünïcode_{i}"
    if res == 98:
        return f"Article_{i}_(disambiguation)"
    return f"Article_{i}"


def _link(target_title: str, r: random.Random) -> str:
    """Render an internal link, sometimes with spaces / an anchor."""
    t = target_title.replace("_", " ") if r.random() < 0.4 else target_title
    if r.random() < 0.3:
        return f"[[{t}|{r.choice(_WORDS)} anchor]]"
    return f"[[{t}]]"


def _sentence(r: random.Random, k: int = 8) -> str:
    return " ".join(r.choice(_WORDS) for _ in range(k)) + "."


def _main_article_text(i: int, n: int, title: str, lang: str, r: random.Random) -> str:
    parts = [f"'''{title.replace('_', ' ')}''' is a {r.choice(_WORDS)} {r.choice(_WORDS)}."]
    for _ in range(r.randint(2, 8)):
        parts.append(_sentence(r) + " " + _link(_title(_main_idx(i, n, r)), r))
    # external links
    for _ in range(r.randint(0, 2)):
        parts.append(f"[http://ext.example.com/{r.choice(_WORDS)}/{r.randrange(1000)} {r.choice(_WORDS)} site]")
    if r.random() < 0.4:
        parts.append(f"See also http://bare.example.org/{r.choice(_WORDS)}{r.randrange(100)}")
    # interlanguage link (en pages only)
    if lang == "en" and r.random() < 0.35:
        parts.append(f"[[de:Artikel_{r.randrange(n)}]]")
    # plain templates
    for _ in range(r.randint(1, 3)):
        tk = r.randrange(n)
        parts.append(f"{{{{Tmpl_{tk - (tk % 100) + 86 + (tk % 4)}|{r.choice(_WORDS)}}}}}")
    # coordinates
    cr = r.random()
    if cr < 0.15:
        parts.append(f"{{{{Coord|{r.randrange(90)}|{r.randrange(60)}|{r.randrange(60)}|{r.choice('NS')}|{r.randrange(180)}|{r.randrange(60)}|{r.randrange(60)}|{r.choice('EW')}}}}}")
    elif cr < 0.3:
        parts.append(f"{{{{Coord|{round(r.uniform(-90, 90), 4)}|{round(r.uniform(-180, 180), 4)}}}}}")
    # infobox
    if r.random() < 0.5:
        kind = r.choice(["settlement", "company", "person"])
        box = [f"{{{{Infobox {kind}", f"| name = {title.replace('_', ' ')}"]
        box.append(f"| population = {r.randrange(1000, 9_999_999):,}")
        box.append(f"| area_km2 = {round(r.uniform(0.5, 5000), 2)}")
        box.append(f"| founded = {r.randrange(1800, 2020)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}")
        box.append(f"| elevation = {r.randrange(1, 4000)} m")
        box.append(f"| length = {round(r.uniform(0.1, 90), 1)} km")
        box.append(f"| website = http://www.{r.choice(_WORDS)}.example.org")
        box.append(f"| located_in = [[{_title(_main_idx(i, n, r)).replace('_', ' ')}]]")
        box.append(f"| motto = {_sentence(r, 4)}")
        box.append("}}")
        parts.append("\n".join(box))
    # categories at the bottom
    for _ in range(r.randint(1, 3)):
        ck = r.randrange(n)
        parts.append(f"[[Category:Cat_{ck - (ck % 100) + 78 + (ck % 8)}]]")
    return "\n\n".join(parts)


def _redirect_text(i: int, n: int, r: random.Random) -> str:
    res = i % 100
    if res in (71, 73, 74) and i + 1 < n:
        target = _title(i + 1)  # chain hop: 71→72, 73→74→75
    elif res == 76 and i + 1 < n:
        target = _title(i + 1)  # cycle half: 76→77
    elif res == 77:
        target = _title(i - 1)  # cycle half: 77→76
    else:  # 70, 72, 75 and chain tails: land on a main article
        target = _title(_main_idx(i, n, r))
    sp = target.replace("_", " ") if r.random() < 0.5 else target
    kw = r.choice(["#REDIRECT", "#redirect", "#Redirect"])
    return f"{kw} [[{sp}]]"


def make_page(i: int, n: int) -> dict:
    """Pure deterministic page row for index ``i`` of an ``n``-page corpus."""
    r = _rng(i)
    res = i % 100
    title = _title(i)
    lang = _lang(i, r)
    if 70 <= res < 78:
        text = _redirect_text(i, n, r)
    elif 78 <= res < 86:  # category page
        parent = i - (i % 100) + 78 + ((i // 100) % 8)
        text = (
            f"'''{title.split(':', 1)[1].replace('_', ' ')}''' category page.\n"
            f"[[Category:Cat_{parent}]]"
        )
    elif 86 <= res < 90:  # template page
        if res == 88:  # template redirect (feeds the R1 redirect harvest)
            text = f"#REDIRECT [[Template:Tmpl_{i + 1}]]"
        else:
            text = f"Template documentation. {{{{{title.split(':', 1)[1]}|doc}}}}"
    elif 90 <= res < 93:  # file page
        text = f"File description {_sentence(r)} [[Category:Cat_{i - (i % 100) + 80}]]"
    elif res == 93:
        text = ""
    elif res == 94:
        text = _sentence(r, 30)
    elif res == 95:
        text = f"Broken [[unclosed link and {{{{Unclosed template\nmore text"
    elif res == 97:
        para = _sentence(r) + f" [[{_title(_main_idx(i, n, r))}]] "
        text = ("'''%s''' long page.\n" % title) + (para * 200)
    elif res == 99:
        text = f"\t '''{title}''' \n\n\t text with   whitespace [[Article_{max(i - 99, 0)}]]\n"
    elif res == 98:  # disambiguation page
        links = " ".join(f"* [[{_title(_main_idx(i, n, r))}]]" for _ in range(3))
        text = f"{{{{Disambiguation}}}}\n'''{title.replace('_', ' ')}''' may refer to:\n{links}"
    else:  # 96 and main articles
        text = _main_article_text(i, n, title, lang, r)

    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    html = (
        f'<html><head><title>{title}</title></head>'
        f'<body><pre data-kind="source">{esc}</pre></body></html>'
    ).encode("utf-8")
    ts = _EPOCH + dt.timedelta(seconds=(i * 37) % 31_536_000)
    return {
        "url": f"https://{lang}.pages.example.org/wiki/{title}",
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": lang,
    }


def local_pages(n: int) -> list[dict]:
    """Driver-side page list (tests + pure-Python oracle)."""
    return [make_page(i, n) for i in range(n)]


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed synthesis: ``spark.range(n)`` → mapInPandas(make_page).

    One narrow stage, no driver materialization — the generator itself
    scales linearly with executors (this is also the scaling-bench input).
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    rng_df = spark.range(0, n, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), n) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=list(PAGES_SCHEMA.names))

    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


def write_pages(spark: SparkSession, n: int, path: str, partitions: int | None = None) -> None:
    """Materialize a synthetic pages table to parquet (Iceberg on a real
    cluster — same writer call with ``.format("iceberg")``)."""
    synth_pages(spark, n, partitions).write.mode("overwrite").parquet(path)


# --------------------------------------------------------------------------
# crawl-style corpus: pages whose html carries the STRUCTURED markup the
# webtext channel extracts (outlinks, Open Graph meta, a JSON-LD entity
# with a bnode child) rather than the escaped-wikitext <pre> of make_page.
# Same purity contract: row = f(i, n). Benchmarks MATERIALIZE this once
# and scan the parquet — synthesizing markup inside a timed pass measures
# the synthesis expressions, not the operator (the round-5 webtext ledger's
# first trials were polluted exactly that way: a per-pass split_part over
# the text column Pattern.compiles per row on Spark 4 and its allocation
# storm collapses multi-core scaling before the extractor is ever the
# bottleneck).
# --------------------------------------------------------------------------


def make_crawl_page(i: int, n: int) -> dict:
    """Deterministic crawl-style row: same (url, warc_ts, text, lang) as
    :func:`make_page`, html = real structured markup (two outlinks, one
    og:title meta, one JSON-LD Article with a bnode author on every
    page; every 3rd page adds an HTML5-microdata Product, every 4th an
    RDFa-typed node — the realistic partial-coverage mix, so the
    composite's three entity-channel prefilters and scan UDFs all do
    real work at corpus scale) — ~0.4-0.6 KB, the markup mix
    ``web_page_triples`` consumes."""
    import hashlib

    p = make_page(i, n)
    w1 = p["text"].split(" ", 1)[0] if p["text"] else "empty"
    d = hashlib.md5(p["url"].encode("utf-8")).hexdigest()[:16]
    micro = (
        f'<div itemscope itemtype="https://schema.org/Product" '
        f'itemid="https://e/{d}/p"><span itemprop="sku">{w1}</span></div>'
        if i % 3 == 0 else ""
    )
    rdfa = (
        f'<p about="https://e/{d}/r" typeof="https://schema.org/Thing" '
        f'property="https://schema.org/name" content="{w1}"></p>'
        if i % 4 == 0 else ""
    )
    html = (
        f'<a href="https://out.example/{d}/a">{w1} <b>x</b></a>'
        f"<a href='https://peer.example/{d}'>peer</a>"
        f'<meta property="og:title" content="{w1}">'
        f'<script type="application/ld+json">{{"@id":"https://e/{d}",'
        f'"@type":"Article","author":{{"name":"{w1}"}}}}</script>'
        f"{micro}{rdfa}"
    ).encode("utf-8")
    p["html"] = html
    return p


def synth_crawl_pages(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Distributed crawl-style synthesis — spark.range → mapInPandas,
    one narrow stage, no driver materialization."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    rng_df = spark.range(0, n, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_crawl_page(int(i), n) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=list(PAGES_SCHEMA.names))

    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


# --------------------------------------------------------------------------
# skew-adversarial ("zipfian") fixtures — VERDICT r4 #4 / north_rule "skew
# handled explicitly". The benign corpus above never stresses the skew
# guards; these fixtures are adversarial BY CONSTRUCTION:
#   * every document shares one ubiquitous stop-phrase (a hot n-gram whose
#     posting list is the whole corpus — the df-cap's reason to exist),
#   * documents 0..cluster_size-1 are one near-identical cluster (every LSH
#     band hashes them into the SAME bucket — the AQE skew-join case),
#   * the last 2·n_twins documents form n_twins genuine near-dup pairs on
#     pair-private text (what the df-capped Jaccard must still find),
#   * ``hub_page`` is a single page with 10^5 distinct links (the heavy-row
#     extraction case: one page ~100× the median).
# Same purity contract as make_page: row = f(i), driver- or executor-side.
# --------------------------------------------------------------------------

ZIPF_STOP = "of the united common stop phrase shared by every single document"

def _make_cluster_body() -> str:
    r = _rng(899_999)
    return " ".join(r.choice(_WORDS) + str(r.randrange(97)) for _ in range(40))


_CLUSTER_BODY = _make_cluster_body()


def make_zipf_doc(i: int, n: int, cluster_size: int, n_twins: int = 10) -> dict:
    r = _rng(900_000 + i)
    if i < cluster_size:
        # near-identical cluster: same 40-word body, one trailing unique token
        text = f"{ZIPF_STOP} {_CLUSTER_BODY} tail{i}"
    elif i >= n - 2 * n_twins:
        # twin pairs (2k, 2k+1) share a pair-private 40-word body and
        # differ in one word — df of their grams is exactly 2
        pair = (i - (n - 2 * n_twins)) // 2
        pr = _rng(910_000 + pair)
        body = " ".join(pr.choice(_WORDS) + str(pr.randrange(10_000)) for _ in range(40))
        text = f"{ZIPF_STOP} {body} twin{i % 2}"
    else:
        # unique tail: per-doc private vocabulary
        words = " ".join(
            r.choice(_WORDS) + str(r.randrange(1_000_000)) for _ in range(40)
        )
        text = f"{ZIPF_STOP} {words}"
    return {"doc_id": f"d{i:06d}", "text": text}


def synth_zipf_docs(
    spark: SparkSession,
    n: int,
    cluster_size: int,
    n_twins: int = 10,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed adversarial documents table (doc_id, text) — same
    spark.range → mapInPandas shape as :func:`synth_pages`."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    rng_df = spark.range(0, n, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_zipf_doc(int(i), n, cluster_size, n_twins) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    return rng_df.mapInPandas(gen, schema="doc_id string, text string")


def hub_page(n_links: int = 100_000, lang: str = "en") -> dict:
    """One pages-schema row whose text carries ``n_links`` DISTINCT internal
    links (~1.6 MB of wikitext) — a single row ~100× the median page, the
    in-partition heavy-row case the fused extractor must absorb without
    OOM (per-page array ops are row-local; no shuffle key exists to salt)."""
    title = "Hub_Article"
    body = " ".join(f"[[Article_{j}]]" for j in range(n_links))
    text = f"'''Hub Article''' links everything.\n{body}\n[[Category:Cat_78]]"
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    html = (
        f'<html><head><title>{title}</title></head>'
        f'<body><pre data-kind="source">{esc}</pre></body></html>'
    ).encode("utf-8")
    return {
        "url": f"https://{lang}.pages.example.org/wiki/{title}",
        "warc_ts": _EPOCH,
        "html": html,
        "text": text,
        "lang": lang,
    }
