"""Structured-data extraction: corpus pages → RDF triples.

Spark shape of the reference's discovery service (SURVEY.md §3.2,
/root/reference/sema/discovery/discovery.py):

    corpus scan → mapInPandas(extract) → [triples | links] →
    bounded link-follow join back onto the corpus → dedup

Per-row semantics mirror ``_extract_triples_from_response``
(discovery.py:178-217):

1. try the format-fallback parse of the page body itself
   (discovery.py:148-176) — first format yielding >0 triples wins;
2. if the body yields nothing and the page is HTML, collect
   ``<link rel=describedby>`` targets (→ recursion, here a join) and
   parse embedded ``application/ld+json`` / ``text/turtle`` script
   blocks (lod_html_parser.py:16-38);
3. relative link hrefs resolve against the page url
   (``urljoin`` — discovery.py:206).

The HTTP strategy ladder (conneg #01-#04) degenerates in batch: the
corpus row *is* the response, so "try every mime" becomes "try every
parser on the one body we have".

Scale: this stage is embarrassingly parallel — no shuffle, output is
a flatMap with a 10-100× row explode. All Python work is inside
Arrow-batched ``mapInPandas``; a 1000-executor cluster scans its own
corpus splits and never exchanges data until the post-extraction dedup.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Tuple
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..rdf.html import (
    decode_bytes,
    extract_text,
    looks_like_html,
    scan_html,
    starts_like_html,
)
from ..rdf.parse import parse_rdf_auto
from ..rdf.terms import Triple

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("src_url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'triple' | 'link'
        T.StructField("s", T.StringType(), True),
        T.StructField("p", T.StringType(), True),
        T.StructField("o", T.StringType(), True),
        T.StructField("o_kind", T.StringType(), True),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("link_url", T.StringType(), True),
    ]
)

_SCRIPT_FMTS = {
    "application/ld+json": ("json-ld",),
    "text/turtle": ("turtle", "nt"),
}


def extract_page(url: str, body: str) -> Tuple[List[Tuple[Triple, str]], List[str]]:
    """One page → ([(triple, fmt)…], [absolute link url…]).

    Pure Python, reused verbatim by tests and by the pandas-UDF batch
    loop — a single implementation keeps the per-row invariant.
    """
    triples: List[Tuple[Triple, str]] = []
    links: List[str] = []
    if not body:
        return triples, links
    if looks_like_html(body):
        # HTML-looking documents go straight to the HTML consumers —
        # the reference routes text/html responses to its
        # LODAwareHTMLParser rather than the RDF parser chain
        # (discovery.py:148-156 dispatches on format), and the doomed
        # 7-format fallback attempt was ~30% of per-HTML-page cost.
        # One tokenizer pass feeds all three consumers (see
        # html._EventRecorder).
        from ..rdf.html import tokenize_html
        from ..rdf.microdata import parse_microdata
        from ..rdf.rdfa import parse_rdfa

        events = tokenize_html(body)
        scan = scan_html(body, events=events)
        for href in scan["links"]:
            links.append(urljoin(url, href))
        for script_type, content in scan["scripts"]:
            fmts = _SCRIPT_FMTS.get(script_type)
            if not fmts:
                continue
            parsed, fmt = parse_rdf_auto(content, base=url, formats=fmts)
            triples.extend((t, fmt) for t in parsed)
        # attribute-level structured data (north_star: RDFa + microdata)
        triples.extend(
            (t, "microdata")
            for t in parse_microdata(body, base=url, events=events)
        )
        triples.extend(
            (t, "rdfa") for t in parse_rdfa(body, base=url, events=events)
        )
        if triples or links or (starts_like_html(body) and "</" in body):
            return triples, links
        # the HTML consumers found nothing and no closing tag backs the
        # opening token (a Turtle document whose first term is the
        # relative IRI <html> or <body>, say): try the RDF chain instead
    parsed, fmt = parse_rdf_auto(body, base=url)
    if parsed:
        return [(t, fmt) for t in parsed], links
    return triples, links


def _batch_rows(pdf: pd.DataFrame) -> Iterable[tuple]:
    for url, html in zip(pdf["url"].values, pdf["html"].values):
        body = decode_bytes(html) if html is not None else ""
        trips, links = extract_page(url, body)
        for t, fmt in trips:
            yield (
                url, "triple",
                t.s.value, t.p.value, t.o.value,
                t.o.kind, t.o.datatype, t.o.lang, fmt, None,
            )
        for link in links:
            yield (url, "link", None, None, None, None, None, None, None, link)


# ASCII substrings a DEFINITELY-HTML page must contain for
# extract_page to be able to emit anything: RDFa needs property=/
# typeof= to assert a triple (about/resource/vocab alone emit
# nothing), microdata needs itemscope, script blocks need their
# literal type value (RDF_SCRIPT_TYPES), link collection fires only on
# rel="describedby". Pages matching none provably extract to zero
# rows, so the JVM can drop them before the Arrow transfer. False
# positives (the word "property" in prose) just fall through to the
# Python path — never a correctness risk.
_HTML_MARKERS = (
    "property", "typeof", "itemscope", "describedby",
) + tuple(_SCRIPT_FMTS)


def extract_structured(corpus: DataFrame, prefilter: bool = True) -> DataFrame:
    """corpus(url, html, …) → rows of EXTRACT_SCHEMA (triples + links).

    ``prefilter`` drops definitely-HTML pages carrying none of the
    structured-data markers BEFORE the Arrow transfer — pure
    whole-stage-codegen string scans. On a real crawl most pages have
    no embedded structured data at all, so this is the difference
    between paying Python parse cost for the whole corpus and for the
    structured slice only (the markers are ASCII, so the lossy
    binary→UTF-8 cast cannot hide them)."""

    cols = corpus.select("url", "html")  # column pruning before Arrow transfer
    if prefilter:
        body = F.col("html").cast("string")
        head = F.lower(F.substring(body, 1, 512))
        # a closing tag is the evidence extract_page needs before it
        # treats an <html-opening page as HTML only
        is_html = (
            head.contains("<!doctype html") | head.contains("<html")
        ) & body.contains("</")
        low = F.lower(body)
        marker = F.lit(False)
        for m in _HTML_MARKERS:
            marker = marker | low.contains(m)
        cols = cols.where(~is_html | marker)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [f.name for f in EXTRACT_SCHEMA.fields]
        for pdf in batches:
            rows = list(_batch_rows(pdf))
            yield pd.DataFrame(rows, columns=names)

    return cols.mapInPandas(gen, EXTRACT_SCHEMA)


def triples_of(extracted: DataFrame) -> DataFrame:
    return extracted.where(F.col("kind") == "triple").select(
        "s", "p", "o", "o_kind", "o_datatype", "o_lang", "src_url", "fmt"
    )


def links_of(extracted: DataFrame) -> DataFrame:
    return extracted.where(F.col("kind") == "link").select("src_url", "link_url")


def extract_with_link_follow(
    corpus: DataFrame,
    seed_urls: Optional[DataFrame] = None,
    max_hops: int = 3,
) -> DataFrame:
    """Discovery with bounded link-following (J8, SURVEY.md §2.3).

    The reference recurses per ``describedby`` link
    (discovery.py:195-207); at corpus scale recursion becomes an
    iterative frontier join: extract → links ⋈ corpus (on url) →
    extract the new pages → … up to ``max_hops``. The visited-set is
    an accumulated DataFrame anti-joined each round, so no page is
    parsed twice.

    ``seed_urls``: optional single-column (url) DataFrame restricting
    round 0; default = whole corpus.
    """
    frontier = (
        corpus if seed_urls is None
        else corpus.join(F.broadcast(seed_urls.select("url")), "url", "left_semi")
    )
    visited = frontier.select("url")
    out: Optional[DataFrame] = None
    persisted = []
    for _ in range(max_hops + 1):
        extracted = extract_structured(frontier).persist()
        persisted.append(extracted)
        trips = triples_of(extracted)
        out = trips if out is None else out.unionByName(trips)
        next_urls = (
            links_of(extracted)
            .select(F.col("link_url").alias("url"))
            .distinct()
            .join(visited, "url", "left_anti")
        )
        frontier = corpus.join(next_urls, "url", "left_semi")
        # driver-side emptiness check ends the loop early; with AQE the
        # count on an already-persisted frame is cheap
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier.select("url"))
    # materialize the union once, then release every round's cache —
    # the per-round frames otherwise pin executor memory for the
    # lifetime of the returned (lazy) plan
    out = out.localCheckpoint(eager=True)
    for df in persisted:
        df.unpersist()
    return out


def text_invariant(corpus: DataFrame) -> DataFrame:
    """Recompute extracted text per url and compare with the stored
    ``text`` column — the per-row byte-identity invariant
    (BASELINE.md "byte-identical extracted text per url").

    Returns (url, ok) — pipelines assert ``ok`` is all-true.
    """
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("ok", T.BooleanType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html, text in zip(
                pdf["url"].values, pdf["html"].values, pdf["text"].values
            ):
                body = decode_bytes(html) if html is not None else ""
                recomputed = (
                    extract_text(body) if looks_like_html(body) else body
                )
                rows.append((url, recomputed == (text or "")))
            yield pd.DataFrame(rows, columns=["url", "ok"])

    return corpus.select("url", "html", "text").mapInPandas(gen, schema)
