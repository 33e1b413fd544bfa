"""Deterministic synthetic Common-Crawl-style corpus.

Builds the ``web_pages`` input table of BASELINE.json's input_hint —
``(url string, warc_ts timestamp, html binary, text string,
lang string)`` — entirely from a seed + row index (sha256-keyed, no RNG
state), so the same (seed, n) always produces byte-identical pages on
any partitioning. Generation itself is distributed:
``spark.range(n) → mapInPandas(build_page)``.

Page mix (mirroring the reference's test corpus shapes — FIXTURES.md §1,
/root/reference/tests/data/localhost_http_documentroot/):

- ``ttl``   (30%): pure-Turtle entity pages — skos:prefLabel /
  dc:identifier / owl:deprecated / skos:broader hierarchy +
  ``ex:resource`` fan-out links (the DOC1-style traversal shape);
- ``jsonld`` (20%): schema.org JSON-LD documents (Person/Dataset);
- ``html``  (30%): HTML pages embedding a JSON-LD script block, a
  ``<link rel="describedby">`` into a ttl page, and visible text that
  mentions entity labels (feeds mention detection);
- ``noise`` (20%): HTML with no structured data.

Skew: every entity is ``skos:member`` of one hub collection per 10 000
pages plus ONE global hub (``collection/0``) that every page joins —
the hub-subject shape the north rule requires explicit salting for.

The ``text`` column is produced by the same ``extract_text`` the
pipeline uses, so the byte-identity invariant holds by construction
and is *checked*, not assumed, by ``text_invariant``.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..model import CORPUS_SCHEMA
from ..rdf.html import extract_text

BASE_URL = "https://corpus.example.org/"
EX = "http://www.example.org/"
SKOS = "http://www.w3.org/2004/02/skos/core#"

_FIRST = ["amber", "basalt", "coral", "dune", "ember", "fjord", "glacier",
          "harbor", "inlet", "jetty", "kelp", "lagoon", "mangrove", "nacre",
          "osprey", "plankton", "quartz", "reef", "sandbar", "tide"]
_SECOND = ["atlas", "beacon", "current", "drift", "estuary", "front",
           "gyre", "horizon", "isobar", "jet", "krill", "littoral",
           "meridian", "nekton", "oceanus", "pelagic", "quay", "ripple",
           "swell", "trench"]

EPOCH = datetime(2024, 1, 1)


def _h(seed: int, i: int, tag: str) -> int:
    d = hashlib.sha256(f"{seed}|{i}|{tag}".encode()).digest()
    return int.from_bytes(d[:8], "big")


def entity_label(seed: int, i: int) -> str:
    a = _FIRST[_h(seed, i, "w1") % len(_FIRST)]
    b = _SECOND[_h(seed, i, "w2") % len(_SECOND)]
    return f"{a} {b} {i}"


def page_url(i: int) -> str:
    return f"{BASE_URL}page/{i}"


def entity_iri(i: int) -> str:
    return f"{EX}entity/{i}"


def page_kind(seed: int, i: int) -> str:
    r = _h(seed, i, "kind") % 10
    if r < 3:
        return "ttl"
    if r < 5:
        return "jsonld"
    if r < 8:
        return "html"
    return "noise"


def _ttl_body(seed: int, i: int, n: int) -> str:
    label = entity_label(seed, i)
    ident = f"SDN:{i:07d}"
    depr = "true" if _h(seed, i, "depr") % 10 == 0 else "false"
    broader = (i - 1) // 4  # 4-ary tree → multi-level skos:broader chain
    hub = (i // 10000) * 10000
    fan = [((_h(seed, i, f"fan{k}") % n) or 1) for k in range(3)]
    lines = [
        "@prefix skos: <http://www.w3.org/2004/02/skos/core#> .",
        "@prefix dc: <http://purl.org/dc/terms/> .",
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
        f"@prefix ex: <{EX}> .",
        "",
        f"<{entity_iri(i)}>",
        "    a skos:Concept ;",
        f'    skos:prefLabel "{label}"@en ;',
        f'    skos:altLabel "{label.upper()}" ;',
        f'    dc:identifier "{ident}" ;',
        f'    owl:deprecated "{depr}" ;',
    ]
    if i > 0:
        lines.append(f"    skos:broader <{entity_iri(broader)}> ;")
    lines.append(
        "    ex:resource " + " , ".join(f"<{page_url(f)}>" for f in fan) + " ;"
    )
    lines.append(".")
    # hub collections: a global one plus a per-10k one → subject skew
    lines += [
        "",
        f"<{EX}collection/0> a skos:Collection ;",
        f'    dc:title "global collection" ;',
        f"    skos:member <{entity_iri(i)}> .",
    ]
    if hub != 0:
        lines += [
            f"<{EX}collection/{hub}> a skos:Collection ;",
            f'    dc:title "collection {hub}" ;',
            f"    skos:member <{entity_iri(i)}> .",
        ]
    return "\n".join(lines)


def _wire_format(seed: int, i: int) -> str:
    """Wire format for a ttl-kind page: the same triple content is
    published as Turtle (60%), N-Triples / TriG / N-Quads / RDF-XML
    (10% each) — the reference's full 7-format fallback chain
    (discovery.py:148-156) exercised in the flagship corpus, not just
    in parser unit tests."""
    r = _h(seed, i, "wire") % 10
    return {6: "nt", 7: "trig", 8: "nquads", 9: "xml"}.get(r, "turtle")


def _reserialize(ttl_body: str, base: str, fmt: str, graph: str) -> str:
    """Re-emit a Turtle document's triples in another wire format
    (deterministic, pure Python — content-identical by construction;
    asserted by tests/test_reference_fixed_points.py)."""
    from xml.sax.saxutils import escape, quoteattr

    from ..rdf.terms import RDF_NS, XSD, n3
    from ..rdf.turtle import parse_turtle

    triples = parse_turtle(ttl_body, base=base)
    if fmt == "nt":
        return "\n".join(
            f"{n3(t.s)} {n3(t.p)} {n3(t.o)} ." for t in triples
        )
    if fmt == "nquads":
        return "\n".join(
            f"{n3(t.s)} {n3(t.p)} {n3(t.o)} <{graph}> ." for t in triples
        )
    if fmt == "trig":
        body = "\n".join(
            f"  {n3(t.s)} {n3(t.p)} {n3(t.o)} ." for t in triples
        )
        return f"GRAPH <{graph}> {{\n{body}\n}}"
    if fmt == "xml":
        by_s: dict = {}
        for t in triples:
            by_s.setdefault(t.s.value, []).append(t)
        out = [
            '<?xml version="1.0" encoding="utf-8"?>',
            f'<rdf:RDF xmlns:rdf="{RDF_NS}">',
        ]
        for s, ts in by_s.items():
            out.append(f"  <rdf:Description rdf:about={quoteattr(s)}>")
            for t in ts:
                ns, local = _split_iri(t.p.value)
                tag = f"n:{local}"
                nsdecl = f' xmlns:n="{escape(ns)}"'
                o = t.o
                if o.kind == "iri":
                    out.append(
                        f"    <{tag}{nsdecl} rdf:resource={quoteattr(o.value)}/>"
                    )
                elif o.lang:
                    out.append(
                        f'    <{tag}{nsdecl} xml:lang="{o.lang}">'
                        f"{escape(o.value)}</{tag}>"
                    )
                elif o.datatype and o.datatype != XSD + "string":
                    out.append(
                        f"    <{tag}{nsdecl} rdf:datatype="
                        f"{quoteattr(o.datatype)}>{escape(o.value)}</{tag}>"
                    )
                else:
                    out.append(f"    <{tag}{nsdecl}>{escape(o.value)}</{tag}>")
            out.append("  </rdf:Description>")
        out.append("</rdf:RDF>")
        return "\n".join(out)
    raise ValueError(fmt)


def _split_iri(iri: str) -> tuple:
    """Split a predicate IRI into (namespace, XML-NCName local part)."""
    for sep in ("#", "/"):
        k = iri.rfind(sep)
        if k > 0 and k + 1 < len(iri):
            return iri[: k + 1], iri[k + 1 :]
    return iri, "p"


def _jsonld_body(seed: int, i: int) -> str:
    label = entity_label(seed, i)
    doc = {
        "@context": {
            "schema": "https://schema.org/",
            "skos": SKOS,
            "dc": "http://purl.org/dc/terms/",
            "schema:about": {"@type": "@id"},
        },
        "@id": entity_iri(i),
        "@type": "schema:Dataset",
        "schema:name": {"@value": label, "@language": "en"},
        "schema:identifier": f"DS-{i:07d}",
        "schema:about": entity_iri((i - 1) // 4 if i else 0),
        "schema:version": 1 + (_h(seed, i, "v") % 5),
    }
    return json.dumps(doc, indent=1, sort_keys=True)


def _html_body(seed: int, i: int, n: int) -> str:
    label = entity_label(seed, i)
    mention_a = entity_label(seed, (_h(seed, i, "m1") % n) or 1)
    mention_b = entity_label(seed, (_h(seed, i, "m2") % n) or 1)
    target = ((_h(seed, i, "desc") % n) or 1)
    based = ((_h(seed, i, "based") % n) or 1)
    script = _jsonld_body(seed, i)
    # attribute-level structured data: half the html pages carry a
    # microdata author card, the other half an RDFa dataset block —
    # the north_star's "JSON-LD, RDFa, microdata extraction" mix
    if _h(seed, i, "attrkind") % 2 == 0:
        attr_block = f"""<div itemscope itemtype="https://schema.org/Person" itemid="#author">
  <span itemprop="name">{mention_a}</span>
  <link itemprop="mainEntityOfPage" href="/page/{i}">
</div>"""
    else:
        attr_block = f"""<p vocab="https://schema.org/" resource="#dataset" typeof="Dataset">
  <span property="name">{label}</span>
  <a property="isBasedOn" href="/page/{based}">source</a>
</p>"""
    return f"""<!DOCTYPE html>
<html>
<head>
<title>Page {i}: {label}</title>
<link rel="describedby" href="/page/{target}" type="text/turtle">
<script type="application/ld+json">
{script}
</script>
<style>body {{ margin: 0; }}</style>
</head>
<body>
<h1>{label}</h1>
<p>This page documents {label}, closely related to {mention_a}
and occasionally confused with {mention_b}.</p>
{attr_block}
<p>Identifier DS-{i:07d} was registered on 2024-01-01.</p>
</body>
</html>"""


def _noise_body(seed: int, i: int) -> str:
    w = entity_label(seed, i)
    return f"""<html><head><title>blog {i}</title></head>
<body><p>nothing structured here, just notes about {w}.</p></body></html>"""


def build_page(seed: int, i: int, n: int) -> tuple:
    kind = page_kind(seed, i)
    if kind == "ttl":
        body = _ttl_body(seed, i, n)
        wire = _wire_format(seed, i)
        if wire != "turtle":
            body = _reserialize(
                body, page_url(i), wire, f"urn:graph:{i}"
            )
        text = body
        lang = "en"
    elif kind == "jsonld":
        body = _jsonld_body(seed, i)
        text = body
        lang = "en"
    elif kind == "html":
        body = _html_body(seed, i, n)
        text = extract_text(body)
        lang = "en"
    else:
        body = _noise_body(seed, i)
        text = extract_text(body)
        lang = ["en", "nl", "fr", "de"][_h(seed, i, "lang") % 4]
    ts = EPOCH + timedelta(seconds=int(_h(seed, i, "ts") % (86400 * 90)))
    return (page_url(i), ts, body.encode("utf-8"), text, lang)


def synth_corpus(spark: SparkSession, n_pages: int, seed: int = 42) -> DataFrame:
    """Distributed deterministic corpus of ``n_pages`` rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "text", "lang"]
        for pdf in batches:
            rows = [build_page(seed, int(i), n_pages) for i in pdf["id"].values]
            yield pd.DataFrame(rows, columns=cols)

    # partitions: enough to occupy every core ~3× over (dynamic load
    # balance for the skewed parse costs) while keeping Arrow batches
    # bounded to ~4k pages
    par = spark.sparkContext.defaultParallelism
    parts = max(3 * par, n_pages // 4096)
    return (
        spark.range(0, n_pages, numPartitions=parts)
        .mapInPandas(gen, CORPUS_SCHEMA)
    )
