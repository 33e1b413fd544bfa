"""Format-fallback RDF parsing — the reference's core extraction rule.

Mirrors ``_add_triples_from_text``
(/root/reference/sema/discovery/discovery.py:148-176): try formats in a
fixed order until one yields > 0 triples; a parse failure is silent and
the chain moves on. The chain order matches the reference exactly:
``["turtle","json-ld","n3","nt","trig","nquads","xml"]`` — all seven
formats parse (Turtle-engine family for turtle/n3/nt/trig/nquads, the
JSON-LD expander, and a stdlib-ElementTree RDF/XML parser).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from .jsonld import parse_jsonld
from .rdfxml import parse_rdfxml
from .terms import Triple
from .turtle import (
    parse_n3,
    parse_nquads,
    parse_ntriples,
    parse_trig,
    parse_turtle,
)

FORMATS_TO_TRY: Tuple[str, ...] = (
    "turtle", "json-ld", "n3", "nt", "trig", "nquads", "xml",
)

_PARSERS = {
    "turtle": parse_turtle,
    "json-ld": parse_jsonld,
    "n3": parse_n3,
    "nt": parse_ntriples,
    "trig": parse_trig,
    "nquads": parse_nquads,
    "xml": parse_rdfxml,
}


def parse_rdf_auto(
    text: str, base: str = "", formats: Optional[Tuple[str, ...]] = None
) -> Tuple[List[Triple], Optional[str]]:
    """Try each format in order; return (triples, winning_format).

    Returns ``([], None)`` when nothing parses — the caller treats that
    as "no structured data here", exactly like the reference returning
    False from ``_add_triples_from_text``.
    """
    if not text or not text.strip():
        return [], None
    stripped = text.lstrip()
    head = stripped[:1]
    order = list(formats or FORMATS_TO_TRY)
    # cheap dispatch hints: JSON cannot be Turtle and vice versa, and
    # an XML prolog / rdf:RDF root cannot be either; keeps the common
    # case at one parse attempt per document. Stable sort preserves the
    # reference chain order among the rest.
    if head in "{[":
        order.sort(key=lambda f: 0 if f == "json-ld" else 1)
    elif stripped.startswith("<?xml") or stripped.startswith("<rdf:RDF"):
        order.sort(key=lambda f: 0 if f == "xml" else 1)
    for fmt in order:
        try:
            triples = _PARSERS[fmt](text, base)
            if triples:
                return triples, fmt
        except Exception:
            continue
    return [], None
