"""Suffix ↔ format ↔ mime lookup tables (SURVEY.md §2.2 F9), mirroring
the reference's mapping modules
(/root/reference/sema/commons/fileformats/rdffiles.py:4-58,
mimetypes.py:26-69) for the formats our engine supports. Used for
reader dispatch, sink suffixes, and content-kind hints.
"""

from __future__ import annotations

SUFFIX_TO_FORMAT = {
    ".ttl": "turtle",
    ".turtle": "turtle",
    ".jsonld": "json-ld",
    ".json-ld": "json-ld",
    ".json": "json-ld",
    ".nt": "nt",
    ".ntriples": "nt",
    ".n3": "n3",
    ".trig": "trig",
    ".nq": "nquads",
    ".nquads": "nquads",
    ".rdf": "xml",
    ".xml": "xml",
    ".owl": "xml",
}

FORMAT_TO_MIME = {
    "turtle": "text/turtle",
    "json-ld": "application/ld+json",
    "nt": "application/n-triples",
    "n3": "text/n3",
    "trig": "application/trig",
    "nquads": "application/n-quads",
    "xml": "application/rdf+xml",
}

MIME_TO_FORMAT = {v: k for k, v in FORMAT_TO_MIME.items()}
MIME_TO_FORMAT["application/json"] = "json-ld"
MIME_TO_FORMAT["application/xml"] = "xml"
MIME_TO_FORMAT["text/rdf+n3"] = "n3"

FORMAT_TO_SUFFIX = {
    "turtle": ".ttl",
    "json-ld": ".jsonld",
    "nt": ".nt",
    "n3": ".n3",
    "trig": ".trig",
    "nquads": ".nq",
    "xml": ".rdf",
}


def format_for_suffix(path: str) -> str | None:
    import os

    return SUFFIX_TO_FORMAT.get(os.path.splitext(path)[1].lower())
