"""LOD-aware HTML scanning + deterministic text extraction.

``scan_html`` reproduces the observable behavior of the reference's
``LODAwareHTMLParser``
(/root/reference/sema/discovery/lod_html_parser.py:4-38): collect
``<link rel="describedby" href=…>`` targets and the bodies of
``<script type="application/ld+json">`` / ``<script type="text/turtle">``
blocks, in document order. Built on the stdlib ``html.parser`` like the
reference, so edge-case tokenization matches.

``extract_text`` is the per-row text invariant (BASELINE.json
input_hint: "byte-identical extracted text per url"): a deterministic
visible-text extraction (script/style suppressed, entity-decoded,
whitespace-normalized per block). The corpus generator and the pipeline
share this single implementation, and tests pin its output bytes.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, List, Tuple

RDF_SCRIPT_TYPES = ("application/ld+json", "text/turtle")


class _LodScanner(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: List[str] = []
        self.scripts: List[Tuple[str, str]] = []  # (type, content)
        self._script_type: str | None = None
        self._script_buf: List[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        attrs = dict(attrs)
        if tag == "link" and attrs.get("rel") == "describedby":
            href = attrs.get("href")
            if href:
                self.links.append(href)
        elif tag == "script" and attrs.get("type") in RDF_SCRIPT_TYPES:
            self._script_type = attrs["type"]
            self._script_buf = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "script" and self._script_type is not None:
            self.scripts.append(
                (self._script_type, "".join(self._script_buf))
            )
            self._script_type = None
            self._script_buf = []

    def handle_data(self, data: str) -> None:
        if self._script_type is not None:
            self._script_buf.append(data)


class _EventRecorder(HTMLParser):
    """One tokenizer pass shared by every HTML consumer.

    The extraction path runs THREE HTMLParser subclasses over the same
    document (LOD scan, microdata, RDFa) — profiling the flagship
    showed the stdlib tokenizer (goahead/parse_starttag regexes) was
    ~45% of per-page cost, three times over. Recording the event
    stream once and replaying it into each consumer's handle_* methods
    keeps the handlers byte-identical in behavior (same
    convert_charrefs, same CDATA handling for <script>, same
    feed+close chunking) while tokenizing once."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: List[tuple] = []

    def handle_starttag(self, tag, attrs):
        self.events.append((0, tag, attrs))

    def handle_endtag(self, tag):
        self.events.append((1, tag, None))

    def handle_data(self, data):
        self.events.append((2, data, None))


def tokenize_html(html_text: str) -> List[tuple]:
    r = _EventRecorder()
    r.feed(html_text)
    r.close()
    return r.events


def replay_html(events: List[tuple], handler: HTMLParser) -> None:
    hs = handler.handle_starttag
    he = handler.handle_endtag
    hd = handler.handle_data
    for kind, a, b in events:
        if kind == 0:
            hs(a, b)
        elif kind == 1:
            he(a)
        else:
            hd(a)


def scan_html(html_text: str, events: List[tuple] | None = None) -> Dict[str, List]:
    """→ {"links": [href…], "scripts": [(type, content)…]}."""
    p = _LodScanner()
    if events is None:
        p.feed(html_text)
        p.close()
    else:
        replay_html(events, p)
    return {"links": p.links, "scripts": p.scripts}


_BLOCK_TAGS = frozenset(
    "p div br li ul ol h1 h2 h3 h4 h5 h6 tr table section article header "
    "footer nav blockquote pre title".split()
)
_SUPPRESS_TAGS = frozenset(("script", "style", "noscript", "template"))


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: List[str] = []
        self._suppress = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SUPPRESS_TAGS:
            self._suppress += 1
        elif tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_endtag(self, tag: str) -> None:
        if tag in _SUPPRESS_TAGS and self._suppress > 0:
            self._suppress -= 1
        elif tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_data(self, data: str) -> None:
        if not self._suppress:
            self._chunks.append(data)


_WS_RE = re.compile(r"[ \t\r\f\v]+")
_NL_RE = re.compile(r"\n{2,}")


def extract_text(html_text: str) -> str:
    """Deterministic visible text of an HTML document.

    Normalization: runs of spaces/tabs → one space, lines stripped,
    runs of blank lines → one newline, document stripped. Pure function
    of the input bytes — the per-url invariant the baseline requires.
    """
    p = _TextExtractor()
    p.feed(html_text)
    p.close()
    raw = "".join(p._chunks)
    raw = _WS_RE.sub(" ", raw)
    lines = [ln.strip() for ln in raw.split("\n")]
    return _NL_RE.sub("\n", "\n".join(lines)).strip("\n").strip()


def starts_like_html(text: str) -> bool:
    """The document opens with a doctype or an ``<html`` tag."""
    head = text[:512].lstrip().lower()
    return head.startswith("<!doctype html") or head.startswith("<html")


def looks_like_html(text: str) -> bool:
    """:func:`starts_like_html`, or a ``<head``/``<body`` substring in
    the first 512 characters. The substring branch alone is a guess:
    a Turtle document may hold the relative IRI ``<body>``."""
    if starts_like_html(text):
        return True
    head = text[:512].lower()
    return "<head" in head or "<body" in head


def decode_bytes(data: bytes) -> str:
    """bytes → str: utf-8, else latin-1 (which decodes ANY byte
    sequence, so no further fallback can ever be reached)."""
    if data is None:
        return ""
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("latin-1")
