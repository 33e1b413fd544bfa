"""Turtle / N-Triples parser (pure Python, from-scratch).

Covers the Turtle 1.1 grammar subset exercised by Common-Crawl-style
structured data and the reference fixtures
(/root/reference/tests/data/localhost_http_documentroot/*.ttl):
@prefix/@base + SPARQL-style PREFIX/BASE, prefixed names, relative IRI
resolution against a base (the reference's ``publicID=resp.url``,
/root/reference/sema/discovery/discovery.py:160-162), bnodes (labels,
anonymous ``[ ... ]`` property lists), collections, object/predicate
lists, all literal forms (short/long quotes, escapes, @lang,
^^datatype, bare numerics/booleans) and comments.

Runs inside Arrow-batched UDFs — one ``parse_turtle`` call per
document. Raises ``TurtleParseError`` on malformed input so the
format-fallback chain can move on (discovery.py:158-173 semantics:
a failed parse is not fatal, it just yields no triples).
"""

from __future__ import annotations

import re
from typing import List, Optional
from urllib.parse import urljoin

from .terms import (
    RDF_TYPE,
    XSD,
    Term,
    Triple,
    bnode,
    build_rdf_list,
    iri,
    literal,
)


class TurtleParseError(ValueError):
    pass


_ECHAR = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}

# PN_CHARS ranges approximated: rdflib accepts a wide unicode set; we
# accept word chars plus common extras, which covers web data in practice.
_PNAME_RE = re.compile(
    r"([A-Za-z_][\w\-.]*)?:((?:[\w\-.:%~]|\\[_~.\-!$&'()*+,;=/?#@%])*)",
    re.UNICODE,
)
# a '.' directly after the digits is the statement terminator unless a
# digit or exponent follows ("1." lexes as INTEGER '1' + '.'; "1.5"/"1.E0"
# lex as DECIMAL/DOUBLE and are matched by the earlier regexes).
_INT_RE = re.compile(r"[+-]?[0-9]+(?![0-9eE])(?!\.[0-9eE])")
_DECIMAL_RE = re.compile(r"[+-]?[0-9]*\.[0-9]+(?![0-9eE])")
_DOUBLE_RE = re.compile(
    r"[+-]?(?:[0-9]+\.[0-9]*[eE][+-]?[0-9]+|\.?[0-9]+[eE][+-]?[0-9]+)"
)
_LANG_RE = re.compile(r"@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)")
_BNODE_LABEL_RE = re.compile(r"_:([\w\-.]*[\w\-])")
_BAD_IRI_CHARS = frozenset(' "{}|^`')


class _TurtleParser:
    def __init__(self, text: str, base: str = ""):
        self.text = text
        self.pos = 0
        self.n = len(text)
        self.base = base or ""
        self.prefixes: dict[str, str] = {}
        self.triples: List[Triple] = []
        self._bnode_counter = 0

    # ----- low-level -----

    def _skip_ws(self) -> None:
        while self.pos < self.n:
            c = self.text[self.pos]
            if c in " \t\r\n":
                self.pos += 1
            elif c == "#":
                nl = self.text.find("\n", self.pos)
                self.pos = self.n if nl < 0 else nl + 1
            else:
                return

    def _peek(self) -> str:
        return self.text[self.pos] if self.pos < self.n else ""

    def _startswith(self, s: str) -> bool:
        return self.text.startswith(s, self.pos)

    def _expect(self, s: str) -> None:
        if not self._startswith(s):
            raise TurtleParseError(
                f"expected {s!r} at {self.pos}: "
                f"{self.text[self.pos:self.pos + 30]!r}"
            )
        self.pos += len(s)

    def _fresh_bnode(self) -> Term:
        self._bnode_counter += 1
        return bnode(f"genb{self._bnode_counter}")

    def _resolve(self, ref: str) -> str:
        if not self.base:
            return ref
        if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", ref):
            return ref  # already absolute
        return urljoin(self.base, ref)

    # ----- terminals -----

    def _unescape(self, s: str, allow_echar: bool = True) -> str:
        if "\\" not in s:  # common case: nothing to decode or reject
            return s
        out: List[str] = []
        i, ln = 0, len(s)
        while i < ln:
            c = s[i]
            if c == "\\" and i + 1 < ln:
                nx = s[i + 1]
                if nx == "u" and i + 6 <= ln:
                    out.append(chr(int(s[i + 2 : i + 6], 16)))
                    i += 6
                    continue
                if nx == "U" and i + 10 <= ln:
                    out.append(chr(int(s[i + 2 : i + 10], 16)))
                    i += 10
                    continue
                if allow_echar and nx in _ECHAR:
                    out.append(_ECHAR[nx])
                    i += 2
                    continue
                raise TurtleParseError(f"bad escape {s[i:i + 2]!r}")
            out.append(c)
            i += 1
        return "".join(out)

    def _parse_iriref(self) -> str:
        self._expect("<")
        # C-speed scan to the terminator; error precedence matches the
        # old per-char loop (newline-before-'>' wins over unterminated)
        end = self.text.find(">", self.pos)
        raw = self.text[self.pos : end] if end >= 0 else self.text[self.pos:]
        if "\n" in raw or "\r" in raw:
            raise TurtleParseError("newline in IRIREF")
        if end < 0:
            raise TurtleParseError("unterminated IRIREF")
        if _BAD_IRI_CHARS.intersection(raw):
            raise TurtleParseError(f"illegal char in IRIREF {raw!r}")
        self.pos = end + 1
        return self._resolve(self._unescape(raw, allow_echar=False))

    def _parse_string(self) -> str:
        t = self.text
        for q in ('"""', "'''"):
            if self._startswith(q):
                end = t.find(q, self.pos + 3)
                while end > 0 and t[end - 1] == "\\":
                    # count backslashes before the quote run
                    nb = 0
                    j = end - 1
                    while j >= 0 and t[j] == "\\":
                        nb += 1
                        j -= 1
                    if nb % 2 == 0:
                        break
                    end = t.find(q, end + 1)
                if end < 0:
                    raise TurtleParseError("unterminated long string")
                # a long string may end with an extra quote char(s)
                while end + 3 < self.n and t[end + 3] == q[0]:
                    end += 1
                raw = t[self.pos + 3 : end]
                self.pos = end + 3
                return self._unescape(raw)
        q = self._peek()
        if q not in "\"'":
            raise TurtleParseError(f"expected string at {self.pos}")
        i = self.pos + 1
        out: List[str] = []
        while i < self.n:
            c = t[i]
            if c == "\\":
                out.append(t[i : i + 2])
                i += 2
                continue
            if c == q:
                raw = "".join(out)
                self.pos = i + 1
                return self._unescape(raw)
            if c in "\n\r":
                raise TurtleParseError("newline in short string")
            out.append(c)
            i += 1
        raise TurtleParseError("unterminated string")

    def _parse_pname(self) -> Optional[str]:
        m = _PNAME_RE.match(self.text, self.pos)
        if not m:
            return None
        pfx = m.group(1) or ""
        if pfx not in self.prefixes:
            return None
        local = m.group(2)
        # strip trailing '.' which is statement-terminating, not part of
        # the local name (grammar: PN_LOCAL cannot end with '.')
        end = m.end()
        while local.endswith("."):
            local = local[:-1]
            end -= 1
        self.pos = end
        local = re.sub(r"\\([_~.\-!$&'()*+,;=/?#@%])", r"\1", local)
        return self.prefixes[pfx] + local

    # ----- productions -----

    def parse(self) -> List[Triple]:
        while True:
            self._skip_ws()
            if self.pos >= self.n:
                break
            self._parse_statement()
        return self.triples

    def _parse_statement(self) -> None:
        t = self.text
        # the bare (SPARQL-style) keywords need a following whitespace so a
        # statement whose subject pname uses a prefix named "prefix"/"base"
        # (e.g. ``base:x <p> <o> .``) is not eaten as a directive
        dm = re.match(r"@prefix|prefix(?=\s)", t[self.pos :], re.IGNORECASE)
        if dm:
            is_sparql = not dm.group(0).startswith("@")
            self.pos += 6 if is_sparql else 7
            self._skip_ws()
            m = re.match(r"([A-Za-z_][\w\-.]*)?:", t[self.pos :])
            if not m:
                raise TurtleParseError("bad prefix declaration")
            pfx = m.group(1) or ""
            self.pos += m.end()
            self._skip_ws()
            ns = self._parse_iriref()
            self.prefixes[pfx] = ns
            self._skip_ws()
            if not is_sparql:
                self._expect(".")
            return
        dm = re.match(r"@base|base(?=\s)", t[self.pos :], re.IGNORECASE)
        if dm:
            is_sparql = not dm.group(0).startswith("@")
            self.pos += 4 if is_sparql else 5
            self._skip_ws()
            self.base = self._parse_iriref()
            self._skip_ws()
            if not is_sparql:
                self._expect(".")
            return
        self._parse_triples()
        self._skip_ws()
        self._expect(".")

    def _parse_triples(self) -> None:
        subj = self._parse_subject()
        self._skip_ws()
        # an anonymous bnode subject may legally carry no predicate list
        # only when it came from [ ... ] — detect a following '.'
        if self._peek() == ".":
            return
        self._parse_predicate_object_list(subj)

    def _parse_subject(self) -> Term:
        c = self._peek()
        if c == "<":
            return iri(self._parse_iriref())
        if c == "[":
            return self._parse_bnode_property_list()
        if c == "(":
            return self._parse_collection()
        if self._startswith("_:"):
            return self._parse_bnode_label()
        pname = self._parse_pname()
        if pname is not None:
            return iri(pname)
        raise TurtleParseError(f"bad subject at {self.pos}")

    def _parse_bnode_label(self) -> Term:
        m = _BNODE_LABEL_RE.match(self.text, self.pos)
        if not m:
            raise TurtleParseError("bad bnode label")
        self.pos = m.end()
        return bnode(m.group(1))

    def _parse_bnode_property_list(self) -> Term:
        self._expect("[")
        node = self._fresh_bnode()
        self._skip_ws()
        if self._peek() != "]":
            self._parse_predicate_object_list(node)
            self._skip_ws()
        self._expect("]")
        return node

    def _parse_collection(self) -> Term:
        self._expect("(")
        items: List[Term] = []
        while True:
            self._skip_ws()
            if self._peek() == ")":
                self.pos += 1
                break
            items.append(self._parse_object())
        return build_rdf_list(items, self._fresh_bnode, self.triples)

    def _parse_predicate_object_list(self, subj: Term) -> None:
        while True:
            self._skip_ws()
            pred = self._parse_predicate()
            while True:
                self._skip_ws()
                obj = self._parse_object()
                self.triples.append(Triple(subj, pred, obj))
                self._skip_ws()
                if self._peek() == ",":
                    self.pos += 1
                    continue
                break
            if self._peek() == ";":
                self.pos += 1
                self._skip_ws()
                # trailing ';' before '.' or ']' is legal
                if self._peek() in ".]" or self.pos >= self.n:
                    return
                continue
            return

    def _parse_predicate(self) -> Term:
        if self._peek() == "<":
            return iri(self._parse_iriref())
        if (
            self._startswith("a")
            and self.pos + 1 < self.n
            and self.text[self.pos + 1] in " \t\r\n<["
        ):
            self.pos += 1
            return iri(RDF_TYPE)
        pname = self._parse_pname()
        if pname is not None:
            return iri(pname)
        raise TurtleParseError(f"bad predicate at {self.pos}")

    def _parse_object(self) -> Term:
        c = self._peek()
        if c == "<":
            return iri(self._parse_iriref())
        if c == "[":
            return self._parse_bnode_property_list()
        if c == "(":
            return self._parse_collection()
        if self._startswith("_:"):
            return self._parse_bnode_label()
        if c in "\"'":
            val = self._parse_string()
            if self._startswith("^^"):
                self.pos += 2
                if self._peek() == "<":
                    dt = self._parse_iriref()
                else:
                    dt = self._parse_pname()
                    if dt is None:
                        raise TurtleParseError("bad datatype")
                return literal(val, datatype=dt)
            m = _LANG_RE.match(self.text, self.pos)
            if m:
                self.pos = m.end()
                return literal(val, lang=m.group(1))
            return literal(val, datatype=XSD + "string")
        # booleans
        for kw in ("true", "false"):
            if self._startswith(kw) and not re.match(
                r"[\w\-.]", self.text[self.pos + len(kw) : self.pos + len(kw) + 1] or " "
            ):
                self.pos += len(kw)
                return literal(kw, datatype=XSD + "boolean")
        # numerics (order matters: double > decimal > integer)
        for rx, dt in (
            (_DOUBLE_RE, "double"),
            (_DECIMAL_RE, "decimal"),
            (_INT_RE, "integer"),
        ):
            m = rx.match(self.text, self.pos)
            if m:
                self.pos = m.end()
                return literal(m.group(0), datatype=XSD + dt)
        pname = self._parse_pname()
        if pname is not None:
            return iri(pname)
        raise TurtleParseError(f"bad object at {self.pos}")


def parse_turtle(text: str, base: str = "") -> List[Triple]:
    """Parse Turtle text → list of Triples (bnodes keep local labels)."""
    return _TurtleParser(text, base).parse()


def parse_ntriples(text: str, base: str = "") -> List[Triple]:
    """Strict-ish N-Triples: one triple per line, absolute IRIs.

    Implemented on the Turtle engine (N-Triples is a Turtle subset) but
    rejects prefix directives so the format-fallback chain
    distinguishes the two.
    """
    if re.search(r"(?im)^\s*(@prefix|@base|prefix\s|base\s)", text):
        raise TurtleParseError("prefix/base directives are not N-Triples")
    return parse_turtle(text, base)


def parse_n3(text: str, base: str = "") -> List[Triple]:
    """Notation3 — the Turtle-compatible subset.

    The reference's "n3" chain entry (discovery.py:148-156) is rdflib's
    N3 parser, which for web-published data is exercised on documents
    that are syntactically Turtle (formulas/rules are vanishingly rare
    outside logic tooling). We therefore parse the Turtle subset and
    reject the N3-only constructs (``{…}`` formulas, ``=>``/``<=``/
    ``=`` operators, ``@forAll``/``@forSome``) explicitly rather than
    misparse them.
    """
    return parse_turtle(text, base)


class _TrigParser(_TurtleParser):
    """TriG = Turtle + graph blocks. Graph labels are parsed then
    discarded: the parse chain feeds a single per-document graph (the
    reference drops quads into one rdflib ``Graph`` per fetched
    document the same way — discovery.py:158-166)."""

    def _parse_statement(self) -> None:
        t = self.text
        # GRAPH <label> { ... }
        if re.match(r"(?i)graph[\s<]", t[self.pos : self.pos + 6]):
            self.pos += 5
            self._skip_ws()
            self._parse_graph_label()
            self._skip_ws()
            self._parse_graph_block()
            return
        if self._peek() == "{":
            self._parse_graph_block()
            return
        # <label> { ... }  — lookahead: a subject term followed by '{'
        save = self.pos
        try:
            self._parse_graph_label()
            self._skip_ws()
            if self._peek() == "{":
                self._parse_graph_block()
                return
        except TurtleParseError:
            pass
        self.pos = save
        super()._parse_statement()

    def _parse_graph_label(self) -> Term:
        c = self._peek()
        if c == "<":
            return iri(self._parse_iriref())
        if self._startswith("_:"):
            return self._parse_bnode_label()
        pname = self._parse_pname()
        if pname is not None:
            return iri(pname)
        raise TurtleParseError(f"bad graph label at {self.pos}")

    def _parse_graph_block(self) -> None:
        self._expect("{")
        while True:
            self._skip_ws()
            if self._peek() == "}":
                self.pos += 1
                return
            if self.pos >= self.n:
                raise TurtleParseError("unterminated graph block")
            self._parse_triples()
            self._skip_ws()
            if self._peek() == ".":
                self.pos += 1
            elif self._peek() != "}":
                raise TurtleParseError("expected '.' or '}' in graph block")


def parse_trig(text: str, base: str = "") -> List[Triple]:
    """Parse TriG; named-graph structure collapses into one triple set
    (see :class:`_TrigParser`). Plain Turtle is also valid TriG."""
    return _TrigParser(text, base).parse()


def parse_nquads(text: str, base: str = "") -> List[Triple]:
    """N-Quads: N-Triples lines with an optional graph term before the
    '.'; graph labels are discarded (same collapse as TriG). Rejects
    prefix directives so the chain can tell formats apart."""
    if re.search(r"(?im)^\s*(@prefix|@base|prefix\s|base\s)", text):
        raise TurtleParseError("prefix/base directives are not N-Quads")
    p = _TurtleParser(text, base)
    while True:
        p._skip_ws()
        if p.pos >= p.n:
            break
        subj = p._parse_subject()
        p._skip_ws()
        pred = p._parse_predicate()
        p._skip_ws()
        obj = p._parse_object()
        p.triples.append(Triple(subj, pred, obj))
        p._skip_ws()
        if p._peek() != ".":  # 4th term = graph label
            g = p._peek()
            if g == "<":
                p._parse_iriref()
            elif p._startswith("_:"):
                p._parse_bnode_label()
            else:
                raise TurtleParseError(f"bad graph term at {p.pos}")
            p._skip_ws()
        p._expect(".")
    return p.triples
