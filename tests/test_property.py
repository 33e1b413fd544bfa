"""Property-based tests (hypothesis): invariants the fixture-based
golden tests can't sweep —

- N-Triples serialize → parse roundtrips arbitrary literal content
  (escaping correctness both ways);
- the URI cleaner matches ``urllib.parse.quote`` byte-for-byte on
  ASCII (the reference delegates to quote, clean.py:75-107);
- Turtle parse of generated docs preserves the triple set;
- MinHash signature determinism under token-set permutation.
"""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from py_sema_spark.functions.clean import CLEAN_SAFE, clean_uri_str
from py_sema_spark.rdf.terms import Term, Triple
from py_sema_spark.rdf.turtle import parse_ntriples, parse_turtle

# driver-side text; newline variants kept printable-ASCII + escapes
literal_text = st.text(
    alphabet=string.printable, min_size=0, max_size=60
)
iri_path = st.text(
    alphabet=string.ascii_letters + string.digits + "/._-", min_size=1, max_size=30
)


def nt_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )


@settings(max_examples=200, deadline=None)
@given(iri_path, iri_path, literal_text)
def test_nt_literal_roundtrip(spath, ppath, text):
    line = (
        f'<http://x.test/{spath}> <http://x.test/{ppath}> "{nt_escape(text)}" .'
    )
    triples = parse_ntriples(line, base="")
    assert len(triples) == 1
    t = triples[0]
    assert t.s.value == f"http://x.test/{spath}"
    assert t.p.value == f"http://x.test/{ppath}"
    assert t.o.value == text


@settings(max_examples=200, deadline=None)
@given(literal_text)
def test_turtle_long_string_roundtrip(text):
    # long-quoted form must survive embedded newlines/quotes
    if '"""' in text or text.endswith('"') or "\\" in text:
        return
    ttl = f'<http://x.test/s> <http://x.test/p> """{text}""" .'
    triples = parse_turtle(ttl, base="")
    assert len(triples) == 1 and triples[0].o.value == text


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=[chr(c) for c in range(0x20, 0x7F)], max_size=40))
def test_clean_uri_matches_urllib(s):
    from urllib.parse import quote

    assert clean_uri_str(s) == quote(s, safe=CLEAN_SAFE)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    st.randoms(),
)
def test_minhash_signature_order_invariant(tokens, rng):
    """The per-perm min over md5 digests must not depend on token
    order — the distributed groupBy gives no ordering guarantee."""
    import hashlib

    def sig(toks):
        return [
            min(
                hashlib.md5(f"{perm}|{t}".encode()).hexdigest()
                for t in toks
            )
            for perm in range(4)
        ]

    shuffled = list(tokens)
    rng.shuffle(shuffled)
    assert sig(tokens) == sig(shuffled)


@settings(max_examples=100, deadline=None)
@given(literal_text)
def test_xsd_string_escape_parity(text):
    """Python xsd:string formatter never produces a literal whose
    quote char appears unescaped inside the body."""
    from py_sema_spark.functions.xsd import format_string

    out = format_string(text, "'")
    body = out[: out.rindex("'^^xsd:string" if "^^" in out else "'")]
    # strip delimiters: every remaining quote must be escaped
    inner = body[1:] if not body.startswith("'''") else body[3:]
    i = 0
    while i < len(inner):
        if inner[i] == "\\":
            i += 2
            continue
        assert inner[i] != "'" or body.startswith("'''")
        i += 1


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), min_codepoint=1
        ),
        max_size=60,
    ),
    st.sampled_from(
        [None, "en", "de-CH",
         "http://www.w3.org/2001/XMLSchema#integer"]
    ),
)
def test_nt_literal_roundtrip(text, tag):
    """Serialize any literal with terms.n3 and parse it back with the
    N-Triples parser: value, lang, and datatype survive — the escaping
    contract shared by the NT/Turtle writers and the parse chain."""
    from py_sema_spark.rdf.terms import literal, n3
    from py_sema_spark.rdf.turtle import TurtleParseError

    if tag is None:
        term = literal(text)
    elif tag.startswith("http"):
        term = literal(text, datatype=tag)
    else:
        term = literal(text, lang=tag)
    line = f"<urn:s> <urn:p> {n3(term)} ."
    try:
        ts = parse_ntriples(line)
    except TurtleParseError:
        # the writer must never emit unparseable lines
        raise AssertionError(f"unparseable line: {line!r}")
    assert len(ts) == 1
    got = ts[0].o
    assert got.value == text
    assert (got.lang or None) == (term.lang or None)
    want_dt = term.datatype or "http://www.w3.org/2001/XMLSchema#string"
    if got.lang is None:
        assert (got.datatype or "http://www.w3.org/2001/XMLSchema#string") == want_dt


# ---- blocking/binning invariants the Spark joins rely on ----


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _deletion_keys(s: str) -> set:
    """Pure mirror of linkage.fuzzy_name_pairs' key generation."""
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


@given(
    st.text(alphabet="ab#", min_size=1, max_size=8),
    st.text(alphabet="ab#", min_size=1, max_size=8),
)
@settings(max_examples=300)
def test_deletion_blocking_never_misses_distance_one(a, b):
    # completeness theorem behind fuzzy_name_pairs: any pair within
    # levenshtein 1 shares a deletion-neighborhood key (tiny alphabet
    # maximizes collision-adjacent cases)
    if _lev(a, b) <= 1:
        assert _deletion_keys(a) & _deletion_keys(b)
