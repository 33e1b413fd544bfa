"""Parser unit tests: Turtle grammar subset, JSON-LD expansion,
format-fallback chain, HTML scanning, URI cleaning, URI templates."""

import pytest

from py_sema_spark.functions.clean import (
    check_valid_uri,
    check_valid_url,
    check_valid_urn,
    clean_uri_str,
    normalise_scheme_str,
)
from py_sema_spark.functions.uritemplate import (
    template_variables,
    uritemplate_expand,
)
from py_sema_spark.rdf.html import extract_text, scan_html
from py_sema_spark.rdf.jsonld import parse_jsonld
from py_sema_spark.rdf.parse import parse_rdf_auto
from py_sema_spark.rdf.terms import XSD, skolem_iri
from py_sema_spark.rdf.turtle import TurtleParseError, parse_turtle


class TestTurtle:
    def test_doc1_shape(self):
        # mirrors /root/reference/tests/data/localhost_http_documentroot/DOC1.ttl
        txt = """@prefix ex: <http://www.example.org/> .
<DOC1.ttl>
    ex:resource <DOC2.ttl> , <DOC3.ttl> , <DOC8.ttl> , <DOC5.ttl> , <DOC7.ttl> ;
.
"""
        ts = parse_turtle(txt, base="http://127.0.0.1:8080/DOC1.ttl")
        assert len(ts) == 5
        assert all(t.s.value == "http://127.0.0.1:8080/DOC1.ttl" for t in ts)
        assert {t.o.value for t in ts} == {
            f"http://127.0.0.1:8080/DOC{i}.ttl" for i in (2, 3, 8, 5, 7)
        }

    def test_a_keyword_and_bnode_property_list(self):
        txt = """@prefix ex: <http://e.org/> .
<http://x> a ex:Green ; ex:subset [ ex:id <http://y> ; ex:label "L" ] .
"""
        ts = parse_turtle(txt)
        preds = sorted(t.p.value for t in ts)
        assert preds == [
            "http://e.org/id",
            "http://e.org/label",
            "http://e.org/subset",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        ]
        bn = [t for t in ts if t.p.value == "http://e.org/subset"][0].o
        assert bn.kind == "bnode"

    def test_literals(self):
        txt = """@prefix x: <http://x/> .
<http://s> x:a "plain" ; x:b "nl"@nl ; x:c "5"^^<http://www.w3.org/2001/XMLSchema#int> ;
  x:d 42 ; x:e 4.5 ; x:f 1.0e3 ; x:g true ; x:h \"\"\"long
text\"\"\" .
"""
        ts = {t.p.value[-1]: t.o for t in parse_turtle(txt)}
        assert ts["a"].value == "plain" and ts["a"].datatype == XSD + "string"
        assert ts["b"].lang == "nl" and ts["b"].datatype is None
        assert ts["c"].datatype == XSD + "int"
        assert ts["d"].value == "42" and ts["d"].datatype == XSD + "integer"
        assert ts["e"].datatype == XSD + "decimal"
        assert ts["f"].datatype == XSD + "double"
        assert ts["g"].value == "true" and ts["g"].datatype == XSD + "boolean"
        assert ts["h"].value == "long\ntext"

    def test_escapes(self):
        ts = parse_turtle(r'<http://s> <http://p> "a\"b\\c\nd" .')
        assert ts[0].o.value == 'a"b\\c\nd'

    def test_collection(self):
        ts = parse_turtle("<http://s> <http://p> (1 2) .")
        assert len(ts) == 5  # edge + 2×(first,rest)

    def test_comments_and_sparql_directives(self):
        txt = """# leading comment
PREFIX ex: <http://e/>
BASE <http://b/>
<rel> ex:p ex:o . # trailing
"""
        ts = parse_turtle(txt)
        assert ts[0].s.value == "http://b/rel"

    def test_malformed_raises(self):
        with pytest.raises(TurtleParseError):
            parse_turtle("@prefix broken <<<")
        with pytest.raises(TurtleParseError):
            parse_turtle("<http://s> <http://p> .")


class TestJsonLd:
    def test_context_and_coercion(self):
        doc = """{
          "@context": {"sk": "http://sk/", "sk:see": {"@type": "@id"},
                       "sk:when": {"@type": "http://www.w3.org/2001/XMLSchema#dateTime"}},
          "@id": "http://e/1",
          "@type": "sk:Thing",
          "sk:see": "http://e/2",
          "sk:when": "2024-01-01T00:00:00",
          "sk:name": {"@value": "naam", "@language": "nl"},
          "sk:n": 7
        }"""
        ts = {t.p.value: t.o for t in parse_jsonld(doc)}
        assert ts["http://sk/see"].kind == "iri"
        assert ts["http://sk/when"].datatype == XSD + "dateTime"
        assert ts["http://sk/name"].lang == "nl"
        assert ts["http://sk/n"].datatype == XSD + "integer"
        types = [
            t.o.value
            for t in parse_jsonld(doc)
            if t.p.value.endswith("#type")
        ]
        assert types == ["http://sk/Thing"]

    def test_nested_node_object(self):
        doc = """{
          "@context": {"p": "http://p/"},
          "@id": "http://a",
          "p:child": {"@id": "http://b", "p:name": "B"}
        }"""
        ts = parse_jsonld(doc)
        edges = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert ("http://a", "http://p/child", "http://b") in edges
        assert ("http://b", "http://p/name", "B") in edges

    def test_graph_array_and_relative_ids(self):
        doc = """{
          "@context": {"@base": "http://base/", "p": "http://p/"},
          "@graph": [{"@id": "x", "p:v": 1}, {"@id": "y", "p:v": 2}]
        }"""
        ts = parse_jsonld(doc, base="http://ignored/")
        assert {t.s.value for t in ts} == {"http://base/x", "http://base/y"}


class TestRemoteContextRegistry:
    """Offline remote-@context cache (the reference fetches contexts via
    rdflib at parse time — sema/discovery/discovery.py; a batch job
    resolves them from a pre-fetched local registry instead)."""

    UNKNOWN = """{
      "@context": "https://w3id.org/example/never-bundled/context",
      "@id": "http://e/1",
      "@type": "Dataset",
      "name": "n",
      "http://abs/p": "kept"
    }"""

    def test_unknown_context_degrades_to_vocabless(self):
        # Pinned fallback: with no registered copy and no active @vocab,
        # plain terms are dropped (JSON-LD keyword-less keys that don't
        # expand to an absolute IRI emit nothing); @type and absolute-IRI
        # predicates survive.
        ts = parse_jsonld(self.UNKNOWN)
        preds = {t.p.value for t in ts}
        assert preds == {
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://abs/p",
        }
        # @type's object stays the bare token — recorded divergence from
        # a successful online fetch, identical to an offline rdflib run.
        types = [t.o.value for t in ts if t.p.value.endswith("#type")]
        assert types == ["Dataset"]

    def test_registered_context_resolves(self):
        from py_sema_spark.rdf import jsonld as jmod

        url = "https://w3id.org/example/never-bundled/context"
        jmod.register_remote_context(
            url, {"@vocab": "http://myvocab/", "name": "http://myvocab/label"}
        )
        try:
            ts = parse_jsonld(self.UNKNOWN)
            preds = {t.p.value for t in ts}
            assert "http://myvocab/label" in preds
            types = [t.o.value for t in ts if t.p.value.endswith("#type")]
            assert types == ["http://myvocab/Dataset"]
        finally:
            del jmod.KNOWN_REMOTE_CONTEXTS[url]

    def test_load_context_directory_both_formats(self, tmp_path):
        from py_sema_spark.rdf import jsonld as jmod

        # format 1: file carries its own "@id"
        (tmp_path / "a.jsonld").write_text(
            '{"@id": "https://ctx.example/a",'
            ' "@context": {"@vocab": "http://va/"}}'
        )
        # format 2: index.json manifest maps url -> filename
        (tmp_path / "b.json").write_text('{"@context": {"@vocab": "http://vb/"}}')
        (tmp_path / "index.json").write_text(
            '{"https://ctx.example/b": "b.json"}'
        )
        # a broken cache entry is skipped, not fatal
        (tmp_path / "broken.json").write_text("{not json")
        n = jmod.load_context_directory(str(tmp_path))
        try:
            assert n == 2
            for url, vocab in [
                ("https://ctx.example/a", "http://va/"),
                ("https://ctx.example/b", "http://vb/"),
            ]:
                ts = parse_jsonld(
                    '{"@context": "%s", "@id": "http://s", "x": 1}' % url
                )
                assert {t.p.value for t in ts} == {vocab + "x"}
        finally:
            del jmod.KNOWN_REMOTE_CONTEXTS["https://ctx.example/a"]
            del jmod.KNOWN_REMOTE_CONTEXTS["https://ctx.example/b"]

    def test_env_dir_loaded_lazily(self, tmp_path, monkeypatch):
        from py_sema_spark.rdf import jsonld as jmod

        (tmp_path / "c.jsonld").write_text(
            '{"@id": "https://ctx.example/env",'
            ' "@context": {"@vocab": "http://venv/"}}'
        )
        monkeypatch.setenv(jmod._ENV_CONTEXT_DIR, str(tmp_path))
        monkeypatch.setattr(jmod, "_env_dir_loaded", None)
        try:
            ts = parse_jsonld(
                '{"@context": "https://ctx.example/env",'
                ' "@id": "http://s", "x": 1}'
            )
            assert {t.p.value for t in ts} == {"http://venv/x"}
        finally:
            jmod.KNOWN_REMOTE_CONTEXTS.pop("https://ctx.example/env", None)


class TestFallbackChain:
    def test_turtle_wins(self):
        ts, fmt = parse_rdf_auto("<http://s> <http://p> <http://o> .")
        assert fmt in ("turtle", "nt") and len(ts) == 1

    def test_jsonld_dispatch(self):
        ts, fmt = parse_rdf_auto('{"@id":"http://s","http://p":1}')
        assert fmt == "json-ld" and len(ts) == 1

    def test_garbage_yields_nothing(self):
        ts, fmt = parse_rdf_auto("just some prose, nothing structured.")
        assert ts == [] and fmt is None

    def test_empty(self):
        assert parse_rdf_auto("") == ([], None)


class TestHtml:
    def test_scan_matches_reference_shapes(self):
        html = """<html><head>
        <link href="./metadata.ttl" rel="describedby" type="text/turtle">
        <script type="application/ld+json">{"@id":"http://x","http://p":1}</script>
        <script type="text/javascript">ignore me</script>
        <script type="text/turtle"><http://s> <http://p> 1 .</script>
        </head><body></body></html>"""
        r = scan_html(html)
        assert r["links"] == ["./metadata.ttl"]
        assert [t for t, _ in r["scripts"]] == [
            "application/ld+json",
            "text/turtle",
        ]

    def test_extract_text_deterministic(self):
        html = "<html><body><h1>A  B</h1><p>c</p><script>x=1</script></body></html>"
        assert extract_text(html) == "A B\nc"
        assert extract_text(html) == extract_text(html)

    def test_turtle_with_body_iri_is_not_misrouted(self):
        """A bare ``<body``/``<head`` substring makes a document look
        like HTML; when the HTML consumers then find nothing, the RDF
        chain still parses it."""
        from py_sema_spark.operators.extract import extract_page
        from py_sema_spark.rdf.html import looks_like_html

        doc = (
            "@prefix ex: <http://ex.org/> .\n"
            '<body> ex:p "x" .\n'
            "ex:a ex:q <head> .\n"
        )
        assert looks_like_html(doc)
        got, links = extract_page("http://site.ex/doc.ttl", doc)
        assert links == []
        assert {(t.s.value, t.p.value, t.o.value, fmt) for t, fmt in got} == {
            ("http://site.ex/body", "http://ex.org/p", "x", "turtle"),
            ("http://ex.org/a", "http://ex.org/q", "http://site.ex/head", "turtle"),
        }
        # a page that opens like HTML keeps the HTML-only route
        page = "<!DOCTYPE html><html><body><p>@prefix ex: <x> .</p></body></html>"
        assert extract_page("http://site.ex/p.html", page) == ([], [])

    def test_turtle_with_html_iri_is_not_misrouted(self, spark):
        """A Turtle document whose first term is a relative IRI opening
        ``<html`` starts like HTML but carries no closing tag: when the
        HTML consumers find nothing the RDF chain parses it, and the JVM
        prefilter of ``extract_structured`` keeps the page."""
        from py_sema_spark.operators.extract import (
            extract_page,
            extract_structured,
        )

        docs = {
            f"http://site.ex/{name}.ttl": f'<{name}> <http://ex.org/p> "x" .'
            for name in ("html", "htmlx")
        }
        for url, doc in docs.items():
            got, links = extract_page(url, doc)
            assert links == []
            assert [(t.s.value, t.p.value, t.o.value) for t, _ in got] == [
                (url.rsplit(".", 1)[0], "http://ex.org/p", "x")
            ]
        corpus = spark.createDataFrame(
            [(url, doc.encode()) for url, doc in docs.items()],
            "url string, html binary",
        )
        rows = extract_structured(corpus).where("kind = 'triple'").collect()
        assert sorted((r["src_url"], r["s"]) for r in rows) == [
            (url, url.rsplit(".", 1)[0]) for url in sorted(docs)
        ]


class TestClean:
    def test_url_checks(self):
        assert check_valid_url("https://example.org/a?b=1")
        assert check_valid_url("http://127.0.0.1:8080/DOC1.ttl")
        assert not check_valid_url("not a url")
        assert not check_valid_url("http://with space.org/")

    def test_urn_checks(self):
        assert check_valid_urn("urn:isbn:0451450523")
        assert not check_valid_urn("urn::empty-nid")
        assert check_valid_uri("urn:example:a/b")

    def test_clean_uri_quote_parity(self):
        from urllib.parse import quote

        for u in (
            "https://ex.org/a b",
            "https://ex.org/<angle>",
            'https://ex.org/q"uote',
            "https://ex.org/ok?x=1;y=2,z='3'",
        ):
            assert clean_uri_str(u) == quote(u, safe="~@#$&()*!+=:;,?/'")

    def test_smart_mode_idempotent(self):
        u = "https://ex.org/path"
        assert clean_uri_str(u, smart=True) == u

    def test_normalise_scheme(self):
        assert (
            normalise_scheme_str("http://schema.org/name")
            == "https://schema.org/name"
        )
        assert (
            normalise_scheme_str("http://other.org/x") == "http://other.org/x"
        )


class TestUriTemplate:
    @pytest.mark.parametrize(
        "tpl,ctx,expect",
        [
            ("{var}", {"var": "value"}, "value"),
            ("{var}", {"var": "hello world"}, "hello%20world"),
            ("{+path}/here", {"path": "/foo/bar"}, "/foo/bar/here"),
            ("X{#frag}", {"frag": "sec1"}, "X#sec1"),
            ("{/id}", {"id": "a/b"}, "/a%2Fb"),
            ("{?x,y}", {"x": 1, "y": 2}, "?x=1&y=2"),
            ("{?x,y}", {"x": 1}, "?x=1"),
            ("{var:3}", {"var": "value"}, "val"),
            ("{list}", {"list": ["r", "g", "b"]}, "r,g,b"),
            ("{/list*}", {"list": ["a", "b"]}, "/a/b"),
            ("{missing}", {}, ""),
            ("no-vars", {}, "no-vars"),
        ],
    )
    def test_rfc6570_vectors(self, tpl, ctx, expect):
        assert uritemplate_expand(tpl, ctx) == expect

    def test_variables(self):
        assert template_variables("/x/{a}{?b,c}") == ["a", "b", "c"]


class TestSkolem:
    def test_deterministic(self):
        a = skolem_iri("http://page/1", "b0")
        assert a == skolem_iri("http://page/1", "b0")
        assert a != skolem_iri("http://page/2", "b0")
        assert a.startswith("urn:skolem:")


class TestRdfXml:
    """RDF/XML parser vectors derived from the RDF/XML 1.1 spec
    examples; the reference reaches this via rdflib's "xml" entry in
    the fallback chain (discovery.py:148-156)."""

    DOC = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:dc="http://purl.org/dc/elements/1.1/"
         xmlns:ex="http://example.org/stuff/1.0/"
         xml:base="http://example.org/here/">
  <rdf:Description rdf:about="http://www.w3.org/TR/rdf-syntax-grammar"
                   dc:title="RDF Syntax">
    <ex:editor>
      <rdf:Description ex:fullName="Dave Beckett">
        <ex:homePage rdf:resource="http://purl.org/net/dajobe/"/>
      </rdf:Description>
    </ex:editor>
  </rdf:Description>
</rdf:RDF>"""

    def test_spec_example(self):
        from py_sema_spark.rdf.rdfxml import parse_rdfxml

        ts = parse_rdfxml(self.DOC)
        spo = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert len(ts) == 4
        assert (
            "http://www.w3.org/TR/rdf-syntax-grammar",
            "http://purl.org/dc/elements/1.1/title",
            "RDF Syntax",
        ) in spo
        # nested bnode carries fullName + homePage
        bn = [t.o for t in ts if t.p.value.endswith("editor")][0]
        assert bn.kind == "bnode"
        assert (
            bn.value,
            "http://example.org/stuff/1.0/homePage",
            "http://purl.org/net/dajobe/",
        ) in spo

    def test_typed_node_datatype_lang_li(self):
        from py_sema_spark.rdf.rdfxml import parse_rdfxml
        from py_sema_spark.rdf.terms import RDF_NS, XSD

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                 xmlns:ex="http://e.org/">
  <ex:Thing rdf:about="http://e.org/t" xml:lang="en">
    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</ex:size>
    <ex:label>hello</ex:label>
  </ex:Thing>
  <rdf:Bag rdf:about="http://e.org/bag">
    <rdf:li>one</rdf:li>
    <rdf:li>two</rdf:li>
  </rdf:Bag>
</rdf:RDF>"""
        ts = parse_rdfxml(doc)
        by_p = {t.p.value: t for t in ts}
        types = {t.o.value for t in ts if t.p.value == RDF_NS + "type"}
        assert types == {"http://e.org/Thing", RDF_NS + "Bag"}
        assert by_p["http://e.org/size"].o.datatype == XSD + "int"
        assert by_p["http://e.org/label"].o.lang == "en"
        assert by_p[RDF_NS + "_1"].o.value == "one"
        assert by_p[RDF_NS + "_2"].o.value == "two"

    def test_parsetype_resource_and_collection(self):
        from py_sema_spark.rdf.rdfxml import parse_rdfxml
        from py_sema_spark.rdf.terms import RDF_FIRST, RDF_NIL, RDF_REST

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                 xmlns:ex="http://e.org/">
  <rdf:Description rdf:about="http://e.org/a">
    <ex:props rdf:parseType="Resource">
      <ex:x>1</ex:x>
    </ex:props>
    <ex:list rdf:parseType="Collection">
      <rdf:Description rdf:about="http://e.org/i1"/>
      <rdf:Description rdf:about="http://e.org/i2"/>
    </ex:list>
  </rdf:Description>"""
        doc += "</rdf:RDF>"
        ts = parse_rdfxml(doc)
        preds = [t.p.value for t in ts]
        assert preds.count(RDF_FIRST) == 2
        assert preds.count(RDF_REST) == 2
        assert any(t.o.value == RDF_NIL for t in ts)
        x = [t for t in ts if t.p.value == "http://e.org/x"][0]
        assert x.s.kind == "bnode" and x.o.value == "1"

    def test_rejects_plain_html_xml(self):
        import pytest as _pytest

        from py_sema_spark.rdf.rdfxml import RdfXmlParseError, parse_rdfxml

        with _pytest.raises(RdfXmlParseError):
            parse_rdfxml("<html xmlns='http://www.w3.org/1999/xhtml'><body/></html>")
        with _pytest.raises(RdfXmlParseError):
            parse_rdfxml("not xml at all")


class TestTrigNquadsN3:
    def test_trig_graph_blocks_collapse(self):
        from py_sema_spark.rdf.turtle import parse_trig

        doc = """@prefix ex: <http://e.org/> .
ex:top ex:p ex:o .
GRAPH ex:g1 { ex:a ex:p 1 . ex:b ex:p 2 }
ex:g2 { ex:c ex:p 3 . }
{ ex:d ex:p 4 }
"""
        ts = parse_trig(doc)
        assert len(ts) == 5
        assert {t.s.value for t in ts} == {
            f"http://e.org/{x}" for x in ("top", "a", "b", "c", "d")
        }

    def test_nquads_graph_term_discarded(self):
        from py_sema_spark.rdf.turtle import parse_nquads

        doc = (
            '<http://e.org/s> <http://e.org/p> "v" <http://e.org/g> .\n'
            "<http://e.org/s2> <http://e.org/p> <http://e.org/o> _:g2 .\n"
            '_:b <http://e.org/p> "x"@en .\n'
        )
        ts = parse_nquads(doc)
        assert len(ts) == 3
        assert ts[2].o.lang == "en"

    def test_nquads_rejects_prefixes(self):
        import pytest as _pytest

        from py_sema_spark.rdf.turtle import TurtleParseError, parse_nquads

        with _pytest.raises(TurtleParseError):
            parse_nquads("@prefix ex: <http://e.org/> .")

    def test_n3_is_turtle_compatible(self):
        from py_sema_spark.rdf.turtle import parse_n3

        ts = parse_n3("@prefix ex: <http://e.org/> . ex:s ex:p ex:o .")
        assert len(ts) == 1


class TestFullFallbackChain:
    """The chain must now resolve all seven reference formats
    (discovery.py:148-156) to the right parser."""

    def test_chain_order_matches_reference(self):
        from py_sema_spark.rdf.parse import FORMATS_TO_TRY

        assert FORMATS_TO_TRY == (
            "turtle", "json-ld", "n3", "nt", "trig", "nquads", "xml",
        )

    def test_trig_doc_resolves(self):
        doc = "@prefix ex: <http://e.org/> . GRAPH ex:g { ex:a ex:p ex:o . }"
        ts, fmt = parse_rdf_auto(doc)
        assert fmt == "trig" and len(ts) == 1

    def test_nquads_doc_resolves(self):
        doc = "<http://e.org/s> <http://e.org/p> <http://e.org/o> <http://e.org/g> ."
        ts, fmt = parse_rdf_auto(doc)
        assert fmt == "nquads" and len(ts) == 1

    def test_rdfxml_doc_resolves(self):
        doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://e.org/">
  <rdf:Description rdf:about="http://e.org/s"><ex:p>v</ex:p></rdf:Description>
</rdf:RDF>"""
        ts, fmt = parse_rdf_auto(doc)
        assert fmt == "xml" and len(ts) == 1


class TestCorpusWireFormats:
    """The flagship corpus publishes the same triple content in five
    wire formats (turtle 60%, nt/trig/nquads/rdf-xml 10% each) — each
    variant must resolve through the fallback chain to the *identical*
    triple set as its Turtle form (so the extraction golden is
    wire-format-invariant by construction)."""

    @pytest.mark.parametrize("i", [0, 2, 5, 8, 37])
    def test_variant_equals_turtle(self, i):
        from py_sema_spark.rdf.turtle import parse_turtle
        from py_sema_spark.sources.corpus import (
            _reserialize,
            _ttl_body,
            _wire_format,
            page_url,
        )

        ttl = _ttl_body(42, i, 500)
        want = {
            (t.s.value, t.p.value, t.o.value, t.o.kind, t.o.datatype, t.o.lang)
            for t in parse_turtle(ttl, base=page_url(i))
        }
        wire = _wire_format(42, i)
        body = ttl if wire == "turtle" else _reserialize(
            ttl, page_url(i), wire, f"urn:graph:{i}"
        )
        got_ts, fmt = parse_rdf_auto(body, base=page_url(i))
        got = {
            (t.s.value, t.p.value, t.o.value, t.o.kind, t.o.datatype, t.o.lang)
            for t in got_ts
        }
        assert got == want
        assert fmt in ("turtle", "trig", "nquads", "xml")


class TestReviewRegressions:
    """Round-3 adversarial-review fixes: degenerate inputs the fixture
    corpus never exercised (turtle directive/int lexing, JSON-LD @set
    and double canonicalization)."""

    def test_turtle_prefix_named_base_is_not_a_directive(self):
        ts = parse_turtle(
            "@prefix base: <http://ex.org/> .\n"
            "base:x <http://e/p> <http://e/o> .\n"
            "@prefix prefixed: <http://ex.org/q#> .\n"
            "prefixed:y <http://e/p> base:x ."
        )
        assert {t.s.value for t in ts} == {
            "http://ex.org/x", "http://ex.org/q#y"}

    def test_turtle_integer_object_abutting_terminator(self):
        ts = parse_turtle("<http://e/s> <http://e/p> 1.")
        assert ts[0].o.value == "1"
        assert ts[0].o.datatype == XSD + "integer"
        # DECIMAL / DOUBLE still win when digits or exponent follow the dot
        ts = parse_turtle("<http://e/s> <http://e/p> 1.5 .")
        assert ts[0].o.datatype == XSD + "decimal"
        ts = parse_turtle("<http://e/s> <http://e/p> 1.5E0 .")
        assert ts[0].o.datatype == XSD + "double"

    def test_jsonld_set_emits_every_item(self):
        ts = parse_jsonld(
            '{"@id": "http://e/x", "http://e/p": {"@set": [1, 2, 3]}}'
        )
        assert sorted(t.o.value for t in ts) == ["1", "2", "3"]

    def test_jsonld_double_canonical_form(self):
        ts = parse_jsonld('{"@id": "http://e/x", "http://e/p": 1999.0}')
        assert ts[0].o.value == "1.999E3"
        assert ts[0].o.datatype == XSD + "double"
        ts = parse_jsonld('{"@id": "http://e/x", "http://e/p": 123456.5}')
        assert ts[0].o.value == "1.234565E5"

    def test_jsonld_nonfinite_numbers_do_not_crash(self):
        ts = parse_jsonld('{"@id": "http://e/x", "http://e/p": 1e999}')
        assert ts[0].o.value == "INF"
        ts = parse_jsonld('{"@id": "http://e/x", "http://e/p": -1e999}')
        assert ts[0].o.value == "-INF"


class TestJsonLdReverse:
    """JSON-LD §4.8 reverse properties (rdflib supports both forms;
    round 3 adds them — previously @reverse was recognised as a
    keyword but silently dropped)."""

    def test_node_level_reverse(self):
        ts = parse_jsonld(
            '{"@id": "http://e/alice", "@reverse": '
            '{"http://e/childOf": [{"@id": "http://e/bob"},'
            ' {"@id": "http://e/carol"}]}}'
        )
        got = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert got == {
            ("http://e/bob", "http://e/childOf", "http://e/alice"),
            ("http://e/carol", "http://e/childOf", "http://e/alice"),
        }

    def test_context_reverse_term(self):
        ts = parse_jsonld(
            '{"@context": {"children": {"@reverse": "http://e/parent"}},'
            '"@id": "http://e/dad",'
            '"children": [{"@id": "http://e/kid1"}, {"@id": "http://e/kid2"}]}'
        )
        got = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert got == {
            ("http://e/kid1", "http://e/parent", "http://e/dad"),
            ("http://e/kid2", "http://e/parent", "http://e/dad"),
        }

    def test_reverse_nested_node_emits_its_own_triples(self):
        ts = parse_jsonld(
            '{"@id": "http://e/a", "@reverse": {"http://e/p": '
            '{"@id": "http://e/b", "http://e/name": "B"}}}'
        )
        got = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert ("http://e/b", "http://e/p", "http://e/a") in got
        assert ("http://e/b", "http://e/name", "B") in got


class TestJsonLdContainerMaps:
    """JSON-LD container maps (round 3): @language maps emit tagged
    literals, @index maps flatten with non-semantic keys, @id maps
    seed the node id from the map key."""

    def test_language_map(self):
        ts = parse_jsonld(
            '{"@context": {"label": {"@id": "http://e/label",'
            ' "@container": "@language"}},'
            '"@id": "http://e/x",'
            '"label": {"en": "dog", "nl": ["hond", "kees"]}}'
        )
        assert sorted((t.o.value, t.o.lang) for t in ts) == [
            ("dog", "en"), ("hond", "nl"), ("kees", "nl"),
        ]

    def test_index_map_flattens(self):
        ts = parse_jsonld(
            '{"@context": {"posts": {"@id": "http://e/post",'
            ' "@container": "@index"}},'
            '"@id": "http://e/x",'
            '"posts": {"2024": {"@id": "http://e/p1"}, "2025": "text"}}'
        )
        got = {(t.s.value, t.o.value) for t in ts}
        assert got == {("http://e/x", "http://e/p1"),
                       ("http://e/x", "text")}

    def test_id_map_seeds_node_id(self):
        ts = parse_jsonld(
            '{"@context": {"kids": {"@id": "http://e/kid",'
            ' "@container": "@id"}},'
            '"@id": "http://e/x",'
            '"kids": {"http://e/k1": {"http://e/name": "A"}}}'
        )
        got = {(t.s.value, t.p.value, t.o.value) for t in ts}
        assert got == {
            ("http://e/x", "http://e/kid", "http://e/k1"),
            ("http://e/k1", "http://e/name", "A"),
        }


class TestJsonLdReviewFindings:
    """Round-3 review findings: compact-IRI string term defs, @reverse
    @type coercion, @set transparency inside @list."""

    def test_string_term_def_compact_iri_expands(self):
        ts = parse_jsonld(
            '{"@context": {"schema": "http://schema.org/",'
            ' "name": "schema:name"},'
            '"@id": "http://e/s", "name": "x"}'
        )
        assert [(t.p.value, t.o.value) for t in ts] == [
            ("http://schema.org/name", "x")
        ]

    def test_string_term_def_compact_iri_order_independent(self):
        # def appears before the prefix it uses — fixed-point pass
        ts = parse_jsonld(
            '{"@context": {"name": "schema:name",'
            ' "schema": "http://schema.org/"},'
            '"@id": "http://e/s", "name": "x"}'
        )
        assert ts[0].p.value == "http://schema.org/name"

    def test_string_term_def_vocab_relative(self):
        ts = parse_jsonld(
            '{"@context": {"@vocab": "http://v/", "name": "label"},'
            '"@id": "http://e/s", "name": "x"}'
        )
        assert ts[0].p.value == "http://v/label"

    def test_string_term_def_cycle_degrades_to_raw(self):
        # cyclic IRI mappings are a spec error; the corpus parser
        # degrades to the raw compact form instead of compounding the
        # cycle or crashing the row (scheme-like, so still emitted —
        # same shape any scheme-like key gets without a context)
        ts = parse_jsonld(
            '{"@context": {"a": "b:x", "b": "a:y"},'
            '"@id": "http://e/s", "a": "v", "http://e/p": "w"}'
        )
        assert sorted((t.p.value, t.o.value) for t in ts) == [
            ("b:x", "v"), ("http://e/p", "w")
        ]

    def test_context_reverse_term_with_id_coercion(self):
        ts = parse_jsonld(
            '{"@context": {"authored": {"@reverse": "http://e/author",'
            ' "@type": "@id"}},'
            '"@id": "http://e/me", "authored": "http://e/book1"}'
        )
        assert [(t.s.value, t.p.value, t.o.value) for t in ts] == [
            ("http://e/book1", "http://e/author", "http://e/me")
        ]

    def test_set_inside_list_splices(self):
        ts = parse_jsonld(
            '{"@id": "http://e/s", "http://e/p":'
            ' {"@list": [{"@set": [1, 2]}, 3]}}'
        )
        firsts = sorted(
            t.o.value for t in ts
            if t.p.value.endswith("22-rdf-syntax-ns#first")
        )
        assert firsts == ["1", "2", "3"]

    def test_nested_set_splices_recursively(self):
        ts = parse_jsonld(
            '{"@id": "http://e/s", "http://e/p":'
            ' {"@set": [{"@set": [1, 2]}, 3]}}'
        )
        assert sorted(t.o.value for t in ts) == ["1", "2", "3"]
