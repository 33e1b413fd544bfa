"""OGM blueprint emission, Link-header parsing, and templated SPARQL
rendering. (The module name is historic: the Structured-Streaming
front-end it also covered is retired.)"""

import pytest
from pyspark.sql import functions as F

from py_sema_spark.functions.web import link_header_urls_col, parse_link_header
from py_sema_spark.ogm import build_triples_yaml, rocrate_blueprint, build_triples

BLUEPRINT = r"""
$:
  prefix:
    ex: 'http://example.org/ns#'
    schema: 'https://schema.org/'
'ex:proj':
  $type: 'schema:Dataset'
  $label: demo project
  'schema:name': '\Demo Project'
  'schema:version': 3
  'schema:about':
    - '<local-thing>'
    - 'https://other.org/thing'
"""


class TestOGM:
    def test_blueprint_yaml(self, spark):
        df = build_triples_yaml(
            spark, BLUEPRINT, namespaces={"@base": "urn:base:"}
        )
        rows = {(r["p"], r["o"], r["o_kind"]) for r in df.collect()}
        assert (
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "https://schema.org/Dataset",
            "iri",
        ) in rows
        assert (
            "http://www.w3.org/2000/01/rdf-schema#label",
            "demo project",
            "literal",
        ) in rows
        assert ("https://schema.org/name", "Demo Project", "literal") in rows
        assert ("https://schema.org/about", "urn:base:local-thing", "iri") in rows
        assert ("https://schema.org/about", "https://other.org/thing", "iri") in rows
        # int literal gets xsd:integer
        ver = [r for r in df.collect() if r["p"].endswith("version")][0]
        assert ver["o"] == "3" and ver["o_datatype"].endswith("integer")
        subs = {r["s"] for r in df.collect()}
        assert subs == {"http://example.org/ns#proj"}

    def test_rocrate(self, spark):
        bp = rocrate_blueprint(
            "crate", "a crate", [{"id": "data.csv", "name": "data"}],
            base="https://crate.test/",
        )
        df = build_triples(spark, bp, namespaces={"@base": "https://crate.test/"})
        rows = {(r["s"], r["p"], r["o"]) for r in df.collect()}
        assert (
            "https://crate.test/ro-crate-metadata.json",
            "http://schema.org/about",
            "https://crate.test/./",
        ) in rows
        assert (
            "https://crate.test/./",
            "http://schema.org/hasPart",
            "https://crate.test/data.csv",
        ) in rows


class TestLinkHeaders:
    HDR = '<./meta.ttl>; rel=describedby; type="text/turtle", <https://x.y/z>; rel=canonical'

    def test_python_form(self):
        got = parse_link_header(self.HDR, "https://host.org/page/1", rel="describedby")
        assert got == ["https://host.org/page/meta.ttl"]
        assert parse_link_header(None, "https://h/") == []
        both = parse_link_header(self.HDR, "https://host.org/page/1")
        assert "https://x.y/z" in both and len(both) == 2

    def test_column_form(self, spark):
        df = spark.createDataFrame([(self.HDR,)], "h string")
        got = df.select(
            link_header_urls_col(F.col("h"), rel="describedby").alias("u")
        ).collect()[0]["u"]
        assert got == ["./meta.ttl"]


class TestTemplatedSparql:
    def test_render_and_execute(self, spark):
        from py_sema_spark.queries.benchqueries import kg_triples
        from py_sema_spark.queries.templated import (
            SparqlBuilder,
            templated_bgp_select,
        )

        template = (
            "SELECT DISTINCT ?n WHERE { "
            "<urn:cust:{{ custkey }}> skos:broader ?n . }"
        )
        out = templated_bgp_select(
            kg_triples(spark, "/root/testdata/sf0.001"),
            template,
            variables={"custkey": 7},
            prefixes={"skos": "http://www.w3.org/2004/02/skos/core#"},
        )
        rows = [r["n"] for r in out.collect()]
        assert len(rows) == 1 and rows[0].startswith("urn:nation:")

    def test_missing_variable_rejected(self, spark):
        # Jinja's lenient default would render a missing variable as
        # '' and hand "<urn:cust:>" to the parser; the builder must
        # fail up front with the variable's name instead
        from py_sema_spark.queries.benchqueries import kg_triples
        from py_sema_spark.queries.templated import templated_bgp_select

        with pytest.raises(ValueError, match="custkey"):
            templated_bgp_select(
                kg_triples(spark, "/root/testdata/sf0.001"),
                "SELECT ?n WHERE { <urn:cust:{{ custkey }}> ?p ?n . }",
            )

    def test_variable_introspection(self, tmp_path):
        from py_sema_spark.queries.templated import SparqlBuilder

        (tmp_path / "q.sparql").write_text(
            "SELECT ?s WHERE { ?s <{{ pred }}> ?o . } "
            "{% if n %}LIMIT {{ n }}{% endif %}"
        )
        b = SparqlBuilder(str(tmp_path))
        assert b.variables_in_template("q.sparql") == {"pred", "n"}
        assert "LIMIT 5" in b.build_syntax("q.sparql", pred="urn:p", n=5)
