"""SHACL-subset engine tests — constraint surface mirrored from the
reference fixture (example_shape.ttl: datatype, maxCount, in, lessThan,
node, closed, min/maxInclusive) with fresh shapes/data; conform passes,
each nonconform case trips its specific constraint — the same
pass/raise contract as the reference's ShaclHandler
(/root/reference/sema/bench/handler.py:61-81)."""

import pytest

from py_sema_spark.model import TRIPLE_SCHEMA
from py_sema_spark.rdf.turtle import parse_turtle
from py_sema_spark.shacl import (
    assert_conforms,
    conforms,
    parse_shapes_ttl,
    validate,
)

SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .

ex:CrewShape
    a sh:NodeShape ;
    sh:targetClass ex:Crew ;
    sh:property [
        sh:path ex:callSign ;
        sh:datatype xsd:string ;
        sh:name "call sign" ;
    ] ;
    sh:property [
        sh:path ex:boarded ;
        sh:lessThan ex:departed ;
        sh:maxCount 1 ;
    ] ;
    sh:property [
        sh:path ex:role ;
        sh:in ( "pilot" "navigator" "engineer" ) ;
    ] ;
    sh:property [
        sh:path ex:berth ;
        sh:node ex:BerthShape ;
    ] .

ex:BerthShape
    a sh:NodeShape ;
    sh:closed true ;
    sh:property [
        sh:path ex:deck ;
        sh:datatype xsd:string ;
    ] ;
    sh:property [
        sh:path ex:number ;
        sh:datatype xsd:integer ;
        sh:minInclusive 100 ;
        sh:maxInclusive 999 ;
    ] .
"""

CONFORM_TTL = """
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:ann a ex:Crew ;
    ex:callSign "kestrel" ;
    ex:boarded "2024-02-01"^^xsd:date ;
    ex:departed "2024-03-01"^^xsd:date ;
    ex:role "pilot" ;
    ex:berth ex:b1 .

ex:b1 ex:deck "C" ; ex:number "412"^^xsd:integer .
"""


def triples_df(spark, ttl):
    rows = [
        (t.s.value, t.p.value, t.o.value, t.o.kind, t.o.datatype, t.o.lang)
        for t in parse_turtle(ttl, base="http://example.org/")
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


@pytest.fixture(scope="module")
def shapes():
    return parse_shapes_ttl(SHAPES_TTL)


def test_shape_parsing(shapes):
    by = {s.iri: s for s in shapes}
    crew = by["http://example.org/CrewShape"]
    assert crew.target_class == "http://example.org/Crew"
    paths = {p.path.rsplit("/", 1)[-1]: p for p in crew.properties}
    assert paths["callSign"].datatype.endswith("string")
    assert paths["boarded"].max_count == 1
    assert paths["boarded"].less_than.endswith("departed")
    assert paths["role"].in_values == ["pilot", "navigator", "engineer"]
    berth = by["http://example.org/BerthShape"]
    assert berth.closed is True
    nums = [p for p in berth.properties if p.path.endswith("number")][0]
    assert nums.min_inclusive == 100 and nums.max_inclusive == 999


def test_conform(spark, shapes):
    df = triples_df(spark, CONFORM_TTL)
    assert conforms(df, shapes)
    assert_conforms(df, shapes)  # must not raise


@pytest.mark.parametrize(
    "old,new,expected_constraint",
    [
        ('ex:callSign "kestrel"', "ex:callSign ex:oops", "datatype"),
        (
            'ex:boarded "2024-02-01"^^xsd:date ;',
            'ex:boarded "2024-02-01"^^xsd:date, "2024-02-02"^^xsd:date ;',
            "maxCount",
        ),
        (
            'ex:boarded "2024-02-01"^^xsd:date',
            'ex:boarded "2024-09-01"^^xsd:date',
            "lessThan",
        ),
        ('ex:role "pilot"', 'ex:role "stowaway"', "in"),
        # the berth mutations break the CHILD shape: since r5 the
        # report surfaces them as the outer 'node' result only
        # (§4.7.3; child rows belong under sh:detail)
        ('ex:number "412"^^xsd:integer', 'ex:number "7"^^xsd:integer',
         "node"),
        (
            'ex:number "412"^^xsd:integer',
            'ex:number "412"^^xsd:integer ; ex:hammock "yes"',
            "node",
        ),
    ],
    ids=["datatype", "maxCount", "lessThan", "in", "minInclusive", "closed"],
)
def test_nonconform(spark, shapes, old, new, expected_constraint):
    assert old in CONFORM_TTL
    df = triples_df(spark, CONFORM_TTL.replace(old, new))
    viols = validate(df, shapes).collect()
    assert viols, f"expected a {expected_constraint} violation"
    assert expected_constraint in {v["constraint"] for v in viols}
    with pytest.raises(AssertionError):
        assert_conforms(df, shapes)


def test_node_constraint_propagates(spark, shapes):
    # berth with an out-of-range number: the parent reports ONE
    # 'node' violation on ex:berth; the child shape's own
    # minInclusive result stays internal (§4.7.3 — child results
    # belong under sh:detail, not as top-level report rows; BerthShape
    # has no targets of its own, so it contributes nothing directly)
    bad = CONFORM_TTL.replace('"412"^^xsd:integer', '"7"^^xsd:integer')
    viols = validate(triples_df(spark, bad), shapes).collect()
    constraints = {v["constraint"] for v in viols}
    assert constraints == {"node"}
    node_v = [v for v in viols if v["constraint"] == "node"][0]
    assert node_v["focus"].endswith("ann")
    assert node_v["value"].endswith("b1")


def test_cyclic_node_shapes_terminate(spark):
    """ADVICE r01: mutually-referencing sh:node shapes (A→B→A) must
    validate without unbounded driver recursion."""
    cyc_shapes = parse_shapes_ttl(
        """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:AShape a sh:NodeShape ;
    sh:targetClass ex:A ;
    sh:property [ sh:path ex:toB ; sh:node ex:BShape ] .
ex:BShape a sh:NodeShape ;
    sh:property [ sh:path ex:toA ; sh:node ex:AShape ] .
"""
    )
    data = triples_df(
        spark,
        """
@prefix ex: <http://example.org/> .
ex:a1 a ex:A ; ex:toB ex:b1 .
ex:b1 ex:toA ex:a1 .
""",
    )
    from py_sema_spark.shacl import validate

    # terminates and reports no violations on the conforming cycle
    assert validate(data, cyc_shapes).isEmpty()


# ---- common SHACL-core constraints beyond the reference's exercised
# surface: pattern/flags, min/maxLength, hasValue, nodeKind, class ----

CORE_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .

ex:ShipShape
    a sh:NodeShape ;
    sh:targetClass ex:Ship ;
    sh:property [
        sh:path ex:registry ;
        sh:pattern "^[A-Z]{2}-[0-9]{4}$" ;
        sh:minLength 7 ;
        sh:maxLength 7 ;
    ] ;
    sh:property [
        sh:path ex:flag ;
        sh:hasValue "open-registry" ;
    ] ;
    sh:property [
        sh:path ex:captain ;
        sh:nodeKind sh:IRI ;
        sh:class ex:Crew ;
    ] ;
    sh:property [
        sh:path ex:motto ;
        sh:pattern "per aspera" ;
        sh:flags "i" ;
    ] .
"""

CORE_CONFORM_TTL = """
@prefix ex: <http://example.org/> .

ex:boat a ex:Ship ;
    ex:registry "AB-1234" ;
    ex:flag "open-registry" ;
    ex:captain ex:ann ;
    ex:motto "PER ASPERA ad astra" .

ex:ann a ex:Crew .
"""


@pytest.fixture(scope="module")
def core_shapes():
    return parse_shapes_ttl(CORE_SHAPES_TTL)


def test_core_shape_parsing(core_shapes):
    ship = {s.iri: s for s in core_shapes}["http://example.org/ShipShape"]
    by_path = {p.path.rsplit("/", 1)[-1]: p for p in ship.properties}
    assert by_path["registry"].pattern == "^[A-Z]{2}-[0-9]{4}$"
    assert by_path["registry"].min_length == 7
    assert by_path["registry"].max_length == 7
    assert by_path["flag"].has_value == "open-registry"
    assert by_path["captain"].node_kind.endswith("#IRI")
    assert by_path["captain"].class_ == "http://example.org/Crew"
    assert by_path["motto"].flags == "i"


def test_core_conform(spark, core_shapes):
    assert conforms(triples_df(spark, CORE_CONFORM_TTL), core_shapes)


@pytest.mark.parametrize(
    "old,new,expected_constraint",
    [
        ('ex:registry "AB-1234"', 'ex:registry "ab-1234"', "pattern"),
        ('ex:registry "AB-1234"', 'ex:registry "AB-12345"', "maxLength"),
        ('ex:flag "open-registry"', 'ex:flag "closed"', "hasValue"),
        ("ex:captain ex:ann", 'ex:captain "ann"', "nodeKind"),
        ("ex:captain ex:ann", "ex:captain ex:ghost", "class"),
        (
            'ex:motto "PER ASPERA ad astra"',
            'ex:motto "carpe diem"',
            "pattern",
        ),
    ],
    ids=["pattern", "maxLength", "hasValue", "nodeKind", "class", "flags-i"],
)
def test_core_nonconform(spark, core_shapes, old, new, expected_constraint):
    assert old in CORE_CONFORM_TTL
    df = triples_df(spark, CORE_CONFORM_TTL.replace(old, new))
    viols = validate(df, core_shapes).collect()
    assert expected_constraint in {v["constraint"] for v in viols}


def test_class_accepts_literal_violation_and_iri_instance(spark, core_shapes):
    # a literal value can never be a class instance
    df = triples_df(
        spark, CORE_CONFORM_TTL.replace("ex:captain ex:ann", 'ex:captain "ann"')
    )
    viols = validate(df, core_shapes).collect()
    assert "class" in {v["constraint"] for v in viols}


def test_langstring_datatype_semantics(spark):
    """RDF 1.1: "x"@en has datatype rdf:langString, not xsd:string —
    sh:datatype xsd:string must flag it, sh:datatype rdf:langString
    must accept it."""
    RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    data = """
@prefix ex: <http://example.org/> .
ex:a a ex:Thing ; ex:label "hello"@en .
"""
    shapes_str = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:Shape a sh:NodeShape ;
  sh:targetClass ex:Thing ;
  sh:property [ sh:path ex:label ; sh:datatype xsd:string ] .
"""
    df = triples_df(spark, data)
    viols = validate(df, parse_shapes_ttl(shapes_str)).collect()
    assert {v["constraint"] for v in viols} == {"datatype"}
    ok_shapes = parse_shapes_ttl(
        shapes_str.replace(
            "sh:datatype xsd:string",
            f"sh:datatype <{RDFNS}langString>",
        )
    )
    assert validate(df, ok_shapes).collect() == []


def test_path_expression_parses_to_ast(spark):
    """A blank-node sh:path (inversePath etc.) parses into a path AST
    instead of silently matching nothing (full value semantics are
    pinned in tests/test_shacl_paths.py)."""
    shapes_str = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:Shape a sh:NodeShape ;
  sh:targetClass ex:Thing ;
  sh:property [ sh:path [ sh:inversePath ex:p ] ; sh:minCount 1 ] .
"""
    (shape,) = parse_shapes_ttl(shapes_str)
    (ps,) = shape.properties
    assert ps.path_ast == ("inv", ("pred", "http://example.org/p"))
    assert ps.path == "^http://example.org/p"


class TestClosedIgnoredProperties:
    """SHACL §4.8.1: only sh:ignoredProperties exempts predicates on a
    closed shape — rdf:type is NOT implicitly allowed (pyshacl, the
    reference's validator, flags it)."""

    SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

ex:StrictShape a sh:NodeShape ;
    sh:targetClass ex:Strict ;
    sh:closed true ;
    sh:property [ sh:path ex:name ] .

ex:LenientShape a sh:NodeShape ;
    sh:targetClass ex:Lenient ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ex:note ) ;
    sh:property [ sh:path ex:name ] .
"""

    def test_rdf_type_flagged_without_ignored(self, spark):
        shapes = parse_shapes_ttl(self.SHAPES)
        df = triples_df(
            spark,
            "@prefix ex: <http://example.org/> .\n"
            'ex:a a ex:Strict ; ex:name "x" .',
        )
        viols = validate(df, shapes).collect()
        assert {(v["constraint"], v["path"]) for v in viols} == {
            ("closed", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
        }

    def test_ignored_properties_exempt(self, spark):
        shapes = parse_shapes_ttl(self.SHAPES)
        by = {s.iri: s for s in shapes}
        assert by["http://example.org/LenientShape"].ignored == [
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://example.org/note",
        ]
        df = triples_df(
            spark,
            "@prefix ex: <http://example.org/> .\n"
            'ex:b a ex:Lenient ; ex:name "x" ; ex:note "ok" .',
        )
        assert validate(df, shapes).count() == 0
        bad = triples_df(
            spark,
            "@prefix ex: <http://example.org/> .\n"
            'ex:b a ex:Lenient ; ex:name "x" ; ex:other "no" .',
        )
        viols = validate(bad, shapes).collect()
        assert {v["constraint"] for v in viols} == {"closed"}


class TestLogicalConstraints:
    """sh:or / sh:and / sh:not parsed from Turtle and compiled to
    Column branch conditions (round-3 extension)."""

    TTL = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    @prefix ex: <urn:ex:> .
    ex:S a sh:NodeShape ;
      sh:targetClass ex:T ;
      sh:property [
        sh:path ex:label ;
        sh:or ( [ sh:datatype xsd:string ]
                [ sh:datatype <http://www.w3.org/1999/02/22-rdf-syntax-ns#langString> ] )
      ] ;
      sh:property [
        sh:path ex:code ;
        sh:not [ sh:pattern "^BAD" ]
      ] .
    """

    def test_or_and_not_from_turtle(self, spark):
        from py_sema_spark.shacl import parse_shapes_ttl, validate

        shapes = parse_shapes_ttl(self.TTL)
        assert shapes[0].properties[0].or_ is not None
        assert len(shapes[0].properties[0].or_) == 2
        assert shapes[0].properties[1].not_ is not None
        df = spark.createDataFrame(
            [
                ("urn:i1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                 "urn:ex:T", "iri", None, None),
                ("urn:i1", "urn:ex:label", "ok",
                 "literal", None, None),           # plain string → or ok
                ("urn:i1", "urn:ex:label", "salut",
                 "literal", None, "fr"),           # langString → or ok
                ("urn:i1", "urn:ex:label", "urn:x",
                 "iri", None, None),               # IRI → violates both
                ("urn:i1", "urn:ex:code", "BADX",
                 "literal", None, None),           # matches ^BAD → not viol
                ("urn:i1", "urn:ex:code", "GOOD",
                 "literal", None, None),
            ],
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string",
        )
        viols = validate(df, shapes).collect()
        by_constraint = sorted((r["constraint"], r["value"]) for r in viols)
        assert by_constraint == [("not", "BADX"), ("or", "urn:x")]

    def test_join_backed_constraint_in_branch_refused(self):
        from py_sema_spark.shacl import PropertyShape, _value_cond
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="logical"):
            _value_cond(PropertyShape(path="", class_="urn:C"))


def test_class_instances_memoizes_subclass_probe(spark, tmp_path):
    """ADVICE r04: the rdfs:subClassOf probe (one Spark job collecting
    the slice) must run once per frame, not once per sh:class
    occurrence. The frame is parquet-backed, so the probe is a real job."""
    import uuid

    from py_sema_spark.shacl import _class_instances

    triples_df(spark, CONFORM_TTL).write.parquet(str(tmp_path / "kg"))
    df = spark.read.parquet(str(tmp_path / "kg"))
    sc = spark.sparkContext
    group = f"subclass-probe-{uuid.uuid4().hex[:8]}"
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        _class_instances(df, "http://example.org/C1")
        _class_instances(df, "http://example.org/C2")
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_target_class_includes_subclass_instances(spark):
    """sh:targetClass targets every SHACL instance of the class (§2.1.3.1,
    rdfs:subClassOf*; pyshacl matches): a Student is a focus node of a
    shape targeting Person."""
    shapes = parse_shapes_ttl(
        """
        @prefix sh: <http://www.w3.org/ns/shacl#> .
        @prefix ex: <http://example.org/> .
        ex:PersonShape a sh:NodeShape ;
            sh:targetClass ex:Person ;
            sh:property [ sh:path ex:name ; sh:minCount 1 ] .
        """
    )
    df = triples_df(
        spark,
        """
        @prefix ex: <http://example.org/> .
        @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        ex:Student rdfs:subClassOf ex:Person .
        ex:PhD rdfs:subClassOf ex:Student .
        ex:ann a ex:Person ; ex:name "Ann" .
        ex:bob a ex:Student .
        ex:cid a ex:PhD .
        ex:dan a ex:Robot .
        """,
    )
    got = sorted(
        (r["focus"], r["constraint"], r["value"])
        for r in validate(df, shapes).collect()
    )
    assert got == [
        ("http://example.org/bob", "minCount", "0"),
        ("http://example.org/cid", "minCount", "0"),
    ]
