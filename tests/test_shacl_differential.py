"""Differential testing of the SHACL validator.

Random shape graphs (datatype / min-max count / sh:in / pattern /
length / nodeKind / class / hasValue / closed with ignored
properties) run against random typed instance graphs twice: through
``shacl.validate``'s DataFrame compilation and through a direct
Python mirror of the same SHACL-core semantics. The
(focus, shape, path, constraint, value) violation sets must match
exactly — the hand-written suite pins each constraint in isolation,
this pins their cross product and the per-focus counting edges
(zero-valued minCount, closed × ignored, literal values under
sh:class…).
"""

import random
import re

import pytest
from pyspark.sql import functions as F

from py_sema_spark.shacl import (
    XSD,
    NodeShape,
    PropertyShape,
    validate,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
CLASSES = ["urn:C0", "urn:C1"]
PREDS = [f"urn:q{i}" for i in range(4)]
SUBJECTS = [f"urn:i:{i}" for i in range(10)]
LIT_VALUES = ["aa", "bcd", "Xyz9", "", "hello world"]
INT_VALUES = ["0", "3", "42", "-7"]


def make_graph(rng):
    rows = set()
    for s in SUBJECTS:
        if rng.random() < 0.8:
            rows.add((s, RDF_TYPE, rng.choice(CLASSES), "iri", None, None))
        for _ in range(rng.randrange(0, 5)):
            p = rng.choice(PREDS)
            r = rng.random()
            if r < 0.35:
                rows.add((s, p, rng.choice(LIT_VALUES), "literal",
                          XSD + "string", None))
            elif r < 0.5:
                rows.add((s, p, rng.choice(INT_VALUES), "literal",
                          XSD + "integer", None))
            elif r < 0.6:
                rows.add((s, p, rng.choice(LIT_VALUES), "literal",
                          None, "en"))
            elif r < 0.85:
                rows.add((s, p, rng.choice(SUBJECTS), "iri", None, None))
            else:
                rows.add((s, p, "_:b%d" % rng.randrange(2), "bnode",
                          None, None))
    return sorted(rows, key=lambda t: tuple(x or "" for x in t))


def make_shapes(rng):
    shapes = []
    for k in range(rng.randrange(1, 3)):
        props = []
        for j in range(rng.randrange(1, 4)):
            ps = PropertyShape(path=rng.choice(PREDS))
            picks = rng.sample(
                ["datatype", "max", "min", "in", "pattern", "len",
                 "kind", "class", "hasvalue", "langin", "uniquelang",
                 "equals", "disjoint", "range", "or", "and", "not",
                 "xone"],
                rng.randrange(1, 3),
            )
            if "datatype" in picks:
                ps.datatype = rng.choice(
                    [XSD + "string", XSD + "integer", RDF_LANGSTRING]
                )
            if "max" in picks:
                ps.max_count = rng.randrange(0, 3)
            if "min" in picks:
                ps.min_count = rng.randrange(0, 3)
            if "in" in picks:
                ps.in_values = rng.sample(
                    LIT_VALUES + SUBJECTS, rng.randrange(1, 4)
                )
            if "pattern" in picks:
                ps.pattern = rng.choice(["^a", "c", "9$", "o w", "^$"])
            if "len" in picks:
                ps.min_length = rng.randrange(0, 3)
                ps.max_length = ps.min_length + rng.randrange(0, 6)
            if "kind" in picks:
                ps.node_kind = rng.choice([
                    "http://www.w3.org/ns/shacl#IRI",
                    "http://www.w3.org/ns/shacl#Literal",
                    "http://www.w3.org/ns/shacl#BlankNodeOrIRI",
                ])
            if "class" in picks:
                ps.class_ = rng.choice(CLASSES)
            if "hasvalue" in picks:
                ps.has_value = rng.choice(LIT_VALUES + SUBJECTS)
            if "langin" in picks:
                ps.language_in = rng.sample(["en", "fr", "EN"], 2)
            if "uniquelang" in picks:
                ps.unique_lang = True
            if "equals" in picks:
                ps.equals = rng.choice(PREDS)
            if "disjoint" in picks:
                ps.disjoint = rng.choice(PREDS)
            if "range" in picks:
                if rng.random() < 0.5:
                    ps.min_inclusive = float(rng.randrange(-5, 5))
                else:
                    ps.min_exclusive = float(rng.randrange(-5, 5))
                if rng.random() < 0.5:
                    ps.max_exclusive = float(rng.randrange(5, 50))

            def branch():
                b = PropertyShape(path="")
                r = rng.random()
                if r < 0.35:
                    b.datatype = rng.choice(
                        [XSD + "string", XSD + "integer", RDF_LANGSTRING]
                    )
                elif r < 0.6:
                    b.node_kind = rng.choice([
                        "http://www.w3.org/ns/shacl#IRI",
                        "http://www.w3.org/ns/shacl#Literal",
                    ])
                elif r < 0.8:
                    b.pattern = rng.choice(["^a", "9$", "c"])
                else:
                    b.min_length = rng.randrange(0, 4)
                return b

            if "or" in picks:
                ps.or_ = [branch() for _ in range(rng.randrange(2, 4))]
            if "and" in picks:
                ps.and_ = [branch() for _ in range(2)]
            if "not" in picks:
                ps.not_ = branch()
            if "xone" in picks:
                ps.xone = [branch() for _ in range(rng.randrange(2, 4))]
            props.append(ps)
        shape = NodeShape(
            iri="urn:shape:%d" % k,
            closed=rng.random() < 0.3,
            deactivated=rng.random() < 0.1,
            ignored=[RDF_TYPE] if rng.random() < 0.5 else [],
            properties=props,
        )
        # target flavors (§2.1.3): class / explicit nodes /
        # subjects-of / objects-of — sometimes combined
        r = rng.random()
        if r < 0.6:
            shape.target_class = rng.choice(CLASSES)
        elif r < 0.75:
            shape.target_subjects_of = rng.choice(PREDS)
        elif r < 0.9:
            shape.target_objects_of = rng.choice(PREDS)
        else:
            shape.target_nodes = rng.sample(SUBJECTS, 2)
        if rng.random() < 0.15:
            shape.target_nodes = shape.target_nodes or rng.sample(
                SUBJECTS, 1
            )
        shapes.append(shape)
    return shapes


def effective_dt(kind, dt, lang):
    if kind != "literal":
        return None
    if dt:
        return dt
    return RDF_LANGSTRING if lang else XSD + "string"


def to_num(o):
    try:
        return float(o)
    except (TypeError, ValueError):
        return None


def value_violates(ps, t):
    """Mirror of shacl._value_cond: value-level violation test."""
    (_s, _p, o, k, d, l) = t
    if ps.datatype and (
        k != "literal" or effective_dt(k, d, l) != ps.datatype
    ):
        return True
    if ps.node_kind:
        allowed = {
            "http://www.w3.org/ns/shacl#IRI": {"iri"},
            "http://www.w3.org/ns/shacl#Literal": {"literal"},
        }[ps.node_kind]
        if k not in allowed:
            return True
    if ps.pattern is not None and (
        k == "bnode" or not re.search(ps.pattern, o)
    ):
        return True
    if ps.min_length is not None and (
        k == "bnode" or len(o) < ps.min_length
    ):
        return True
    if ps.max_length is not None and (
        k == "bnode" or len(o) > ps.max_length
    ):
        return True
    if ps.in_values is not None and o not in ps.in_values:
        return True
    for bound, cmp_ in (
        (ps.min_inclusive, lambda v, b: v < b),
        (ps.max_inclusive, lambda v, b: v > b),
        (ps.min_exclusive, lambda v, b: v <= b),
        (ps.max_exclusive, lambda v, b: v >= b),
    ):
        if bound is not None:
            v = to_num(o)
            if v is None or cmp_(v, bound):
                return True
    if ps.language_in is not None:
        if k != "literal" or not l or l.lower() not in {
            x.lower() for x in ps.language_in
        }:
            return True
    return False


def naive_validate(graph, shapes):
    out = set()
    for shape in shapes:
        if shape.deactivated:
            continue
        fset = set()
        if shape.target_class:
            fset |= {s for (s, p, o, k, _d, _l) in graph
                     if p == RDF_TYPE and o == shape.target_class}
        fset |= set(shape.target_nodes)
        if shape.target_subjects_of:
            fset |= {t[0] for t in graph if t[1] == shape.target_subjects_of}
        if shape.target_objects_of:
            fset |= {t[2] for t in graph if t[1] == shape.target_objects_of}
        if not (
            shape.target_class
            or shape.target_nodes
            or shape.target_subjects_of
            or shape.target_objects_of
        ):
            continue
        focus = sorted(fset)
        ftrips = [t for t in graph if t[0] in fset]
        for ps in shape.properties:
            vals = [t for t in ftrips if t[1] == ps.path]

            def viol(focus_s, constraint, value):
                out.add((focus_s, shape.iri, ps.path, constraint, value))

            if ps.datatype:
                for (s, _p, o, k, d, l) in vals:
                    if k != "literal" or effective_dt(k, d, l) != ps.datatype:
                        viol(s, "datatype", o)
            if ps.max_count is not None:
                for f in focus:
                    n = sum(1 for t in vals if t[0] == f)
                    if n > ps.max_count:
                        viol(f, "maxCount", str(n))
            if ps.min_count is not None:
                for f in focus:
                    n = sum(1 for t in vals if t[0] == f)
                    if n < ps.min_count:
                        viol(f, "minCount", str(n))
            if ps.in_values is not None:
                for (s, _p, o, *_rest) in vals:
                    if o not in ps.in_values:
                        viol(s, "in", o)
            if ps.pattern is not None:
                for (s, _p, o, k, *_rest) in vals:
                    if k == "bnode" or not re.search(ps.pattern, o):
                        viol(s, "pattern", o)
            for (s, _p, o, k, *_rest) in vals:
                if ps.min_length is not None and (
                    k == "bnode" or len(o) < ps.min_length
                ):
                    viol(s, "minLength", o)
                if ps.max_length is not None and (
                    k == "bnode" or len(o) > ps.max_length
                ):
                    viol(s, "maxLength", o)
            if ps.has_value is not None:
                for f in focus:
                    if not any(t[0] == f and t[2] == ps.has_value
                               for t in vals):
                        viol(f, "hasValue", None)
            if ps.node_kind is not None:
                allowed = {
                    "http://www.w3.org/ns/shacl#IRI": {"iri"},
                    "http://www.w3.org/ns/shacl#Literal": {"literal"},
                    "http://www.w3.org/ns/shacl#BlankNodeOrIRI":
                        {"bnode", "iri"},
                }[ps.node_kind]
                for (s, _p, o, k, *_rest) in vals:
                    if k not in allowed:
                        viol(s, "nodeKind", o)
            if ps.class_ is not None:
                typed = {s for (s, p, o, *_r) in graph
                         if p == RDF_TYPE and o == ps.class_}
                for (s, _p, o, k, *_rest) in vals:
                    if k == "literal" or o not in typed:
                        viol(s, "class", o)
            # one result per declared bound, each under its own
            # component id (mirrors the engine's §4.3 report shape)
            for (s, _p, o, *_rest) in vals:
                v = to_num(o)
                if ps.min_inclusive is not None and (
                    v is None or v < ps.min_inclusive
                ):
                    viol(s, "minInclusive", o)
                if ps.max_inclusive is not None and (
                    v is None or v > ps.max_inclusive
                ):
                    viol(s, "maxInclusive", o)
                if ps.min_exclusive is not None and (
                    v is None or v <= ps.min_exclusive
                ):
                    viol(s, "minExclusive", o)
                if ps.max_exclusive is not None and (
                    v is None or v >= ps.max_exclusive
                ):
                    viol(s, "maxExclusive", o)
            if ps.language_in is not None:
                allowed = {t.lower() for t in ps.language_in}
                for (s, _p, o, k, _d, l) in vals:
                    if k != "literal" or not l or l.lower() not in allowed:
                        viol(s, "languageIn", o)
            if ps.unique_lang:
                for f in focus:
                    langs = {}
                    for (s, _p, _o, _k, _d, l) in vals:
                        if s == f and l:
                            langs[l.lower()] = langs.get(l.lower(), 0) + 1
                    for lang, n in langs.items():
                        if n > 1:
                            viol(f, "uniqueLang", lang)
            if ps.equals:
                other = {(t[0], t[2]) for t in ftrips if t[1] == ps.equals}
                mine = {(t[0], t[2]) for t in vals}
                for (s, o) in (mine - other) | (other - mine):
                    viol(s, "equals", o)
            if ps.disjoint:
                other = {(t[0], t[2]) for t in ftrips if t[1] == ps.disjoint}
                for (s, o) in {(t[0], t[2]) for t in vals} & other:
                    viol(s, "disjoint", o)
            if ps.or_:
                for t in vals:
                    if all(value_violates(b, t) for b in ps.or_):
                        viol(t[0], "or", t[2])
            if ps.and_:
                for t in vals:
                    if any(value_violates(b, t) for b in ps.and_):
                        viol(t[0], "and", t[2])
            if ps.not_:
                for t in vals:
                    if not value_violates(ps.not_, t):
                        viol(t[0], "not", t[2])
            if ps.xone:
                for t in vals:
                    n = sum(
                        1 for b in ps.xone if not value_violates(b, t)
                    )
                    if n != 1:
                        viol(t[0], "xone", t[2])
        if shape.closed:
            allowed = {p.path for p in shape.properties} | set(shape.ignored)
            for (s, p, o, *_rest) in ftrips:
                if p not in allowed:
                    out.add((s, shape.iri, p, "closed", o))
    return out


@pytest.mark.parametrize("seed", range(25))
def test_differential_shacl(spark, seed):
    rng = random.Random(7000 + seed)
    graph = make_graph(rng)
    shapes = make_shapes(rng)
    df = spark.createDataFrame(
        graph,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    )
    got = {
        (r["focus"], r["shape"], r["path"], r["constraint"], r["value"])
        for r in validate(df, shapes).collect()
    }
    expected = naive_validate(graph, shapes)
    assert got == expected, (
        f"seed={seed}\nshapes={shapes}\n"
        f"only_spark={sorted(got - expected, key=str)}\n"
        f"only_naive={sorted(expected - got, key=str)}"
    )


def make_repeat_case(rng):
    """A random case with repeats: some triples appear twice in the
    input, and every node shape gains property shapes that reuse one of
    its paths with other constraints."""
    graph = make_graph(rng)
    graph = graph + rng.sample(graph, min(len(graph), 8))
    shapes = make_shapes(rng)
    for shape in shapes:
        extra = make_shapes(rng)[0].properties
        for ps in extra:
            ps.path = rng.choice(shape.properties).path
        shape.properties += extra
    return graph, shapes


@pytest.mark.parametrize("seed", range(10))
def test_differential_shacl_repeats(spark, seed):
    rng = random.Random(9100 + seed)
    graph, shapes = make_repeat_case(rng)
    df = spark.createDataFrame(
        graph,
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    )
    got = {
        (r["focus"], r["shape"], r["path"], r["constraint"], r["value"])
        for r in validate(df, shapes).collect()
    }
    expected = naive_validate(graph, shapes)
    assert got == expected, (
        f"seed={seed}\nshapes={shapes}\n"
        f"only_spark={sorted(got - expected, key=str)}\n"
        f"only_naive={sorted(expected - got, key=str)}"
    )
