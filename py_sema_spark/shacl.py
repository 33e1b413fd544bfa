"""SHACL-core subset compiled to DataFrame aggregates (SURVEY.md §2.10
E6).

py-sema validates with pyshacl and hard-asserts conformance
(``sema/bench/handler.py:61-81``); the constraint surface it actually
exercises is its fixture shape graph
(``tests/bench/resources/sembench_data/example_shape.ttl``):
``sh:datatype, sh:maxCount, sh:in, sh:lessThan, sh:node, sh:closed,
sh:minInclusive, sh:maxInclusive`` on ``sh:targetClass``-targeted node
shapes. That subset is compiled here, plus the most common remaining
SHACL-core components (``sh:minCount, sh:pattern/sh:flags,
sh:minLength, sh:maxLength, sh:hasValue, sh:nodeKind, sh:class``,
logical and qualified shapes, property paths). The result is a
**violations DataFrame** instead of an assert (the assert form is
:func:`assert_conforms`).

Shapes are parsed from Turtle with our own parser (the same input
format the reference consumes), driver-side — shape graphs are tiny;
the data side stays distributed.

One pass per node shape: one scan of ``p IN P`` (``rdf:type`` for the
target class, the targetSubjectsOf/targetObjectsOf predicates, every
plain ``sh:path``) and one aggregate on ``s``, so one exchange. Explicit
target nodes and the objects of targetObjectsOf enter the same
aggregate as focus rows with their term kind; compound-path values
enter it tagged with their property shape. Per group the aggregate
gives the focus terms, a ``count_if`` per cardinality and a list of the
violating values per per-value component (:func:`_value_checks`, the
one definition of each); one ``explode`` turns them into violation
rows. At today's sizes that is a shuffle-map job and a result job per
validation, whatever the number of constraints.

Constraints that need a second relation stay joins, with their focus
nodes and values read from the same aggregate: ``sh:class`` (the
instance set), ``sh:node`` (the child shape's violations),
``lessThan/equals/disjoint`` (the other predicate's values, also
collected in the aggregate), logical and qualified shapes (branch
violators), ``uniqueLang`` (a count per language) and ``closed``
(every predicate of the focus nodes, a second scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.closure import reachable_pairs

SH = "http://www.w3.org/ns/shacl#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

NUMERIC_DATATYPES = {
    XSD + t
    for t in (
        "integer", "decimal", "double", "float", "int", "long", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "unsignedInt",
    )
}

VIOLATION_SCHEMA = (
    "focus string, shape string, path string, constraint string, "
    "value string, message string, severity string"
)

RDFS_SUBCLASS_OF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

SEVERITY_VIOLATION = SH + "Violation"
SEVERITY_WARNING = SH + "Warning"
SEVERITY_INFO = SH + "Info"


@dataclass
class PropertyShape:
    path: str
    datatype: Optional[str] = None
    max_count: Optional[int] = None
    min_count: Optional[int] = None
    in_values: Optional[List[str]] = None
    less_than: Optional[str] = None
    node: Optional[str] = None
    min_inclusive: Optional[float] = None
    max_inclusive: Optional[float] = None
    name: Optional[str] = None
    pattern: Optional[str] = None
    flags: Optional[str] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    has_value: Optional[str] = None
    node_kind: Optional[str] = None
    class_: Optional[str] = None
    min_exclusive: Optional[float] = None
    max_exclusive: Optional[float] = None
    message: Optional[str] = None  # sh:message — overrides the
    # engine's default violation message for this shape's results
    severity: Optional[str] = None  # sh:severity IRI; results default
    # to sh:Violation and only that severity breaks conformance (§3.5)
    equals: Optional[str] = None
    disjoint: Optional[str] = None
    language_in: Optional[List[str]] = None
    unique_lang: bool = False
    # nested sh:property shapes inside a logical branch (§4.7):
    # each parent value acts as the focus node of these
    props: List["PropertyShape"] = field(default_factory=list)
    # logical constraint components over VALUE-level constraint
    # branches (sh:or ( [ sh:datatype … ] [ sh:nodeKind … ] ) …)
    or_: Optional[List["PropertyShape"]] = None
    and_: Optional[List["PropertyShape"]] = None
    not_: Optional["PropertyShape"] = None
    xone: Optional[List["PropertyShape"]] = None
    # sh:qualifiedValueShape branch + qualified cardinality bounds
    qualified: Optional["PropertyShape"] = None
    qualified_min: Optional[int] = None
    qualified_max: Optional[int] = None
    # SHACL property-path AST (§2.3.1) — None means ``path`` is a
    # plain predicate IRI (the direct-construction/back-compat form).
    # Tuples: ("pred", iri) | ("inv", p) | ("seq", [p..]) |
    # ("alt", [p..]) | ("zom", p) | ("oom", p) | ("zoo", p)
    path_ast: Optional[tuple] = None


@dataclass
class NodeShape:
    iri: str
    target_class: Optional[str] = None
    target_nodes: List[str] = field(default_factory=list)
    # single predicate IRI or list of them (§2.1.3.3/4 allow several)
    target_subjects_of: Optional[object] = None
    target_objects_of: Optional[object] = None
    closed: bool = False
    deactivated: bool = False
    ignored: List[str] = field(default_factory=list)
    severity: Optional[str] = None  # sh:severity default for this
    # shape's own results (closed / node-level constraints)
    properties: List[PropertyShape] = field(default_factory=list)
    # constraints declared directly on the node shape (no sh:path) —
    # they apply to each FOCUS node itself (SHACL §2.1: node shapes
    # carry constraint components too, e.g. ex:S sh:nodeKind sh:IRI)
    node_constraints: Optional[PropertyShape] = None


def path_str(ast: tuple) -> str:
    """SPARQL-property-path-style rendering of a path AST (used as the
    ``path`` column of violation rows; plain predicates stay bare IRIs
    so the simple-path output is unchanged)."""

    def wrap(sub: tuple) -> str:
        s = path_str(sub)
        return f"({s})" if sub[0] in ("seq", "alt") else s

    kind = ast[0]
    if kind == "pred":
        return ast[1]
    if kind == "inv":
        return "^" + wrap(ast[1])
    if kind == "seq":
        return "/".join(wrap(p) for p in ast[1])
    if kind == "alt":
        return "|".join(wrap(p) for p in ast[1])
    return wrap(ast[1]) + {"zom": "*", "oom": "+", "zoo": "?"}[kind]


def parse_shapes_ttl(text: str, base: str = "urn:shapes:") -> List[NodeShape]:
    """Shape graph (Turtle) → shape model, driver-side."""
    from .rdf.turtle import parse_turtle

    triples = parse_turtle(text, base=base)
    spo: Dict[str, Dict[str, list]] = {}
    for t in triples:
        spo.setdefault(t.s.value, {}).setdefault(t.p.value, []).append(t.o)

    def one(s, p):
        vals = spo.get(s, {}).get(p)
        return vals[0] if vals else None

    def rdf_list_terms(head) -> list:
        out = []
        while head is not None and head.value != RDF_NIL:
            first = one(head.value, RDF_FIRST)
            if first is not None:
                out.append(first)
            head = one(head.value, RDF_REST)
        return out

    def rdf_list(head) -> List[str]:
        return [t.value for t in rdf_list_terms(head)]

    def parse_path(term) -> tuple:
        """sh:path term → path AST (§2.3.1). A bnode-valued path is a
        path expression: inverse / alternative / zero-or-more /
        one-or-more / zero-or-one, or an RDF list (sequence)."""
        if not term.value.startswith("_:"):
            return ("pred", term.value)
        node = term.value
        for pred, tag in (
            ("inversePath", "inv"),
            ("zeroOrMorePath", "zom"),
            ("oneOrMorePath", "oom"),
            ("zeroOrOnePath", "zoo"),
        ):
            inner = one(node, SH + pred)
            if inner is not None:
                return (tag, parse_path(inner))
        alt = one(node, SH + "alternativePath")
        if alt is not None:
            return ("alt", [parse_path(t) for t in rdf_list_terms(alt)])
        if one(node, RDF_FIRST) is not None:
            return ("seq", [parse_path(t) for t in rdf_list_terms(term)])
        raise ValueError(f"unrecognized SHACL path expression at {node}")

    def read_constraints(node_id: str, ps: PropertyShape):
        for attr, pred, conv in (
            ("datatype", "datatype", lambda o: o.value),
            ("max_count", "maxCount", lambda o: int(o.value)),
            ("min_count", "minCount", lambda o: int(o.value)),
            ("less_than", "lessThan", lambda o: o.value),
            ("node", "node", lambda o: o.value),
            ("min_inclusive", "minInclusive",
             lambda o: float(o.value)),
            ("max_inclusive", "maxInclusive",
             lambda o: float(o.value)),
            ("name", "name", lambda o: o.value),
            ("message", "message", lambda o: o.value),
            ("severity", "severity", lambda o: o.value),
            ("pattern", "pattern", lambda o: o.value),
            ("flags", "flags", lambda o: o.value),
            ("min_length", "minLength", lambda o: int(o.value)),
            ("max_length", "maxLength", lambda o: int(o.value)),
            ("has_value", "hasValue", lambda o: o.value),
            ("node_kind", "nodeKind", lambda o: o.value),
            ("class_", "class", lambda o: o.value),
            ("min_exclusive", "minExclusive",
             lambda o: float(o.value)),
            ("max_exclusive", "maxExclusive",
             lambda o: float(o.value)),
            ("equals", "equals", lambda o: o.value),
            ("disjoint", "disjoint", lambda o: o.value),
            ("unique_lang", "uniqueLang",
             lambda o: o.value == "true"),
        ):
            o = one(node_id, SH + pred)
            if o is not None:
                setattr(ps, attr, conv(o))
        ino = one(node_id, SH + "in")
        if ino is not None:
            ps.in_values = rdf_list(ino)
        li = one(node_id, SH + "languageIn")
        if li is not None:
            ps.language_in = rdf_list(li)

    def read_branch(node_id: str) -> PropertyShape:
        # a logical branch is a constraint-only shape (no sh:path of
        # its own — value constraints apply to the parent's values);
        # nested sh:property shapes treat each value as a focus node
        # (§4.7 — the canonical or-of-minCounts contact shape)
        b = PropertyShape(path="")
        read_constraints(node_id, b)
        for pnode in spo.get(node_id, {}).get(SH + "property", []):
            p = pnode.value
            path_t = one(p, SH + "path")
            if path_t is None:
                raise ValueError(f"property shape {p} has no sh:path")
            ast = parse_path(path_t)
            if ast[0] != "pred":
                raise NotImplementedError(
                    "compound sh:path inside a logical-branch "
                    "sh:property is not supported"
                )
            child = PropertyShape(path=ast[1], path_ast=ast)
            read_constraints(p, child)
            b.props.append(child)
        return b

    def read_logicals(node_id: str, ps: PropertyShape):
        oro = one(node_id, SH + "or")
        if oro is not None:
            ps.or_ = [read_branch(b) for b in rdf_list(oro)]
        ando = one(node_id, SH + "and")
        if ando is not None:
            ps.and_ = [read_branch(b) for b in rdf_list(ando)]
        noto = one(node_id, SH + "not")
        if noto is not None:
            ps.not_ = read_branch(noto.value)
        xo = one(node_id, SH + "xone")
        if xo is not None:
            ps.xone = [read_branch(b) for b in rdf_list(xo)]

    shapes = []
    for s, props in spo.items():
        types = [o.value for o in props.get(RDF_TYPE, [])]
        if SH + "NodeShape" not in types:
            continue
        tc = one(s, SH + "targetClass")
        closed = one(s, SH + "closed")
        deact = one(s, SH + "deactivated")
        shape = NodeShape(
            iri=s,
            target_class=tc.value if tc else None,
            target_nodes=[
                o.value for o in props.get(SH + "targetNode", [])
            ],
            target_subjects_of=(
                [o.value for o in props.get(SH + "targetSubjectsOf", [])]
                or None
            ),
            target_objects_of=(
                [o.value for o in props.get(SH + "targetObjectsOf", [])]
                or None
            ),
            closed=bool(closed and closed.value == "true"),
            deactivated=bool(deact and deact.value == "true"),
            ignored=rdf_list(one(s, SH + "ignoredProperties")),
        )
        sev = one(s, SH + "severity")
        shape.severity = sev.value if sev else None
        for pnode in props.get(SH + "property", []):
            p = pnode.value
            path_t = one(p, SH + "path")
            if path_t is None:
                raise ValueError(
                    f"property shape {p} has no sh:path"
                )
            path_ast = parse_path(path_t)
            ps = PropertyShape(path=path_str(path_ast), path_ast=path_ast)
            read_constraints(p, ps)
            read_logicals(p, ps)
            qvs = one(p, SH + "qualifiedValueShape")
            if qvs is not None:
                ps.qualified = read_branch(qvs.value)
                qmin = one(p, SH + "qualifiedMinCount")
                qmax = one(p, SH + "qualifiedMaxCount")
                ps.qualified_min = int(qmin.value) if qmin else None
                ps.qualified_max = int(qmax.value) if qmax else None
            shape.properties.append(ps)

        # constraints declared on the node shape itself (§2.1) apply to
        # every focus node: a pseudo property shape with the sentinel
        # ("focus",) path whose value set is {focus}. sh:hasValue and
        # sh:node keep their §4 meaning (focus must BE the value /
        # conform to the child shape); path-dependent components are
        # ill-formed without a path and fail loudly.
        nc = PropertyShape(path=None, path_ast=("focus",))
        read_constraints(s, nc)
        read_logicals(s, nc)
        illformed = [
            n
            for n, v in (
                ("minCount", nc.min_count), ("maxCount", nc.max_count),
                ("lessThan", nc.less_than), ("equals", nc.equals),
                ("disjoint", nc.disjoint),
                ("uniqueLang", nc.unique_lang or None),
            )
            if v is not None
        ]
        if illformed:
            raise ValueError(
                f"sh:{illformed[0]} on a node shape is ill-formed "
                "(property-shape-only component; it needs an sh:path)"
            )
        nc.name = None  # sh:name is display metadata, not a constraint
        # message/severity alone declare nothing to check — compare
        # against a baseline carrying them so only real constraints
        # create the pseudo property
        if nc != PropertyShape(path=None, path_ast=("focus",),
                               message=nc.message, severity=nc.severity):
            shape.node_constraints = nc
            shape.properties.append(nc)
        shapes.append(shape)
    return shapes


def _viol(df: DataFrame, shape: str, path: str, constraint: str, msg: str,
          value=None, severity: str = SEVERITY_VIOLATION) -> DataFrame:
    if value is None:
        value = F.col("o")
    return df.select(
        F.col("s").alias("focus"),
        F.lit(shape).alias("shape"),
        F.lit(path).cast("string").alias("path"),
        F.lit(constraint).alias("constraint"),
        value.cast("string").alias("value"),
        F.lit(msg).alias("message"),
        F.lit(severity).alias("severity"),
    )


def _effective_datatype(t):
    """RDF 1.1: a plain literal's datatype is xsd:string, but a
    LANG-TAGGED literal's is rdf:langString (terms.py nulls the
    datatype when a lang tag is present, so coalescing straight to
    xsd:string would both miss real langString matches and silently
    pass "x"@en for sh:datatype xsd:string)."""
    return F.when(
        t["o_kind"] == "literal",
        F.coalesce(
            t["o_datatype"],
            F.when(
                t["o_lang"].isNotNull(), F.lit(RDF + "langString")
            ).otherwise(F.lit(XSD + "string")),
        ),
    )


_NODE_KIND_ALLOWED = {
    SH + "IRI": ["iri"],
    SH + "Literal": ["literal"],
    SH + "BlankNode": ["bnode"],
    SH + "BlankNodeOrIRI": ["bnode", "iri"],
    SH + "BlankNodeOrLiteral": ["bnode", "literal"],
    SH + "IRIOrLiteral": ["iri", "literal"],
}

_TERM = ("o", "o_kind", "o_datatype", "o_lang")

_RANGES = (
    ("min_inclusive", "minInclusive", lambda v, b: v < b),
    ("max_inclusive", "maxInclusive", lambda v, b: v > b),
    ("min_exclusive", "minExclusive", lambda v, b: v <= b),
    ("max_exclusive", "maxExclusive", lambda v, b: v >= b),
)


def _bound_check(incomparable, measure, mk, bound):
    """``violates(t)`` for a bound: ``t`` cannot be compared, or
    ``mk(measure(t), bound)`` (a one-argument function, as Spark's
    higher-order functions need)."""
    return lambda t: incomparable(t) | mk(measure(t), bound)


def _value_checks(ps: PropertyShape) -> list:
    """The per-value constraints of ``ps`` as ``(component, message,
    violates)``; ``violates(t)`` is True where the value term ``t`` (a
    struct Column with fields ``o, o_kind, o_datatype, o_lang``)
    violates the component. This is the one definition of each of
    these components: the validation aggregate and logical branches
    (:func:`_value_cond`) both use it."""
    checks = []
    if ps.datatype:
        checks.append((
            "datatype",
            f"value is not a literal of datatype <{ps.datatype}>",
            lambda t: (t["o_kind"] != "literal")
            | (_effective_datatype(t) != ps.datatype),
        ))
    if ps.node_kind in _NODE_KIND_ALLOWED:
        allowed = _NODE_KIND_ALLOWED[ps.node_kind]
        checks.append((
            "nodeKind",
            f"value is not a {ps.node_kind.rsplit('#', 1)[-1]}",
            lambda t: ~t["o_kind"].isin(allowed),
        ))
    if ps.pattern is not None:
        rx = f"(?{ps.flags}){ps.pattern}" if ps.flags else ps.pattern
        checks.append((
            "pattern",
            f"value does not match pattern /{ps.pattern}/",
            lambda t: (t["o_kind"] == "bnode") | ~t["o"].rlike(rx),
        ))
    # per-bound component ids (§4.4.1/2 — blank nodes violate either
    # declared bound)
    for attr, comp, mk in (
        ("min_length", "minLength", lambda ln, b: ln < b),
        ("max_length", "maxLength", lambda ln, b: ln > b),
    ):
        bound = getattr(ps, attr)
        if bound is not None:
            checks.append((
                comp,
                f"value violates sh:{comp} {bound}",
                _bound_check(
                    lambda t: t["o_kind"] == "bnode",
                    lambda t: F.length(t["o"]), mk, bound,
                ),
            ))
    if ps.in_values is not None:
        checks.append((
            "in",
            f"value not in {ps.in_values}",
            lambda t: ~t["o"].isin(ps.in_values),
        ))
    # one result per declared bound with its own component id (§4.3;
    # matches the W3C report shape — a value that "cannot be compared"
    # violates each declared bound). try_cast: ANSI mode (Spark 4
    # default) makes a plain cast THROW on a non-numeric value mid-job;
    # SHACL semantics make it a violation instead
    for attr, comp, mk in _RANGES:
        bound = getattr(ps, attr)
        if bound is not None:
            checks.append((
                comp,
                f"value violates sh:{comp} {bound:g}",
                _bound_check(
                    lambda t: t["o"].try_cast("double").isNull(),
                    lambda t: t["o"].try_cast("double"), mk, bound,
                ),
            ))
    if ps.language_in is not None:
        langs = [x.lower() for x in ps.language_in]
        checks.append((
            "languageIn",
            f"language tag not in {ps.language_in}",
            lambda t: (t["o_kind"] != "literal")
            | t["o_lang"].isNull()
            | ~F.lower(t["o_lang"]).isin(langs),
        ))
    return checks


def _value_cond(ps: PropertyShape):
    """VALUE-level violation condition for a logical branch: a Column
    that is True where the row's value term (columns ``o, o_kind,
    o_datatype, o_lang``) violates the branch's constraints. Branches
    support the per-value components of :func:`_value_checks`;
    join-backed or per-focus constraints inside sh:or/and/not raise a
    clear error rather than silently passing."""
    unsupported = [
        n
        for n, v in (
            ("maxCount", ps.max_count), ("minCount", ps.min_count),
            ("class", ps.class_), ("node", ps.node),
            ("hasValue", ps.has_value), ("equals", ps.equals),
            ("disjoint", ps.disjoint), ("lessThan", ps.less_than),
            ("uniqueLang", ps.unique_lang or None),
            ("property", ps.props or None),
        )
        if v is not None
    ]
    if unsupported:
        raise NotImplementedError(
            f"sh:{unsupported[0]} inside a logical constraint branch "
            "is not supported (value-level constraints only)"
        )
    t = F.struct(*[F.col(c) for c in _TERM])
    out = F.lit(False)
    for _comp, _msg, violates in _value_checks(ps):
        out = out | violates(t)
    return out


_VAL_COLS = ["s", *_TERM]


def _node_kind(col):
    """Term kind of a node drawn from the subject position (bnode ids
    keep their ``_:`` prefix end-to-end in the triples frame)."""
    return F.when(col.startswith("_:"), F.lit("bnode")).otherwise(
        F.lit("iri")
    )


def _as_value(df: DataFrame, node_col: str, alias: str = "o") -> DataFrame:
    """Project a node column into the value-term shape (kind derived,
    no datatype/lang — subjects are never literals)."""
    keep = [c for c in df.columns if c not in (node_col, alias)]
    return df.select(
        *keep,
        F.col(node_col).alias(alias),
        _node_kind(F.col(node_col)).alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


def _path_values(triples: DataFrame, ast: tuple):
    """Path AST → ``(pairs, includes_zero)``.

    ``pairs`` is the ≥1-length (s → value) relation in value-term shape
    (``s, o, o_kind, o_datatype, o_lang``); ``includes_zero`` records
    that the path also relates every node to itself (sh:zeroOrMorePath /
    sh:zeroOrOnePath) — the zero-length part is unbounded (identity over
    all nodes), so it is materialized only at the focus set, by the
    caller. Composition keeps the algebra exact: seq(a, b) with b
    zero-capable contributes a's pairs, and vice versa.

    Scale: each atomic step is one pushed-down predicate slice;
    sequences/alternatives are equi-joins/unions of those slices, and
    ``*``/``+`` reuse :func:`transitive_closure`'s doubling (O(log d)
    rounds). Nothing is collected; value sets stay distributed.
    """
    kind = ast[0]
    if kind == "pred":
        return (
            triples.where(F.col("p") == ast[1]).select(*_VAL_COLS),
            False,
        )
    if kind == "inv":
        # literal objects are KEPT: a literal focus node (reachable via
        # sh:targetObjectsOf) has ^p values — the original subjects,
        # which are always IRIs/bnodes and therefore safe value terms
        pairs, z = _path_values(triples, ast[1])
        inv = _as_value(
            pairs.select(
                F.col("o").alias("s"), F.col("s").alias("node")
            ),
            "node",
        )
        return (inv, z)
    if kind == "seq":
        pairs, z = _path_values(triples, ast[1][0])
        for sub in ast[1][1:]:
            nxt, nz = _path_values(triples, sub)
            comp = (
                pairs.where(F.col("o_kind") != "literal")
                .select(F.col("s").alias("_ls"), F.col("o").alias("_mid"))
                .join(
                    nxt.select(F.col("s").alias("_mid"), *_VAL_COLS[1:]),
                    "_mid",
                )
                .select(F.col("_ls").alias("s"), *_VAL_COLS[1:])
            )
            parts = [comp]
            if nz:  # right side can be skipped → left pairs carry over
                parts.append(pairs.select(*_VAL_COLS))
            if z:  # left side can be skipped → right pairs carry over
                parts.append(nxt.select(*_VAL_COLS))
            pairs = parts[0]
            for extra in parts[1:]:
                pairs = pairs.unionByName(extra)
            pairs = pairs.distinct()
            z = z and nz
        return (pairs, z)
    if kind == "alt":
        subs = [_path_values(triples, p) for p in ast[1]]
        pairs = subs[0][0]
        for df, _ in subs[1:]:
            pairs = pairs.unionByName(df)
        return (pairs.distinct(), any(z for _, z in subs))
    if kind in ("zom", "oom"):
        from .operators.closure import transitive_closure

        pairs, z = _path_values(triples, ast[1])
        node_edges = pairs.where(F.col("o_kind") != "literal")
        closure = transitive_closure(node_edges, src="s", dst="o")
        node_vals = _as_value(
            closure.select("src", "dst").withColumnRenamed("src", "s"),
            "dst",
        )
        lits = pairs.where(F.col("o_kind") == "literal")
        # multi-hop chains may END on a literal: reach any node via the
        # closure, then take one literal-valued step from it
        lit_via = (
            closure.select(F.col("src").alias("_ls"), F.col("dst").alias("s"))
            .join(lits, "s")
            .select(F.col("_ls").alias("s"), *_VAL_COLS[1:])
        )
        all_pairs = node_vals.unionByName(lits).unionByName(lit_via).distinct()
        return (all_pairs, True if kind == "zom" else z)
    if kind == "zoo":
        pairs, _ = _path_values(triples, ast[1])
        return (pairs, True)
    raise ValueError(f"unknown path AST node: {ast!r}")


def _norm_focus(df: DataFrame) -> DataFrame:
    """Accept focus frames with or without term columns: a bare
    ``focus`` column (external focus_override callers) gets its kind
    derived from the bnode prefix; internal callers pass the full
    term shape through."""
    if "f_kind" in df.columns:
        return df
    return df.select(
        "focus",
        _node_kind(F.col("focus")).alias("f_kind"),
        F.lit(None).cast("string").alias("f_datatype"),
        F.lit(None).cast("string").alias("f_lang"),
    )


def _class_set(triples: DataFrame, class_iri: str) -> List[str]:
    """``class_iri`` and every class below it through rdfs:subClassOf*
    (§2.1.3.1 — "SHACL instance"; pyshacl matches). The frame's
    rdfs:subClassOf slice (schema-sized) is collected in one job and
    closed on the driver, once per frame object: the closure is
    memoized on it (``validate`` passes the same frame through every
    shape and sh:node recursion)."""
    below = getattr(triples, "_psp_subclasses", None)
    if below is None:
        rows = (
            triples.where(
                (F.col("p") == RDFS_SUBCLASS_OF)
                & F.col("s").isNotNull()
                & F.col("o").isNotNull()
            )
            .select("s", "o")
            .collect()
        )
        below = {}
        for sub, sup in reachable_pairs((r["s"], r["o"]) for r in rows):
            below.setdefault(sup, set()).add(sub)
        try:
            triples._psp_subclasses = below
        except AttributeError:
            pass
    return sorted({class_iri, *below.get(class_iri, ())})


def _class_instances(triples: DataFrame, class_iri: str) -> DataFrame:
    """Distinct SHACL instances of ``class_iri``, as column ``o``: one
    pushed-down rdf:type slice filtered to :func:`_class_set`."""
    return (
        triples.where(
            (F.col("p") == RDF_TYPE)
            & F.col("o").isin(_class_set(triples, class_iri))
        )
        .select(F.col("s").alias("o"))
        .distinct()
    )


def _conforming_values(triples: DataFrame, vals: DataFrame,
                       branch: PropertyShape) -> DataFrame:
    """Rows of ``vals`` whose value CONFORMS to a qualified-value-shape
    branch: the Column-expressible constraints via :func:`_value_cond`,
    plus ``sh:class`` (the common qualified form) as a semi-join against
    the subclass-aware instance set."""
    from dataclasses import replace

    col_branch = replace(branch, class_=None)
    conf = vals.where(~_value_cond(col_branch))
    if branch.class_:
        conf = conf.where(F.col("o_kind") != "literal").join(
            _class_instances(triples, branch.class_), "o", "left_semi"
        )
    return conf


def _branch_violators(triples: DataFrame, vals: DataFrame,
                      branch: PropertyShape) -> DataFrame:
    """Distinct value-term keys of ``vals`` that VIOLATE a logical
    branch shape: the Column constraints, ``sh:class`` (subclass-aware
    anti-join), and nested ``sh:property`` shapes — each value acts as
    the focus node of those (§4.7), so cardinality is one groupBy over
    the child predicate slice and value constraints are one semi-join
    per child. All equi-joins on the value column; nothing collected."""
    from dataclasses import replace

    keys = vals.select(*_TERM).distinct()
    parts = [keys.where(_value_cond(replace(branch, class_=None, props=[])))]
    if branch.class_:
        typed = _class_instances(triples, branch.class_)
        parts.append(keys.where(F.col("o_kind") == "literal"))
        parts.append(
            keys.where(F.col("o_kind") != "literal")
            .join(typed, "o", "left_anti")
        )
    for child in branch.props:
        slice_ = triples.where(F.col("p") == child.path)
        if child.min_count is not None or child.max_count is not None:
            counts = (
                slice_.groupBy("s").agg(F.count("*").alias("__n"))
                .withColumnRenamed("s", "o")
            )
            with_n = keys.join(counts, "o", "left").withColumn(
                "__n", F.coalesce(F.col("__n"), F.lit(0))
            )
            bad = F.lit(False)
            if child.min_count is not None:
                bad = bad | (F.col("__n") < child.min_count)
            if child.max_count is not None:
                bad = bad | (F.col("__n") > child.max_count)
            parts.append(with_n.where(bad).drop("__n"))
        vc = replace(child, min_count=None, max_count=None, class_=None)
        if any(x is not None for x in (
            vc.datatype, vc.node_kind, vc.pattern, vc.min_length,
            vc.max_length, vc.in_values, vc.min_inclusive,
            vc.max_inclusive, vc.min_exclusive, vc.max_exclusive,
            vc.language_in,
        )):
            bad_vals = (
                slice_.where(_value_cond(vc))
                .select(F.col("s").alias("o")).distinct()
            )
            parts.append(keys.join(bad_vals, "o", "left_semi"))
        if child.class_:
            typed = _class_instances(triples, child.class_)
            badc = (
                slice_.where(F.col("o_kind") != "literal")
                .join(typed, "o", "left_anti")
                .unionByName(slice_.where(F.col("o_kind") == "literal"))
                .select(F.col("s").alias("o")).distinct()
            )
            parts.append(keys.join(badc, "o", "left_semi"))
    out = parts[0].select(*_TERM)
    for p in parts[1:]:
        out = out.unionByName(p.select(*_TERM))
    return out.distinct()


_FLAG_SEQ = __import__("itertools").count()


def _branch_viol_cond(triples: DataFrame, vals: DataFrame,
                      branch: PropertyShape):
    """→ ``(vals', Column)`` — the Column is True where the row's
    value violates ``branch``. Column-only branches compile in place
    (no join); join-backed ones (sh:class / nested sh:property) mark
    rows through a null-safe key join and return the marker column."""
    if branch.class_ is None and not branch.props:
        return vals, _value_cond(branch)
    flag = f"__branch{next(_FLAG_SEQ)}"
    v = _branch_violators(triples, vals, branch).select(
        *[F.col(k).alias(flag + k) for k in _TERM]
    ).withColumn(flag, F.lit(True))
    cond = None
    for k in _TERM:
        c = F.col(k).eqNullSafe(F.col(flag + k))
        cond = c if cond is None else (cond & c)
    vals = (
        vals.join(v, cond, "left")
        .drop(*[flag + k for k in _TERM])
        .withColumn(flag, F.coalesce(F.col(flag), F.lit(False)))
    )
    return vals, F.col(flag)


_TERM_TYPE = "struct<o:string,o_kind:string,o_datatype:string,o_lang:string>"


def _term(o, kind, datatype=None, lang=None):
    """A value-term struct (``o, o_kind, o_datatype, o_lang``)."""
    null = F.lit(None).cast("string")
    return F.struct(
        o.alias("o"),
        kind.alias("o_kind"),
        (null if datatype is None else datatype).alias("o_datatype"),
        (null if lang is None else lang).alias("o_lang"),
    )


def _agg_row(s, p=None, k=None, v=None, f=None) -> list:
    """One input row of a shape's aggregate on ``s``: predicate ``p``
    (plain-path values and targets), compound-path tag ``__k``, value
    term ``__v`` and focus term ``__f`` (set where ``s`` is a focus
    node of the shape)."""
    return [
        s.alias("s"),
        (F.lit(None).cast("string") if p is None else p).alias("p"),
        (F.lit(None).cast("int") if k is None else k).alias("__k"),
        (F.lit(None).cast(_TERM_TYPE) if v is None else v).alias("__v"),
        (F.lit(None).cast(_TERM_TYPE) if f is None else f).alias("__f"),
    ]


def _iris(x) -> List[str]:
    # str-or-list: the parser stores every sh:targetSubjectsOf /
    # targetObjectsOf value (§2.1.3.3/4 allow several); direct
    # construction may still pass a single string
    if not x:
        return []
    return [x] if isinstance(x, str) else list(x)


class _Values:
    """The value nodes of one property shape inside its node shape's
    aggregate on ``s``. A plain predicate path selects input rows
    (``sel``): its counts and value lists are aggregates over those
    rows, repeated triples included. A compound path, or the node-level
    pseudo path, is an array of distinct value terms per group
    (``arr``), read after the aggregate."""

    def __init__(self, aggs: list, sel=None, arr=None):
        self.aggs, self.sel, self.arr = aggs, sel, arr

    def count(self, cond=None):
        """Values per focus node (those where ``cond`` holds)."""
        if self.sel is None:
            return F.size(self.arr if cond is None else F.filter(self.arr, cond))
        sel = self.sel if cond is None else self.sel & cond(F.col("__v"))
        return _aggregate(self.aggs, F.count_if(sel))

    def where(self, cond=None):
        """Array of the value terms (those where ``cond`` holds)."""
        if self.sel is None:
            return self.arr if cond is None else F.filter(self.arr, cond)
        sel = self.sel if cond is None else self.sel & cond(F.col("__v"))
        return _aggregate(self.aggs, F.collect_list(F.when(sel, F.col("__v"))))


def _aggregate(aggs: list, expr):
    name = f"__a{len(aggs)}"
    aggs.append(expr.alias(name))
    return F.col(name)


def validate(
    triples: DataFrame,
    shapes: List[NodeShape],
    focus_override: Optional[Dict[str, DataFrame]] = None,
    _visiting: Optional[frozenset] = None,
    _registry: Optional[Dict[str, "NodeShape"]] = None,
) -> DataFrame:
    """All shapes against the triples table → violations DataFrame.

    ``focus_override[shape_iri]`` supplies explicit focus nodes (used
    internally for sh:node value validation). ``_visiting`` carries
    the sh:node recursion path so mutually-referencing node shapes
    (A sh:node B, B sh:node A — legal in SHACL shape graphs) terminate
    instead of recursing unboundedly on the driver."""
    by_iri = {sh.iri: sh for sh in shapes}
    if _registry:
        by_iri = {**_registry, **by_iri}
    _visiting = _visiting or frozenset()

    parts: List[DataFrame] = []
    for shape in shapes:
        if shape.deactivated:
            continue  # sh:deactivated true: shape contributes nothing
        override = (focus_override or {}).get(shape.iri)
        if override is None and not (
            shape.target_class or shape.target_nodes
            or shape.target_subjects_of or shape.target_objects_of
        ):
            continue  # shape only reachable via sh:node
        parts += _shape_violations(
            triples, shape, override, by_iri, _visiting
        )
    if not parts:
        return triples.limit(0).select(*[
            F.lit(None).cast(t).alias(c)
            for c, t in (f.split() for f in VIOLATION_SCHEMA.split(", "))
        ])
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _shape_violations(
    triples: DataFrame,
    shape: NodeShape,
    override: Optional[DataFrame],
    by_iri: Dict[str, NodeShape],
    visiting: frozenset,
) -> List[DataFrame]:
    """One node shape's violations: one scan of the predicates the
    shape reads and one aggregate on ``s`` give its focus nodes and
    every per-value and cardinality result; constraints that need a
    second relation join against that aggregate."""
    aggs = [F.collect_set("__f").alias("__focus")]
    focus_terms = F.col("__focus")
    value_term = _term(*[F.col(c) for c in _TERM])
    preds: set = set()  # plain predicates the scan reads
    extra: List[DataFrame] = []  # aggregate input rows beside the scan
    subject_focus = F.lit(False)  # scan rows whose subject is a focus
    objects_of: List[str] = []  # predicates whose objects are focus
    if override is not None:
        f = _norm_focus(override)
        extra.append(f.select(*_agg_row(F.col("focus"), f=_term(
            F.col("focus"), F.col("f_kind"), F.col("f_datatype"),
            F.col("f_lang"),
        ))))
    else:
        # every declared target (§2.1.3): class instances (SHACL
        # instances, through rdfs:subClassOf*), explicit nodes,
        # subjects-of, objects-of. Focus terms keep their kind, so a
        # LITERAL focus node (possible via targetObjectsOf — "every
        # object of ex:age …") keeps kind/datatype/lang for node-level
        # and zero-length-path checks.
        if shape.target_class:
            subject_focus = (F.col("p") == RDF_TYPE) & F.col("o").isin(
                _class_set(triples, shape.target_class)
            )
        subjects_of = _iris(shape.target_subjects_of)
        if subjects_of:
            subject_focus = subject_focus | F.col("p").isin(subjects_of)
        objects_of = _iris(shape.target_objects_of)
        preds |= {*subjects_of, *objects_of}
        if shape.target_nodes:
            nodes = triples.sparkSession.createDataFrame(
                pa.table({"s": pa.array(shape.target_nodes, pa.string())})
            )
            extra.append(nodes.select(*_agg_row(
                F.col("s"), f=_term(F.col("s"), _node_kind(F.col("s")))
            )))

    def plain(pred: str) -> _Values:
        preds.add(pred)
        return _Values(aggs, sel=F.col("p") == pred)

    results = []  # arrays of nullable result structs, one per check
    joined = []  # (ps, all values, {other predicate: its values})
    for k, ps in enumerate(shape.properties):
        kind = "pred" if ps.path_ast is None else ps.path_ast[0]
        if kind == "focus":
            # node-shape-level constraints: the value set of each focus
            # node is the node itself, with its real term metadata
            values = _Values(aggs, arr=focus_terms)
        elif kind == "pred":
            values = plain(ps.path)
        else:
            # compound path: the (s → value) relation joins the
            # aggregate input tagged with ``k``; zero-capable paths add
            # each focus node as its own value (§2.3.1)
            pairs, inc0 = _path_values(triples, ps.path_ast)
            extra.append(pairs.select(
                *_agg_row(F.col("s"), k=F.lit(k), v=value_term)
            ))
            arr = _aggregate(
                aggs, F.collect_set(F.when(F.col("__k") == k, F.col("__v")))
            )
            if inc0:
                arr = F.array_distinct(F.concat(arr, focus_terms))
            values = _Values(aggs, arr=arr)

        # sh:message replaces the engine's default text; each shape's
        # severity independently defaults to sh:Violation (§3.5 /
        # pyshacl) — a node shape's sh:severity does NOT cascade onto
        # its property shapes' results
        def result(comp, msg, value):
            return F.struct(
                F.lit(ps.path).cast("string").alias("path"),
                F.lit(comp).alias("constraint"),
                value.cast("string").alias("value"),
                F.lit(ps.message if ps.message is not None else msg)
                .alias("message"),
                F.lit(ps.severity or SEVERITY_VIOLATION).alias("severity"),
            )

        for comp, msg, violates in _value_checks(ps):
            results.append(F.transform(
                values.where(violates), lambda t: result(comp, msg, t["o"])
            ))
        if ps.max_count is not None:
            n = values.count()
            results.append(F.array(F.when(
                n > ps.max_count,
                result("maxCount", f"more than {ps.max_count} values", n),
            )))
        # per-focus results repeat per focus TERM: "x"@en and "x" as
        # objects-of focus nodes are two focus nodes with one string
        if ps.min_count is not None:
            n = values.count()
            results.append(F.transform(focus_terms, lambda _: F.when(
                n < ps.min_count,
                result("minCount", f"fewer than {ps.min_count} values", n),
            )))
        if ps.has_value is not None:
            n = values.count(lambda t: t["o"] == ps.has_value)
            results.append(F.transform(focus_terms, lambda _: F.when(
                n == 0,
                result("hasValue", f"required value {ps.has_value} absent",
                       F.lit(None)),
            )))
        if _needs_join(ps):
            others = {
                pred: plain(pred).where()
                for pred in (ps.less_than, ps.equals, ps.disjoint) if pred
            }
            joined.append((ps, values.where(), others))

    scan_cond = F.col("p").isin(sorted(preds)) | subject_focus
    main = _agg_row(
        F.col("s"), p=F.col("p"), v=value_term,
        f=F.when(subject_focus, _term(F.col("s"), _node_kind(F.col("s")))),
    )
    if objects_of:
        obj = _agg_row(F.col("o"), f=value_term)
        rows = (
            triples.where(scan_cond)
            .select(F.explode(F.array(
                F.struct(*main),
                F.when(F.col("p").isin(objects_of), F.struct(*obj)),
            )).alias("r"))
            .where(F.col("r").isNotNull())
            .select("r.*")
        )
    else:
        rows = triples.where(scan_cond).select(*main)
    for e in extra:
        rows = rows.unionByName(e)
    agg = rows.groupBy("s").agg(*aggs).where(F.size(focus_terms) > 0)

    out = []
    if results:
        out.append(agg.select(
            F.col("s").alias("focus"),
            F.inline(F.filter(F.concat(*results), lambda r: r.isNotNull())),
        ).select(
            "focus", F.lit(shape.iri).alias("shape"), "path", "constraint",
            "value", "message", "severity",
        ))
    focus_s = agg.select("s")
    for ps, all_values, others in joined:
        out += _joined_violations(
            triples, shape, ps,
            agg.select("s", F.inline(all_values)),
            agg.select("s", F.explode(focus_terms)).select("s"),
            {p: agg.select("s", F.inline(v)) for p, v in others.items()},
            by_iri, visiting,
        )
    if shape.closed:
        # SHACL §4.8.1: ONLY sh:ignoredProperties exempts extra
        # predicates — rdf:type is not implicitly allowed (pyshacl, the
        # reference's validator, flags it on closed shapes that don't
        # list it); only property shapes whose path is a single
        # predicate contribute to the allowed set — a compound path
        # never licenses a direct predicate on the focus node
        allowed = [
            p.path
            for p in shape.properties
            if p.path_ast is None or p.path_ast[0] == "pred"
        ] + shape.ignored
        stray = triples.join(focus_s, "s", "left_semi").where(
            ~F.col("p").isin(allowed)
        )
        out.append(stray.select(
            F.col("s").alias("focus"),
            F.lit(shape.iri).alias("shape"),
            F.col("p").alias("path"),
            F.lit("closed").alias("constraint"),
            F.col("o").cast("string").alias("value"),
            F.lit("predicate not allowed on closed shape").alias("message"),
            F.lit(shape.severity or SEVERITY_VIOLATION).alias("severity"),
        ))
    return out


def _needs_join(ps: PropertyShape) -> bool:
    """Whether ``ps`` has a constraint that needs a second relation."""
    return bool(
        ps.less_than or ps.equals or ps.disjoint or ps.unique_lang
        or ps.class_ is not None or ps.node
        or ps.or_ or ps.and_ or ps.not_ or ps.xone
        or (ps.qualified is not None and (
            ps.qualified_min is not None or ps.qualified_max is not None
        ))
    )


def _joined_violations(
    triples: DataFrame,
    shape: NodeShape,
    ps: PropertyShape,
    vals: DataFrame,
    focus_s: DataFrame,
    others: Dict[str, DataFrame],
    by_iri: Dict[str, NodeShape],
    visiting: frozenset,
) -> List[DataFrame]:
    """The constraints of ``ps`` that need a second relation (the value
    set of another predicate, class instances, a child shape, logical
    branches, a per-language count). ``vals`` is the (s, value term)
    relation and ``focus_s`` the focus nodes (one row per focus term),
    both read from the shape's aggregate."""
    out = []

    def viol_fn(df, c_, _m, value=None):
        return _viol(
            df, shape.iri, ps.path, c_,
            ps.message if ps.message is not None else _m,
            value, severity=ps.severity or SEVERITY_VIOLATION,
        )

    if ps.less_than:
        other = others[ps.less_than].select(
            F.col("s"), F.col("o").alias("o2"),
            F.col("o_datatype").alias("dt2"),
        )
        pairs = vals.select(
            "s", "o", F.col("o_datatype").alias("dt1")
        ).join(other, "s")
        both_num = F.col("dt1").isin(list(NUMERIC_DATATYPES)) & F.col(
            "dt2"
        ).isin(list(NUMERIC_DATATYPES))
        both_date = (F.col("dt1") == XSD + "date") & (
            F.col("dt2") == XSD + "date"
        )
        ok = (
            F.when(both_num, F.col("o").cast("double") < F.col("o2").cast("double"))
            .when(both_date, F.to_date("o") < F.to_date("o2"))
            .otherwise(F.col("o") < F.col("o2"))
        )
        out.append(viol_fn(
            pairs.where(~ok), "lessThan",
            f"value not less than <{ps.less_than}> value",
        ))

    if ps.unique_lang:
        dup = (
            vals.where(F.col("o_lang").isNotNull())
            .groupBy("s", F.lower(F.col("o_lang")).alias("lang"))
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
        )
        out.append(viol_fn(
            dup, "uniqueLang", "language tag used more than once",
            value=F.col("lang"),
        ))

    if ps.equals:
        # §4.6.1: violation for every value of path absent from
        # equals-path, and vice versa (symmetric diff, per focus node)
        other = others[ps.equals].select("s", "o")
        mine = vals.select("s", "o")
        bad = mine.join(other, ["s", "o"], "left_anti").unionByName(
            other.join(mine, ["s", "o"], "left_anti")
        )
        out.append(viol_fn(
            bad, "equals",
            f"value sets of <{ps.path}> and <{ps.equals}> differ",
        ))

    if ps.disjoint:
        other = others[ps.disjoint].select("s", "o")
        bad = vals.select("s", "o").join(other, ["s", "o"], "left_semi")
        out.append(viol_fn(
            bad, "disjoint", f"value shared with <{ps.disjoint}>",
        ))

    if ps.class_ is not None:
        # every value must be a SHACL instance of the class (rdf:type
        # via rdfs:subClassOf*, §2.1.3.1): one anti-join of the values
        # against the instance set
        typed = _class_instances(triples, ps.class_)
        bad = vals.where(F.col("o_kind") != "literal").join(
            typed, "o", "left_anti"
        ).unionByName(vals.where(F.col("o_kind") == "literal"))
        out.append(viol_fn(
            bad, "class", f"value is not an instance of <{ps.class_}>",
        ))

    for branches, comp, msg, combine in (
        # violates EVERY branch / ANY branch / the negated shape's
        # conformance / != 1 conforming branch (§4.6.3)
        (ps.or_, "or", "value conforms to no sh:or branch",
         lambda cs: _fold(cs, lambda a, b: a & b)),
        (ps.and_, "and", "value fails an sh:and branch",
         lambda cs: _fold(cs, lambda a, b: a | b)),
        ([ps.not_] if ps.not_ else None, "not",
         "value conforms to the negated shape", lambda cs: ~cs[0]),
        (ps.xone, "xone", "value conforms to != 1 sh:xone branch",
         lambda cs: sum(((~c).cast("int") for c in cs), F.lit(0)) != 1),
    ):
        if not branches:
            continue
        cur, conds = vals, []
        for b in branches:
            cur, c = _branch_viol_cond(triples, cur, b)
            conds.append(c)
        out.append(viol_fn(cur.where(combine(conds)), comp, msg))

    if ps.qualified is not None and (
        ps.qualified_min is not None or ps.qualified_max is not None
    ):
        conf = _conforming_values(triples, vals, ps.qualified)
        counts = conf.groupBy("s").agg(F.count("*").alias("n"))
        if ps.qualified_min is not None:
            under = (
                focus_s.join(counts, "s", "left")
                .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
                .where(F.col("n") < ps.qualified_min)
            )
            out.append(viol_fn(
                under, "qualifiedMinCount",
                f"fewer than {ps.qualified_min} conforming values",
                value=F.col("n"),
            ))
        if ps.qualified_max is not None:
            over = counts.where(F.col("n") > ps.qualified_max)
            out.append(viol_fn(
                over, "qualifiedMaxCount",
                f"more than {ps.qualified_max} conforming values",
                value=F.col("n"),
            ))

    if ps.node:
        child = by_iri.get(ps.node)
        if child is not None and child.iri not in visiting:
            child_focus = vals.select(
                F.col("o").alias("focus"),
                F.col("o_kind").alias("f_kind"),
                F.col("o_datatype").alias("f_datatype"),
                F.col("o_lang").alias("f_lang"),
            ).distinct()
            child_viols = validate(
                triples, [child],
                focus_override={child.iri: child_focus},
                _visiting=visiting | {shape.iri},
                _registry=by_iri,
            )
            # §4.7.3 NodeConstraintComponent: conformance of the value
            # node is checked against the child shape, but only the
            # OUTER 'node' result is a top-level report row — the
            # child's individual results belong under sh:detail, not in
            # the report (pyshacl/data-shapes suite behavior; found by
            # the manifest-driven W3C suite: node-001).
            bad_vals = vals.join(
                child_viols.select(F.col("focus").alias("o")).distinct(),
                "o", "left_semi",
            )
            out.append(viol_fn(
                bad_vals, "node", f"value does not conform to <{ps.node}>",
            ))
    return out


def _fold(cols, op):
    out = cols[0]
    for c in cols[1:]:
        out = op(out, c)
    return out


def conforms(
    triples: DataFrame,
    shapes: List[NodeShape],
    allow_warnings: bool = False,
) -> bool:
    """Spec default (§3.4.1): ANY validation result, whatever its
    severity, makes the report non-conforming — pyshacl's default too.
    ``allow_warnings=True`` mirrors pyshacl's knob of the same name:
    only sh:Violation results then break conformance."""
    report = validate(triples, shapes)
    if allow_warnings:
        report = report.where(F.col("severity") == SEVERITY_VIOLATION)
    return report.isEmpty()


def assert_conforms(triples: DataFrame, shapes: List[NodeShape]) -> None:
    """The reference's hard-assert form (handler.py:75-81)."""
    sample = validate(triples, shapes).limit(5).collect()
    assert not sample, f"SHACL validation failed; first violations: {sample}"
