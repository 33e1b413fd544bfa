"""Loader for W3C-style test-suite manifests (VERDICT r04 #6).

The public `w3c/rdf-tests` (sparql11 / data-r2) and `w3c/data-shapes`
suites are machine-readable: a Turtle ``manifest.ttl`` in the
`mf:`/`qt:` (SPARQL) or `sht:` (SHACL) vocabularies points at query /
data / expected-result files. This sandbox has no network, so the
manifests under ``tests/w3c/`` are *checked-in subsets* transcribed
from the published suites in the suites' own on-disk format — the
point of this loader (vs the earlier hand-written pytest vectors) is
that coverage now scales by adding declarative entries, exclusions
are a visible per-entry skip-list with reasons, and the repo's own
Turtle parser (`rdf/turtle.py`) is exercised as the manifest/data/
result reader exactly the way a real conformance runner would use it.

Vocabulary references (all public):
- mf: http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#
- qt: http://www.w3.org/2001/sw/DataAccess/tests/test-query#
- rs: http://www.w3.org/2001/sw/DataAccess/tests/result-set#
  (the data-r2 suite's Turtle encoding of SELECT/ASK results)
- sht: http://www.w3.org/ns/shacl-test# (data-shapes suite)
"""

from __future__ import annotations

from pathlib import Path
from typing import Dict, List, NamedTuple, Optional, Tuple

from py_sema_spark.rdf.terms import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    Term,
)
from py_sema_spark.rdf.turtle import parse_turtle

MF = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
QT = "http://www.w3.org/2001/sw/DataAccess/tests/test-query#"
RS = "http://www.w3.org/2001/sw/DataAccess/tests/result-set#"
SHT = "http://www.w3.org/ns/shacl-test#"
SH = "http://www.w3.org/ns/shacl#"
RDFS_COMMENT = "http://www.w3.org/2000/01/rdf-schema#comment"


class Graph:
    """Minimal subject-indexed view over a parsed Turtle document —
    just enough navigation (objects-of, RDF collections) to walk a
    test manifest."""

    def __init__(self, triples):
        self.triples = list(triples)
        self._by_s: Dict[str, list] = {}
        for t in self.triples:
            self._by_s.setdefault(t.s.value, []).append(t)

    def objs(self, s: str, p: str) -> List[Term]:
        return [t.o for t in self._by_s.get(s, ()) if t.p.value == p]

    def obj(self, s: str, p: str) -> Optional[Term]:
        found = self.objs(s, p)
        return found[0] if found else None

    def subjects_of_type(self, cls: str) -> List[str]:
        return [
            t.s.value
            for t in self.triples
            if t.p.value == RDF_TYPE and t.o.value == cls
        ]

    def rdf_list(self, head: Optional[Term]) -> List[Term]:
        out: List[Term] = []
        while head is not None and head.value != RDF_NIL:
            first = self.obj(head.value, RDF_FIRST)
            if first is not None:
                out.append(first)
            head = self.obj(head.value, RDF_REST)
        return out


def _file_uri(path: Path) -> str:
    return "file://" + str(path.resolve())


def _to_path(iri_value: str) -> Path:
    if not iri_value.startswith("file://"):
        raise ValueError(f"manifest reference is not a file IRI: {iri_value}")
    return Path(iri_value[len("file://"):])


def parse_file(path: Path) -> Graph:
    return Graph(parse_turtle(path.read_text(), base=_file_uri(path)))


class ManifestEntry(NamedTuple):
    name: str
    type: str  # full IRI of the mf/sht test class
    comment: str
    action: Dict[str, Path]  # qt:query/qt:data or sht:dataGraph/...
    result: object  # Path (file) or a (Graph, node) pair (inline bnode)


def load_manifest(manifest_path: Path) -> List[ManifestEntry]:
    g = parse_file(manifest_path)
    manifests = g.subjects_of_type(MF + "Manifest")
    assert len(manifests) == 1, f"expected one mf:Manifest in {manifest_path}"
    entries = []
    for node in g.rdf_list(g.obj(manifests[0], MF + "entries")):
        s = node.value
        typ = g.obj(s, RDF_TYPE)
        name = g.obj(s, MF + "name")
        comment = g.obj(s, RDFS_COMMENT)
        action_node = g.obj(s, MF + "action")
        action: Dict[str, Path] = {}
        if action_node is not None:
            if action_node.kind == "iri":
                # syntax tests: mf:action IS the query file IRI
                action["query"] = _to_path(action_node.value)
            else:
                for t in g._by_s.get(action_node.value, ()):
                    if t.p.value.startswith((QT, SHT)):
                        key = t.p.value.split("#", 1)[1]
                        action[key] = _to_path(t.o.value)
        result_term = g.obj(s, MF + "result")
        result: object = None
        if result_term is not None:
            if result_term.kind == "iri":
                result = _to_path(result_term.value)
            else:  # inline (SHACL reports are bnodes in the manifest)
                result = (g, result_term.value)
        entries.append(
            ManifestEntry(
                name=name.value if name else s,
                type=typ.value if typ else "",
                comment=comment.value if comment else "",
                action=action,
                result=result,
            )
        )
    return entries


# ------------------------------------------------- rs: result parsing

class ExpectedResults(NamedTuple):
    variables: List[str]
    # each solution: {var: Term}; ordered=True iff rs:index present
    solutions: List[Dict[str, Term]]
    ordered: bool
    boolean: Optional[bool]  # ASK results


def load_result_set(path: Path) -> ExpectedResults:
    g = parse_file(path)
    roots = g.subjects_of_type(RS + "ResultSet")
    assert len(roots) == 1, f"expected one rs:ResultSet in {path}"
    root = roots[0]
    b = g.obj(root, RS + "boolean")
    if b is not None:
        return ExpectedResults([], [], False, b.value == "true")
    variables = [t.value for t in g.objs(root, RS + "resultVariable")]
    sols: List[Tuple[Optional[int], Dict[str, Term]]] = []
    ordered = False
    for sol in g.objs(root, RS + "solution"):
        idx_t = g.obj(sol.value, RS + "index")
        idx = int(idx_t.value) if idx_t is not None else None
        ordered = ordered or idx is not None
        binding: Dict[str, Term] = {}
        for bnode in g.objs(sol.value, RS + "binding"):
            var = g.obj(bnode.value, RS + "variable")
            val = g.obj(bnode.value, RS + "value")
            if var is not None and val is not None:
                binding[var.value] = val
        sols.append((idx, binding))
    if ordered:
        sols.sort(key=lambda p: (p[0] is None, p[0]))
    return ExpectedResults(
        variables, [b for _, b in sols], ordered, None
    )


# ------------------------------------------------- sht: report parsing

class ExpectedReport(NamedTuple):
    conforms: bool
    # (focusNode, resultPath-or-None, engine constraint id)
    results: List[Tuple[str, Optional[str], str]]


def component_id(component_iri: str) -> str:
    """sh:MinCountConstraintComponent -> the engine's 'minCount' id
    (W3C component local names, lower-camel — the r4 report contract)."""
    local = component_iri.rsplit("#", 1)[-1]
    suffix = "ConstraintComponent"
    if local.endswith(suffix):
        local = local[: -len(suffix)]
    return local[0].lower() + local[1:]


def path_term_to_str(g: Graph, term: Term) -> str:
    """SHACL path structure (the suite's sh:resultPath encoding) → the
    engine's report string form: IRI as-is, [sh:inversePath p] → ^p,
    (p q) sequence list → p/q, one/zero closures → p+ / p* / p?,
    [sh:alternativePath (p q)] → p|q — mirroring shacl.path_str."""
    if term.kind == "iri":
        return term.value
    s = term.value
    inv = g.obj(s, SH + "inversePath")
    if inv is not None:
        return "^" + path_term_to_str(g, inv)
    alt = g.obj(s, SH + "alternativePath")
    if alt is not None:
        return "|".join(
            path_term_to_str(g, t) for t in g.rdf_list(alt)
        )
    for pred, suffix in (
        ("oneOrMorePath", "+"),
        ("zeroOrMorePath", "*"),
        ("zeroOrOnePath", "?"),
    ):
        sub = g.obj(s, SH + pred)
        if sub is not None:
            return path_term_to_str(g, sub) + suffix
    if g.obj(s, RDF_FIRST) is not None:  # sequence list
        return "/".join(
            path_term_to_str(g, t) for t in g.rdf_list(term)
        )
    return s


def load_validation_report(result) -> ExpectedReport:
    """Parse an inline mf:result sh:ValidationReport bnode."""
    g, node = result
    conf = g.obj(node, SH + "conforms")
    results: List[Tuple[str, Optional[str], str]] = []
    for r in g.objs(node, SH + "result"):
        focus = g.obj(r.value, SH + "focusNode")
        path_t = g.obj(r.value, SH + "resultPath")
        path = (
            Term(path_term_to_str(g, path_t), "iri")
            if path_t is not None
            else None
        )
        comp = g.obj(r.value, SH + "sourceConstraintComponent")
        results.append(
            (
                focus.value if focus else None,
                path.value if path else None,
                component_id(comp.value) if comp else "",
            )
        )
    return ExpectedReport(
        conf is not None and conf.value == "true", results
    )


# ------------------------------------------------- engine-side compare

def _cell_matches(engine_value, term: Optional[Term]) -> bool:
    """Engine contract: projected RDF-term variables come back as
    lexical strings (IRIs in full, literals by lexical form, bnodes
    as skolem/_: labels), computed values as native numbers/bools,
    unbound as None. Expected terms come from the rs: graph."""
    if term is None:
        return engine_value is None
    if engine_value is None:
        return False
    if isinstance(engine_value, bool):
        return term.value in (
            "true" if engine_value else "false",
            "1" if engine_value else "0",
        )
    if isinstance(engine_value, (int, float)):
        try:
            return float(term.value) == float(engine_value)
        except (TypeError, ValueError):
            return False
    if term.kind == "bnode":
        # bnode labels are scoped to each document, so any engine bnode
        # matches here; compare_select enforces the label bijection
        return _is_engine_bnode(engine_value)
    if term.kind == "literal" and term.datatype and term.datatype.endswith(
        ("#double", "#float", "#decimal")
    ):
        try:
            return float(term.value) == float(engine_value)
        except (TypeError, ValueError):
            pass
    return str(engine_value) == term.value


def _is_engine_bnode(value) -> bool:
    return isinstance(value, str) and value.startswith(("_:", "urn:skolem:"))


def _has_bnode(solution: Dict[str, Term]) -> bool:
    return any(t.kind == "bnode" for t in solution.values())


def _row_match(engine_row, solution, variables, fwd, bwd):
    """The bnode label maps (engine -> expected, expected -> engine)
    extended by matching ``engine_row`` to ``solution``, or None when
    a cell differs or a label would map to two labels."""
    fwd, bwd = dict(fwd), dict(bwd)
    for var in variables:
        value, term = engine_row.get(var), solution.get(var)
        if not _cell_matches(value, term):
            return None
        if term is not None and term.kind == "bnode":
            if fwd.setdefault(value, term.value) != term.value:
                return None
            if bwd.setdefault(term.value, value) != value:
                return None
    return fwd, bwd


def _match_all(rows, solutions, variables, fwd, bwd) -> bool:
    """Backtracking match of ``rows`` onto ``solutions`` under one
    bnode label bijection for the whole result set."""
    if not rows:
        return True
    for i, sol in enumerate(solutions):
        maps = _row_match(rows[0], sol, variables, fwd, bwd)
        if maps is not None and _match_all(
            rows[1:], solutions[:i] + solutions[i + 1:], variables, *maps
        ):
            return True
    return False


def compare_select(rows, expected: ExpectedResults) -> Optional[str]:
    """None if the engine rows match the expected solution multiset
    (or sequence, when ordered) with one bijection between engine and
    expected bnode labels over the result set; else a human-readable
    mismatch."""
    got = [row.asDict() for row in rows]
    if len(got) != len(expected.solutions):
        return (
            f"cardinality: engine={len(got)} "
            f"expected={len(expected.solutions)}"
        )
    variables = expected.variables

    if expected.ordered:
        maps = ({}, {})
        for i, (er, sol) in enumerate(zip(got, expected.solutions)):
            maps = _row_match(er, sol, variables, *maps)
            if maps is None:
                return f"ordered mismatch at index {i}: {er} vs {sol}"
        return None
    # unordered: rows without bnodes match independently of the label
    # map, greedily (solution multisets are tiny); the rest backtrack
    plain = [sol for sol in expected.solutions if not _has_bnode(sol)]
    with_bnodes = [sol for sol in expected.solutions if _has_bnode(sol)]
    rest = []
    for er in got:
        hit = next(
            (
                i for i, sol in enumerate(plain)
                if _row_match(er, sol, variables, {}, {}) is not None
            ),
            None,
        )
        if hit is None:
            rest.append(er)
        else:
            plain.pop(hit)
    if plain or not _match_all(rest, with_bnodes, variables, {}, {}):
        return (
            f"engine rows {rest} match no bijective assignment to the "
            f"remaining expected solutions {plain + with_bnodes}"
        )
    return None
