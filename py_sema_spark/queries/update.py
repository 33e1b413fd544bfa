"""SPARQL 1.1 Update (subset) compiled to DataFrame set algebra.

The reference mutates stores through rdflib graph ops — ``insert``
adds a (skolemized) graph to a named graph and ``drop_graph`` removes
one (/root/reference/sema/commons/store/store.py:384-395,507-510); it
never interprets SPARQL Update strings itself because rdflib's
endpoint does. A user coming from an endpoint workflow still writes
the update verbs, so they are compiled here over the same triples
table the SELECT/CONSTRUCT compilers use:

======================  =============================================
verb                    plan shape
======================  =============================================
``INSERT DATA``         union of a literal ground-triple frame +
                        set-dedup (U2 semantics)
``DELETE DATA``         broadcast anti-join on the ground triples
``DELETE WHERE``        pattern → CONSTRUCT of the matched triples →
                        broadcast anti-join
``DELETE/INSERT …       both templates instantiated from ONE shared
WHERE``                 solution frame (:func:`..bgp.instantiate_template`),
                        anti-join for the delete side, union+dedup
                        for the insert side
``CLEAR/DROP GRAPH``    partition-pruned filter on ``g`` (Iceberg:
                        a metadata-only ``DELETE WHERE g = …``)
======================  =============================================

Several operations separated by ``;`` apply left-to-right, each seeing
the previous result (SPARQL 1.1 Update §3 sequence semantics).

Scale shape: the WHERE solution compiles exactly as a SELECT
(predicate-slice pushdown, broadcast dims — bgp.py module docstring);
delete sets are bounded by their match and broadcast, so the corpus
side is never shuffled by a delete; the insert union's set-dedup is
the one added exchange and is fused with the bucketed materialize at
write time (model.dedup_triples docstring).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import (
    Path,
    Term,
    _balanced_block,
    _parse_patterns,
    bgp_select,
    instantiate_template,
    parse_template,
    template_needs,
)

__all__ = ["apply_update", "parse_update"]

_PREFIX_RE = re.compile(r"(?i)\bPREFIX\s+((?:[A-Za-z_][\w.-]*)?):\s*<([^>]*)>")


def _mask_strings(text: str) -> str:
    """Same-length copy of ``text`` with quoted-literal contents
    blanked, so keyword regexes (PREFIX, GRAPH) can't fire inside a
    string literal. Span positions in the mask equal positions in the
    original, so matches found here index into the real text."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        if text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"':
                out[j] = " "
                if text[j] == "\\" and j + 1 < n:
                    out[j + 1] = " "
                    j += 2
                else:
                    j += 1
            i = j
        i += 1
    return "".join(out)
_VERB_RE = re.compile(
    r"(?is)^\s*(?P<verb>INSERT\s+DATA|DELETE\s+DATA|DELETE\s+WHERE"
    r"|INSERT|DELETE|CLEAR|DROP)\b"
)
_WITH_RE = re.compile(r"(?is)^\s*WITH\s*<(?P<iri>[^>]*)>\s*")
_GRAPH_WRAP_RE = re.compile(r"(?is)^\s*GRAPH\s*<(?P<iri>[^>]*)>\s*(?=\{)")
_GRAPH_TGT_RE = re.compile(
    r"(?is)^\s*(?:SILENT\s+)?(?:GRAPH\s*<(?P<iri>[^>]*)>|(?P<all>ALL)"
    r"|(?P<default>DEFAULT))\s*$"
)


def _split_ops(text: str) -> List[str]:
    """Split an update request on ``;`` outside braces/quotes/IRIs."""
    ops, depth, start, i, n = [], 0, 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        elif ch == "<":
            # IRI only if whitespace-free up to '>'; a bare '<' (FILTER
            # comparison) must not swallow text up to an unrelated '>'
            j = text.find(">", i + 1)
            if j != -1 and not any(c.isspace() for c in text[i + 1:j]):
                i = j
        elif ch == '"':
            # scan with explicit escape skipping: "C:\\" ends at the
            # real closing quote (looking back one char misreads an
            # escaped backslash as escaping the quote)
            j = i + 1
            while j < n and text[j] != '"':
                j += 2 if text[j] == "\\" else 1
            i = j
        elif ch == ";" and depth == 0:
            ops.append(text[start:i])
            start = i + 1
        i += 1
    ops.append(text[start:])
    return [op for op in ops if op.strip()]


def _strip_graph_wrapper(block: str):
    """If ``block`` is exactly one ``GRAPH <iri> { … }`` group (plus
    whitespace), return ``(iri, inner)``; else ``(None, block)``."""
    m = _GRAPH_WRAP_RE.match(block)
    if not m:
        return None, block
    inner, after = _balanced_block(block, block.index("{", m.end() - 1))
    if block[after:].strip():
        return None, block  # trailing patterns outside the wrapper
    return m.group("iri"), inner


def parse_update(
    text: str, prefixes: Optional[Dict[str, str]] = None
) -> Tuple[Dict[str, str], List[dict]]:
    """→ (prefix map, list of op dicts). Op kinds: ``insert_data``,
    ``delete_data`` (ground ``triples`` lists), ``modify``
    (``delete_tpl``/``insert_tpl``/``where`` strings), ``clear``
    (``graph``: IRI or ``None`` for ALL)."""
    pfx = dict(prefixes or {})
    # match on the string-masked copy so "…PREFIX ex: <u>…" inside a
    # quoted literal is neither harvested nor stripped from the data
    masked = _mask_strings(text)
    parts: List[str] = []
    last = 0
    for m in _PREFIX_RE.finditer(masked):
        pfx[m.group(1)] = m.group(2)
        parts.append(text[last : m.start()])
        last = m.end()
    body = "".join(parts) + text[last:]
    ops: List[dict] = []
    for op_text in _split_ops(body):
        with_graph = None
        wm = _WITH_RE.match(op_text)
        if wm:  # WITH <g> DELETE/INSERT … (SPARQL Update §3.1.3)
            with_graph = wm.group("iri")
            op_text = op_text[wm.end():]
        m = _VERB_RE.match(op_text)
        if not m:
            raise ValueError(f"unsupported update operation: {op_text!r}")
        verb = re.sub(r"\s+", " ", m.group("verb").upper())
        rest = op_text[m.end():]
        if verb in ("INSERT DATA", "DELETE DATA"):
            inner, _ = _balanced_block(rest, rest.index("{"))
            ops.append({
                "kind": "insert_data" if verb == "INSERT DATA" else "delete_data",
                "quads": _parse_ground(inner, pfx),
            })
        elif verb == "DELETE WHERE":
            inner, _ = _balanced_block(rest, rest.index("{"))
            g_scope, inner = _strip_graph_wrapper(inner)
            ops.append({
                "kind": "modify",
                "delete_tpl": inner,
                "insert_tpl": None,
                "where": inner,
                "graph": g_scope if g_scope is not None else with_graph,
            })
        elif verb in ("INSERT", "DELETE"):
            first, after = _balanced_block(rest, rest.index("{"))
            delete_tpl = first if verb == "DELETE" else None
            insert_tpl = first if verb == "INSERT" else None
            tail = rest[after:]
            im = re.match(r"(?is)\s*INSERT\s*(?=\{)", tail)
            if verb == "DELETE" and im:
                insert_tpl, after2 = _balanced_block(
                    tail, tail.index("{", im.end() - 1)
                )
                tail = tail[after2:]
            wm = re.match(r"(?is)\s*WHERE\s*(?=\{)", tail)
            if not wm:
                raise ValueError(
                    f"{verb} template without WHERE: {op_text!r}"
                )
            where, _ = _balanced_block(tail, tail.index("{", wm.end() - 1))
            # a single GRAPH <g> { … } wrapper on every present block
            # scopes the whole op to that graph (the form rdflib's
            # SPARQLUpdateStore emits against a quad store); mixed
            # graphs across blocks are not supported
            scopes = []
            parts = []
            for blk in (delete_tpl, insert_tpl, where):
                if blk is None:
                    parts.append(None)
                    continue
                g_scope, stripped = _strip_graph_wrapper(blk)
                scopes.append(g_scope)
                parts.append(stripped)
            uniq = set(scopes)
            if len(uniq) > 1:
                raise ValueError(
                    "mixed GRAPH scopes in one DELETE/INSERT op are "
                    f"not supported: {op_text!r}"
                )
            g_scope = uniq.pop() if uniq else None
            delete_tpl, insert_tpl, where = parts
            ops.append({
                "kind": "modify",
                "delete_tpl": delete_tpl,
                "insert_tpl": insert_tpl,
                "where": where,
                "graph": g_scope if g_scope is not None else with_graph,
            })
        else:  # CLEAR / DROP — same effect on a table-backed store
            g = _GRAPH_TGT_RE.match(rest)
            if not g:
                raise ValueError(f"unsupported {verb} target: {rest!r}")
            ops.append({
                "kind": "clear",
                "graph": g.group("iri"),  # None → ALL / DEFAULT
                "all": bool(g.group("all")),
            })
    return pfx, ops


def _parse_ground(
    inner: str, pfx: Dict[str, str]
) -> List[Tuple[Optional[str], tuple]]:
    """Ground-triple block (optionally with ``GRAPH <g> { … }``
    sub-blocks) → list of (graph-or-None, (s,p,o,o_kind,o_datatype,
    o_lang)). Variables are illegal in DATA blocks per the spec."""
    quads: List[Tuple[Optional[str], tuple]] = []
    i, n = 0, len(inner)
    plain_parts: List[str] = []
    masked = _mask_strings(inner)  # a literal "GRAPH <g> {" is data
    while i < n:
        gm = re.compile(r"(?is)\bGRAPH\s*<([^>]*)>\s*\{").search(masked, i)
        if not gm:
            plain_parts.append(inner[i:])
            break
        plain_parts.append(inner[i:gm.start()])
        block, after = _balanced_block(inner, inner.index("{", gm.start()))
        for t in _ground_triples(block, pfx):
            quads.append((gm.group(1), t))
        i = after
    plain = " ".join(plain_parts)
    if plain.strip():
        for t in _ground_triples(plain, pfx):
            quads.append((None, t))
    return quads


def _ground_triples(text: str, pfx: Dict[str, str]) -> List[tuple]:
    out = []
    for s, p, o in _parse_patterns(text, pfx):
        if isinstance(p, Path):
            if not p.is_simple_iri:
                raise ValueError("property paths are illegal in DATA blocks")
            p = Term("iri", p.args)
        for term in (s, p, o):
            if term.kind == "var":
                raise ValueError(
                    f"variable ?{term.value} is illegal in a DATA block"
                )
        out.append((s.value, p.value, o.value, o.kind, o.dt, o.lang))
    return out


def _quads_frame(triples: DataFrame, quads, has_g: bool) -> DataFrame:
    """The DATA block as a frame, built from an Arrow table: it plans as
    a ``LocalRelation``, so unions and broadcasts of it start no job."""
    import pyarrow as pa

    names = (["g"] if has_g else []) + _TRIPLE_KEY
    rows = [((g,) if has_g else ()) + tuple(t) for g, t in quads]
    cols = list(zip(*rows)) or [()] * len(names)
    table = pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    return triples.sparkSession.createDataFrame(
        table, ", ".join(f"{n} string" for n in names)
    )


_TRIPLE_KEY = ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]


def _anti(triples: DataFrame, del_set: DataFrame) -> DataFrame:
    """Remove ``del_set``'s triples — broadcast anti-join, null-safe on
    the nullable literal metadata so ``"x"`` and ``"x"@en`` stay
    distinct. Graph-scoped rows (non-null ``g`` in ``del_set``) only
    match their graph; graph-less delete rows match in every graph
    (triple-level DELETE over a quads table)."""
    keys = list(_TRIPLE_KEY)
    d = del_set
    cond = None
    for k in keys:
        c = triples[k].eqNullSafe(d[k]) if k in d.columns else None
        if c is not None:
            cond = c if cond is None else (cond & c)
    if "g" in triples.columns and "g" in d.columns:
        cond = cond & (d["g"].isNull() | triples["g"].eqNullSafe(d["g"]))
    return triples.join(F.broadcast(d), cond, "left_anti")


def apply_update(
    triples: DataFrame,
    update: str,
    prefixes: Optional[Dict[str, str]] = None,
    default_graph: Optional[str] = None,
    dedup: bool = True,
) -> DataFrame:
    """Apply a SPARQL Update request to a triples (or quads) DataFrame
    and return the updated frame — same columns, set semantics
    preserved (``dedup=False`` leaves the final set-dedup, a shuffle
    and so one more Spark job, to a caller that dedups the collected
    rows itself, as the parquet store does when it writes).
    ``default_graph`` names the graph identity of the frame: on a
    quads table, the graph that graph-less INSERT rows land in; on a
    g-less (single-graph) table, the IRI this frame IS, so
    graph-targeted DELETE/CLEAR ops apply only when they name it (a
    ``DELETE DATA { GRAPH <other> … }`` routed to graph A must not
    mutate A)."""
    pfx, ops = parse_update(update, prefixes)
    has_g = "g" in triples.columns

    def _this_graph(g: Optional[str]) -> bool:
        """On a g-less frame: does a graph-targeted quad address us?"""
        return g is None or (default_graph is not None and g == default_graph)

    # set-dedup is deferred: anti-joins are duplicate-insensitive, so
    # consecutive INSERT/DELETE ops share ONE dedup exchange — but a
    # modify op's WHERE counts solutions, so the frame must be a set
    # before any BGP evaluation (and before returning)
    dirty = False

    def _dedup(df: DataFrame) -> DataFrame:
        return df.dropDuplicates(_TRIPLE_KEY + (["g"] if has_g else []))

    out = triples
    for op in ops:
        if op["kind"] == "insert_data":
            quads = op["quads"]
            if not has_g and default_graph is not None:
                # same routing as delete_data: a g-less frame only
                # accepts quads addressed to it — GRAPH <other> data
                # must not land here
                quads = [(g, t) for g, t in quads if _this_graph(g)]
            add = _quads_frame(out, [
                ((g or default_graph) if has_g else g, t)
                for g, t in quads
            ], has_g)
            out = out.unionByName(add, allowMissingColumns=True)
            dirty = True
        elif op["kind"] == "delete_data":
            quads = op["quads"]
            if not has_g and default_graph is not None:
                quads = [(g, t) for g, t in quads if _this_graph(g)]
            out = _anti(out, _quads_frame(out, quads, has_g))
        elif op["kind"] == "modify":
            # SPARQL Update §3.1.3: WHERE is evaluated once against the
            # state at the start of THIS operation; both templates
            # instantiate from the SAME solution frame (compiled once,
            # lazily checkpointed so delete + insert don't recompute it)
            if dirty:
                out, dirty = _dedup(out), False
            g_scope = op.get("graph")
            if g_scope is not None and not has_g:
                # a g-less frame only answers ops addressed to itself;
                # its own graph-less rows ARE that graph then
                if not _this_graph(g_scope):
                    continue
                g_scope = None
            pre = out
            # graph-scoped modify: solutions come from that graph's
            # slice only, and the delete/insert sets land back in it
            sol_src = (
                pre.where(F.col("g").eqNullSafe(F.lit(g_scope))).drop("g")
                if g_scope is not None
                else pre
            )
            tpl_del = (
                parse_template(op["delete_tpl"], pfx)
                if op["delete_tpl"] is not None
                else None
            )
            tpl_ins = (
                parse_template(op["insert_tpl"], pfx)
                if op["insert_tpl"] is not None
                else None
            )
            needs: Dict[str, set] = {}
            for tpl in (tpl_del, tpl_ins):
                if tpl is not None:
                    for v, cols in template_needs(tpl).items():
                        needs.setdefault(v, set()).update(cols)
            sol = bgp_select(
                sol_src,
                f"SELECT * WHERE {{ {op['where']} }}",
                pfx,
                _extra_needs=needs,
                _keep_meta=True,
            )
            if tpl_del is not None and tpl_ins is not None:
                sol = sol.localCheckpoint(eager=False)
            if tpl_del is not None:
                del_set = instantiate_template(sol, tpl_del)
                if g_scope is not None:
                    del_set = del_set.withColumn("g", F.lit(g_scope))
                out = _anti(pre, del_set)
            if tpl_ins is not None:
                ins_set = instantiate_template(sol, tpl_ins)
                if has_g and (g_scope or default_graph) is not None:
                    ins_set = ins_set.withColumn(
                        "g", F.lit(g_scope or default_graph)
                    )
                out = out.unionByName(ins_set, allowMissingColumns=True)
                dirty = True
        elif op["kind"] == "clear":
            if op["all"]:
                out = out.limit(0)
            elif op["graph"] is not None:
                if has_g:
                    out = out.where(
                        ~F.col("g").eqNullSafe(F.lit(op["graph"]))
                    )
                elif _this_graph(op["graph"]) and default_graph is not None:
                    out = out.limit(0)
                # else: a g-less frame cannot address other named
                # graphs — CLEAR GRAPH <other> is a no-op here, never
                # a wipe of THIS graph's data
            elif not has_g:
                # CLEAR DEFAULT: a g-less frame IS the default graph
                # only when it carries no named identity
                if default_graph is None:
                    out = out.limit(0)
            else:
                # quads table: the default graph is the g-NULL rows
                # plus, when the store materializes it under an IRI,
                # that graph's rows too
                cond = F.col("g").isNotNull()
                if default_graph is not None:
                    cond = cond & (F.col("g") != F.lit(default_graph))
                out = out.where(cond)
    return _dedup(out) if dirty and dedup else out
