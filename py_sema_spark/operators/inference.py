"""RDFS entailment materialization over a distributed triple table.

The reference delegates all reasoning-adjacent work to rdflib's
in-memory graph (e.g. ``/root/reference/sema/query/__init__.py`` runs
SPARQL over a fully materialized ``Graph``); at corpus scale the
forward-chained RDFS closure has to be computed as relational algebra
instead. This module implements the classic stratified evaluation of
the ρdf fragment (Muñoz, Pérez & Gutierrez 2009, "Simple and Efficient
Minimal RDFS"): because the *schema* (subClassOf / subPropertyOf /
domain / range statements) is minuscule compared to the *instance*
data, every rule becomes a broadcast join of the huge triple table
against a driver-sized schema closure — no instance-side self-join
ever happens, which is what makes the operator viable at 10^11 triples.

Rule order (each feeds the next, a single pass is a fixpoint for
ρdf as long as the schema does not meta-model the RDFS vocabulary
itself, i.e. no ``rdfs:subPropertyOf rdfs:subPropertyOf …``):

1. rdfs5   subPropertyOf transitivity        (schema-only closure)
2. rdfs7   (s p o), p ⊑ q        → (s q o)   (broadcast join)
3. rdfs2   (s p o), p domain C   → (s a C)   (broadcast join)
4. rdfs3   (s p o), p range C    → (o a C)   (broadcast join, IRI o)
5. rdfs11  subClassOf transitivity           (schema-only closure)
6. rdfs9   (s a C), C ⊑ D        → (s a D)   (broadcast join)

Reflexive entailments (rdfs6/8/10: ``C ⊑ C``) and the axiomatic
container-membership triples are deliberately out of the fragment —
they add no information and bloat the output linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .closure import reachable_pairs

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"

RDF_TYPE = RDF_NS + "type"
SUBCLASS = RDFS_NS + "subClassOf"
SUBPROP = RDFS_NS + "subPropertyOf"
DOMAIN = RDFS_NS + "domain"
RANGE = RDFS_NS + "range"


def _with_iri(triples: DataFrame, o_kind_col: str) -> DataFrame:
    """Normalize to ``(s, p, o, _iri)`` with one lineage cut — shared
    by both entailment operators so their IRI-object semantics can't
    drift. The checkpoint matters: the frame feeds many plan branches
    and Spark would otherwise recompute the upstream subtree per
    consumer."""
    has_kind = o_kind_col in triples.columns
    return triples.select(
        "s",
        "p",
        "o",
        (F.col(o_kind_col) == F.lit("iri")).alias("_iri")
        if has_kind
        else F.lit(True).alias("_iri"),
    ).localCheckpoint(eager=False)


def _spo(df: DataFrame) -> DataFrame:
    return df.select("s", "p", "o")


def rdfs_entailment(
    triples: DataFrame,
    o_kind_col: str = "o_kind",
) -> DataFrame:
    """Materialize the RDFS (ρdf) closure of ``triples``.

    ``triples`` needs columns ``(s, p, o)``; when ``o_kind_col`` is
    present, the range rule (rdfs3) only fires for rows whose object
    is an IRI (``o_kind = 'iri'``) — literals have no types. Schema
    statements are read from the same frame, the universal RDF idiom
    (ontologies ship in-band).

    Returns the DISTINCT entailed graph as ``(s, p, o)`` — input
    triples, rdfs7-expanded property triples, rdfs2/3 type triples,
    the rdfs9-propagated types, and the transitive schema closures
    themselves (rdfs5/11 entail those as triples too).

    Scale shape: the four schema slices are filtered out of the scan
    in ONE collect and closed driver-side — they are ontology-sized
    (10²..10⁵ rows), so their closure is trivial and every derived
    rule table stays broadcastable. Each rule is then
    ``instance ⋈ broadcast(rule_table)`` — map-side only; the sole
    instance-wide exchange in the whole operator is the final
    ``distinct``. At 100 TB you would write the output bucketed by
    ``s`` so downstream BGP self-joins reuse the layout instead of
    re-shuffling.
    """
    inst = _with_iri(triples, o_kind_col)

    # --- schema closures: ONE collect of the four ontology slices,
    # closed on the driver. This is deliberately not distributed —
    # schema statements are ontology-sized (10²..10⁵ rows, KBs even
    # for giant vocabularies) while the instance data is the 100-TB
    # side, so a BFS in Python beats ~2×max_depth tiny Spark jobs of
    # iterated-join closure. The instance path below never collects.
    schema_rows = (
        inst.where(F.col("p").isin(SUBPROP, SUBCLASS, DOMAIN, RANGE))
        .select("s", "p", "o")
        .collect()
    )

    def close_pairs(pred: str) -> list:
        return reachable_pairs((r["s"], r["o"]) for r in schema_rows if r["p"] == pred)

    spark = triples.sparkSession
    pair_schema = "sub string, sup string"

    def pairs_df(rows: list, schema: str) -> DataFrame:
        return spark.createDataFrame(rows, schema)

    sp = pairs_df(close_pairs(SUBPROP), pair_schema)
    sc = pairs_df(close_pairs(SUBCLASS), pair_schema)
    dom = pairs_df(
        [(r["s"], r["o"]) for r in schema_rows if r["p"] == DOMAIN],
        "_p string, _cls string",
    )
    rng = pairs_df(
        [(r["s"], r["o"]) for r in schema_rows if r["p"] == RANGE],
        "_p string, _cls string",
    )

    # rdfs7: property widening over the transitive subPropertyOf closure
    widened = inst.join(
        F.broadcast(sp), inst["p"] == sp["sub"]
    ).select("s", F.col("sup").alias("p"), "o", "_iri")
    # inst1 feeds three rule branches plus the output union — cut once
    inst1 = inst.unionByName(widened).localCheckpoint(eager=False)

    # rdfs2 / rdfs3: domain and range type assertions over inst1
    dom_types = inst1.join(F.broadcast(dom), inst1["p"] == dom["_p"]).select(
        "s", F.lit(RDF_TYPE).alias("p"), F.col("_cls").alias("o")
    )
    rng_types = (
        inst1.where(F.col("_iri"))
        .join(F.broadcast(rng), inst1["p"] == rng["_p"])
        .select(
            F.col("o").alias("s"),
            F.lit(RDF_TYPE).alias("p"),
            F.col("_cls").alias("o"),
        )
    )

    # rdfs9/11: propagate every type assertion up the subClassOf closure
    types0 = (
        inst1.where(F.col("p") == RDF_TYPE)
        .select("s", "p", "o")
        .unionByName(dom_types)
        .unionByName(rng_types)
    )
    up_types = types0.join(F.broadcast(sc), types0["o"] == sc["sub"]).select(
        types0["s"], F.lit(RDF_TYPE).alias("p"), F.col("sup").alias("o")
    )

    # rdfs5/11 as entailed triples
    sp_triples = sp.select(
        F.col("sub").alias("s"), F.lit(SUBPROP).alias("p"), F.col("sup").alias("o")
    )
    sc_triples = sc.select(
        F.col("sub").alias("s"), F.lit(SUBCLASS).alias("p"), F.col("sup").alias("o")
    )

    return (
        _spo(inst1)
        .unionByName(types0)
        .unionByName(up_types)
        .unionByName(sp_triples)
        .unionByName(sc_triples)
        .distinct()
    )


OWL_NS = "http://www.w3.org/2002/07/owl#"
INVERSE_OF = OWL_NS + "inverseOf"
SYMMETRIC = OWL_NS + "SymmetricProperty"
TRANSITIVE = OWL_NS + "TransitiveProperty"


def owl_property_entailment(
    triples: DataFrame,
    o_kind_col: str = "o_kind",
) -> DataFrame:
    """Materialize the OWL 2 RL *property* rules over ``triples``:
    prp-trp (TransitiveProperty — per-property closure), prp-symp
    (SymmetricProperty — flip), prp-inv (inverseOf — flip onto the
    partner property, both directions). Schema read in-band like
    :func:`rdfs_entailment`.

    Stratified pass: flips → per-property closure → flips again.
    Pre-closure flips land triples asserted on a transitive
    property's inverse (or symmetric mirror) into the slice the
    closure runs on; post-closure flips export the closed pairs back
    through inverse/symmetric partners. This is a fixpoint whenever
    no property is declared BOTH symmetric and transitive — that
    combination makes the relation undirected and its closure a
    connected-components problem, the same caveat class as rdfs5
    meta-modeling (use `connected_components` + a pair expansion for
    that profile).

    Scale shape: symmetric/inverse rules are pure narrow maps gated
    by a tiny broadcast property set; the transitive rule runs
    :func:`~..operators.closure.transitive_closure` on each declared
    property's edge slice (one bounded shuffle per round), and the
    schema collect is ontology-sized. Only IRI-object rows flip (a
    literal can never be a subject).

    Returns the DISTINCT entailed graph as ``(s, p, o)``.
    """
    from .closure import transitive_closure

    inst = _with_iri(triples, o_kind_col)

    schema_rows = (
        inst.where(
            (F.col("p") == INVERSE_OF)
            | ((F.col("p") == RDF_TYPE) & F.col("o").isin(SYMMETRIC, TRANSITIVE))
        )
        .select("s", "p", "o")
        .collect()
    )
    inv_pairs = [
        (r["s"], r["o"]) for r in schema_rows if r["p"] == INVERSE_OF
    ]
    inv_pairs += [(b, a) for a, b in inv_pairs if (b, a) not in inv_pairs]
    # classification requires the rdf:type predicate — an
    # owl:inverseOf row whose OBJECT happens to be the SymmetricProperty
    # IRI must not flag its subject as symmetric (meta-modeling guard)
    sym_props = sorted(
        r["s"]
        for r in schema_rows
        if r["p"] == RDF_TYPE and r["o"] == SYMMETRIC
    )
    trans_props = sorted(
        r["s"]
        for r in schema_rows
        if r["p"] == RDF_TYPE and r["o"] == TRANSITIVE
    )

    spark = triples.sparkSession
    inv_df = (
        F.broadcast(spark.createDataFrame(inv_pairs, "_p string, _q string"))
        if inv_pairs
        else None
    )

    def flips(frame: DataFrame) -> DataFrame:
        """prp-symp + prp-inv expansion of one (s,p,o,_iri) frame."""
        parts = []
        if sym_props:
            parts.append(
                frame.where(
                    F.col("p").isin(sym_props) & F.col("_iri")
                ).select(
                    F.col("o").alias("s"), "p", F.col("s").alias("o"),
                    F.lit(True).alias("_iri"),
                )
            )
        if inv_df is not None:
            parts.append(
                frame.where(F.col("_iri"))
                .join(inv_df, frame["p"] == F.col("_p"))
                .select(
                    F.col("o").alias("s"),
                    F.col("_q").alias("p"),
                    F.col("s").alias("o"),
                    F.lit(True).alias("_iri"),
                )
            )
        out = None
        for part in parts:
            out = part if out is None else out.unionByName(part)
        return out

    # pre-closure flips: triples asserted on a transitive property's
    # inverse (or symmetric mirror) must join its closure slice
    pre = flips(inst)
    inst1 = inst if pre is None else inst.unionByName(pre)
    inst1 = inst1.localCheckpoint(eager=False)

    # prp-trp: ONE closure over all declared properties at once —
    # nodes are (property, node) structs, so paths can only chain
    # within a property, and 50 transitive properties cost max-diameter
    # doubling rounds total instead of 50 sequential job chains
    closed = None
    if trans_props:
        edges = inst1.where(
            F.col("p").isin(trans_props) & F.col("_iri")
        ).select(
            F.struct(
                F.col("p").alias("tp"), F.col("s").alias("node")
            ).alias("src"),
            F.struct(
                F.col("p").alias("tp"), F.col("o").alias("node")
            ).alias("dst"),
        )
        closed = transitive_closure(edges).select(
            F.col("src.node").alias("s"),
            F.col("src.tp").alias("p"),
            F.col("dst.node").alias("o"),
            F.lit(True).alias("_iri"),
        )

    out = inst1
    if closed is not None:
        closed = closed.localCheckpoint(eager=False)
        out = out.unionByName(closed)
        # post-closure flips: export closed pairs through inverse /
        # symmetric partners (inv∘closure == closure∘inv, so this
        # completes the inverse of every transitive property)
        post = flips(closed)
        if post is not None:
            out = out.unionByName(post)
    return out.select("s", "p", "o").distinct()
