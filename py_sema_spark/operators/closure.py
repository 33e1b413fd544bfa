"""Iterative graph operators: transitive closure & connected components.

Spark has no recursive CTE, so SPARQL property paths ``p+`` / ``p*``
(J4 — /root/reference/sema/query/sparql_templates/broader-terms.sparql:14,
skos-broader-depth.sparql:8-13) and entity canonicalization become
driver-controlled iterative join loops — the GraphFrames-style pattern
the north_star names.

Scale notes:
- each round is one shuffle (frontier ⋈ edges on the join key) plus a
  dedup; rounds = graph diameter, not graph size;
- frontiers are ``localCheckpoint``-ed so the lineage (and its
  re-execution risk) doesn't grow with iterations;
- AQE handles moderate skew; for hub nodes the edges side can be
  pre-salted (see ``model.with_subject_bucket``);
- connected components uses min-label propagation with root hooking
  and pointer doubling: rounds grow like log(component size). It is
  the large-input path of entity canonicalization;
  up to ``linkage.DRIVER_CANON_MAX_EDGES`` sameAs edges a driver
  union-find gives the same labels without a job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage + force computation, so iterative loops keep O(1)
    plan depth (otherwise Catalyst re-analysis cost grows per round and
    a killed executor would recompute the whole history).

    ``localCheckpoint(eager=True)`` is the cheap local break; on a real
    cluster with an HDFS checkpoint dir configured, ``checkpoint()``
    gives the same effect with fault tolerance (the per-stage parquet
    checkpointing in :mod:`..pipeline` plays that role here). Falls
    back to persist+count if localCheckpoint trips an analysis bug on
    exotic plans."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:
        df = df.persist()
        df.count()
        return df


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    with_distance: bool = True,
) -> DataFrame:
    """All (src, dst, dist) pairs reachable via 1.. hops.

    ``dist`` is the minimum hop count — on trees (the skos:broader
    case) that equals SPARQL's ``count(?mid)`` path-node count, which
    is what skos-broader-depth groups on.
    """
    base = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    e = base.transform(_materialize)
    paths = e.withColumn("dist", F.lit(1))
    frontier = paths
    for _ in range(max_iterations):
        # path doubling: extend the NEW pairs of the previous round by
        # every known path (not just base edges), so reachable distance
        # doubles per round — a depth-D chain closes in O(log D) rounds,
        # not D. Exact min-dist is preserved: any minimal path splits
        # into a prefix that was new last round and an already-known
        # suffix (both halves minimal), and the per-round min() below
        # picks that decomposition the first round the pair appears.
        grown = (
            frontier.alias("f")
            .join(paths.alias("p"), F.col("f.dst") == F.col("p.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("p.dst").alias("dst"),
                (F.col("f.dist") + F.col("p.dist")).alias("dist"),
            )
        )
        # keep only genuinely new pairs (anti-join beats a full dedup of
        # the accumulated set: the frontier is small after few rounds)
        new = (
            grown.join(
                paths.select("src", "dst"), ["src", "dst"], "left_anti"
            )
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
        )
        new = new.transform(_materialize)
        if new.isEmpty():
            break
        # NOTE: accumulating as a lazy union of checkpointed deltas
        # (no re-materialize here) would avoid the O(rounds·|closure|)
        # rewrite, but Spark 4.1's localCheckpoint trips an
        # attribute-resolution error ("key not found: dst#N") when a
        # later checkpoint references the union of earlier ones — so
        # the accumulated set is re-materialized per round. At cluster
        # scale the equivalent incremental form is an Iceberg MERGE
        # INTO per round (pipeline.py's per-stage checkpoints).
        paths = paths.unionByName(new).transform(_materialize)
        frontier = new
    if not with_distance:
        return paths.select("src", "dst")
    return paths


def reflexive_closure(closure: DataFrame, nodes: DataFrame) -> DataFrame:
    """closure(+) → closure(*): add dist-0 self-pairs for every node."""
    selfp = nodes.select(
        F.col(nodes.columns[0]).alias("src"),
        F.col(nodes.columns[0]).alias("dst"),
    ).withColumn("dist", F.lit(0))
    return closure.unionByName(selfp.distinct())


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    Min-label propagation over undirected edges with **root hooking and
    pointer doubling** (Shiloach–Vishkin-style hook and shortcut
    steps). Each round, for every
    edge (a, b), both ``a`` and ``a``'s current label take ``b``'s label
    when it is smaller — hooking a whole tree, not one node — then
    every node's label is replaced by its label's label. Propagation
    alone moves a label one hop per round, and propagation plus
    doubling without the hook still only a few hops when the node ids
    along a path are in random order (a 70-node chain took more than
    20 rounds); with the hook, trees merge pairwise and rounds grow
    like log(component size) (random-order chains of 70, 500 and 3000
    nodes: 6, 9 and 11 rounds).

    Labels only decrease and each stays a node of the same component
    with ``label(x) <= x``, so the fixed point the loop stops at (a
    round that changes no label) is the component minimum. A loop that
    reaches ``max_iterations`` without that fixed point raises rather
    than return labels that are not yet minimal.

    Deterministic: labels are the minimum node id, so canonical entity
    IRIs are stable across runs and partitionings (north rule:
    deterministic canonicalization).

    Each round costs a few Spark jobs whatever the edge count, so
    entity canonicalization (``linkage.sameas_canonical_map``) calls
    this only above ``linkage.DRIVER_CANON_MAX_EDGES`` edges; smaller
    edge sets get the same min labels from a driver-side union-find
    (``linkage.union_find_canonical``).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .transform(_materialize)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    ).transform(_materialize)
    for _ in range(max_iterations):
        # 1) propagation + hooking: a ← label(b) and label(a) ← label(b)
        cb = F.col("lb.comp")
        offers = (
            sym.alias("e")
            .join(labels.alias("la"), F.col("e.a") == F.col("la.node"))
            .join(labels.alias("lb"), F.col("e.b") == F.col("lb.node"))
            .select(
                F.inline(
                    F.array(
                        F.struct(F.col("e.a").alias("node"), cb.alias("comp")),
                        F.struct(F.col("la.comp").alias("node"), cb.alias("comp")),
                    )
                )
            )
        )
        new_labels = (
            labels.unionByName(offers)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # 2) pointer doubling: comp ← comp's comp (shortcut one level)
        as_parent = new_labels.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        new_labels = (
            new_labels.join(as_parent, "comp", "left")
            .select(
                "node", F.coalesce(F.col("comp2"), F.col("comp")).alias("comp")
            )
            .transform(_materialize)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
        )
        labels = new_labels
        if changed.isEmpty():
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def closure_from_triples(
    triples: DataFrame, predicate: str, max_iterations: int = 25
) -> DataFrame:
    """Transitive closure of one predicate's edges in a triples table.

    The predicate-literal filter is pushed to the scan (partition /
    predicate pushdown on ``p``) before any join — the whole closure
    runs on the slice.
    """
    edges = triples.where(
        (F.col("p") == predicate) & (F.col("o_kind") == "iri")
    ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    return transitive_closure(edges, max_iterations=max_iterations)


def rdf_list_flatten(
    triples: DataFrame,
    first_p: str = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first",
    rest_p: str = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest",
    nil: str = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil",
) -> DataFrame:
    """Flatten RDF collections (``rdf:first``/``rdf:rest`` cons
    chains — what JSON-LD ``@list`` and Turtle ``( … )`` parse to)
    into ordered rows ``(head, pos, item)``.

    A list is pure linked-list structure, so the position of an item
    is the rest-hop distance of its cons cell from the head cell:
    one :func:`transitive_closure` pass over the ``rest`` edge slice
    (pointer-doubled, O(log length) rounds — a 10⁶-element pathological
    list costs ~20 rounds, not 10⁶), plus a zero-hop self row per
    cell, restricted to *proper heads* (cells with no incoming
    ``rest`` edge — one broadcast anti-join), then joined to the
    ``first`` slice for the payload. Sub-chains reachable from a head
    are exactly its tail cells, so every item lands once per list.

    Returns (head, pos, item, item_kind).
    """
    # both slices feed multiple consumers (rest: the closure loop AND
    # the head anti-join; first: self0, heads, and the payload join) —
    # materialize once so the full triple scan isn't re-run per branch
    # and per closure round
    rest = (
        triples.where(
            (F.col("p") == rest_p)
            & (F.col("o_kind") == "iri")
            & (F.col("o") != nil)
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    ).distinct().transform(_materialize)
    first = (
        triples.where(F.col("p") == first_p)
        .select(
            F.col("s").alias("cell"),
            F.col("o").alias("item"),
            F.col("o_kind").alias("item_kind"),
        )
        .transform(_materialize)
    )
    reach = transitive_closure(rest).select("src", "dst", "dist")
    self0 = first.select(
        F.col("cell").alias("src"),
        F.col("cell").alias("dst"),
        F.lit(0).alias("dist"),
    )
    heads = first.select(F.col("cell").alias("src")).join(
        rest.select(F.col("dst").alias("src")), "src", "left_anti"
    )
    return (
        reach.unionByName(self0)
        .join(heads, "src", "left_semi")
        .join(first, F.col("dst") == F.col("cell"))
        .select(
            F.col("src").alias("head"),
            F.col("dist").cast("long").alias("pos"),
            "item",
            "item_kind",
        )
    )
