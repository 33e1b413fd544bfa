"""Entity linking & canonicalization (north_star J9 — new work; the
reference has no implementation, BASELINE.json:6 defines the contract):

1. **Mention detection** — n-gram candidate generation over document
   text joined against a broadcast entity dictionary (exact surface
   forms). No Python: token n-grams are column algebra. Every match
   becomes a ``schema:about`` triple (:func:`mention_triples`).
2. **Canonicalization** — owl:sameAs-style equivalence edges →
   connected components → rewrite triples' s/o to the deterministic
   component representative (lexicographic min IRI). Up to
   ``DRIVER_CANON_MAX_EDGES`` edges the components come from a
   union-find on the driver (one bounded collect, no loop jobs); above
   it from the iterative min-label propagation of :mod:`closure`.

Scale: the dictionary is the small side (broadcast); mentions explode
~len(text)/token n-grams map-side and immediately semi-join against
the dictionary, so nothing big ever shuffles. Canonical rewrite is two
hash joins on (s) and (o) against the small component map — also
broadcast in practice.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .closure import connected_components
from .dedup import normalized_tokens


def detect_mentions(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    entity_col: str = "entity",
    max_gram: int = 3,
) -> DataFrame:
    """(doc_id, mention, entity) — exact surface-form matches.

    ``dictionary``: (entity, label) — labels are normalized with the
    same tokenizer as the text so matching is case/punct-insensitive.
    ``max_gram`` is widened automatically to the longest dictionary
    label (one tiny aggregate over the broadcast-sized dictionary) —
    a fixed cap shorter than some label would silently make that
    entity undetectable even when its exact surface form appears.
    """
    dict_norm = dictionary.select(
        F.col(entity_col).alias("entity"),
        F.concat_ws(" ", normalized_tokens(F.col(label_col))).alias("gram"),
    ).where(F.length("gram") > 0)
    longest = dict_norm.select(
        F.max(F.size(F.split(F.col("gram"), " "))).alias("m")
    ).collect()[0]["m"]
    if longest is not None:
        max_gram = max(max_gram, int(longest))

    toks = docs.select(F.col(id_col), normalized_tokens(F.col(text_col)).alias("toks"))
    grams = None
    for n in range(1, max_gram + 1):
        g = toks.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("toks") - n, F.lit(0)),
                    ),
                    lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
                )
            ).alias("gram"),
        )
        grams = g if grams is None else grams.unionByName(g)
    grams = grams.where(F.length("gram") > 0)
    return (
        grams.join(F.broadcast(dict_norm), "gram")
        .select(F.col(id_col), F.col("gram").alias("mention"), F.col("entity"))
        .distinct()
    )


def canonical_map(equiv_edges: DataFrame) -> DataFrame:
    """(member, canonical) from equivalence edges via connected
    components; canonical = min IRI in the component (deterministic).

    This is the distributed path: a few Spark jobs per
    pointer-doubling round. :func:`sameas_canonical_map` uses it only
    above ``DRIVER_CANON_MAX_EDGES`` edges and otherwise builds the same
    map on the driver with :func:`union_find_canonical`."""
    cc = connected_components(equiv_edges)
    return cc.select(
        F.col("node").alias("member"), F.col("comp").alias("canonical")
    ).where(F.col("member") != F.col("canonical"))


# Equivalence-edge count up to which canonicalization collects the
# edges and runs a union-find on the driver (zero loop jobs) instead of
# the connected-components loop. 200k string pairs are tens of MB on
# the driver.
DRIVER_CANON_MAX_EDGES = 200_000


def union_find_canonical(
    edges: Iterable[Tuple[Optional[str], Optional[str]]],
) -> List[Tuple[str, str]]:
    """(member, canonical) pairs, sorted, from (src, dst) equivalence
    edges — the driver twin of :func:`canonical_map`.

    Union-find that always makes the smaller IRI the root, so every
    root is its component's minimum: the same label as
    :func:`connected_components`' min-label propagation. Python's
    code-point order equals Spark's UTF-8 binary string order. Edges
    with a null endpoint are skipped (as the Spark path does), and
    roots are left out (``member != canonical``)."""
    parent: dict = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((x, r) for x in parent if (r := find(x)) != x)


def sameas_canonical_map(equiv_edges: DataFrame) -> Optional[DataFrame]:
    """(member, canonical) map of (src, dst) equivalence edges, or
    None when no IRI needs rewriting.

    One bounded collect decides the path: up to
    ``DRIVER_CANON_MAX_EDGES`` edges run :func:`union_find_canonical`
    on the driver and come back as a small Arrow-built frame (a
    pandas frame, not a list of tuples, which would become a
    PythonRDD); more edges take the distributed
    :func:`canonical_map`."""
    rows = equiv_edges.select("src", "dst").limit(DRIVER_CANON_MAX_EDGES + 1).collect()
    if not rows:
        return None
    if len(rows) > DRIVER_CANON_MAX_EDGES:
        return canonical_map(equiv_edges)
    pairs = union_find_canonical((r[0], r[1]) for r in rows)
    if not pairs:
        return None
    import pandas as pd

    spark = equiv_edges.sparkSession
    return spark.createDataFrame(
        pd.DataFrame(pairs, columns=["member", "canonical"]),
        "member string, canonical string",
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite s and (IRI-kind) o through the canonical map.

    The map is small relative to the triples table → broadcast left
    joins, no shuffle of the big side.
    """
    ms = mapping.select(
        F.col("member").alias("s"), F.col("canonical").alias("_cs")
    )
    mo = mapping.select(
        F.col("member").alias("o"), F.col("canonical").alias("_co")
    )
    out = (
        triples.join(F.broadcast(ms), "s", "left")
        .withColumn("s", F.coalesce(F.col("_cs"), F.col("s")))
        .drop("_cs")
        .join(F.broadcast(mo), "o", "left")
        .withColumn(
            "o",
            F.when(
                (F.col("o_kind") == "iri") & F.col("_co").isNotNull(),
                F.col("_co"),
            ).otherwise(F.col("o")),
        )
        .drop("_co")
    )
    return out


def mention_triples(
    mentions: DataFrame,
    about_pred: str = "https://schema.org/about",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`detect_mentions` output as (s,p,o,…) triples: document →
    schema:about → entity. Emitted in the standard triple schema so
    they materialize alongside extracted triples."""
    return mentions.select(
        F.col(id_col).cast("string").alias("s"),
        F.lit(about_pred).alias("p"),
        F.col("entity").alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
