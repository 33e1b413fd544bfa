"""Entity linking & canonicalization (north_star J9 — new work; the
reference has no implementation, BASELINE.json:6 defines the contract):

1. **Mention detection** — n-gram candidate generation over document
   text joined against a broadcast entity dictionary (exact surface
   forms). No Python: token n-grams are column algebra.
2. **Candidate scoring** — dictionary-match score fused with an
   embedding-cosine score (mention context vs entity embedding).
3. **Canonicalization** — owl:sameAs-style equivalence edges →
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
from .similarity import dot, norm


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


def score_candidates(
    mentions: DataFrame,
    entity_embeddings: DataFrame,
    doc_embeddings: DataFrame,
    id_col: str = "doc_id",
    entity_col: str = "entity",
    vec_col: str = "embedding",
    dict_weight: float = 0.5,
) -> DataFrame:
    """Fuse dictionary and embedding evidence per (doc, mention, entity).

    score = dict_weight · 1.0 + (1−dict_weight) · cos(doc_vec, ent_vec)
    (every row here already passed the exact dictionary match, so the
    dictionary component is 1; fuzzy dictionary tiers would lower it).
    Returns mentions + score, ranked per (doc, mention).
    """
    from pyspark.sql.window import Window

    ev = entity_embeddings.select(
        F.col(entity_col).alias("entity"), F.col(vec_col).alias("_evec")
    )
    dv = doc_embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_dvec")
    )
    scored = (
        mentions.join(F.broadcast(ev), "entity", "left")
        .join(dv, id_col, "left")
        .withColumn(
            "emb_cos",
            F.when(
                F.col("_evec").isNotNull() & F.col("_dvec").isNotNull(),
                # a zero-norm vector (empty/OOV doc) makes cosine 0/0
                # — a DIVIDE_BY_ZERO error under ANSI, NULL otherwise;
                # either way it must degrade to "no embedding
                # evidence" (0.0), not poison the fused score and drop
                # the mention downstream
                F.coalesce(
                    F.try_divide(
                        dot(
                            F.col("_evec").cast("array<double>"),
                            F.col("_dvec").cast("array<double>"),
                        ),
                        norm(F.col("_evec").cast("array<double>"))
                        * norm(F.col("_dvec").cast("array<double>")),
                    ),
                    F.lit(0.0),
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "score",
            F.lit(dict_weight) + (1 - dict_weight) * F.col("emb_cos"),
        )
        .drop("_evec", "_dvec")
    )
    w = Window.partitionBy(id_col, "mention").orderBy(
        F.desc("score"), F.asc("entity")
    )
    return scored.withColumn("rank", F.row_number().over(w))


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
    scored_mentions: DataFrame,
    min_score: float = 0.5,
    about_pred: str = "https://schema.org/about",
    doc_base: str = "",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-ranked mention links as (s,p,o,…) triples: document →
    schema:about → entity. Emitted in the standard triple schema so
    they materialize alongside extracted triples."""
    top = scored_mentions.where(
        (F.col("rank") == 1) & (F.col("score") >= min_score)
    )
    s = (
        F.concat(F.lit(doc_base), F.col(id_col).cast("string"))
        if doc_base
        else F.col(id_col).cast("string")
    )
    return top.select(
        s.alias("s"),
        F.lit(about_pred).alias("p"),
        F.col("entity").alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )


def entity_cooccurrence(
    docs: DataFrame,
    dictionary: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    entity_col: str = "entity",
    max_gram: int = 3,
) -> DataFrame:
    """PMI-weighted entity co-occurrence — the association-edge scoring
    step of KG construction: two entities mentioned in the same
    document get an edge weighted by pointwise mutual information
    ``ln(P(a,b) / (P(a)·P(b)))`` estimated from document counts.

    Returns ``(e1, e2, n_ab, n_a, n_b, pmi)`` with ``e1 < e2``
    (canonical undirected edge), PMI rounded to 6 decimals so the
    single ``ln`` is cross-engine comparable (all inputs up to it are
    exact integers).

    Scale shape: mention rows are (doc, entity) distinct — bounded by
    docs × dictionary hits, never raw token positions; the in-document
    pair join fans out quadratically only in *entities per document*
    (tiny — dictionary-bounded), not document length; both count
    aggregations combine map-side; the corpus size N joins in as a
    **broadcast one-row frame** (no driver collect, same pattern as
    ``lm_score``'s vocabulary size).
    """
    # the mention set feeds four consumers (both pair-join sides, the
    # entity marginals, implicitly the pair counts) — materialize it
    # once instead of re-running the n-gram explode + dictionary join
    # per branch (same lazy-localCheckpoint pattern as the dedup token
    # sets; at 100 TB this is a checkpointed (doc, entity) table)
    m = (
        detect_mentions(
            docs, dictionary, text_col, id_col, label_col, entity_col,
            max_gram,
        )
        .select(F.col(id_col).alias("doc_id"), "entity")
        .distinct()
        .localCheckpoint(eager=False)
    )
    pairs = (
        m.alias("x")
        .join(m.alias("y"), "doc_id")
        .where(F.col("x.entity") < F.col("y.entity"))
        .select(
            F.col("x.entity").alias("e1"), F.col("y.entity").alias("e2")
        )
    )
    ab = pairs.groupBy("e1", "e2").agg(F.count(F.lit(1)).alias("n_ab"))
    ent = m.groupBy("entity").agg(F.count(F.lit(1)).alias("n"))
    n_docs = docs.select(F.count(F.lit(1)).alias("_N"))
    # entity marginals are dictionary-bounded (one row per entity) —
    # always broadcastable regardless of corpus size; the checkpoint
    # above severed the size stats Catalyst would need to infer that
    return (
        ab.join(
            F.broadcast(
                ent.select(
                    F.col("entity").alias("e1"), F.col("n").alias("n_a")
                )
            ),
            "e1",
        )
        .join(
            F.broadcast(
                ent.select(
                    F.col("entity").alias("e2"), F.col("n").alias("n_b")
                )
            ),
            "e2",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "e1",
            "e2",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("_N")
                    # double BEFORE multiplying: two ~3e9-doc entities
                    # overflow the bigint product silently (non-ANSI
                    # wraps negative → garbage PMI with no error)
                    / (
                        F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_distance: int = 1,
) -> DataFrame:
    """Entity-name fuzzy matching at edit distance ≤ 1 via
    *deletion-neighborhood blocking* (the FastSS scheme): every name
    emits itself plus each single-character-deletion variant as block
    keys; any two strings within Levenshtein 1 share at least one key
    (substitution at i → both delete i; insertion → the longer's
    deletion equals the shorter). Candidates sharing a key are then
    verified with the exact ``levenshtein`` (a shared key only bounds
    distance ≤ 2).

    Why not prefix/length banding: entity names routinely share long
    constant prefixes ("Customer#…"), which collapses such bands into
    one quadratic bucket. Deletion variants are near-unique full
    strings, so bucket sizes track true near-duplicate clusters —
    |keys| = O(n·len), join fan-out = real matches + few distance-2
    strays, never all-pairs. (FastSS generalizes to d>1 with d-fold
    deletions; only d=1 is wired here — raise otherwise.)

    Returns ``(id_a, id_b, name_a, name_b, dist)`` with id_a < id_b.
    """
    if max_distance != 1:
        raise ValueError("fuzzy_name_pairs supports max_distance=1")
    # NULL names carry no signal, but EMPTY names are legitimate
    # strings within distance 1 of every single-char name — keep them
    # (the brute-force contract includes them; sequence(1, 0) would
    # yield a descending [1, 0] range, hence the explicit guard)
    base = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_nm")
    ).where(F.col("_nm").isNotNull())
    keyed = base.select(
        "_id",
        "_nm",
        F.explode(
            F.concat(
                F.array(F.col("_nm")),
                F.expr(
                    "case when char_length(_nm) > 0 then "
                    "transform(sequence(1, char_length(_nm)), i -> "
                    "concat(substring(_nm, 1, i-1), substring(_nm, i+1, "
                    "2147483647))) "
                    "else cast(array() as array<string>) end"
                ),
            )
        ).alias("_k"),
    ).distinct()
    l, r = keyed.alias("l"), keyed.alias("r")
    cand = (
        l.join(r, (F.col("l._k") == F.col("r._k")) & (F.col("l._id") < F.col("r._id")))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._nm").alias("name_a"),
            F.col("r._nm").alias("name_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    ).where(F.col("dist") <= max_distance)
