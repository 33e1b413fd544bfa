"""Driver-contract query suite: the py-sema surfaces (sparqlets,
SPARQL, SHACL, subyt, harvest, serializers, closure/linkage,
inference, column builders) as ``(spark, sf_dir) -> DataFrame``
builders **plus** a semantically
identical ANSI-SQL string for the DuckDB oracle (tables ``region
nation customer supplier part orders lineitem events documents
embeddings`` are pre-registered views over the same parquet).

Two correctness rules shape everything here:

1. **Column names must match** between Spark and SQL (the driver sorts
   columns by name before hashing) — every computed column is aliased
   identically, all lowercase so DuckDB's case folding can't bite.
2. **Values must hash equal** — all semantically relevant hashing uses
   ``md5`` over strings (identical in Spark and DuckDB), numeric
   derivations stay in integer→double IEEE arithmetic with matching
   operation order, and float outputs are rounded on both sides.

The relational KG queries run over a *triples view* derived
deterministically from the TPC-H-ish tables (nation/region/customer →
skos concept scheme), so the SPARQL-template operators
(:mod:`.sparqlets`) are exercised end-to-end against plain SQL.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.clean import normalise_scheme_col
from ..functions.uritemplate import uritemplate_expand
from ..functions.xsd import (
    unite_col,
    uri_format_col,
    xsd_boolean_col,
    xsd_gyear_col,
    xsd_integer_col,
    xsd_string_col,
)
from ..operators.closure import connected_components, transitive_closure
from ..operators.linkage import detect_mentions
from ..operators.windows import first_per_key, with_ctrl
from ..serialize import jsonld_nodes, ntriples_lines, turtle_blocks
from .bgp import bgp_ask, bgp_construct, bgp_describe, bgp_select
from . import sparqlets

SKOS = "http://www.w3.org/2004/02/skos/core#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
OWL = "http://www.w3.org/2002/07/owl#"
DC = "http://purl.org/dc/terms/"
EX = "http://www.example.org/"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def _tp(
    spark: SparkSession, sf_dir: str, name: str, n: int = 0
) -> DataFrame:
    """``_t`` + repartition to ``n`` (default: session parallelism).

    The local fixtures are single-file / single-row-group parquet, so
    a scan yields ONE usable split and every narrow map stage downstream
    (the mention n-gram explode) runs as one task regardless of cores — serial wall-clock and maximal straggler
    exposure. One bounded shuffle (≤ fixture size) buys full map
    parallelism. Production inputs arrive multi-partition from the
    scan (maxPartitionBytes × many files), where this becomes a
    deliberate no-op knob — the 100-TB plan shape is unchanged."""
    df = _t(spark, sf_dir, name)
    return df.repartition(n or spark.sparkContext.defaultParallelism)


# =====================================================================
# the deterministic triples view (nation/region/customer → SKOS graph)
# =====================================================================


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-ish tables → a SKOS concept scheme as (s,p,o,o_kind,
    o_datatype,o_lang) rows.

    Shape: world ← region (Collection, title/prefLabel) ← nation
    (Concept, member-of-region) ← customer (member-of-nation), with
    identifiers, deprecation flags and pref/alt labels — enough surface
    to exercise every sparqlet join/filter/closure (SURVEY.md §2.3-2.7)
    against a plain-SQL oracle.
    """
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")

    def rows(df, s, triples):
        out = []
        for p, o, kind, lang in triples:
            out.append(
                df.select(
                    s.alias("s"),
                    F.lit(p).alias("p"),
                    (o if not isinstance(o, str) else F.lit(o)).alias("o"),
                    F.lit(kind).alias("o_kind"),
                    F.lit(None).cast("string").alias("o_datatype"),
                    (F.lit(lang) if lang else F.lit(None)).cast("string").alias("o_lang"),
                )
            )
        return out

    r_s = F.concat(F.lit("urn:region:"), F.col("r_regionkey").cast("string"))
    n_s = F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string"))
    n_region = F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string"))
    c_s = F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string"))
    c_nation = F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string"))

    parts = []
    parts += rows(
        region,
        r_s,
        [
            (RDF + "type", SKOS + "Collection", "iri", None),
            (DC + "title", F.col("r_name"), "literal", "en"),
            (SKOS + "prefLabel", F.col("r_name"), "literal", "en"),
            (SKOS + "broader", "urn:world:0", "iri", None),
        ],
    )
    parts += rows(
        nation,
        n_s,
        [
            (RDF + "type", SKOS + "Concept", "iri", None),
            (SKOS + "prefLabel", F.col("n_name"), "literal", "en"),
            (
                DC + "identifier",
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string")),
                "literal",
                None,
            ),
            (
                OWL + "deprecated",
                F.when(F.col("n_nationkey") % 5 == 0, "true").otherwise("false"),
                "literal",
                None,
            ),
            (SKOS + "broader", n_region, "iri", None),
        ],
    )
    parts += rows(nation, n_region, [(SKOS + "member", n_s, "iri", None)])
    parts += rows(
        customer,
        c_s,
        [
            (RDF + "type", EX + "Customer", "iri", None),
            (SKOS + "prefLabel", F.col("c_name"), "literal", "en"),
            (
                DC + "identifier",
                F.concat(F.lit("C"), F.col("c_custkey").cast("string")),
                "literal",
                None,
            ),
            (
                OWL + "deprecated",
                F.when(F.col("c_custkey") % 7 == 0, "true").otherwise("false"),
                "literal",
                None,
            ),
            (SKOS + "broader", c_nation, "iri", None),
            (SKOS + "altLabel", F.upper(F.col("c_name")), "literal", None),
        ],
    )
    parts += rows(customer, c_nation, [(SKOS + "member", c_s, "iri", None)])
    parts += rows(
        customer.where(F.col("c_custkey") % 2 == 0),
        c_s,
        [(SKOS + "altLabel", F.col("c_name"), "literal", "en")],
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# the same view in DuckDB SQL (CTE prefix reused by every KG oracle)
KG_SQL = f"""
WITH triples(s, p, o, o_kind, o_datatype, o_lang) AS (
  SELECT 'urn:region:' || r_regionkey, '{RDF}type', '{SKOS}Collection', 'iri', NULL, NULL FROM region
  UNION ALL SELECT 'urn:region:' || r_regionkey, '{DC}title', r_name, 'literal', NULL, 'en' FROM region
  UNION ALL SELECT 'urn:region:' || r_regionkey, '{SKOS}prefLabel', r_name, 'literal', NULL, 'en' FROM region
  UNION ALL SELECT 'urn:region:' || r_regionkey, '{SKOS}broader', 'urn:world:0', 'iri', NULL, NULL FROM region
  UNION ALL SELECT 'urn:nation:' || n_nationkey, '{RDF}type', '{SKOS}Concept', 'iri', NULL, NULL FROM nation
  UNION ALL SELECT 'urn:nation:' || n_nationkey, '{SKOS}prefLabel', n_name, 'literal', NULL, 'en' FROM nation
  UNION ALL SELECT 'urn:nation:' || n_nationkey, '{DC}identifier', 'N' || n_nationkey, 'literal', NULL, NULL FROM nation
  UNION ALL SELECT 'urn:nation:' || n_nationkey, '{OWL}deprecated',
      CASE WHEN n_nationkey % 5 = 0 THEN 'true' ELSE 'false' END, 'literal', NULL, NULL FROM nation
  UNION ALL SELECT 'urn:nation:' || n_nationkey, '{SKOS}broader', 'urn:region:' || n_regionkey, 'iri', NULL, NULL FROM nation
  UNION ALL SELECT 'urn:region:' || n_regionkey, '{SKOS}member', 'urn:nation:' || n_nationkey, 'iri', NULL, NULL FROM nation
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{RDF}type', '{EX}Customer', 'iri', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{SKOS}prefLabel', c_name, 'literal', NULL, 'en' FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{DC}identifier', 'C' || c_custkey, 'literal', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{OWL}deprecated',
      CASE WHEN c_custkey % 7 = 0 THEN 'true' ELSE 'false' END, 'literal', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{SKOS}broader', 'urn:nation:' || c_nationkey, 'iri', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{SKOS}altLabel', upper(c_name), 'literal', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:nation:' || c_nationkey, '{SKOS}member', 'urn:cust:' || c_custkey, 'iri', NULL, NULL FROM customer
  UNION ALL SELECT 'urn:cust:' || c_custkey, '{SKOS}altLabel', c_name, 'literal', NULL, 'en'
      FROM customer WHERE c_custkey % 2 = 0
)
"""

# recursive closure over the skos:broader slice (shared by the oracle
# of every path/closure query; mirrors operators/closure.py semantics:
# dist = minimum hop count)
CLOSURE_SQL = (
    KG_SQL.replace("WITH triples", "WITH RECURSIVE triples", 1)
    + f""",
edges AS (
  SELECT s AS src, o AS dst FROM triples
  WHERE p = '{SKOS}broader' AND o_kind = 'iri'
),
paths(src, dst, dist) AS (
  SELECT src, dst, 1 FROM edges
  UNION
  -- dist < 64 is a cycle guard: carrying dist in the row means a
  -- cyclic edge slice never reaches a UNION fixpoint (each lap mints
  -- new (src,dst,dist+k) rows) — the Spark operator's anti-join
  -- fixpoint terminates on cycles natively; fixture taxonomy depth
  -- is << 64 so results are unchanged
  SELECT p.src, e.dst, p.dist + 1 FROM paths p JOIN edges e ON p.dst = e.src
  WHERE p.dist < 64
),
closure AS (
  SELECT src, dst, min(dist) AS dist FROM paths GROUP BY src, dst
)
"""
)


# ---- normalized-token SQL (mirror of dedup.normalized_tokens) ----


def _toks_sql(col: str) -> str:
    """Normalized token list — mirror of dedup.normalized_tokens."""
    return (
        "list_filter(string_split_regex(lower(regexp_replace("
        + col
        + r", '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), x -> x <> '')"
    )


TOKS = _toks_sql("text")


# =====================================================================
# query builders + oracles
# =====================================================================

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def _register(name: str, fn: Callable, sql: str | None) -> None:
    # a duplicate name would silently shadow the earlier entry and drop
    # a query from the bench + correctness sweeps with no failure
    assert name not in QUERIES, f"duplicate query registration: {name}"
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


# ---- sparqlet surface (SURVEY.md §2.3-2.7, sema/query templates) ----

_register(
    "all_triples",
    lambda spark, sf: sparqlets.all_triples(kg_triples(spark, sf)),
    KG_SQL + "SELECT s, p, o FROM triples",
)

_register(
    "rdf_predicates",
    lambda spark, sf: sparqlets.rdf_predicates(kg_triples(spark, sf)),
    KG_SQL + "SELECT DISTINCT p AS predicate FROM triples",
)

_register(
    "rdf_predicates_count",
    lambda spark, sf: sparqlets.rdf_predicates_count(kg_triples(spark, sf))
    .select(F.col("pred"), F.col("count").alias("cnt")),
    KG_SQL + "SELECT p AS pred, count(o) AS cnt FROM triples GROUP BY p",
)

_register(
    "rdf_types",
    lambda spark, sf: sparqlets.rdf_types(kg_triples(spark, sf)),
    KG_SQL
    + f"SELECT DISTINCT o AS type FROM triples WHERE p = '{RDF}type'",
)

_register(
    "skos_collection",
    lambda spark, sf: sparqlets.skos_collection(kg_triples(spark, sf), language="en"),
    KG_SQL
    + f"""
SELECT c.s AS collection, t.o AS title
FROM triples c JOIN triples t ON t.s = c.s
WHERE c.p = '{RDF}type' AND c.o = '{SKOS}Collection'
  AND t.p = '{DC}title' AND coalesce(t.o_lang, '') = 'en'
""",
)

_register(
    "skos_collection_member_count",
    lambda spark, sf: sparqlets.skos_collection_member_count(kg_triples(spark, sf))
    .select("collection", "title", F.col("count").alias("cnt")),
    KG_SQL
    + f"""
SELECT m.s AS collection, t.o AS title, count(m.o) AS cnt
FROM triples m
JOIN triples c ON c.s = m.s AND c.p = '{RDF}type' AND c.o = '{SKOS}Collection'
JOIN triples t ON t.s = m.s AND t.p = '{DC}title'
WHERE m.p = '{SKOS}member'
GROUP BY m.s, t.o
""",
)

_register(
    "bodc_find",
    lambda spark, sf: sparqlets.bodc_find(
        kg_triples(spark, sf),
        collections=["0", "1"],
        regex="nation_1",
        language="en",
        collection_base="urn:region:{}",
    ).select(
        F.col("uri"), F.col("identifier"), F.col("prefLabel").alias("preflabel")
    ),
    KG_SQL
    + f"""
SELECT DISTINCT m.o AS uri, i.o AS identifier, pl.o AS preflabel
FROM triples m
JOIN triples pl ON pl.s = m.o AND pl.p = '{SKOS}prefLabel'
  AND (lower(coalesce(pl.o_lang,'')) = 'en' OR starts_with(lower(coalesce(pl.o_lang,'')), 'en-'))
JOIN triples d ON d.s = m.o AND d.p = '{OWL}deprecated' AND d.o = 'false'
JOIN triples i ON i.s = m.o AND i.p = '{DC}identifier'
WHERE m.p = '{SKOS}member' AND m.s IN ('urn:region:0', 'urn:region:1')
  AND regexp_matches(pl.o, '(?i)nation_1')
""",
)

_register(
    "bodc_listing",
    lambda spark, sf: sparqlets.bodc_listing(
        kg_triples(spark, sf), cc="5", lang="en", collection_base="urn:nation:{}"
    ),
    KG_SQL
    + f"""
SELECT i.o AS id, pl.o AS pref_lang, al.o AS alt_lang, ap.o AS alt,
       d.o AS depr, m.o AS member
FROM triples m
JOIN triples pl ON pl.s = m.o AND pl.p = '{SKOS}prefLabel'
  AND (lower(coalesce(pl.o_lang,'')) = 'en' OR starts_with(lower(coalesce(pl.o_lang,'')), 'en-'))
JOIN triples i ON i.s = m.o AND i.p = '{DC}identifier'
JOIN triples ap ON ap.s = m.o AND ap.p = '{SKOS}altLabel' AND coalesce(ap.o_lang,'') = ''
JOIN triples d ON d.s = m.o AND d.p = '{OWL}deprecated'
LEFT JOIN triples al ON al.s = m.o AND al.p = '{SKOS}altLabel'
  AND (lower(coalesce(al.o_lang,'')) = 'en' OR starts_with(lower(coalesce(al.o_lang,'')), 'en-'))
WHERE m.p = '{SKOS}member' AND m.s = 'urn:nation:5'
""",
)

_register(
    "term_match_in_collection",
    lambda spark, sf: sparqlets.term_match_in_collection(
        kg_triples(spark, sf), col_uri="urn:nation:3", term="[02468]$"
    ),
    KG_SQL
    + f"""
SELECT m.o AS term, pl.o AS lbl
FROM triples m
JOIN triples pl ON pl.s = m.o AND pl.p = '{SKOS}prefLabel'
WHERE m.p = '{SKOS}member' AND m.s = 'urn:nation:3'
  AND regexp_matches(pl.o, '(?i)[02468]$')
""",
)

_register(
    "broader_terms",
    lambda spark, sf: sparqlets.broader_terms(kg_triples(spark, sf), term="urn:cust:1"),
    CLOSURE_SQL
    + f"""
SELECT c.dst AS bterm, pl.o AS blbl
FROM closure c
JOIN triples pl ON pl.s = c.dst AND pl.p = '{SKOS}prefLabel'
WHERE c.src = 'urn:cust:1'
""",
)

_register(
    "skos_broader_depth",
    lambda spark, sf: sparqlets.skos_broader_depth(kg_triples(spark, sf))
    .select(
        F.col("super"),
        F.col("sub"),
        F.col("distance").cast("long").alias("distance"),
    ),
    CLOSURE_SQL
    + "SELECT src AS super, dst AS sub, CAST(dist AS BIGINT) AS distance FROM closure",
)

# ---- window / ctrl / unique-filter surface (§2.5, F1) ----

_register(
    "ctrl_windows",
    lambda spark, sf: with_ctrl(
        _t(spark, sf, "events"), ["user_id"], ["ts", "event_id"]
    ).select("event_id", "user_id", "idx", "is_first", "is_last"),
    """
SELECT event_id, user_id,
       CAST(row_number() OVER w - 1 AS INT) AS idx,
       (row_number() OVER w = 1) AS is_first,
       (lead(1) OVER w IS NULL) AS is_last
FROM events
-- NULLS FIRST: Spark's ascending default; DuckDB defaults nulls_last
WINDOW w AS (PARTITION BY user_id
             ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
""",
)

_register(
    "unique_filter",
    lambda spark, sf: first_per_key(
        _t(spark, sf, "events"), ["user_id", "event_type"], ["ts", "event_id"]
    ).select("event_id", "user_id", "event_type"),
    """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
  FROM events
) WHERE rn = 1
""",
)


def _url_dedup(spark, sf):
    from ..operators.dedup import url_dedup

    docs = _t(spark, sf, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"),
            F.when(F.col("doc_id") % 3 == 0, "WWW.").otherwise(""),
            F.col("source"),
            F.lit(".Example.org"),
            F.when(F.col("doc_id") % 5 == 0, ":80").otherwise(""),
            F.lit("/p/"),
            (F.col("doc_id") % 50).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, "/").otherwise(""),
            F.lit("?utm_source=x&b=2&a="),
            (F.col("doc_id") % 4).cast("string"),
            F.when(F.col("doc_id") % 7 == 0, "&fbclid=zz").otherwise(""),
            F.lit("#frag"),
        ).alias("url"),
    )
    return url_dedup(messy).select("doc_id", "url_canon")


_register(
    "url_dedup",
    _url_dedup,
    r"""
WITH urls AS (
  SELECT doc_id,
         'HTTP://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
           || source || '.Example.org'
           || CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END
           || '/p/' || CAST(doc_id % 50 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
           || '?utm_source=x&b=2&a=' || CAST(doc_id % 4 AS VARCHAR)
           || CASE WHEN doc_id % 7 = 0 THEN '&fbclid=zz' ELSE '' END
           || '#frag' AS url
  FROM documents),
c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM urls),
c2 AS (SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           lower(regexp_extract(u, '^([^/?#]+://[^/?#]*)', 1)),
           '://www\.', '://'),
           '^(http://[^/:]*):80$', '\1'),
           '^(https://[^/:]*):443$', '\1') AS prefix,
         regexp_replace(u, '^[^/?#]+://[^/?#]*', '') AS rest
       FROM c1),
c3 AS (SELECT doc_id, prefix,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
           AS path,
         array_to_string(list_sort(list_filter(
           string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
           p -> p <> '' AND NOT regexp_matches(p,
             '^(utm_[A-Za-z0-9_]*|fbclid|gclid|mc_cid|mc_eid|ref)(=|$)')
         )), '&') AS qstr
       FROM c2),
canon AS (
  SELECT doc_id,
         prefix || path
           || CASE WHEN qstr <> '' THEN '?' || qstr ELSE '' END AS url_canon
  FROM c3)
SELECT min(doc_id) AS doc_id, url_canon FROM canon GROUP BY url_canon
""",
)

# ---- entity linkage ----

_MENTION_DICT = [
    ("urn:w:spark", "Spark"),
    ("urn:w:table", "Table"),
    ("urn:w:stream", "stream"),
    ("urn:w:query-window", "Query Window"),
    ("urn:w:fast-table", "fast table"),
    ("urn:w:merge-batch", "Merge BATCH"),
]


def _mentions(spark, sf):
    docs = _tp(spark, sf, "documents")
    d = spark.createDataFrame(_MENTION_DICT, "entity string, label string")
    return detect_mentions(docs, d, max_gram=2)


_MENTION_DICT_SQL = "VALUES " + ", ".join(
    f"('{e}', '{l}')" for e, l in _MENTION_DICT
)

_register(
    "detect_mentions",
    _mentions,
    f"""
WITH dict AS (
  SELECT entity, array_to_string({_toks_sql('label')}, ' ') AS gram
  FROM (SELECT * FROM ({_MENTION_DICT_SQL}) AS t(entity, label))
  WHERE len(array_to_string({_toks_sql('label')}, ' ')) > 0
),
norm AS (
  SELECT doc_id, ' ' || array_to_string({TOKS}, ' ') || ' ' AS padded FROM documents
)
SELECT DISTINCT n.doc_id, d.gram AS mention, d.entity
FROM norm n JOIN dict d ON n.padded LIKE '% ' || d.gram || ' %'
""",
)

# ---- canonicalization: connected components ----


def _cc(spark, sf):
    docs = _t(spark, sf, "documents")
    edges = docs.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    return connected_components(edges)


_register(
    "connected_components",
    _cc,
    # chains doc_id → doc_id−1 within decades ⇒ component = min of the
    # decade; node universe = edge endpoints (NOT all doc_ids — the
    # operator only sees nodes incident to an edge, and a doc count
    # ≡ 1 mod 10 would leave the max doc isolated and absent)
    """
WITH e AS (SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
           WHERE doc_id % 10 <> 0),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)
SELECT node, (node // 10) * 10 AS comp FROM nodes
""",
)

_register(
    "transitive_closure",
    lambda spark, sf: transitive_closure(
        kg_triples(spark, sf)
        .where((F.col("p") == SKOS + "broader") & (F.col("o_kind") == "iri"))
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
    ).select("src", "dst", F.col("dist").cast("long").alias("dist")),
    CLOSURE_SQL + "SELECT src, dst, CAST(dist AS BIGINT) AS dist FROM closure",
)

# ---- scalar/formatting layer (§2.8 — subyt literal serialization) ----

_register(
    "xsd_literals",
    lambda spark, sf: _t(spark, sf, "orders").select(
        "o_orderkey",
        xsd_integer_col(F.col("o_custkey"), '"').alias("lit_int"),
        xsd_boolean_col((F.col("o_orderkey") % 2).cast("string"), '"').alias("lit_bool"),
        F.concat(
            F.lit('"'),
            F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
            F.lit('"^^xsd:date'),
        ).alias("lit_date"),
        xsd_string_col(F.col("o_orderpriority"), '"', lang="en").alias("lit_str"),
        xsd_gyear_col(F.year(F.col("o_orderdate")), '"').alias("lit_gyear"),
        unite_col(
            F.col("o_orderpriority"), F.col("o_orderstatus"), sep=" ", n=3
        ).alias("united"),
        uri_format_col(
            F.concat(
                F.lit("https://example.org/order/"), F.col("o_orderkey").cast("string")
            )
        ).alias("uri"),
    ),
    r"""
SELECT o_orderkey,
  concat('"', o_custkey, '"^^xsd:integer') AS lit_int,
  concat('"', CASE WHEN o_orderkey % 2 = 0 THEN 'false' ELSE 'true' END, '"^^xsd:boolean') AS lit_bool,
  concat('"', strftime(o_orderdate, '%Y-%m-%d'), '"^^xsd:date') AS lit_date,
  concat('"', replace(replace(o_orderpriority, '\', '\\'), '"', '\"'), '"@en') AS lit_str,
  concat('"', lpad(CAST(year(o_orderdate) AS VARCHAR), 4, '0'), '"^^xsd:gYear') AS lit_gyear,
  CASE WHEN length(o_orderpriority) > 0 AND length(o_orderstatus) > 0
       THEN concat(o_orderpriority, ' ', o_orderstatus) ELSE '' END AS united,
  concat('<https://example.org/order/', o_orderkey, '>') AS uri
FROM orders
""",
)

_register(
    "normalise_scheme",
    lambda spark, sf: _t(spark, sf, "part").select(
        "p_partkey",
        normalise_scheme_col(
            F.when(
                F.col("p_partkey") % 2 == 0,
                F.concat(F.lit("http://schema.org/brand/"), F.col("p_brand")),
            ).otherwise(
                F.concat(F.lit("https://schema.org/brand/"), F.col("p_brand"))
            )
        ).alias("norm_uri"),
    ),
    """
SELECT p_partkey,
  regexp_replace(
    CASE WHEN p_partkey % 2 = 0 THEN concat('http://schema.org/brand/', p_brand)
         ELSE concat('https://schema.org/brand/', p_brand) END,
    '^https?://schema\\.org', 'https://schema.org') AS norm_uri
FROM part
""",
)

# ---- serialization & naming (S16/S18) ----

_register(
    "ntriples_serialize",
    lambda spark, sf: ntriples_lines(kg_triples(spark, sf)),
    KG_SQL
    + r"""
SELECT concat(
  CASE WHEN substr(s, 1, 2) = '_:' THEN s ELSE concat('<', s, '>') END,
  ' <', p, '> ',
  CASE WHEN o_kind = 'iri' THEN concat('<', o, '>')
       WHEN o_kind = 'bnode' THEN o
       ELSE concat('"',
                   replace(replace(replace(replace(replace(o,
                     '\', '\\'), '"', '\"'), chr(10), '\n'),
                     chr(13), '\r'), chr(9), '\t'),
                   '"',
                   CASE WHEN o_lang IS NOT NULL THEN concat('@', o_lang)
                        WHEN o_datatype IS NOT NULL
                             AND o_datatype <> 'http://www.w3.org/2001/XMLSchema#string'
                             THEN concat('^^<', o_datatype, '>')
                        ELSE '' END)
  END, ' .') AS line
FROM triples
""",
)


_register(
    "turtle_serialize",
    lambda spark, sf: turtle_blocks(kg_triples(spark, sf)),
    KG_SQL
    + r"""
, objs AS (
  SELECT s, p,
    CASE WHEN o_kind = 'iri' THEN concat('<', o, '>')
         WHEN o_kind = 'bnode' THEN o
         ELSE concat('"',
                     replace(replace(replace(replace(replace(o,
                       '\', '\\'), '"', '\"'), chr(10), '\n'),
                       chr(13), '\r'), chr(9), '\t'),
                     '"',
                     CASE WHEN o_lang IS NOT NULL THEN concat('@', o_lang)
                          WHEN o_datatype IS NOT NULL
                               AND o_datatype <> 'http://www.w3.org/2001/XMLSchema#string'
                               THEN concat('^^<', o_datatype, '>')
                          ELSE '' END)
    END AS ot
  FROM triples
),
per_sp AS (
  SELECT s, p,
         array_to_string(list_sort(list(DISTINCT ot)), ', ') AS objstr
  FROM objs GROUP BY s, p
)
SELECT s,
       concat(
         CASE WHEN substr(s, 1, 2) = '_:' THEN s ELSE concat('<', s, '>') END,
         ' ',
         array_to_string(
           list_sort(list(concat('<', p, '> ', objstr))),
           concat(' ;', chr(10), '    ')),
         ' .') AS block
FROM per_sp GROUP BY s
""",
)


_register(
    "jsonld_serialize",
    lambda spark, sf: jsonld_nodes(kg_triples(spark, sf)),
    KG_SQL
    + r"""
, vals AS (
  SELECT s, p,
    CASE WHEN o_kind IN ('iri', 'bnode')
           THEN concat('{"@id":', to_json(o), '}')
         WHEN o_lang IS NOT NULL
           THEN concat('{"@value":', to_json(o),
                       ',"@language":', to_json(o_lang), '}')
         WHEN o_datatype IS NOT NULL
              AND o_datatype <> 'http://www.w3.org/2001/XMLSchema#string'
           THEN concat('{"@value":', to_json(o),
                       ',"@type":', to_json(o_datatype), '}')
         ELSE concat('{"@value":', to_json(o), '}')
    END AS vj
  FROM triples
),
per_sp AS (
  SELECT s, p,
         concat(to_json(p), ':[',
                array_to_string(list_sort(list(DISTINCT vj)), ','), ']')
           AS entry
  FROM vals GROUP BY s, p
)
SELECT s,
       concat('{"@id":', to_json(s), ',',
              array_to_string(list_sort(list(entry)), ','), '}') AS node
FROM per_sp GROUP BY s
""",
)


def _unique_filenames(spark, sf):
    from ..serialize import unique_filename_col

    orders = _t(spark, sf, "orders")
    url = F.concat(
        F.lit("https://example.org/order/"), F.col("o_orderkey").cast("string")
    )
    return orders.select(
        "o_orderkey",
        unique_filename_col(url, F.lit("text/turtle")).alias("filename"),
    )


_register(
    "unique_filenames",
    _unique_filenames,
    """
SELECT o_orderkey,
  concat(
    replace(replace(substr(to_base64(from_hex(sha256(
      concat('https://example.org/order/', o_orderkey, 'text/turtle')))), 1, 13),
      '+', '-'), '/', '_'),
    '-order-', o_orderkey, '.ttl') AS filename
FROM orders
""",
)

# ---- generic BGP SPARQL-select compiler ----

_register(
    "sparql_bgp",
    lambda spark, sf: bgp_select(
        kg_triples(spark, sf),
        "SELECT DISTINCT ?c ?n ?r WHERE { "
        "?c skos:broader ?n . ?n skos:broader ?r . ?r skos:broader ?w . }",
        {"skos": SKOS},
    ),
    KG_SQL
    + f"""
SELECT DISTINCT a.s AS c, a.o AS n, b.o AS r
FROM triples a
JOIN triples b ON b.s = a.o AND b.p = '{SKOS}broader'
JOIN triples w ON w.s = b.o AND w.p = '{SKOS}broader'
WHERE a.p = '{SKOS}broader'
""",
)

_register(
    "sparql_optional_filter",
    lambda spark, sf: bgp_select(
        kg_triples(spark, sf),
        '''SELECT DISTINCT ?c ?pl ?alt WHERE {
             ?c skos:broader ?n .
             ?c skos:prefLabel ?pl .
             OPTIONAL { ?c skos:altLabel ?alt . }
             FILTER(regex(str(?pl), "customer#0{6}9", "i"))
             FILTER(langMatches(lang(?pl), "en"))
           }''',
        {"skos": SKOS},
    ),
    KG_SQL
    + f"""
SELECT DISTINCT b.s AS c, pl.o AS pl, al.o AS alt
FROM triples b
JOIN triples pl ON pl.s = b.s AND pl.p = '{SKOS}prefLabel'
LEFT JOIN triples al ON al.s = b.s AND al.p = '{SKOS}altLabel'
WHERE b.p = '{SKOS}broader'
  AND regexp_matches(pl.o, '(?i)customer#0{{6}}9')
  AND (lower(coalesce(pl.o_lang, '')) = 'en'
       OR starts_with(lower(coalesce(pl.o_lang, '')), 'en-'))
""",
)

# ---- SPARQL v2 compiler surface: property paths, aggregates,
# VALUES/BIND, NOT EXISTS (reference runs full SPARQL via rdflib —
# /root/reference/sema/query/__init__.py — so the widened subset is
# user-visible parity, each shape pinned to a DuckDB oracle) ----


def _bgp(spark, sf, sparql):
    from .bgp import bgp_select

    return bgp_select(kg_triples(spark, sf), sparql, {"skos": SKOS, "dc": DC})


_register(
    "sparql_path",
    lambda spark, sf: _bgp(
        spark, sf, "SELECT ?c ?a WHERE { ?c skos:broader+ ?a . }"
    ),
    CLOSURE_SQL + "SELECT src AS c, dst AS a FROM closure",
)

_register(
    "sparql_path_seq_inv",
    # sequence path: each customer's region label via two broader hops
    lambda spark, sf: _bgp(
        spark,
        sf,
        "SELECT DISTINCT ?c ?rl WHERE { "
        "?c skos:broader/skos:broader/skos:prefLabel ?rl . }",
    ),
    KG_SQL
    + f"""
SELECT DISTINCT a.s AS c, l.o AS rl
FROM triples a
JOIN triples b ON b.s = a.o AND b.p = '{SKOS}broader'
JOIN triples l ON l.s = b.o AND l.p = '{SKOS}prefLabel'
WHERE a.p = '{SKOS}broader'
""",
)

_register(
    "sparql_groupby",
    lambda spark, sf: _bgp(
        spark,
        sf,
        "SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?s) AS ?ns) "
        "WHERE { ?s ?p ?o } GROUP BY ?p HAVING(COUNT(*) > 100)",
    ),
    KG_SQL
    + """
SELECT p, count(*) AS n, count(DISTINCT s) AS ns
FROM triples GROUP BY p HAVING count(*) > 100
""",
)

_register(
    "sparql_values_bind",
    lambda spark, sf: _bgp(
        spark,
        sf,
        "SELECT ?n ?tag WHERE { "
        "VALUES ?r { <urn:region:0> <urn:region:2> } "
        "?r skos:member ?n . ?n skos:prefLabel ?l . "
        'BIND(CONCAT(STRAFTER(?r, "region:"), "-", LCASE(?l)) AS ?tag) }',
    ),
    KG_SQL
    + f"""
SELECT m.o AS n,
       substr(m.s, strpos(m.s, 'region:') + 7) || '-' || lower(l.o) AS tag
FROM triples m
JOIN triples l ON l.s = m.o AND l.p = '{SKOS}prefLabel'
WHERE m.p = '{SKOS}member'
  AND m.s IN ('urn:region:0', 'urn:region:2')
""",
)

_register(
    "sparql_graph",
    # named-graph blocks over a quads view (g = per-entity-kind graph,
    # the GraphNameMapper partitioning, F10): graph var binding +
    # same-graph join + aggregate
    lambda spark, sf: bgp_select(
        kg_triples(spark, sf).withColumn(
            "g",
            F.concat(
                F.lit("urn:graph:"),
                F.regexp_extract(F.col("s"), r"^urn:([a-z]+):", 1),
            ),
        ),
        "SELECT ?g (COUNT(*) AS ?n) (COUNT(DISTINCT ?s) AS ?ns) "
        "WHERE { GRAPH ?g { ?s skos:prefLabel ?l . } } GROUP BY ?g",
        {"skos": SKOS, "dc": DC},
    ),
    KG_SQL
    + f"""
SELECT 'urn:graph:' || regexp_extract(s, '^urn:([a-z]+):', 1) AS g,
       count(*) AS n, count(DISTINCT s) AS ns
FROM triples WHERE p = '{SKOS}prefLabel'
GROUP BY 1
""",
)

_register(
    "sparql_not_exists",
    lambda spark, sf: _bgp(
        spark,
        sf,
        "SELECT ?s WHERE { ?s a skos:Concept . "
        "FILTER NOT EXISTS { ?s skos:altLabel ?al . } }",
    ),
    KG_SQL
    + f"""
SELECT t.s AS s FROM triples t
WHERE t.p = '{RDF}type' AND t.o = '{SKOS}Concept'
  AND NOT EXISTS (
    SELECT 1 FROM triples al
    WHERE al.s = t.s AND al.p = '{SKOS}altLabel')
""",
)

# ---- nested group graph patterns (the recursive algebra compiler:
# queries/algebra.py — SPARQL §18.2.2.6 translation; the reference
# gets these through rdflib's evaluator, the flat extractor refuses
# them with NotImplementedError and bgp_select falls back) ----

_register(
    "sparql_optional_scoped_filter",
    # FILTER *inside* OPTIONAL = LeftJoin condition (§18.2.2.6): odd
    # customers keep their row with ?alt unbound, never dropped
    lambda spark, sf: _bgp(
        spark,
        sf,
        """SELECT ?c ?alt WHERE {
             ?c a <http://www.example.org/Customer> .
             ?c skos:broader ?n .
             OPTIONAL { ?c skos:altLabel ?alt
                        FILTER(langMatches(lang(?alt), "en")) }
           }""",
    ),
    KG_SQL
    + f"""
SELECT b.s AS c, al.o AS alt
FROM triples t
JOIN triples b ON b.s = t.s AND b.p = '{SKOS}broader'
LEFT JOIN triples al ON al.s = t.s AND al.p = '{SKOS}altLabel'
  AND (lower(coalesce(al.o_lang, '')) = 'en'
       OR starts_with(lower(coalesce(al.o_lang, '')), 'en-'))
WHERE t.p = '{RDF}type' AND t.o = '{EX}Customer'
""",
)

_register(
    "sparql_union_optional",
    # a UNION branch carrying its own OPTIONAL; the union's padded ?n
    # var exercises column alignment, the base join stays an equi-join
    # because ?c is certain in both branches
    lambda spark, sf: _bgp(
        spark,
        sf,
        """SELECT ?c ?lbl WHERE {
             ?c a <http://www.example.org/Customer> .
             { ?c skos:altLabel ?lbl
               FILTER(langMatches(lang(?lbl), "en")) }
             UNION
             { ?c skos:broader ?n OPTIONAL { ?n skos:prefLabel ?lbl } }
           }""",
    ),
    KG_SQL
    + f"""
SELECT t.s AS c, u.lbl AS lbl
FROM triples t
JOIN (
  SELECT al.s AS cs, al.o AS lbl FROM triples al
  WHERE al.p = '{SKOS}altLabel'
    AND (lower(coalesce(al.o_lang, '')) = 'en'
         OR starts_with(lower(coalesce(al.o_lang, '')), 'en-'))
  UNION ALL
  SELECT b.s AS cs, pl.o AS lbl FROM triples b
  LEFT JOIN triples pl ON pl.s = b.o AND pl.p = '{SKOS}prefLabel'
  WHERE b.p = '{SKOS}broader'
) u ON u.cs = t.s
WHERE t.p = '{RDF}type' AND t.o = '{EX}Customer'
""",
)

_register(
    "sparql_nested_minus",
    # MINUS whose group carries its own FILTER (nested scope): §8.3
    # compatibility over the shared ?c
    lambda spark, sf: _bgp(
        spark,
        sf,
        """SELECT ?c WHERE {
             ?c a <http://www.example.org/Customer> .
             MINUS { ?c <http://www.w3.org/2002/07/owl#deprecated> ?d
                     FILTER(?d = "true") }
           }""",
    ),
    KG_SQL
    + f"""
SELECT t.s AS c FROM triples t
WHERE t.p = '{RDF}type' AND t.o = '{EX}Customer'
  AND NOT EXISTS (
    SELECT 1 FROM triples d
    WHERE d.s = t.s AND d.p = '{OWL}deprecated' AND d.o = 'true')
""",
)

# ---- SPARQL graph-building forms: CONSTRUCT / DESCRIBE / ASK (the
# reference accepts every rdflib query form through one select entry
# point; each compiles to columnar projections of the solution plan) --

_register(
    "sparql_construct",
    lambda spark, sf: bgp_construct(
        kg_triples(spark, sf),
        "CONSTRUCT { ?c <urn:ex:code> ?i . ?c a <urn:ex:Identified> } "
        "WHERE { ?c dc:identifier ?i . ?c skos:broader ?n . }",
        {"skos": SKOS, "dc": DC},
    ),
    KG_SQL
    + f"""
SELECT DISTINCT * FROM (
  SELECT t.s AS s, 'urn:ex:code' AS p, t.o AS o,
         'literal' AS o_kind, CAST(NULL AS VARCHAR) AS o_datatype,
         t.o_lang AS o_lang
  FROM triples t
  WHERE t.p = '{DC}identifier'
    AND EXISTS (SELECT 1 FROM triples b
                WHERE b.s = t.s AND b.p = '{SKOS}broader')
  UNION ALL
  SELECT t.s, '{RDF}type', 'urn:ex:Identified', 'iri', NULL, NULL
  FROM triples t
  WHERE t.p = '{DC}identifier'
    AND EXISTS (SELECT 1 FROM triples b
                WHERE b.s = t.s AND b.p = '{SKOS}broader')
)
""",
)

_register(
    "sparql_describe",
    lambda spark, sf: bgp_describe(
        kg_triples(spark, sf),
        "DESCRIBE ?r WHERE { ?r skos:member ?m . ?m a skos:Concept . }",
        {"skos": SKOS},
    ),
    KG_SQL
    + f"""
SELECT DISTINCT t.s AS s, t.p AS p, t.o AS o, t.o_kind AS o_kind,
       CAST(t.o_datatype AS VARCHAR) AS o_datatype,
       CAST(t.o_lang AS VARCHAR) AS o_lang
FROM triples t
WHERE t.s IN (
  SELECT mem.s FROM triples mem
  JOIN triples ty ON ty.s = mem.o
    AND ty.p = '{RDF}type' AND ty.o = '{SKOS}Concept'
  WHERE mem.p = '{SKOS}member')
""",
)

_register(
    "sparql_ask",
    lambda spark, sf: bgp_ask(
        kg_triples(spark, sf),
        'ASK WHERE { ?c skos:prefLabel ?l . FILTER(lang(?l) = "en") }',
        {"skos": SKOS},
    ),
    KG_SQL
    + f"""
SELECT EXISTS (
  SELECT 1 FROM triples
  WHERE p = '{SKOS}prefLabel' AND lower(coalesce(o_lang, '')) = 'en'
) AS ask
""",
)


def _sparql_update(spark, sf):
    """SPARQL 1.1 Update over the KG view: retire every deprecated
    entity (DELETE the flag triple, INSERT a lifecycle triple from the
    same solution set), then summarize the updated graph per
    predicate. Exercises the anti-join delete + union/dedup insert
    machinery (queries/update.py) end-to-end against a plain-SQL
    mirror of the set algebra."""
    from .update import apply_update

    out = apply_update(
        kg_triples(spark, sf),
        f'DELETE {{ ?s <{OWL}deprecated> "true" }} '
        f'INSERT {{ ?s <urn:ex:lifecycle> "retired" }} '
        f'WHERE {{ ?s <{OWL}deprecated> "true" }}',
    )
    return (
        out.groupBy("p").agg(F.count(F.lit(1)).alias("n")).orderBy("p")
    )


_register(
    "sparql_update",
    _sparql_update,
    KG_SQL
    + f""",
updated AS (
  SELECT s, p, o FROM triples
  WHERE NOT (p = '{OWL}deprecated' AND o = 'true')
  UNION ALL
  SELECT DISTINCT s, 'urn:ex:lifecycle', 'retired'
  FROM triples WHERE p = '{OWL}deprecated' AND o = 'true'
)
SELECT p, count(*) AS n FROM updated GROUP BY p ORDER BY p
""",
)


# ---- harvest frontier traversal (M5) — corpus-shaped, rows-only ----


def _harvest_run(spark, sf):
    from ..harvest import HarvestConfig, Harvester
    from ..sources.corpus import BASE_URL, synth_corpus

    corpus = synth_corpus(spark, n_pages=150, seed=42).persist()
    corpus.count()
    cfg = HarvestConfig.from_yaml(
        f"""
snooze-till-graph-age-minutes: 0
prefix:
  ex: http://www.example.org/
assert:
  - subjects:
      literal:
        - {BASE_URL}page/5
    paths:
      - "*"
      - "ex:resource"
""",
        name="bench",
    )
    store, report = Harvester(spark, corpus).run(cfg)
    return report.select("kind", "url", "success", "triple_count")


# Closed-form oracle: the harvest fixture is fully deterministic
# (synth corpus seed 42; assert config over page/5 — semantics pinned
# by tests/test_reference_fixed_points.py, mirroring the reference's
# tests/harvest/test_scenarios.py:30-51 fixed points), so the report
# is a literal: one successful download of page/5 yielding 12 triples
# plus the two assertion-outcome rows (path "*" succeeds,
# "ex:resource" finds no bound object => failure).
_register(
    "harvest_run",
    _harvest_run,
    """
SELECT * FROM (VALUES
  ('assertion', CAST(NULL AS VARCHAR), true,  CAST(0 AS BIGINT)),
  ('assertion', CAST(NULL AS VARCHAR), false, CAST(0 AS BIGINT)),
  ('download', 'https://corpus.example.org/page/5', true,
   CAST(12 AS BIGINT))
) AS t(kind, url, success, triple_count)
""",
)

# ---- subyt templating (M4) — Jinja render over records ----


def _subyt_render(spark, sf):
    from ..subyt import SparkSubyt

    part = _t(spark, sf, "part").select("p_partkey", "p_name")
    template = (
        "<urn:part:{{ _['p_partkey'] }}> ex:name "
        "{{ _['p_name'] | xsd('xsd:string', '\"') }} ."
    )
    return SparkSubyt(template, order_by=["p_partkey"]).process(part)


_register(
    "subyt_render",
    _subyt_render,
    r"""
SELECT CAST(row_number() OVER (ORDER BY p_partkey) - 1 AS BIGINT) AS idx,
  concat('<urn:part:', p_partkey, '> ex:name "',
         replace(replace(p_name, '\', '\\'), '"', '\"'),
         '"^^xsd:string .') AS part
FROM part
""",
)

# ---- SHACL subset (E6) — violations DataFrame ----

_SHACL_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix ex: <http://www.example.org/> .

ex:CustomerShape
    a sh:NodeShape ;
    sh:targetClass ex:Customer ;
    sh:property [ sh:path owl:deprecated ; sh:in ( "false" ) ] ;
    sh:property [ sh:path skos:prefLabel ; sh:maxCount 1 ] .
"""


def _shacl_validate(spark, sf):
    from ..shacl import parse_shapes_ttl, validate

    return validate(kg_triples(spark, sf), parse_shapes_ttl(_SHACL_TTL))


_register(
    "shacl_validate",
    _shacl_validate,
    # every 7th customer carries owl:deprecated 'true' → exactly the
    # sh:in violations; prefLabel maxCount 1 never trips
    f"""
SELECT 'urn:cust:' || c_custkey AS focus,
       '{EX}CustomerShape' AS shape,
       '{OWL}deprecated' AS path,
       'in' AS constraint,
       'true' AS value,
       'value not in [''false'']' AS message,
       'http://www.w3.org/ns/shacl#Violation' AS severity
FROM customer WHERE c_custkey % 7 = 0
""",
)

# SHACL property paths (§2.3.1): sequence, oneOrMore (doubling
# closure), inverse + qualifiedValueShape — each over the customer →
# nation → region → world broader chain, so every violation set is
# plain-SQL derivable
_SHACL_PATHS_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix ex: <http://www.example.org/> .

ex:CustomerPathShape
    a sh:NodeShape ;
    sh:targetClass ex:Customer ;
    sh:property [ sh:path ( skos:broader skos:prefLabel ) ;
                  sh:pattern "^[A-J]" ] ;
    sh:property [ sh:path [ sh:oneOrMorePath skos:broader ] ;
                  sh:pattern "^urn:(nation|region):" ] ;
    sh:property [ sh:path [ sh:inversePath skos:member ] ;
                  sh:qualifiedValueShape [ sh:class skos:Concept ] ;
                  sh:qualifiedMinCount 2 ] .
"""


def _shacl_paths(spark, sf):
    from ..shacl import parse_shapes_ttl, validate

    return validate(kg_triples(spark, sf), parse_shapes_ttl(_SHACL_PATHS_TTL))


_register(
    "shacl_paths",
    _shacl_paths,
    # three deterministic violation families per customer: (1) the
    # broader/prefLabel sequence value (its nation's name) fails ^[A-J]
    # for nations K-Z; (2) the broader+ closure always reaches
    # urn:world:0, which fails the nation|region pattern; (3) the
    # inverse-member value set holds exactly 1 skos:Concept (< 2)
    f"""
SELECT 'urn:cust:' || c_custkey AS focus,
       '{EX}CustomerPathShape' AS shape,
       '{SKOS}broader/{SKOS}prefLabel' AS path,
       'pattern' AS constraint,
       n_name AS value,
       'value does not match pattern /^[A-J]/' AS message,
       'http://www.w3.org/ns/shacl#Violation' AS severity
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT regexp_matches(n_name, '^[A-J]')
UNION ALL
SELECT 'urn:cust:' || c_custkey,
       '{EX}CustomerPathShape',
       '{SKOS}broader+',
       'pattern',
       'urn:world:0',
       'value does not match pattern /^urn:(nation|region):/',
       'http://www.w3.org/ns/shacl#Violation'
FROM customer
UNION ALL
SELECT 'urn:cust:' || c_custkey,
       '{EX}CustomerPathShape',
       '^{SKOS}member',
       'qualifiedMinCount',
       '1',
       'fewer than 2 conforming values',
       'http://www.w3.org/ns/shacl#Violation'
FROM customer
""",
)


_SHACL_LOGICAL_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
@prefix dc: <http://purl.org/dc/terms/> .
@prefix ex: <http://www.example.org/> .

ex:CustomerLogicShape
    a sh:NodeShape ;
    sh:targetClass ex:Customer ;
    sh:xone ( [ sh:property [ sh:path skos:altLabel ;
                              sh:maxCount 1 ] ]
              [ sh:property [ sh:path dc:identifier ;
                              sh:minCount 2 ] ] ) .
"""


def _shacl_logical(spark, sf):
    """Node-level logical constraint with sh:property operands (the
    r4 extension — SHACL §4.7's canonical shape family): each focus
    customer must satisfy EXACTLY ONE of {≤1 altLabel, ≥2
    identifiers}. Every customer has exactly one identifier (branch 2
    always fails) and even custkeys carry a second altLabel (branch 1
    fails) → even customers conform to zero branches and violate
    sh:xone. Oracle: that closed form."""
    from ..shacl import parse_shapes_ttl, validate

    return validate(
        kg_triples(spark, sf), parse_shapes_ttl(_SHACL_LOGICAL_TTL)
    )


_register(
    "shacl_logical",
    _shacl_logical,
    f"""
SELECT 'urn:cust:' || c_custkey AS focus,
       '{EX}CustomerLogicShape' AS shape,
       CAST(NULL AS VARCHAR) AS path,
       'xone' AS constraint,
       'urn:cust:' || c_custkey AS value,
       'value conforms to != 1 sh:xone branch' AS message,
       'http://www.w3.org/ns/shacl#Violation' AS severity
FROM customer WHERE c_custkey % 2 = 0
""",
)


def _sparql_bare_filter(spark, sf):
    """SPARQL grammar forms closed this round: an empty-prefix PREFIX
    declaration / ``:curie`` terms, and the un-bracketed FILTER
    Constraint form (``FILTER strstarts(…)`` — a BuiltInCall, no
    wrapping parens). Oracle: plain projection of the customers whose
    identifier starts with C1."""
    from .bgp import bgp_select

    q = (
        'PREFIX : <' + SKOS + '>\n'
        'PREFIX dc: <' + DC + '>\n'
        'SELECT ?s ?lbl WHERE { ?s dc:identifier ?id . '
        '?s :prefLabel ?lbl . '
        'FILTER strstarts(?id, "C1") FILTER isLiteral(?lbl) }'
    )
    return bgp_select(kg_triples(spark, sf), q)


_register(
    "sparql_bare_filter",
    _sparql_bare_filter,
    """
SELECT 'urn:cust:' || c_custkey AS s, c_name AS lbl
FROM customer
WHERE ('C' || CAST(c_custkey AS VARCHAR)) LIKE 'C1%'
""",
)

_PART_IRI = "https://example.org/part/{p_brand}/{p_partkey}"


@F.udf(StringType())
def _part_iri(brand, partkey):
    return uritemplate_expand(_PART_IRI, {"p_brand": brand, "p_partkey": partkey})


# TPC-H p_brand is 'Brand#MN': '#' is its only character outside the
# RFC 6570 unreserved set, so the simple-expression expansion is
# p_brand with '#' percent-encoded.
_register(
    "uritemplate_expand",
    lambda spark, sf: _t(spark, sf, "part").select(
        "p_partkey",
        _part_iri("p_brand", "p_partkey").alias("expanded"),
    ),
    """
SELECT p_partkey,
  concat('https://example.org/part/', replace(p_brand, '#', '%23'), '/', p_partkey) AS expanded
FROM part
""",
)


def _heavy_hitters(spark, sf):
    """Exact heavy-hitter tokens (freq > n/40) over the documents
    corpus via Misra-Gries candidate pruning + exact verify — the
    phase-1 sketch never shuffles; only candidate rows reach the
    count. Oracle: the plain exact formulation."""
    from ..operators.dedup import normalized_tokens
    from ..operators.sketch import heavy_hitters

    toks = _tp(spark, sf, "documents").select(
        F.explode(normalized_tokens(F.col("text"))).alias("token")
    )
    return heavy_hitters(toks, "token", k=40)


_register(
    "heavy_hitters",
    _heavy_hitters,
    f"""
WITH toks AS (SELECT unnest({TOKS}) AS item FROM documents),
n AS (SELECT count(*) AS n FROM toks),
c AS (SELECT item, count(*) AS cnt FROM toks GROUP BY item)
SELECT c.item, c.cnt FROM c, n WHERE c.cnt * 40 > n.n
""",
)


# ---- RDFS entailment (ρdf forward chaining; the reference reasons
# in-memory via rdflib graphs, /root/reference/sema/query/__init__.py;
# here it is broadcast-join relational algebra) ----

RDFS = "http://www.w3.org/2000/01/rdf-schema#"

_ENT_SCHEMA = [
    # two-level subPropertyOf chain (exercises rdfs5 transitivity)
    (SKOS + "prefLabel", RDFS + "subPropertyOf", "urn:p:label"),
    ("urn:p:label", RDFS + "subPropertyOf", "urn:p:annotation"),
    (DC + "title", RDFS + "subPropertyOf", "urn:p:label"),
    # two-level subClassOf chain (rdfs11) + parallel branches
    (SKOS + "Collection", RDFS + "subClassOf", "urn:cls:Grouping"),
    ("urn:cls:Grouping", RDFS + "subClassOf", "urn:cls:Resource"),
    (SKOS + "Concept", RDFS + "subClassOf", "urn:cls:Resource"),
    (EX + "Customer", RDFS + "subClassOf", "urn:cls:Agent"),
    # domain over the hub predicate, range over the closure predicate
    (SKOS + "member", RDFS + "domain", "urn:cls:Grouping"),
    (SKOS + "broader", RDFS + "range", "urn:cls:Broadened"),
]


def _rdfs_entailment(spark, sf):
    """RDFS closure of the SKOS concept scheme with an in-band
    ontology: property widening via a 2-level subPropertyOf chain,
    domain/range typing of the member/broader slices, and subclass
    propagation of every type assertion."""
    from ..operators.inference import rdfs_entailment

    schema = spark.createDataFrame(
        [(s, p, o, "iri", None, None) for s, p, o in _ENT_SCHEMA],
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string",
    )
    return rdfs_entailment(kg_triples(spark, sf).unionByName(schema))


_ENT_VALUES = ",\n    ".join(
    f"('{s}', '{p}', '{o}', 'iri')" for s, p, o in _ENT_SCHEMA
)

_register(
    "rdfs_entailment",
    _rdfs_entailment,
    KG_SQL.replace("WITH triples", "WITH RECURSIVE triples", 1)
    + f""",
alltr(s, p, o, o_kind) AS (
  SELECT s, p, o, o_kind FROM triples
  UNION ALL
  SELECT * FROM (VALUES
    {_ENT_VALUES}
  ) AS v(s, p, o, o_kind)
),
sp(sub, sup) AS (
  SELECT s, o FROM alltr WHERE p = '{RDFS}subPropertyOf'
  UNION
  SELECT sp.sub, t.o FROM sp
  JOIN alltr t ON t.s = sp.sup AND t.p = '{RDFS}subPropertyOf'
),
sc(sub, sup) AS (
  SELECT s, o FROM alltr WHERE p = '{RDFS}subClassOf'
  UNION
  SELECT sc.sub, t.o FROM sc
  JOIN alltr t ON t.s = sc.sup AND t.p = '{RDFS}subClassOf'
),
inst1(s, p, o, o_kind) AS (
  SELECT s, p, o, o_kind FROM alltr
  UNION ALL
  SELECT t.s, sp.sup, t.o, t.o_kind FROM alltr t JOIN sp ON t.p = sp.sub
),
types0(s, o) AS (
  SELECT s, o FROM inst1 WHERE p = '{RDF}type'
  UNION ALL
  SELECT t.s, d.o FROM inst1 t
  JOIN alltr d ON d.p = '{RDFS}domain' AND t.p = d.s
  UNION ALL
  SELECT t.o, r.o FROM inst1 t
  JOIN alltr r ON r.p = '{RDFS}range' AND t.p = r.s
  WHERE t.o_kind = 'iri'
)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM inst1
  UNION ALL SELECT s, '{RDF}type', o FROM types0
  UNION ALL SELECT t.s, '{RDF}type', sc.sup FROM types0 t
            JOIN sc ON t.o = sc.sub
  UNION ALL SELECT sub, '{RDFS}subPropertyOf', sup FROM sp
  UNION ALL SELECT sub, '{RDFS}subClassOf', sup FROM sc
)
""",
)


def _sameas_fusion(spark, sf):
    """owl:sameAs fusion — the north-rule canonicalization applied to
    the triple store end-to-end: equivalence edges (deterministic
    chains over customer IRIs, i↔i+1 within each decade — transitive,
    so only a real connected-components pass resolves them) →
    `canonical_map` (pointer-doubled CC, canonical = min IRI) →
    `rewrite_triples` (broadcast map over s and IRI-kind o) → distinct
    fused (s,p,o). The oracle uses the closed decade form the chain
    construction guarantees; the Spark side must reach it via CC."""
    from ..operators.linkage import canonical_map, rewrite_triples

    cust = _t(spark, sf, "customer").select("c_custkey")
    mx = F.broadcast(cust.agg(F.max("c_custkey").alias("_mx")))
    e = cust.crossJoin(mx).where(
        (F.col("c_custkey") % 10 != 9) & (F.col("c_custkey") < F.col("_mx"))
    )
    edges = e.select(
        F.concat(F.lit("urn:cust:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(
            F.lit("urn:cust:"), (F.col("c_custkey") + 1).cast("string")
        ).alias("dst"),
    )
    fused = rewrite_triples(kg_triples(spark, sf), canonical_map(edges))
    return fused.select("s", "p", "o").distinct()


_register(
    "sameas_fusion",
    _sameas_fusion,
    KG_SQL
    + """
, canon AS (
  SELECT 'urn:cust:' || c_custkey AS member,
         'urn:cust:' || ((c_custkey // 10) * 10) AS canonical
  FROM customer
)
SELECT DISTINCT
  coalesce(cs.canonical, t.s) AS s,
  t.p,
  CASE WHEN t.o_kind = 'iri' THEN coalesce(co.canonical, t.o)
       ELSE t.o END AS o
FROM triples t
LEFT JOIN canon cs ON t.s = cs.member
LEFT JOIN canon co ON t.o = co.member
""",
)


def _taxonomy_rollup(spark, sf):
    """Descendant rollup over the SKOS broader DAG: for every
    ancestor, the count of distinct transitive descendants and the
    max depth below it — the 'how big is each subtree' question every
    taxonomy UI and vocabulary audit asks. One closure pass (O(log
    diameter) doubling rounds, shared machinery with
    `transitive_closure`) + one ancestor-keyed aggregate; the hub
    ancestor (urn:world:0, every concept below it) pre-combines
    map-side inside the count."""
    tc = transitive_closure(
        kg_triples(spark, sf)
        .where((F.col("p") == SKOS + "broader") & (F.col("o_kind") == "iri"))
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
    )
    return tc.groupBy(F.col("dst").alias("ancestor")).agg(
        F.countDistinct("src").alias("descendants"),
        F.max("dist").cast("long").alias("max_depth"),
    )


_register(
    "taxonomy_rollup",
    _taxonomy_rollup,
    CLOSURE_SQL
    + """
SELECT dst AS ancestor,
       count(DISTINCT src) AS descendants,
       CAST(max(dist) AS BIGINT) AS max_depth
FROM closure GROUP BY dst
""",
)


def _rdf_list_triples(spark, sf):
    """Deterministic rdf:List fixture: one cons chain per region
    holding its nations in n_nationkey order — built identically by
    the oracle, so the flattening logic (closure + head anti-join +
    payload join) is what gets verified."""
    from pyspark.sql.window import Window

    nation = _t(spark, sf, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    cells = nation.select(
        "n_regionkey",
        "n_nationkey",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("n_regionkey")).alias("n"),
    )
    node = F.concat(
        F.lit("urn:list:"),
        F.col("n_regionkey").cast("string"),
        F.lit(":"),
        F.col("i").cast("string"),
    )
    nxt = F.concat(
        F.lit("urn:list:"),
        F.col("n_regionkey").cast("string"),
        F.lit(":"),
        (F.col("i") + 1).cast("string"),
    )
    firsts = cells.select(
        node.alias("s"),
        F.lit(RDF + "first").alias("p"),
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    rests = cells.select(
        node.alias("s"),
        F.lit(RDF + "rest").alias("p"),
        F.when(F.col("i") + 1 < F.col("n"), nxt)
        .otherwise(F.lit(RDF + "nil"))
        .alias("o"),
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    return firsts.unionByName(rests)


def _rdf_list_flatten(spark, sf):
    """Flatten the per-region rdf:List cons chains back to ordered
    (head, pos, item) rows via the pointer-doubled closure over the
    rest edges."""
    from ..operators.closure import rdf_list_flatten

    return rdf_list_flatten(
        kg_triples(spark, sf).unionByName(_rdf_list_triples(spark, sf))
    )


_register(
    "rdf_list_flatten",
    _rdf_list_flatten,
    f"""
WITH cells AS (
  SELECT n_regionkey AS r,
         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) - 1 AS i,
         count(*) OVER (PARTITION BY n_regionkey) AS n,
         n_nationkey
  FROM nation
)
SELECT 'urn:list:' || r || ':0' AS head,
       CAST(i AS BIGINT) AS pos,
       'urn:nation:' || n_nationkey AS item,
       'iri' AS item_kind
FROM cells
""",
)


def _owl_adjacency(spark, sf):
    """Deterministic symmetric-rule fixture: each nation adjacentTo
    its successor within the region (lead over the region window) —
    mirrored verbatim by the oracle."""
    from pyspark.sql.window import Window

    nation = _t(spark, sf, "nation")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    return (
        nation.select(
            "n_nationkey",
            F.lead("n_nationkey").over(w).alias("_nxt"),
        )
        .where(F.col("_nxt").isNotNull())
        .select(
            F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("s"),
            F.lit(EX + "adjacentTo").alias("p"),
            F.concat(F.lit("urn:nation:"), F.col("_nxt").cast("string")).alias("o"),
            F.lit("iri").alias("o_kind"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )
    )


def _owl_entailment(spark, sf):
    """OWL 2 RL property rules over the SKOS scheme with an in-band
    ontology: skos:broader declared transitive (per-property
    pointer-doubled closure), skos:narrower its inverse (flip of the
    closed slice), ex:adjacentTo symmetric (flip of the lead-chain
    fixture)."""
    from ..operators.inference import owl_property_entailment

    schema = spark.createDataFrame(
        [
            (SKOS + "broader", RDF + "type", OWL + "TransitiveProperty"),
            (SKOS + "narrower", OWL + "inverseOf", SKOS + "broader"),
            (EX + "adjacentTo", RDF + "type", OWL + "SymmetricProperty"),
        ],
        "s string, p string, o string",
    ).select(
        "s",
        "p",
        "o",
        F.lit("iri").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    base = kg_triples(spark, sf).unionByName(schema).unionByName(
        _owl_adjacency(spark, sf)
    )
    return owl_property_entailment(base)


_register(
    "owl_entailment",
    _owl_entailment,
    CLOSURE_SQL
    + f""",
adj AS (
  SELECT 'urn:nation:' || n_nationkey AS s,
         '{EX}adjacentTo' AS p,
         'urn:nation:' || nxt AS o
  FROM (SELECT n_nationkey,
               lead(n_nationkey) OVER (PARTITION BY n_regionkey
                                       ORDER BY n_nationkey) AS nxt
        FROM nation)
  WHERE nxt IS NOT NULL
),
onto(s, p, o) AS (
  VALUES ('{SKOS}broader', '{RDF}type', '{OWL}TransitiveProperty'),
         ('{SKOS}narrower', '{OWL}inverseOf', '{SKOS}broader'),
         ('{EX}adjacentTo', '{RDF}type', '{OWL}SymmetricProperty')
)
SELECT s, p, o FROM triples
UNION SELECT s, p, o FROM adj
UNION SELECT o AS s, p, s AS o FROM adj
UNION SELECT s, p, o FROM onto
UNION SELECT src AS s, '{SKOS}broader' AS p, dst AS o FROM closure
UNION SELECT dst AS s, '{SKOS}narrower' AS p, src AS o FROM closure
""",
)


def _conneg_audit(spark, sf):
    """Conneg variant-set audit (functions/conneg.py) over a
    deterministic variant table derived from ``documents``: 50 urls,
    mime by doc_id%3, every 7th fetch a 404, altr-detected text/xml on
    every 4th doc — the requested+detected vs found set-difference per
    url (reference conneg.py FoundVariants semantics, distributed)."""
    from ..functions.conneg import conneg_audit

    docs = _tp(spark, sf, "documents").select(
        F.concat(F.lit("urn:site:"), F.col("doc_id") % 50).alias("url"),
        "doc_id",
    )
    base = docs.select(
        "url",
        F.element_at(
            F.array(
                F.lit("text/html"),
                F.lit("text/turtle"),
                F.lit("application/json"),
            ),
            ((F.col("doc_id") % 3) + 1).cast("int"),
        ).alias("mime_type"),
        F.lit("").alias("profile"),
        F.when(F.col("doc_id") % 7 == 0, 404).otherwise(200).alias("status"),
    )
    found = base.groupBy("url", "mime_type", "profile").agg(
        F.min("status").alias("status")
    )
    detected = (
        docs.where(F.col("doc_id") % 4 == 0)
        .select(
            "url",
            F.lit("text/xml").alias("mime_type"),
            F.lit("").alias("profile"),
        )
        .distinct()
    )
    out = conneg_audit(found, [("text/html", "")], detected)
    return out.select(
        "url", "mime_type", "profile", "in_requested", "in_detected",
        "found",
        F.coalesce("status_ok", F.lit(False)).alias("status_ok"),
        F.coalesce(F.col("status"), F.lit(-1)).cast("long").alias("status"),
        "url_success",
    )


_register(
    "conneg_audit",
    _conneg_audit,
    """
WITH base AS (
  SELECT 'urn:site:' || (doc_id % 50) AS url,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'text/html'
           WHEN 1 THEN 'text/turtle'
           ELSE 'application/json' END AS mime_type,
         '' AS profile,
         CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status
  FROM documents
),
found AS (
  SELECT url, mime_type, profile, MIN(status) AS status
  FROM base GROUP BY 1, 2, 3
),
detected AS (
  SELECT DISTINCT 'urn:site:' || (doc_id % 50) AS url,
         'text/xml' AS mime_type, '' AS profile
  FROM documents WHERE doc_id % 4 = 0
),
urls AS (
  SELECT DISTINCT url FROM found
  UNION SELECT DISTINCT url FROM detected
),
expected AS (
  SELECT url, mime_type, profile,
         bool_or(in_requested) AS in_requested,
         bool_or(in_detected) AS in_detected
  FROM (
    SELECT u.url, 'text/html' AS mime_type, '' AS profile,
           TRUE AS in_requested, FALSE AS in_detected
    FROM urls u
    UNION ALL
    SELECT url, mime_type, profile, FALSE, TRUE FROM detected
  ) GROUP BY 1, 2, 3
),
joined AS (
  SELECT url, mime_type, profile,
         COALESCE(e.in_requested, FALSE) AS in_requested,
         COALESCE(e.in_detected, FALSE) AS in_detected,
         f.status IS NOT NULL AS found,
         COALESCE(f.status = 200, FALSE) AS status_ok,
         COALESCE(f.status, -1) AS status
  FROM expected e FULL OUTER JOIN found f USING (url, mime_type, profile)
)
SELECT url, mime_type, profile, in_requested, in_detected, found,
       status_ok, CAST(status AS BIGINT) AS status,
       max(CASE WHEN ((in_requested OR in_detected) AND NOT found)
                  OR (found AND NOT (in_requested OR in_detected))
                  OR (found AND NOT status_ok)
                THEN 1 ELSE 0 END)
         OVER (PARTITION BY url) = 0 AS url_success
FROM joined
""",
)
