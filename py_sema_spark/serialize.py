"""Serialization & naming (SURVEY.md §2.1 S16/S18, §2.8 X20).

- :func:`ntriples_line_col` / :func:`write_ntriples` — triples →
  canonical N-Triples text, ordered by (s,p,o) for determinism (the
  reference sorts JSON-LD output by @id for the same reason,
  object_graph_mapper.py:62-64). This is the canonical diff format for
  the P/R gate: two engines' outputs compare as sorted line sets.
- :func:`unique_filename_col` — the content-dump naming rule
  ``urlsafe_b64(sha256(url+mime+profile))[:13]-{last2pathparts}{suffix}``
  (/root/reference/sema/commons/web/download_to_file.py:56-76) as pure
  column expressions.
- :func:`files_as_corpus` — rglob'd RDF files presented as a corpus
  DataFrame, so the Aggregator (aggregator.py:9-40) is just
  ``extract_structured(files_as_corpus(...))`` — one distributed parse
  path for web pages and dump files alike.
"""

from __future__ import annotations

import glob as _glob
from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

# mime → dump-file suffix (subset of fileformats/mimetypes.py:26-69)
MIME_SUFFIX = {
    "text/turtle": ".ttl",
    "application/ld+json": ".jsonld",
    "application/json": ".json",
    "text/html": ".html",
    "application/rdf+xml": ".xml",
    "application/n-triples": ".nt",
    "application/octet-stream": "",
}


def _escape_nt(col: Column) -> Column:
    """N-Triples string escaping: backslash first, then quote and
    control characters."""
    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', r'\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    out = F.regexp_replace(out, "\t", r"\\t")
    return out


def _escape_iri(col: Column) -> Column:
    """IRIREF escaping: the N-Triples grammar forbids whitespace,
    ``< > " { } | ^ \\`` and backtick inside ``<...>`` — a dirty
    extracted href (``href="a b.ttl"``) would otherwise emit an
    unparseable line and corrupt the whole dump for line-based
    diffing. Offending characters become UCHAR (``\\uXXXX``) escapes,
    which preserve term identity (percent-encoding would mint a
    different IRI). Backslash first. Remaining C0 controls are not
    expected to survive extraction and are left as-is.
    """
    out = col
    for ch, esc in (
        ("\\", "\\u005C"),
        (" ", "\\u0020"),
        ("\t", "\\u0009"),
        ("\n", "\\u000A"),
        ("\r", "\\u000D"),
        ("<", "\\u003C"),
        (">", "\\u003E"),
        ('"', "\\u0022"),
        ("{", "\\u007B"),
        ("}", "\\u007D"),
        ("|", "\\u007C"),
        ("^", "\\u005E"),
        ("`", "\\u0060"),
    ):
        out = F.replace(out, F.lit(ch), F.lit(esc))
    return out


def ntriples_line_col() -> Column:
    """One N-Triples line from (s,p,o,o_kind,o_datatype,o_lang) cols.

    Canonical form: plain/xsd:string literals carry no datatype suffix
    (RDF 1.1); language-tagged → ``@lang``; other datatypes →
    ``^^<dt>``.
    """
    obj = _obj_nt_col(
        F.col("o"), F.col("o_kind"), F.col("o_datatype"), F.col("o_lang")
    )
    subj = F.when(
        F.col("s").startswith("_:"), F.col("s")
    ).otherwise(F.concat(F.lit("<"), _escape_iri(F.col("s")), F.lit(">")))
    return F.concat(
        subj,
        F.lit(" <"),
        _escape_iri(F.col("p")),
        F.lit("> "),
        obj,
        F.lit(" ."),
    )


def ntriples_lines(triples: DataFrame) -> DataFrame:
    return triples.select(ntriples_line_col().alias("line"))


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Deterministic N-Triples dump: global (s,p,o) order via range
    partitioning — part files concatenate in order. kind/datatype/lang
    break (s,p,o)-value ties ("x"@en vs "x"@fr) so the byte order is
    total, not run-dependent."""
    (
        triples.orderBy("s", "p", "o", "o_kind", "o_datatype", "o_lang")
        .select(ntriples_line_col().alias("value"))
        .write.mode("overwrite")
        .text(path)
    )


def _obj_nt_col(o, o_kind, o_datatype, o_lang) -> Column:
    """Object term in N-Triples/Turtle surface syntax (shared by the
    NT line builder and the Turtle block builder)."""
    return (
        F.when(o_kind == "iri", F.concat(F.lit("<"), _escape_iri(o), F.lit(">")))
        .when(o_kind == "bnode", o)
        .otherwise(
            F.concat(
                F.lit('"'),
                _escape_nt(o),
                F.lit('"'),
                F.when(o_lang.isNotNull(), F.concat(F.lit("@"), o_lang))
                .when(
                    o_datatype.isNotNull() & (o_datatype != XSD_STRING),
                    F.concat(F.lit("^^<"), o_datatype, F.lit(">")),
                )
                .otherwise(F.lit("")),
            )
        )
    )


def turtle_blocks(triples: DataFrame) -> DataFrame:
    """Triples → one deterministic Turtle block per subject:
    ``(s, block)`` with predicates sorted, objects grouped per
    predicate with ``,`` and predicates joined with ``;`` — the
    serializer surface the reference gets from
    ``graph.serialize(format="turtle")``
    (/root/reference/sema/discovery/discovery.py:277-287), made
    deterministic (rdflib's output order is dict-dependent).

    Full IRIs only (always-valid Turtle; prefix compaction is
    presentation sugar the parser ignores). Column algebra end to end:
    groupBy(s) + sort_array keeps the whole build JVM-side, one
    shuffle on the subject key — the same partitioning the triples
    table already uses at scale.
    """
    obj = _obj_nt_col(
        F.col("o"), F.col("o_kind"), F.col("o_datatype"), F.col("o_lang")
    )
    per_sp = (
        triples.select("s", "p", obj.alias("ot"))
        .groupBy("s", "p")
        .agg(F.array_join(F.array_sort(F.collect_set("ot")), ", ").alias("objs"))
    )
    subj = F.when(
        F.col("s").startswith("_:"), F.col("s")
    ).otherwise(F.concat(F.lit("<"), F.col("s"), F.lit(">")))
    return (
        per_sp.groupBy("s")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.concat(F.lit("<"), F.col("p"), F.lit("> "), F.col("objs"))
                )
            ).alias("preds")
        )
        .select(
            "s",
            F.concat(
                subj,
                F.lit(" "),
                F.array_join(F.col("preds"), " ;\n    "),
                F.lit(" ."),
            ).alias("block"),
        )
    )


def write_turtle(triples: DataFrame, path: str) -> None:
    """Deterministic Turtle dump, blocks in subject order (part files
    concatenate in order, same contract as :func:`write_ntriples`)."""
    turtle_blocks(triples).orderBy("s").select(
        F.col("block").alias("value")
    ).write.mode("overwrite").text(path)


def turtle_text(triples: DataFrame) -> str:
    """Driver-side full Turtle document (dimension-sized dumps by
    contract — mirrors the reference serializing an in-memory graph)."""
    rows = turtle_blocks(triples).orderBy("s").select("block").collect()
    return "\n".join(r["block"] for r in rows) + "\n"


def _jsonld_value_col() -> Column:
    """One JSON-LD value object per triple object, via ``to_json``
    (JVM-side JSON escaping): IRIs → {"@id": …}, literals →
    {"@value": …[, "@language"|"@type": …]}."""
    return (
        F.when(
            F.col("o_kind") == "iri",
            F.to_json(F.struct(F.col("o").alias("@id"))),
        )
        .when(
            F.col("o_kind") == "bnode",
            F.to_json(F.struct(F.col("o").alias("@id"))),
        )
        .when(
            F.col("o_lang").isNotNull(),
            F.to_json(
                F.struct(
                    F.col("o").alias("@value"),
                    F.col("o_lang").alias("@language"),
                )
            ),
        )
        .when(
            F.col("o_datatype").isNotNull()
            & (F.col("o_datatype") != XSD_STRING),
            F.to_json(
                F.struct(
                    F.col("o").alias("@value"),
                    F.col("o_datatype").alias("@type"),
                )
            ),
        )
        .otherwise(F.to_json(F.struct(F.col("o").alias("@value"))))
    )


def jsonld_nodes(triples: DataFrame) -> DataFrame:
    """Triples → one flat JSON-LD node object per subject:
    ``(s, node)`` with predicate keys sorted and each predicate's
    values as a sorted array — the deterministic ``@graph`` entry
    shape of the reference's OGM dump
    (/root/reference/sema/commons/ogm/object_graph_mapper.py:62-64
    sorts ``@graph`` for byte-stable output)."""
    # a correctly-JSON-escaped string: to_json wraps it, regexp unwraps
    def jstr(col: Column) -> Column:
        return F.regexp_extract(
            F.to_json(F.struct(col.alias("k"))), r'^\{"k":(".*")\}$', 1
        )

    per_sp = (
        triples.select("s", "p", _jsonld_value_col().alias("vj"))
        .groupBy("s", "p")
        .agg(
            F.concat(
                jstr(F.first("p")),
                F.lit(":["),
                F.array_join(F.array_sort(F.collect_set("vj")), ","),
                F.lit("]"),
            ).alias("entry")
        )
    )
    sid = F.concat(F.lit('{"@id":'), jstr(F.col("s")))
    return (
        per_sp.groupBy("s")
        .agg(F.array_sort(F.collect_list("entry")).alias("entries"))
        .select(
            "s",
            F.concat(
                sid,
                F.lit(","),
                F.array_join(F.col("entries"), ","),
                F.lit("}"),
            ).alias("node"),
        )
    )


def jsonld_document(triples: DataFrame) -> str:
    """Driver-side sorted-``@graph`` JSON-LD document (deterministic:
    nodes sorted by @id, keys sorted within each node)."""
    rows = jsonld_nodes(triples).orderBy("s").select("node").collect()
    graph = ",".join(r["node"] for r in rows)
    return '{"@graph":[' + graph + "]}"


def unique_filename_col(
    url: Column, mime: Column, profile: Optional[Column] = None
) -> Column:
    """download_to_file.py:56-76 as column algebra:
    ``urlsafe_b64(sha256(url||mime||profile))[:13]-{id}{suffix}``
    where id = last ≤2 non-empty path segments of the url after
    splitting the WHOLE path at its first '.' — a reference quirk
    reproduced deliberately (download_to_file.py:66 does
    ``urlparse(url).path.split(".")[0]``, so '/api/v1.2/data/file.ttl'
    keeps only '/api/v1' → id 'api-v1'); suffix from the mime map."""
    profile = profile if profile is not None else F.lit("")
    digest_b64 = F.translate(
        F.base64(F.unhex(F.sha2(F.concat(url, mime, profile), 256))),
        "+/",
        "-_",
    )
    base = F.substring(digest_b64, 1, 13)
    # parse_url rejects URLs urllib tolerates (embedded spaces, odd
    # authorities) — an ANSI error, NULL otherwise — which would
    # cascade into a NULL (or thrown) filename. try_parse_url + a
    # regex path fallback keeps every row's name usable and still
    # unique (digest-prefixed).
    path = F.coalesce(
        F.try_parse_url(url, F.lit("PATH")),
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/[^?#]*)", 1),
    )
    segs = F.filter(
        F.split(F.substring_index(path, ".", 1), "/"), lambda x: x != ""
    )
    # F.slice(segs, -2, 2) returns [] when size < 2 (unlike Python's
    # [-2:]) — guard so single-segment paths keep their segment
    ident = F.array_join(
        F.when(F.size(segs) < 2, segs).otherwise(F.slice(segs, -2, 2)),
        "-",
    )
    suffix_map = F.create_map(
        *[F.lit(x) for kv in MIME_SUFFIX.items() for x in kv]
    )
    suffix = F.coalesce(suffix_map[mime], F.lit(""))
    return F.concat(base, F.lit("-"), ident, suffix)


def files_as_corpus(
    spark: SparkSession,
    patterns: Dict[str, str] | List[str],
    root: Optional[str] = None,
    excludes: Optional[List[str]] = None,
) -> DataFrame:
    """Aggregator front-end: glob patterns (optionally mapped to a
    format hint, which the format-fallback parser makes advisory) →
    corpus rows (url=file URI, html=bytes). Parsing then runs through
    the same distributed extraction stage as web pages.

    With ``root`` set, patterns resolve through the reference's
    include/exclude glob rules (functions/globbery.py — commons/glob
    parity) instead of plain ``glob.glob``."""
    if isinstance(patterns, dict):
        pats = list(patterns.keys())
    else:
        pats = list(patterns)
    paths: List[str] = []
    if root is not None:
        from .functions.globbery import matching_glob_paths

        paths = [
            str(p)
            for p in sorted(
                matching_glob_paths(
                    root, pats, excludes, only_files=True,
                    make_relative=False,
                )
            )
        ]
    else:
        for p in pats:
            paths.extend(sorted(_glob.glob(p, recursive=True)))
    if not paths:
        raise FileNotFoundError(f"no files matched {pats}")
    # the matched paths are LITERAL file names, but Hadoop treats load
    # paths as globs — a file literally named 'report[2024].ttl' would
    # fail (or silently match a different file); escape metacharacters
    def _hadoop_glob_escape(p: str) -> str:
        return "".join(
            "\\" + ch if ch in "*?[]{}\\" else ch for ch in p
        )

    df = spark.read.format("binaryFile").load(
        [_hadoop_glob_escape(p) for p in paths]
    )
    return df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def parse_globs_spec(spec: str) -> Dict[str, str]:
    """The reference Aggregator's globs spec string —
    ``"**/*.ttl: ttl, **/*.json: json-ld"`` — as a pattern→format
    dict (the format hint is advisory; the fallback parser decides)."""
    out: Dict[str, str] = {}
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        pattern, _, fmt = part.partition(":")
        out[pattern.strip()] = fmt.strip()
    return out


def aggregate_files(
    spark: SparkSession,
    patterns: Dict[str, str] | List[str] | str,
    root: Optional[str] = None,
) -> DataFrame:
    """The reference Aggregator (aggregator.py:9-40): parse every
    matched file into one deduplicated triples set. ``patterns`` may
    be the reference's spec string form; with ``root`` the patterns
    resolve root-relative (include/exclude glob rules)."""
    from .model import dedup_triples
    from .operators.extract import extract_structured, triples_of

    from .model import skolemize

    if isinstance(patterns, str):
        patterns = parse_globs_spec(patterns)
    corpus = files_as_corpus(spark, patterns, root=root)
    # skolemize BEFORE the cross-file dedup: blank-node labels are
    # document-scoped ('_:b0' in file A is a different node than
    # '_:b0' in file B) — deduping raw labels would capture bnodes
    # across files and merge unrelated nodes (rdflib avoids it by
    # minting fresh ids per parse)
    return dedup_triples(
        skolemize(triples_of(extract_structured(corpus))),
        keys=["s", "p", "o"],
    )


def write_csv(df: DataFrame, path: str, sep: str = ",") -> None:
    """Query-result CSV/TSV export (SURVEY.md §2.1 S17;
    query.py:140-141 / __main__.py:234-241 choose the delimiter the
    same way)."""
    df.write.mode("overwrite").option("header", True).option(
        "sep", sep
    ).csv(path)
