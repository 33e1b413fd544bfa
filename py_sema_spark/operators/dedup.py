"""Deduplication primitives used by the pipeline and entity linkage.

- :func:`normalized_tokens` — the shared canonical tokenization
  (lowercase, punctuation stripped), pure column algebra; the DuckDB
  oracles mirror it in SQL;
- :func:`url_dedup` — crawl-level URL dedup, the ``curate=True``
  stage of :class:`..pipeline.Pipeline`;
- :func:`line_dedup` and :func:`incremental_exact_dedup` — line-level
  boilerplate removal and cross-snapshot exact dedup for the text
  curation operators (``operators/curation.py``, ``functions/text.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_tokens(text_col: Column) -> Column:
    """Lowercased word tokens, punctuation stripped — the shared
    canonical tokenization for linkage and the token oracles."""
    cleaned = F.lower(F.regexp_replace(text_col, r"[^\p{L}\p{N}\s]", " "))
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def line_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-document line deduplication (C4-style boilerplate
    removal): a line whose trimmed form appears anywhere else in the
    corpus survives only at its first occurrence, ordered by
    (doc_id, line_no); every later copy is dropped and each document
    is reassembled from its surviving lines in original order.

    Returns ``(doc_id, clean_text, n_lines, n_removed)`` — one row per
    document that has at least one non-empty line.

    Scale shape: explode → **groupBy(line_hash).agg(min(position))**
    → join back → per-doc re-aggregation. The first-occurrence choice
    is a partial-aggregatable ``min`` (map-side combine), NOT a window
    over the exploded frame — hub lines ("home", copyright footers)
    that occur 10^8 times reduce map-side to one row per partition
    instead of shuffling every copy into one window partition. Two
    shuffles total (hash agg + per-doc regroup); the join on the
    deduped hash side is skew-safe because that side is distinct.
    """
    exploded = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "line_no", "line"
            ),
        )
        .where(F.trim(F.col("line")) != "")
        .withColumn("h", F.md5(F.trim(F.col("line"))))
    )
    firsts = exploded.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first")
    )
    joined = exploded.join(firsts, "h")
    kept = (F.col("doc_id") == F.col("first.doc_id")) & (
        F.col("line_no") == F.col("first.line_no")
    )
    return (
        joined.withColumn("kept", kept)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("int")
            .alias("n_removed"),
        )
    )


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Crawl-level URL deduplication: canonicalize every URL
    (:func:`..functions.web.url_canonicalize`) and keep the min-id row
    per canonical form — the first pass every web-corpus pipeline runs
    before any content-based dedup, since a recrawled page is the
    common duplicate.

    Returns the surviving input rows plus the ``url_canon`` column.

    Scale shape: canonicalization is a narrow map; the survivor
    choice is a rank-1 filter that compiles to ``WindowGroupLimit``
    (map-side pre-truncation per canonical URL), so a URL recrawled
    10⁴ times ships one row per upstream partition.
    """
    from pyspark.sql import Window

    from ..functions.web import url_canonicalize

    w = Window.partitionBy("url_canon").orderBy(id_col)
    return (
        docs.withColumn("url_canon", url_canonicalize(F.col(url_col)))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CDC-style exact dedup of a fresh snapshot against all prior
    snapshots: drop rows whose content hash was ever seen before, then
    exact-dedup within the batch (min-id survivor).

    ``seen_hashes`` is a one-column ``content_hash`` table — at scale
    an Iceberg table appended per ingest, so each increment joins only
    against hashes, never against historical text. Returns
    ``(doc_id, content_hash)`` survivors; append the hash column back
    to ``seen_hashes`` to advance the snapshot state.

    Scale shape: one hash-partitioned ``left_anti`` join (both sides
    keyed on the hash — no skew: md5 is uniform) + the same single
    window exchange as :func:`exact_dedup`. The anti-join side can be
    bucketed on ``content_hash`` so repeated ingests co-locate without
    re-shuffling the accumulated state.
    """
    from pyspark.sql import Window

    hashed = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    fresh = hashed.join(
        seen_hashes.select("content_hash").distinct(),
        "content_hash",
        "left_anti",
    )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        fresh.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .select(id_col, "content_hash")
    )
