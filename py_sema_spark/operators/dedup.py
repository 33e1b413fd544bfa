"""Deduplication primitives used by entity linkage and the query suite.

- :func:`normalized_tokens` — the shared canonical tokenization
  (lowercase, punctuation stripped), pure column algebra; the DuckDB
  oracles mirror it in SQL;
- :func:`url_dedup` — crawl-level URL dedup (one min-id survivor per
  canonical URL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_tokens(text_col: Column) -> Column:
    """Lowercased word tokens, punctuation stripped — the shared
    canonical tokenization for linkage and the token oracles."""
    cleaned = F.lower(F.regexp_replace(text_col, r"[^\p{L}\p{N}\s]", " "))
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


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
