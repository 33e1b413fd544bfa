"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in :mod:`py_sema_spark.queries.benchqueries`
(one Spark builder + one ANSI-SQL mirror per surface entry); this
file only adapts it to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction end-to-end on a deterministic synthetic
    web corpus (BASELINE.json input_hint shape) + mention linking over
    the sf0.001 documents table; returns triples-per-predicate counts.

    corpus → mapInPandas extraction (JSON-LD / Turtle / HTML script
    blocks) → skolemize → dedup → union with entity-mention triples →
    groupBy(p).count — the scan→UDF→explode→dedup→agg spine of the
    pipeline (SURVEY.md §3.2).
    """
    from pyspark.sql import functions as F

    from py_sema_spark.model import dedup_triples, skolemize
    from py_sema_spark.operators.extract import extract_structured, triples_of
    from py_sema_spark.operators.linkage import detect_mentions
    from py_sema_spark.queries.benchqueries import _MENTION_DICT
    from py_sema_spark.sources.corpus import synth_corpus

    sf_dir = os.environ.get("SPARK_GRAFT_ENTRY_SF", "/root/testdata/sf0.001")

    corpus = synth_corpus(spark, n_pages=800, seed=42)
    trips = skolemize(triples_of(extract_structured(corpus)))
    trips = dedup_triples(trips, keys=["s", "p", "o"]).select("s", "p", "o")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dictionary = spark.createDataFrame(_MENTION_DICT, "entity string, label string")
    mentions = detect_mentions(docs, dictionary, max_gram=2).select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("s"),
        F.lit("https://schema.org/about").alias("p"),
        F.col("entity").alias("o"),
    )
    return (
        trips.unionByName(mentions)
        .groupBy("p")
        .agg(F.count("*").alias("cnt"))
        .orderBy("p")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One builder per surface entry of the Spark-vs-DuckDB sweep."""
    from py_sema_spark.queries.benchqueries import QUERIES

    return QUERIES


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each SQL-expressible query;
    entries without one are checked rows-only."""
    from py_sema_spark.queries.benchqueries import ORACLES

    return ORACLES
