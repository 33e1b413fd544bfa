"""Exact heavy hitters without a full-table groupBy.

:func:`misra_gries_candidates` summarizes each partition in O(k)
counters (no shuffle) into a superset of the items with frequency
above n/k; :func:`heavy_hitters` then counts only the rows whose value
is a candidate, so the result is exact while the shuffle carries only
plausible hitters. Hub detection in :mod:`..model` uses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_candidates(
    df: DataFrame, value_col: str, k: int = 100
) -> DataFrame:
    """Per-partition Misra-Gries summaries → one-column candidate
    frame (``item`` string). Guarantee (pigeonhole over partitions):
    every item with GLOBAL frequency > n/k survives in at least one
    partition's k-counter summary, so the union is a superset of the
    true heavy hitters — false positives possible, false negatives
    impossible. O(k) memory per partition, one pass, no shuffle.

    Batched decrement: after merging a batch's value_counts into the
    counters, subtracting the (k+1)-th largest count from all and
    dropping ≤0 is exactly that many decrement-all rounds at once.
    """
    import pandas as pd

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            # values arrive already Spark-cast to string (below), so
            # candidates use the SAME representation the phase-2
            # semi-join casts rows to — pandas astype(str) renders
            # booleans/floats differently ("True" vs "true") and would
            # produce false negatives
            vc = pdf[value_col].value_counts()
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: c - cut for i, c in counters.items() if c > cut
                }
        yield pd.DataFrame({"item": list(counters.keys())})

    return df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias(value_col)
    ).mapInPandas(
        summarize, schema="item string"
    ).distinct()


def heavy_hitters(df: DataFrame, value_col: str, k: int = 100) -> DataFrame:
    """EXACT φ-heavy hitters: all items with frequency > n/k, found
    without a full-table groupBy.

    Two passes: (1) :func:`misra_gries_candidates` — no shuffle, O(k)
    state per partition, emits ≤ k·partitions candidates; (2) a
    broadcast semi-join keeps only candidate rows, then an exact count
    of that tiny slice and the ``cnt·k > n`` gate (n rides along as a
    broadcast scalar frame, never a driver collect). At 100 TB the
    full groupBy shuffles every distinct token; this shuffles only
    rows whose value is already a plausible hitter — the shuffle
    volume is bounded by n(heavy) + false positives, and the result
    is still exact (phase 2 counts, phase 1 only prunes).

    Returns ``(item, cnt)`` with the input column's type preserved.
    """
    if k < 2:
        raise ValueError("k must be ≥ 2")
    cand = misra_gries_candidates(df, value_col, k)
    vals = df.select(F.col(value_col).alias("item"))
    n_df = F.broadcast(vals.agg(F.count(F.lit(1)).alias("_n")))
    kept = vals.join(
        F.broadcast(cand.withColumnRenamed("item", "_ci")),
        F.col("item").cast("string") == F.col("_ci"),
        "left_semi",
    )
    counts = kept.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.crossJoin(n_df)
        .where(F.col("cnt") * k > F.col("_n"))
        .select("item", "cnt")
    )
