"""Record-stream control metadata as window functions.

The reference exposes ``ctrl.index`` / ``ctrl.isFirst`` / ``ctrl.isLast``
to templates via a one-item lookahead queue
(/root/reference/sema/subyt/api.py:288-341) and a "first record per
expanded pattern wins" unique filter
(/root/reference/sema/subyt/sources.py:326-371).  The queue *is* a
``lead(1)``; the seen-set *is* a ``row_number() == 1`` — SURVEY.md
§2.5 W1-W3, §2.2 F1.

Scale note: the reference's stream order is file order; at scale a
global ordering would funnel everything through one partition, so the
caller must name the stream key (``partition_by``) — each logical
record stream is one window partition and the shuffle is a plain hash
exchange on that key.
"""

from __future__ import annotations

import re as _re
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_ctrl(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Add ``idx`` (0-based), ``is_first``, ``is_last`` per stream.

    ``order_by`` must be a deterministic total order within the stream
    (the reference inherits file order; we require explicit keys).
    """
    w = (
        Window.partitionBy(*partition_by).orderBy(*order_by)
        if partition_by
        else Window.orderBy(*order_by)
    )
    idx = F.row_number().over(w) - 1
    # lookahead on a CONSTANT, not the order key: lead(key) is also
    # NULL when the next row's key value is NULL, which would flag
    # arbitrary mid-stream rows as last; lead(1) is NULL exactly when
    # no next row exists
    is_last = F.lead(F.lit(1)).over(w).isNull()
    return df.withColumns(
        {
            "idx": idx,
            "is_first": idx == 0,
            "is_last": is_last,
        }
    )


def first_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """F1 — keep the first record per key under an explicit order
    (the FilteringSource ``seen``-set with order pinned)."""
    if "_rn" in df.columns:
        # never silently overwrite-and-drop a user column that
        # collides with an internal name
        raise ValueError("first_per_key: input column _rn collides "
                         "with an internal name")
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


_UPAT_RE = _re.compile(r"\{([^{}]+)\}")


def unique_pattern_key_col(pattern: str) -> F.Column:
    """The reference's ``unique_pattern`` source filter key
    (FilteringSource, subyt/sources.py: URITemplate over the record
    with prefix modifiers — ``{orcid:9}`` keys on the first 9 chars)
    as a pure column expression: literals → lit, ``{var}`` → the
    column, ``{var:n}`` → substring(col, 1, n). Key *equality* is what
    matters for dedup, so pct-encoding is skipped (equal inputs expand
    equal either way). Key safety: a NULL expansion is encoded
    distinctly from an empty string (``concat_ws`` silently SKIPS
    nulls, which would collide (NULL,'B') with ('B',NULL)), and any
    separator byte inside a value is escaped so ('A\\x1fB','C') can't
    collide with ('A','B\\x1fC')."""

    def _safe(col: F.Column) -> F.Column:
        return F.when(col.isNull(), F.lit("\x00N")).otherwise(
            F.concat(
                F.lit("\x00V"),
                F.regexp_replace(col, "\x1f", "\x1f\x1f"),
            )
        )

    parts = []
    pos = 0
    for m in _UPAT_RE.finditer(pattern):
        if m.start() > pos:
            parts.append(F.lit(pattern[pos : m.start()]))
        spec = m.group(1)
        name, _, trunc = spec.rpartition(":")
        if not name or not trunc.isdigit():
            name, trunc = spec, ""
        col = F.col(name).cast("string")
        parts.append(
            _safe(F.substring(col, 1, int(trunc)) if trunc else col)
        )
        pos = m.end()
    if pos < len(pattern):
        parts.append(F.lit(pattern[pos:]))
    if not parts:
        raise ValueError("empty unique_pattern")
    return F.concat_ws("\x1f", *parts)


def unique_by_pattern(
    df: DataFrame, pattern: str, order_col: str = "_ord"
) -> DataFrame:
    """First record per expanded unique-pattern key, in source order —
    the distributed FilteringSource."""
    if "_ukey" in df.columns:
        raise ValueError("unique_by_pattern: input column _ukey "
                         "collides with an internal name")
    return first_per_key(
        df.withColumn("_ukey", unique_pattern_key_col(pattern)),
        ["_ukey"],
        [order_col],
    ).drop("_ukey")
