"""Sinks for rendered parts (SURVEY.md §2.1 S13-S14).

- :class:`StdOutSink` / :class:`SingleFileSink` — the whole stream
  concatenated in ctrl order (/root/reference/sema/subyt/sinks.py:55-110).
  One output object ⇒ the final assembly is driver-side by nature;
  the rendering itself already ran distributed (or on the driver, for
  driver-local records). :class:`SingleFileSink` collects
  ``(idx, part)`` once and sorts on the driver; :class:`StdOutSink`
  streams in ``idx`` order.
- :class:`PatternedSink` — one file per record at a URITemplate-
  expanded path (sinks.py:113-196), with the reference's duplicate-
  path policy: error out, or deduplicate with a ``_N`` suffix
  (sinks.py:181-196). It collects ``(idx, pattern columns, part)``
  once — the same memory :class:`SingleFileSink` takes — and does the
  rest on the driver: sort by ``idx``, expand each path with
  :func:`..functions.uritemplate.uritemplate_expand` (full RFC 6570
  encoding), apply the duplicate policy before any file is written,
  then write the files.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.uritemplate import template_variables, uritemplate_expand
from .engine import _quoted


class StdOutSink:
    def write(self, parts: DataFrame) -> None:
        for row in parts.orderBy("idx").select("part").toLocalIterator():
            print(row["part"], end="")


class SingleFileSink:
    def __init__(self, path: str):
        self.path = path

    def write(self, parts: DataFrame) -> None:
        rows = sorted(parts.select("idx", "part").collect(), key=lambda r: r["idx"])
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w", encoding="utf-8") as f:
            f.write("".join(r["part"] for r in rows))


class PatternedSink:
    """Expand ``pattern`` against each record's columns → output path.

    ``allow_repeated=False`` raises on duplicate paths (the reference's
    default GeneratorError, sinks.py:181-187); ``True`` appends ``_N``
    to the 2nd+ occurrence (sinks.py:188-196), numbered in ``idx``
    order so numbering is deterministic.
    """

    def __init__(self, root: str, pattern: str, allow_repeated: bool = False):
        self.root = root.rstrip("/")
        self.pattern = pattern
        self.allow_repeated = allow_repeated

    def write(self, parts: DataFrame) -> DataFrame:
        names = set(template_variables(self.pattern))
        cols = [c for c in parts.columns if c in names and c not in ("idx", "part")]
        rows = sorted(
            parts.select("idx", *map(_quoted, cols), "part").collect(),
            key=lambda r: r["idx"],
        )
        paths = [
            uritemplate_expand(self.pattern, {c: r[c] for c in cols}) for r in rows
        ]
        if not self.allow_repeated:
            dup = next((p for p, n in Counter(paths).items() if n > 1), None)
            if dup is not None:
                raise ValueError(
                    f"duplicate sink path {dup!r} "
                    "(pass allow_repeated=True for _N suffixing)"
                )
        else:
            # reference parity (sinks.py:185-187): the Nth repeat appends
            # ``_<N-2>`` AFTER the full path — a.txt, a.txt_0, a.txt_1 —
            # not before the extension
            seen: Counter = Counter()
            for k, p in enumerate(paths):
                seen[p] += 1
                if seen[p] > 1:
                    paths[k] = f"{p}_{seen[p] - 2}"
        os.makedirs(self.root, exist_ok=True)
        for r, p in zip(rows, paths):
            full = os.path.join(self.root, p.lstrip("/"))
            os.makedirs(os.path.dirname(full) or ".", exist_ok=True)
            with open(full, "w", encoding="utf-8") as f:
                f.write(r["part"])
        return parts.sparkSession.createDataFrame(
            pa.table(
                {
                    "idx": pa.array([r["idx"] for r in rows], pa.int64()),
                    "path": pa.array(paths, pa.string()),
                }
            )
        )
