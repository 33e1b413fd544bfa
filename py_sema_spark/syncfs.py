"""syncfs — folder of RDF dump files ↔ named graphs, diffed by mtime
(SURVEY.md §2.1 S11, §2.9 T4;
/root/reference/sema/syncfs/service.py:100-171):

- file on disk, no graph in store → **add**
- file newer than graph lastmod → **update** (drop + re-insert)
- graph in store, file gone → **remove**
- otherwise → skip

This is the CDC/MERGE pattern: on Iceberg the three branches are one
``MERGE INTO`` from a changed-files DataFrame; the parquet store keeps
the same call surface. It doubles as the resume-from-checkpoint
template: a restart diffs completion state and only re-does stale work.

A sync starts no Spark job: dump files are parsed on the driver into
Arrow-built frames, and :class:`..store.ParquetTripleStore` writes each
graph as one parquet file renamed into place and records its lastmod in
a JSON registry snapshot. A kill mid-sync leaves every registered graph
with its old or its new triples (see :mod:`..store`); a graph whose
rename landed but whose lastmod did not still compares older than its
file, and an update whose drop landed but whose insert did not has no
graph, so re-running the sync finishes the work.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession

from .model import triples_frame
from .rdf.parse import parse_rdf_auto
from .store import ParquetTripleStore

RDF_SUFFIXES = {
    ".ttl", ".nt", ".jsonld", ".json",
    ".n3", ".trig", ".nq", ".nquads", ".rdf", ".xml", ".owl",
}


def load_graph_file(spark: SparkSession, path: str) -> DataFrame:
    """One RDF dump file → triples DataFrame. Dump files are
    dimension-sized (the reference loads each into one in-memory
    rdflib.Graph); corpus-scale ingestion goes through
    :func:`..operators.extract.extract_structured` instead. The frame
    is built from an Arrow table, so it plans as a ``LocalRelation``
    and collecting it starts no Spark job."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    triples, fmt = parse_rdf_auto(text, base=Path(path).as_uri())
    if fmt is None and text.strip():
        # corpus discovery degrades unparseable content to "no
        # structured data"; a *dump file* that parses as nothing is a
        # truncated/corrupt write — raise like the reference's
        # rdflib graph.parse instead of silently syncing an empty graph
        raise ValueError(f"no RDF format could parse dump file {path!r}")
    return triples_frame(
        spark,
        (
            (t.s.value, t.p.value, t.o.value, t.o.kind, t.o.datatype, t.o.lang)
            for t in triples
        ),
    )


def lastmod_by_relname(root: str) -> Dict[str, float]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if os.path.splitext(fn)[1].lower() in RDF_SUFFIXES:
                full = os.path.join(dirpath, fn)
                out[os.path.relpath(full, root)] = os.path.getmtime(full)
    return out


def perform_sync(
    spark: SparkSession, from_path: str, store: ParquetTripleStore
) -> Dict[str, List[str]]:
    """Run one sync pass; returns {'added': …, 'updated': …,
    'removed': …, 'skipped': …} by relative file name."""
    report: Dict[str, List[str]] = {
        "added": [], "updated": [], "removed": [], "skipped": []
    }
    known = set(store.keys)
    current = lastmod_by_relname(from_path)

    for relname in sorted(known):
        if relname not in current:
            store.drop_graph_for_key(relname)
            report["removed"].append(relname)

    for relname in sorted(current):
        full = os.path.join(from_path, relname)
        if relname not in known:
            store.insert_for_key(load_graph_file(spark, full), relname)
            report["added"].append(relname)
        elif not store.verify_max_age_of_key(
            relname, reference_time=current[relname]
        ):
            # parse (eager, driver-side) BEFORE dropping: a truncated /
            # mid-write file must abort the update with the old graph
            # still in the store, not after it is already gone
            replacement = load_graph_file(spark, full)
            store.drop_graph_for_key(relname)
            store.insert_for_key(replacement, relname)
            report["updated"].append(relname)
        else:
            report["skipped"].append(relname)
    return report
