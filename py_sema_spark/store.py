"""Named-graph triple store over parquet (SURVEY.md §1.2).

The reference's ``RDFStore`` contract
(/root/reference/sema/commons/store/store.py:81-314): named-graph
scoped insert/select, per-graph lastmod administration, drop/forget.

On disk, under ``workdir``:

- ``g=<quoted key>/graph.parquet`` — one parquet file per named graph
  (the local stand-in for an Iceberg table partitioned by ``g``);
- ``g=<quoted key>/_stage-<uuid>.parquet`` — the graph's next file
  while it is written; readers skip ``_``-prefixed names;
- ``_registry_CURRENT`` + ``_registry_versions/<uuid>.json`` — the
  admin graph, a JSON ``{graph: lastmod}`` snapshot behind an atomic
  pointer (:class:`..model.GraphRegistry`).

Writes run on the driver and start no Spark job of their own: graphs
are dimension-sized (the reference holds each in one in-memory rdflib
graph). A write collects the incoming triples, dedups them as a Python
set over all six triple columns (``dedup_triples``' key; ``graph += g``
dedups, store.py:500-502), writes one staged parquet file with pyarrow
in the graph's dir, fsyncs it and ``os.replace``s it onto the graph's
``graph.parquet``, then deletes every other file in the dir; then the
registry records the lastmod. Reads are Spark parquet scans.

Kill safety: the rename is the only step that changes what a reader
sees, and it is atomic, so a kill at any point leaves every graph with
its old or its new triples, never an empty or a doubled set. A kill
between the rename and the registry commit leaves the new triples
under the old lastmod, which syncfs's mtime check redoes. Only graphs
the registry lists are live: a drop unregisters first and deletes the
files after, and an insert or scoped update of an unlisted key starts
from no triples, so files left by ``forget``, or by a drop or a first
insert cut short, are replaced rather than merged. A staged file left
by a writer killed before its rename is deleted by the key's next
write, or with the dir by a drop. One key has one writer at a time:
the post-rename sweep would delete a second writer's staged file.

Graph dirs written by earlier versions hold Spark part files. They are
read as they are until the next write renames ``graph.parquet`` in,
which readers prefer from then on; the part files are deleted after.

Skolemization happens in extraction (:func:`..model.skolemize`),
matching ``store_graph += graph.skolemize()`` (store.py:393).
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path
from typing import List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import (
    TRIPLE_FIELDS,
    TRIPLE_SCHEMA,
    GraphNameMapper,
    GraphRegistry,
    fsync_path,
    triples_frame,
    triples_table,
)

GRAPH_FILE = "graph.parquet"


def _collect(triples: DataFrame) -> list:
    return [tuple(r) for r in triples.select(*TRIPLE_FIELDS).collect()]


class ParquetTripleStore:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        mapper: Optional[GraphNameMapper] = None,
    ):
        self.spark = spark
        self.workdir = Path(workdir)
        self.workdir.mkdir(parents=True, exist_ok=True)
        self.mapper = mapper or GraphNameMapper(base="urn:sync:")
        self.registry = GraphRegistry(spark, str(self.workdir / "_registry"))

    # ---- layout ----

    def _graph_dir(self, key: str) -> Path:
        from urllib.parse import quote

        return self.workdir / ("g=" + quote(key, safe=""))

    def _graph_files(self, key: str) -> List[Path]:
        """The graph's parquet files: ``graph.parquet`` once this
        version has written it, else an earlier version's part files."""
        gdir = self._graph_dir(key)
        fixed = gdir / GRAPH_FILE
        if fixed.exists():
            return [fixed]
        if not gdir.is_dir():
            return []
        return sorted(
            p for p in gdir.iterdir()
            if p.suffix == ".parquet" and not p.name.startswith(("_", "."))
        )

    def _read_rows(self, key: str) -> list:
        rows: list = []
        for f in self._graph_files(key):
            t = pq.read_table(f, columns=TRIPLE_FIELDS)
            rows += zip(*(t.column(c).to_pylist() for c in TRIPLE_FIELDS))
        return rows

    def _write_graph(self, key: str, rows) -> None:
        """Replace the graph's triples by the set of ``rows`` (see the
        module docstring). The staged file has a unique ``_``-prefixed
        name inside the graph's own dir: readers skip it, and the sweep
        after the rename removes any staged file an earlier writer left.
        (A fixed ``str(gdir) + '.tmp'`` beside the dir was the real
        directory of key '<key>.tmp': quote leaves '.' unescaped.)"""
        gdir = self._graph_dir(key)
        gdir.mkdir(exist_ok=True)
        stage = gdir / f"_stage-{uuid.uuid4().hex}.parquet"
        pq.write_table(triples_table(dict.fromkeys(rows)), stage)
        fsync_path(str(stage))
        os.replace(stage, gdir / GRAPH_FILE)
        fsync_path(str(gdir))
        # earlier writers' staged files, an earlier version's part files
        for p in gdir.iterdir():
            if p.is_dir():
                shutil.rmtree(p)
            elif p.name != GRAPH_FILE:
                p.unlink()

    def _is_live(self, ng: str) -> bool:
        return ng in self.registry.snapshot()

    # ---- contract ----

    @property
    def keys(self) -> List[str]:
        return [
            self.mapper.ng_to_key(ng) for ng in self.registry.named_graphs()
        ]

    def insert_for_key(self, triples: DataFrame, key: str) -> None:
        ng = self.mapper.key_to_ng(key)
        rows = _collect(triples)
        if self._is_live(ng):
            rows = self._read_rows(key) + rows
        self._write_graph(key, rows)
        self.registry.touch([ng])

    def drop_graph_for_key(self, key: str) -> None:
        self.registry.drop(self.mapper.key_to_ng(key))
        gdir = self._graph_dir(key)
        if gdir.exists():
            shutil.rmtree(gdir)

    def graph_for_key(self, key: str) -> DataFrame:
        files = self._graph_files(key)
        if not files:
            return triples_frame(self.spark, [])
        return self.spark.read.schema(TRIPLE_SCHEMA).parquet(*map(str, files))

    def all_triples(self) -> DataFrame:
        """Union view with the ``g`` column (named-graph scoping =
        partition pruning on a real Iceberg table)."""
        out = None
        for key in self.keys:
            df = self.graph_for_key(key).withColumn(
                "g", F.lit(self.mapper.key_to_ng(key))
            )
            out = df if out is None else out.unionByName(df)
        if out is None:
            out = triples_frame(self.spark, []).withColumn(
                "g", F.lit(None).cast("string")
            )
        return out

    def forget_graph_for_key(self, key: str) -> None:
        """Remove the graph from the admin registry WITHOUT deleting
        its triples (reference store.py:182-194 ``forget`` vs ``drop``
        distinction): the data stays on disk but the store no longer
        tracks, ages or selects it, and the next insert of the key
        starts a fresh graph."""
        self.registry.drop(self.mapper.key_to_ng(key))

    def select(self, sparql: str, named_graph: Optional[str] = None):
        """SPARQL SELECT over the store (reference store.py:196-222):
        scoped to one named graph when given, else the union view —
        which carries ``g``, so queries may also use ``GRAPH ?g { … }``
        blocks. ``ASK`` strings are accepted too (the reference probes
        stores with ``ask where {?s ?p [].}``, query.py:363-366).
        Returns a :class:`..queries.source.QueryResult`
        (Spark plan under the hood; conversions collect)."""
        from .queries.bgp import sparql_query
        from .queries.source import QueryResult

        triples = self.all_triples()
        if named_graph is not None:
            triples = triples.where(F.col("g") == named_graph)
        return QueryResult(sparql_query(triples, sparql), query=sparql)

    def update(
        self, update_str: str, named_graph: Optional[str] = None
    ) -> None:
        """SPARQL Update over the store (queries/update.py verbs),
        evaluated in Spark and collected once; the collected graphs are
        written like inserts.

        Scoped form applies to one named graph (GRAPH blocks inside
        DATA collapse into that graph). Unscoped form runs over the
        union quads view — GRAPH blocks address individual graphs —
        and rewrites every changed graph from ONE materialized result
        (the updated frame is checkpointed and collected before the
        first write, so later graphs don't observe earlier writes:
        spec §3 evaluates each op against the pre-op state)."""
        from .queries.update import apply_update

        cols = TRIPLE_FIELDS
        if named_graph is not None:
            key = self.mapper.ng_to_key(named_graph)
            base = (
                self.graph_for_key(key)
                if self._is_live(named_graph)
                else triples_frame(self.spark, [])
            )
            # default_graph declares the frame's identity so
            # graph-targeted DELETE/CLEAR ops inside the request apply
            # only when they actually name THIS graph; _write_graph
            # dedups the collected rows, so the update skips its own
            # dedup shuffle
            new = apply_update(
                base, update_str, default_graph=named_graph, dedup=False
            )
            self._write_graph(key, _collect(new))
            self.registry.touch([named_graph])
            return
        # unscoped: SPARQL's default graph is a real graph here (key
        # "default"); GRAPH blocks inside DATA address other graphs
        ng_default = self.mapper.key_to_ng("default")

        def _graph_sigs(df: DataFrame) -> dict:
            """Per-graph (row count, content hash-sum): one map-side
            aggregated pass, registry-sized result. decimal(38,0) sum
            can't overflow (ANSI mode) and is order-independent."""
            h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
            rows = (
                df.groupBy("g")
                .agg(F.count("*").alias("n"), F.sum(h).alias("h"))
                .collect()
            )
            return {r["g"]: (r["n"], r["h"]) for r in rows}

        old_sigs = _graph_sigs(self.all_triples())
        new = apply_update(
            self.all_triples(), update_str, default_graph=ng_default
        ).localCheckpoint()
        new_sigs = _graph_sigs(new)
        present = {g for g in new_sigs if g is not None}
        registered = {self.mapper.key_to_ng(k) for k in self.keys}
        # rewrite + touch ONLY graphs whose content actually changed:
        # bumping lastmod on untouched graphs would make the age-based
        # syncfs re-harvest decision report stale graphs as fresh (and
        # rewriting them is wasted IO)
        changed = [
            ng
            for ng in sorted(present | registered)
            if old_sigs.get(ng) != new_sigs.get(ng)
        ]
        # validate BEFORE any write so a bad target can't abort the
        # loop half-overwritten
        foreign = [
            ng for ng in changed if not ng.startswith(self.mapper.base)
        ]
        if foreign:
            raise ValueError(
                f"update targets graphs outside this store's base "
                f"({self.mapper.base!r}): {foreign!r} — a parquet store "
                "hosts only graphs it can key; use the endpoint store "
                "for arbitrary named graphs"
            )
        if not changed:
            return
        by_graph: dict = {ng: [] for ng in changed}
        for r in new.where(F.col("g").isin(changed)).select("g", *cols).collect():
            by_graph[r[0]].append(tuple(r[1:]))
        for ng, rows in by_graph.items():
            self._write_graph(self.mapper.ng_to_key(ng), rows)
        self.registry.touch(changed)

    def verify_max_age_of_key(self, key: str, reference_time) -> bool:
        """True iff the graph is NOT older than the reference time
        (mirrors store.py:224-255 driving the syncfs update decision)."""
        import datetime as _dt

        ts = self.registry.lastmod_ts(self.mapper.key_to_ng(key))
        if ts is None:
            return False
        if isinstance(reference_time, (int, float)):
            reference_time = _dt.datetime.fromtimestamp(
                reference_time, _dt.timezone.utc
            )
        if reference_time.tzinfo is not None:
            # registry timestamps are naive UTC; normalize aware inputs
            # instead of raising a naive/aware comparison TypeError
            reference_time = reference_time.astimezone(
                _dt.timezone.utc
            ).replace(tzinfo=None)
        return ts >= reference_time
