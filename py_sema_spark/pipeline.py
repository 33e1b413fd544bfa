"""End-to-end KG-construction pipeline with checkpointed stages.

    corpus → extract → skolemize/clean → mention-link → canonicalize
           → materialize (subject-hash bucketed, hub-salted)

Every stage checkpoints its output table plus **per-partition lineage
and metrics rows** (north rule / BASELINE.md "Resumability"): a killed
run restarted with the same workdir skips stages whose completion
marker exists and resumes exactly after the last finished stage —
the T4 pattern (SURVEY.md §2.9) where the reference diffs mtimes
(/root/reference/sema/syncfs/service.py:140-171) and we diff stage
markers.

Metrics rows (``METRICS_SCHEMA``: rows per written part file) come
from the parquet footers of the files a stage just wrote, read with
pyarrow and appended to ``stage_metrics`` as one pyarrow-written file
per stage or chunk — no Spark job, and no read-back of the output.

Production mapping: stage outputs are Iceberg tables (atomic snapshot
commits replace the _SUCCESS-marker protocol, and per-file record
counts are in the snapshot manifests); metrics rows go to a
``stage_metrics`` table via append; this parquet stand-in keeps the
identical call surface.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, MapType, StructField, StructType

from .model import dedup_triples, skolemize
from .operators.extract import extract_structured, triples_of
from .operators.linkage import (
    detect_mentions,
    mention_triples,
    rewrite_triples,
    sameas_canonical_map,
)
from .functions.clean import apply_node_clean_chain

METRICS_SCHEMA = (
    "stage string, partition_id int, rows bigint, ts timestamp, status string"
)

# 05_materialize salts only detected hub subjects (row count above
# HUB_SHARE × the average bucket size) over HUB_SALT sub-partitions;
# see model.with_subject_bucket.
HUB_SALT = 8
HUB_SHARE = 0.25

_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_DRIVER_LISTING_MAX = 1024


class Pipeline:
    def __init__(self, spark: SparkSession, workdir: str):
        from .trace import Trace

        self.spark = spark
        self.workdir = workdir.rstrip("/")
        os.makedirs(self.workdir, exist_ok=True)
        # service-trace of this run (trace.py — reference
        # sema/commons/service parity): every stage records whether it
        # executed or resumed from its checkpoint, alongside the
        # distributed stage_metrics rows
        self.trace = Trace()

    # ---- checkpoint protocol ----

    def _stage_path(self, name: str) -> str:
        return f"{self.workdir}/{name}"

    def _done(self, name: str) -> bool:
        return os.path.exists(f"{self._stage_path(name)}/_STAGE_DONE")

    def _read(self, path: str) -> DataFrame:
        """Scan a stage checkpoint. Partition discovery lists the
        partition directories in a Spark job once there are more than
        ``parallelPartitionDiscovery.threshold`` (32) of them, as the
        64 ``s_bucket`` directories are; up to ``_DRIVER_LISTING_MAX``
        they are listed on the driver instead. The scan takes the
        schema :func:`_stored_schema` reads from a footer, so Spark runs
        no schema-inference job either."""
        conf = self.spark.conf
        prev = conf.get(_LISTING_THRESHOLD)
        conf.set(_LISTING_THRESHOLD, str(max(int(prev), _DRIVER_LISTING_MAX)))
        schema = _stored_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        try:
            return reader.parquet(path)
        finally:
            conf.set(_LISTING_THRESHOLD, prev)

    def _record_metrics(self, name: str, path: str) -> None:
        """Append ``name``'s rows per written part file, read from the
        parquet footers under ``path`` (partition subdirectories
        included): no Spark job. ``partition_id`` is the file's position
        in the sorted file list; files without rows are left out."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = _part_files(path)
        counts = [
            (i, n)
            for i, f in enumerate(files)
            if (n := pq.read_metadata(f).num_rows) > 0
        ]
        ts = _dt.datetime.now(_dt.timezone.utc)
        table = pa.table(
            {
                "stage": pa.array([name] * len(counts), pa.string()),
                "partition_id": pa.array([i for i, _ in counts], pa.int32()),
                "rows": pa.array([n for _, n in counts], pa.int64()),
                "ts": pa.array([ts] * len(counts), pa.timestamp("us", tz="UTC")),
                "status": pa.array(["complete"] * len(counts), pa.string()),
            }
        )
        out_dir = f"{self.workdir}/stage_metrics"
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(table, f"{out_dir}/part-{uuid.uuid4().hex}.parquet")

    def stage(
        self, name: str, build: Callable[[], DataFrame], partition_by: Optional[str] = None
    ) -> DataFrame:
        """Run-or-resume one stage; returns the stage output DataFrame
        (read back from the checkpoint, so downstream lineage starts
        at a scan, not at the whole upstream plan)."""
        from .trace import TraceEvent

        path = self._stage_path(name)
        if not self._done(name):
            t0 = time.time()
            df = build()
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            self._record_metrics(name, path)
            with open(f"{path}/_STAGE_DONE", "w") as fh:
                json.dump({"stage": name, "secs": time.time() - t0}, fh)
            self.trace.add_event(
                TraceEvent("stage", "executed", name, secs=time.time() - t0)
            )
        else:
            self.trace.add_event(TraceEvent("stage", "resumed", name))
        return self._read(path)

    def chunked_stage(
        self,
        name: str,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        n_chunks: int = 8,
        chunk_col: str = "url",
    ) -> DataFrame:
        """Run-or-resume a map stage with PER-CHUNK commits — the
        partition-level lineage the north rule asks for ("a killed run
        resumes exactly", no re-extraction of done work).

        The input is split into ``n_chunks`` deterministic chunks
        (``pmod(xxhash64(chunk_col), n_chunks)`` — stable across runs
        and cluster sizes); each chunk's output commits independently
        to ``<stage>/chunk=<i>`` with its own done-marker and metrics
        rows.  A killed run re-executes ONLY unfinished chunks: a
        chunk's marker is written strictly after its data, so a crash
        mid-write re-runs that chunk (mode=overwrite makes the retry
        idempotent) and never trusts partial output.

        Iceberg mapping: each chunk commit is one snapshot append to
        the stage table; the marker protocol is the parquet stand-in.
        Choose ``n_chunks`` so one chunk ≈ minutes of work — commit
        overhead stays negligible while a kill loses at most one
        chunk.
        """
        from .trace import TraceEvent

        path = self._stage_path(name)
        if not self._done(name):
            t0 = time.time()
            # pin the chunk count for the whole stage lifetime: chunk
            # membership is pmod(hash, n_chunks), so resuming a partial
            # run with a DIFFERENT n_chunks would skip completed marker
            # ids while silently losing every row of the missing mod
            # classes (and re-reading stale chunk dirs)
            os.makedirs(path, exist_ok=True)
            meta_path = f"{path}/_CHUNKS.json"
            if os.path.exists(meta_path):
                with open(meta_path) as fh:
                    recorded = json.load(fh)["n_chunks"]
                if recorded != n_chunks:
                    raise ValueError(
                        f"stage {name!r} was started with n_chunks="
                        f"{recorded}; a resume must keep that chunking "
                        f"(got {n_chunks}) — or clear {path} to restart"
                    )
            else:
                with open(meta_path, "w") as fh:
                    json.dump({"stage": name, "n_chunks": n_chunks}, fh)
            chunked = source.withColumn(
                "_chunk",
                F.pmod(F.xxhash64(F.col(chunk_col)), F.lit(n_chunks)),
            )
            for i in range(n_chunks):
                marker = f"{path}/_CHUNK_DONE_{i}"
                if os.path.exists(marker):
                    self.trace.add_event(
                        TraceEvent("chunk", "resumed", f"{name}/chunk={i}")
                    )
                    continue
                tc = time.time()
                out = transform(
                    chunked.where(F.col("_chunk") == i).drop("_chunk")
                )
                out.write.mode("overwrite").parquet(f"{path}/chunk={i}")
                self._record_metrics(f"{name}/chunk={i}", f"{path}/chunk={i}")
                with open(marker, "w") as fh:
                    json.dump(
                        {"stage": name, "chunk": i, "secs": time.time() - tc},
                        fh,
                    )
                self.trace.add_event(
                    TraceEvent(
                        "chunk", "executed", f"{name}/chunk={i}",
                        secs=time.time() - tc,
                    )
                )
            with open(f"{path}/_STAGE_DONE", "w") as fh:
                json.dump({"stage": name, "secs": time.time() - t0}, fh)
            self.trace.add_event(
                TraceEvent("stage", "executed", name, secs=time.time() - t0)
            )
        else:
            self.trace.add_event(TraceEvent("stage", "resumed", name))
        return self._read(path).drop("chunk")

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            f"{self.workdir}/stage_metrics"
        )

    # ---- the pipeline ----

    def run(
        self,
        corpus: DataFrame,
        dictionary: Optional[DataFrame] = None,
        graph: str = "urn:kg:corpus",
        n_buckets: int = 64,
        extract_chunks: int = 0,
    ) -> DataFrame:
        """Full run; returns the materialized triples DataFrame.

        ``dictionary`` (``entity, label``) adds the ``03_mention_link``
        stage: every exact label match in a page's ``text`` becomes a
        ``<url> schema:about <entity>`` triple. The triples land in
        ``graph``, written as ``n_buckets`` subject-hash buckets. With
        ``extract_chunks > 0`` extraction commits per chunk (see
        :meth:`chunked_stage`).
        """
        # extract is the expensive Arrow-UDF stage — with
        # extract_chunks > 0 it commits per chunk so a kill loses at
        # most one chunk of work (see chunked_stage)
        if extract_chunks > 0:
            extracted = self.chunked_stage(
                "01_extract", corpus, extract_structured,
                n_chunks=extract_chunks,
            )
        else:
            extracted = self.stage(
                "01_extract", lambda: extract_structured(corpus)
            )

        def _clean() -> DataFrame:
            trips = triples_of(extracted)
            trips = skolemize(trips)
            trips = apply_node_clean_chain(trips)
            return dedup_triples(trips, ["s", "p", "o", "o_kind", "o_datatype", "o_lang"])

        clean = self.stage("02_clean_skolemize", _clean)

        if dictionary is not None:
            def _mentions() -> DataFrame:
                return mention_triples(
                    detect_mentions(corpus, dictionary, id_col="url"), id_col="url"
                )

            mention_t = self.stage("03_mention_link", _mentions)
            linked = clean.select(
                "s", "p", "o", "o_kind", "o_datatype", "o_lang"
            ).unionByName(mention_t)
        else:
            linked = clean.select("s", "p", "o", "o_kind", "o_datatype", "o_lang")

        def _canon() -> DataFrame:
            sameas = linked.where(
                F.col("p").isin(
                    "http://www.w3.org/2002/07/owl#sameAs",
                    "http://www.w3.org/2004/02/skos/core#exactMatch",
                )
                & (F.col("o_kind") == "iri")
            ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
            mapping = sameas_canonical_map(sameas)
            if mapping is None:
                return linked
            return rewrite_triples(linked, mapping)

        canonical = self.stage("04_canonicalize", _canon)

        def _final() -> DataFrame:
            # degree-triggered hub salting (HUB_SHARE): canonical is a
            # checkpoint scan, so the heavy-hitter pass re-reads parquet,
            # not the upstream plan
            out = canonical.withColumn("g", F.lit(graph))
            from .model import with_subject_bucket

            out = with_subject_bucket(out, n_buckets, HUB_SALT, HUB_SHARE)
            out = out.repartition(F.col("s_bucket"), F.col("salt"))
            # s_bucket/salt in the dedup key: functions of the triple,
            # so semantics unchanged — but the repartition exchange then
            # satisfies the aggregate's clustering (one shuffle total)
            # and the partitionBy write keeps the salted layout (same
            # fix as model.materialize_triples)
            return out.dropDuplicates(
                ["s", "p", "o", "o_kind", "o_datatype", "o_lang", "g",
                 "s_bucket", "salt"]
            )

        final = self.stage("05_materialize", _final, partition_by="s_bucket")
        return final


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def _part_files(path: str) -> list:
    """The parquet part files under ``path``, partition subdirectories
    included, in sorted order; hidden and ``_`` directories are skipped
    as Spark skips them."""
    out = []
    for dp, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out += [os.path.join(dp, f) for f in fs if f.startswith("part-") and f.endswith(".parquet")]
    return sorted(out)


def _stored_schema(path: str) -> Optional[StructType]:
    """The schema Spark infers for the parquet output under ``path``,
    without its inference job: the Spark schema the writer stored in
    the first part file's footer, every field nullable as Spark reads
    it, then the ``key=value`` partition columns as Spark types them
    (integer). None when a footer lacks that schema or a partition
    value is not an integer; the caller then lets Spark infer."""
    import pyarrow.parquet as pq

    files = _part_files(path)
    if not files:
        return None
    raw = (pq.read_metadata(files[0]).metadata or {}).get(_SPARK_ROW_METADATA)
    if raw is None:
        return None
    schema = _nullable(StructType.fromJson(json.loads(raw)))
    keys: dict = {}
    for f in files:
        rel = os.path.relpath(os.path.dirname(f), path)
        for seg in [] if rel == "." else rel.split(os.sep):
            key, eq, value = seg.partition("=")
            try:
                ok = bool(eq) and _INT_MIN <= int(value) <= _INT_MAX
            except ValueError:
                ok = False
            if not ok:
                return None
            keys.setdefault(key, None)
    for key in keys:
        schema.add(StructField(key, IntegerType(), True))
    return schema


def _nullable(dt):
    """``dt`` with every nested field, element and value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt
