"""The triples-table data model.

Reproduces the semantics of the reference's store layer
(/root/reference/sema/commons/store/store.py) over DataFrames:

- RDF *set semantics*: ``Graph`` is a set of triples — ``graph += g``
  dedups (store.py:500-502). Here: :func:`dedup_triples` at every
  materialization boundary.
- *Skolemization on insert*: ``store_graph += graph.skolemize()``
  (store.py:393). Here: :func:`skolemize` — deterministic content-hash
  IRIs (north rule), computed as pure column expressions (sha2), no UDF.
- *Named graphs + admin registry*: ``GraphNameMapper`` base+quote(key)
  (store.py:40-63) and the admin graph's per-graph lastmod
  (store.py:397-440). Here: a ``g`` column + a ``{graph: lastmod}``
  JSON snapshot maintained driver-side by :class:`GraphRegistry`.
- *Partitioning for 100 TB*: final triples are written bucketed by
  ``pmod(hash(s), n_buckets)`` with an explicit ``salt`` column for
  hub subjects (north rule) — see :func:`with_subject_bucket`.

At production scale these tables are Iceberg (`MERGE INTO`, snapshot
isolation, partition pruning on ``g``/``bucket(s)``); this environment
has no Iceberg runtime jar, so :mod:`py_sema_spark.storage` provides a
parquet-backed stand-in with the same call surface.
"""

from __future__ import annotations

import datetime as _dt
import contextlib
import json
import os
import shutil
import uuid
from typing import Iterable, Optional
from urllib.parse import quote, unquote

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRIPLE_FIELDS = ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
    ]
)

# the same columns as an Arrow schema, for driver-side frames and files
TRIPLE_ARROW_SCHEMA = pa.schema([(c, pa.string()) for c in TRIPLE_FIELDS])


def triples_table(rows: Iterable[tuple]) -> pa.Table:
    """``(s, p, o, o_kind, o_datatype, o_lang)`` tuples → Arrow table."""
    cols = list(zip(*rows)) or [()] * len(TRIPLE_FIELDS)
    return pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in cols], schema=TRIPLE_ARROW_SCHEMA
    )


def triples_frame(spark: SparkSession, rows: Iterable[tuple]) -> DataFrame:
    """A driver-side triples frame. Built from an Arrow table it plans
    as a ``LocalRelation``: building and collecting it start no Spark
    job (a list-of-tuples frame, even an empty one, costs one)."""
    return spark.createDataFrame(triples_table(rows), TRIPLE_SCHEMA)


def write_durable(path: str, data: str) -> None:
    """Write ``data`` to ``path`` and fsync it before returning."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())


def fsync_path(path: str) -> None:
    """fsync a file or a directory (a rename is durable once its
    directory is)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# extraction output carries provenance + winning parse format
EXTRACTED_SCHEMA = T.StructType(
    list(TRIPLE_SCHEMA.fields)
    + [
        T.StructField("src_url", T.StringType(), True),
        T.StructField("fmt", T.StringType(), True),
    ]
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def dedup_triples(df: DataFrame, keys: Optional[list] = None) -> DataFrame:
    """RDF set semantics: drop duplicate triples.

    The shuffle here is the scale hot spot; at 100 TB it runs per
    subject-hash bucket (co-partitioned with the final write) so the
    exchange is reused by the bucketed materialize rather than added
    on top of it.
    """
    keys = keys or [c for c in df.columns if c in set(TRIPLE_FIELDS + ["g"])]
    return df.dropDuplicates(keys)


def skolemize(df: DataFrame, src_col: str = "src_url") -> DataFrame:
    """Blank nodes → deterministic skolem IRIs, pure column expressions.

    ``_:label`` scoped to its source document becomes
    ``urn:skolem:<sha2(src_url|label)[:40]>`` — same row, same IRI, on
    any partition of any run. Applied to subjects and to objects with
    ``o_kind = 'bnode'``.
    """

    def _sk(col: Column) -> Column:
        # escape the delimiter inside the parts before joining:
        # ('http://x/a|b', '_:c') and ('http://x/a', 'b|_:c') must NOT
        # hash the same — pipes are legal (and common unencoded) in
        # crawled URLs
        def _esc(c: Column) -> Column:
            return F.replace(
                F.replace(c, F.lit("\\"), F.lit("\\\\")),
                F.lit("|"),
                F.lit("\\|"),
            )

        return F.concat(
            F.lit("urn:skolem:"),
            F.substring(
                F.sha2(
                    F.concat_ws(
                        "|",
                        _esc(F.coalesce(F.col(src_col), F.lit(""))),
                        _esc(col),
                    ),
                    256,
                ),
                1,
                40,
            ),
        )

    is_bn_s = F.col("s").startswith("_:")
    is_bn_o = F.col("o_kind") == F.lit("bnode")
    return df.withColumn(
        "s", F.when(is_bn_s, _sk(F.col("s"))).otherwise(F.col("s"))
    ).withColumns(
        {
            "o": F.when(is_bn_o, _sk(F.col("o"))).otherwise(F.col("o")),
            "o_kind": F.when(is_bn_o, F.lit("iri")).otherwise(F.col("o_kind")),
        }
    )


def hub_subjects(
    df: DataFrame, n_buckets: int = 256, share: float = 0.25
) -> DataFrame:
    """Subjects whose row count exceeds ``share`` × the average bucket
    size (n / n_buckets) — the keys that would skew a subject-hash
    layout.  Found with the shuffle-free Misra-Gries two-phase pass
    (:func:`..operators.sketch.heavy_hitters` with k = n_buckets/share:
    freq > n/k ⇔ freq > share·n/n_buckets), so detection never pays a
    full distinct-subject exchange.  Returns ``(s, cnt)``; by
    construction ≤ n_buckets/share rows → always broadcastable.
    """
    import math

    from .operators.sketch import heavy_hitters

    k = max(2, math.ceil(n_buckets / share))
    return heavy_hitters(df, "s", k=k).select(
        F.col("item").alias("s"), "cnt"
    )


def with_subject_bucket(
    df: DataFrame,
    n_buckets: int = 256,
    hub_salt: int = 16,
    hub_share: Optional[float] = None,
) -> DataFrame:
    """Add the physical-partitioning columns for the final materialize.

    - ``s_bucket = pmod(xxhash64(s), n_buckets)`` — subject-hash
      partitioning (north rule), gives co-located self-joins on ``s``.
    - ``salt = pmod(xxhash64(p, o), hub_salt)`` — spreads a hub subject
      (one ``s`` with millions of rows — the ``skos:member`` shape)
      over ``hub_salt`` sub-partitions. Readers that group by subject
      aggregate partials across salts; everyone else ignores it.

    ``hub_share`` switches salting from blanket to DEGREE-TRIGGERED:
    only subjects detected by :func:`hub_subjects` (row count >
    hub_share × average bucket size) get a non-zero salt; every other
    subject keeps ``salt = 0`` so its rows stay contiguous in one
    sub-partition (per-subject locality preserved, skew still
    bounded).  The hub set joins broadcast.  Note ``df`` feeds two
    plan branches then — pass a checkpointed/scan-backed frame, not a
    long lazy chain.
    """
    bucket = F.pmod(F.xxhash64(F.col("s")), F.lit(n_buckets)).cast("int")
    salt = F.pmod(F.xxhash64(F.col("p"), F.col("o")), F.lit(hub_salt)).cast(
        "int"
    )
    if hub_share is None:
        return df.withColumns({"s_bucket": bucket, "salt": salt})
    hubs = hub_subjects(df, n_buckets, hub_share).select(
        "s", F.lit(True).alias("_is_hub")
    )
    return (
        df.join(F.broadcast(hubs), "s", "left")
        .withColumns(
            {
                "s_bucket": bucket,
                "salt": F.when(F.col("_is_hub"), salt).otherwise(F.lit(0)),
            }
        )
        .drop("_is_hub")
    )


def materialize_triples(
    df: DataFrame,
    path: str,
    n_buckets: int = 256,
    hub_salt: int = 16,
    mode: str = "overwrite",
    hub_share: Optional[float] = 0.25,
) -> None:
    """Final write: dedup → bucket/salt → parquet partitioned by bucket.

    One shuffle total: the repartition by (s_bucket, salt) both
    performs the global dedup exchange and lays data out for the
    partitioned write.  Salting is degree-triggered by default
    (``hub_share``; see :func:`with_subject_bucket`) — only detected
    hub subjects split across salts, everyone else stays contiguous.
    """
    out = with_subject_bucket(df, n_buckets, hub_salt, hub_share)
    out = out.repartition(F.col("s_bucket"), F.col("salt"))
    # include s_bucket/salt in the dedup key: both are functions of the
    # triple, so semantics are unchanged, but HashPartitioning(s_bucket,
    # salt) then SATISFIES the aggregate's required clustering — the
    # dedup runs on the repartition exchange (one shuffle total) and the
    # write still sees the (s_bucket, salt) layout. Without them Spark
    # inserts a second full-key exchange and the partitionBy write
    # scatters every task across all s_bucket directories.
    out = out.dropDuplicates(
        [c for c in out.columns if c in set(TRIPLE_FIELDS + ["g"])]
        + ["s_bucket", "salt"]
    )
    out.write.mode(mode).partitionBy("s_bucket").parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    n_buckets: int = 64,
    key: str = "s",
    mode: str = "overwrite",
) -> DataFrame:
    """Persist as a Spark-catalog **bucketed table**: hash-bucketed and
    sorted on ``key``.

    This is the co-located-join layout for the 100-TB store: two
    tables bucketed on the same key with the same bucket count join
    with **zero Exchange** on either side (asserted in tests) — every
    BGP self-join chain on ``s`` then runs shuffle-free, paying the
    one layout shuffle at write time instead of per query. The Iceberg
    analogue is ``bucket(N, s)`` partition transforms; the Spark
    catalog form keeps the identical call surface locally.

    Returns the table read back from the catalog (bucket metadata
    attached, which plain ``spark.read.parquet`` would lose).
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )
    return df.sparkSession.table(name)


class GraphNameMapper:
    """External key ↔ named-graph URI, matching the reference
    (/root/reference/sema/commons/store/store.py:40-63):
    ``ng = base + urllib.parse.quote(key)`` and inverse ``unquote``.
    """

    def __init__(self, base: str = "urn:traversal-harvesting:"):
        self.base = base

    def key_to_ng(self, key: str) -> str:
        return self.base + quote(key)

    def ng_to_key(self, ng: str) -> str:
        assert ng.startswith(self.base), f"{ng} not under {self.base}"
        return unquote(ng[len(self.base):])

    def key_to_ng_col(self, key_col: Column) -> Column:
        """Column form. `quote` safe-set is letters/digits/_.-~/ — Spark
        has no urllib-compatible percent-encoder, so the common case
        (keys are config names / relative paths: already safe chars)
        passes through and anything needing encoding fails the job
        loudly instead of silently diverging from key_to_ng()."""
        return F.concat(
            F.lit(self.base),
            F.when(key_col.rlike(r"^[A-Za-z0-9_.~/-]*$"), key_col).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "named-graph key needs percent-encoding; "
                            "use key_to_ng() driver-side: "
                        ),
                        key_col,
                    )
                )
            ),
        )


class GraphRegistry:
    """The admin graph: one lastmod per named graph (mirrors
    ``urn:py-rdf-store:admin`` holding ``<ng> schema:dateModified <ts>``
    — store.py:18-20,397-440). The table is tiny by contract, so every
    operation is plain Python on the driver and starts no Spark job.

    On disk, for ``path``:

    - ``<path>_versions/<uuid>.json`` — a snapshot ``{graph: lastmod}``,
      lastmod as naive-UTC ISO time with microseconds;
    - ``<path>_CURRENT`` — the name of the live snapshot.

    A commit writes and fsyncs a new snapshot, writes the new name to a
    temporary pointer, and swings ``_CURRENT`` onto it with
    ``os.replace``; superseded snapshots are deleted afterwards. A kill
    at any step leaves ``_CURRENT`` naming either the old or the new
    complete snapshot. A pointer naming a missing snapshot, or a
    snapshot that does not parse, raises: reading it as empty would let
    the next ``touch`` wipe every other graph's lastmod. Concurrent
    committers are last-writer-wins on the pointer (the Iceberg
    version is MERGE INTO with a real atomic snapshot commit).

    Registries written by earlier versions are parquet: a bare parquet
    dir at ``path``, or a pointer naming a parquet snapshot dir. They
    are read once through Spark and rewritten as JSON on the next
    commit.
    """

    SCHEMA = T.StructType(
        [
            T.StructField("graph", T.StringType(), False),
            T.StructField("lastmod", T.TimestampType(), False),
        ]
    )

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._pointer = path + "_CURRENT"
        self._versions = path + "_versions"
        self._legacy: Optional[tuple] = None  # (location, snapshot)

    def _read_pointer(self) -> Optional[str]:
        try:
            with open(self._pointer, encoding="utf-8") as fh:
                name = fh.read().strip()
        except FileNotFoundError:
            return None
        if not name:
            raise ValueError(f"registry pointer {self._pointer!r} is empty")
        return name

    def snapshot(self) -> dict:
        """The live ``{graph: lastmod}`` map. Only a missing registry
        reads as empty; a dangling pointer or a corrupt snapshot
        raises."""
        name = self._read_pointer()
        if name is None:
            if os.path.exists(self.path):
                return self._read_legacy(self.path)
            return {}
        snap = os.path.join(self._versions, name)
        if not name.endswith(".json"):
            return self._read_legacy(snap)
        try:
            with open(snap, encoding="utf-8") as fh:
                text = fh.read()
        except FileNotFoundError:
            if self._read_pointer() != name:
                # a concurrent commit swung the pointer and deleted the
                # snapshot between the two reads: read the new one
                return self.snapshot()
            raise FileNotFoundError(
                f"registry pointer {self._pointer!r} names a missing "
                f"snapshot {snap!r}"
            ) from None
        try:
            doc = json.loads(text)
        except ValueError as e:
            raise ValueError(f"corrupt registry snapshot {snap!r}: {e}") from e
        return {g: _dt.datetime.fromisoformat(ts) for g, ts in doc.items()}

    def _read_legacy(self, location: str) -> dict:
        if self._legacy is None or self._legacy[0] != location:
            rows = self.spark.read.schema(self.SCHEMA).parquet(location).collect()
            self._legacy = (location, {r["graph"]: r["lastmod"] for r in rows})
        return dict(self._legacy[1])

    def load(self) -> DataFrame:
        """The registry as a ``(graph, lastmod)`` frame, built from an
        Arrow table (no Spark job)."""
        snap = self.snapshot()
        table = pa.table(
            {
                "graph": pa.array(list(snap), pa.string()),
                "lastmod": pa.array(
                    list(snap.values()), pa.timestamp("us", tz="UTC")
                ),
            }
        )
        return self.spark.createDataFrame(table, self.SCHEMA)

    def _commit(self, snap: dict) -> None:
        """Versioned commit (see the class docstring)."""
        name = uuid.uuid4().hex + ".json"
        os.makedirs(self._versions, exist_ok=True)
        doc = {g: ts.isoformat(timespec="microseconds") for g, ts in snap.items()}
        write_durable(os.path.join(self._versions, name), json.dumps(doc))
        fsync_path(self._versions)
        tmp = self._pointer + "." + name
        write_durable(tmp, name)
        os.replace(tmp, self._pointer)
        fsync_path(os.path.dirname(os.path.abspath(self._pointer)))
        self._legacy = None
        # best-effort cleanup of superseded snapshots + legacy dir
        for old in os.listdir(self._versions):
            if old != name:
                old = os.path.join(self._versions, old)
                if os.path.isdir(old):
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(old)
        if os.path.isdir(self.path):
            shutil.rmtree(self.path, ignore_errors=True)

    def touch(self, graphs: list[str]) -> None:
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        snap = self.snapshot()
        for g in graphs:
            snap.pop(g, None)
            snap[g] = now
        self._commit(snap)

    def lastmod_ts(self, graph: str):
        return self.snapshot().get(graph)

    def named_graphs(self) -> list[str]:
        return list(self.snapshot())

    def verify_max_age(self, graph: str, age_minutes: float, reference_time=None) -> bool:
        """True iff the graph exists and is younger than ``age_minutes``
        (mirrors store.py:224-255)."""
        ts = self.lastmod_ts(graph)
        if ts is None:
            return False
        ref = reference_time or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        if ref.tzinfo is not None:
            # registry timestamps are naive UTC; normalize aware
            # inputs instead of raising a naive/aware TypeError
            # (mirrors store.verify_max_age_of_key)
            ref = ref.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (ref - ts).total_seconds() / 60.0 <= age_minutes

    def drop(self, graph: str) -> None:
        snap = self.snapshot()
        if snap.pop(graph, None) is not None:
            self._commit(snap)


def graph_diff(
    old: DataFrame, new: DataFrame, keys: tuple | None = None
) -> DataFrame:
    """Snapshot-over-snapshot triple diff: ``(op, <keys>)`` with
    op ∈ {added, removed} — the crawl-delta view a KG store publishes
    per ingest (the reference's graph subtract, rdflib ``g1 - g2`` in
    store.py:73's semantics, in both directions at once).

    The default key is FULL RDF-term identity — every triple column
    both frames share, including ``o_kind``/``o_datatype``/``o_lang``:
    per RDF 1.1, ``"x"@en`` vs ``"x"@fr``, or a literal vs an IRI with
    the same lexical form, are DIFFERENT triples (comparing only
    s,p,o silently reported them unchanged). The metadata columns are
    legitimately NULL, so the anti-joins compare null-safely.

    Two left-anti joins on the triple key. Both sides arrive bucketed
    by subject hash (`write_bucketed`), so on a real cluster the
    anti-joins co-locate shuffle-free; unchanged triples (the vast
    majority between adjacent crawls) never leave their partition.
    """
    if keys is None:
        keys = [
            c
            for c in ("s", "p", "o", "o_kind", "o_datatype", "o_lang")
            if c in old.columns and c in new.columns
        ]
    ks = list(keys)

    def _anti(left: DataFrame, right: DataFrame) -> DataFrame:
        l, r = left.select(*ks).alias("_l"), right.select(*ks).alias("_r")
        cond = None
        for k in ks:
            c = F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}"))
            cond = c if cond is None else cond & c
        return l.join(r, cond, "left_anti")

    added = _anti(new, old).select(F.lit("added").alias("op"), *ks)
    removed = _anti(old, new).select(F.lit("removed").alias("op"), *ks)
    return added.unionByName(removed)
