"""Record sources (SURVEY.md §2.1 S1-S6): identifier → DataFrame.

The reference's Source zoo (/root/reference/sema/subyt/sources.py)
yields dict-rows from csv/json/xml files, folders and globs, dispatched
by mime/extension (SourceFactory, sources.py:34-209). Here every
source becomes a DataFrame with an explicit ``_ord`` column pinning
the reference's implicit file order (its ctrl semantics depend on it —
``sorted(source_paths)`` at sources.py:228), because a distributed
scan has no inherent order.

Scale split:

- **csv** reads through ``spark.read.csv`` (all-string columns — the
  ``csv.DictReader`` contract) and scales to any size;
- **json / xml** mirror the reference's in-memory semantics
  (single-key-wrapper unwrap at sources.py:508-516; xml-as-dict at
  :544-557) driver-side — these are dimension/fixture sources by
  design (the reference itself warns its JSON source "will not work
  for large sets", sources.py:503-505). Corpus-scale JSON uses
  ``spark.read.json`` on JSON-lines via ``fmt="jsonl"``.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import xml.etree.ElementTree as ET
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXT_MAP = {
    ".csv": "csv",
    ".tsv": "tsv",
    ".json": "json",
    ".jsonl": "jsonl",
    ".xml": "xml",
}


def _with_ord(df: DataFrame) -> DataFrame:
    # monotonically_increasing_id is ordered by (partition, offset);
    # file-scan partitions follow byte ranges, so ascending id = file
    # order — the same order csv.DictReader would yield
    return df.withColumn("_ord", F.monotonically_increasing_id())


def _csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    quotechar: str = '"',
    header: Optional[List[str]] = None,
    comment: Optional[str] = "#",
) -> DataFrame:
    reader = (
        spark.read.option("sep", delimiter)
        .option("quote", quotechar)
        # csv.DictReader parity (the reference's CSVFileSource):
        # quoted fields may span lines, quotes escape by doubling,
        # and backslash is a plain character — Spark's default escape
        # ('\') would eat it
        .option("multiLine", True)
        .option("escape", quotechar)
        .option("mode", "PERMISSIVE")
    )
    if comment:
        reader = reader.option("comment", comment)
    if header:
        reader = reader.option("header", False).schema(
            ", ".join(f"`{h}` string" for h in header)
        )
    else:
        reader = reader.option("header", True)
    # csv.DictReader yields '' (never None) for empty fields
    return _with_ord(reader.csv(path).na.fill(""))


def _unwrap_json(obj):
    """Unwrap nested single-key dict wrappers until a list appears
    (sources.py:508-516)."""
    while isinstance(obj, dict) and len(obj) == 1:
        obj = next(iter(obj.values()))
    if not isinstance(obj, list):
        obj = [obj]
    return obj


def _json_file(spark: SparkSession, path: str) -> DataFrame:
    with open(path) as f:
        items = _unwrap_json(json.load(f))
    rows = [
        {str(k): v for k, v in it.items()} if isinstance(it, dict) else {"value": it}
        for it in items
    ]
    return _local_frame(spark, [{**r, "_ord": i} for i, r in enumerate(rows)])


def _inner_xml(elem: ET.Element) -> str:
    """Element content serialized back to markup (text + child tags +
    tails) — the xmlasdict behaviour the reference's XMLFileSource
    exposes for mixed-content elements (templates render descriptions
    with inline markup verbatim; see the 09-mixedxml golden)."""
    parts = [elem.text or ""]
    for ch in elem:
        parts.append(ET.tostring(ch, encoding="unicode"))
    return "".join(parts).strip()


def _xml_as_dict(elem: ET.Element):
    """xml-as-dict: text-only element → str; mixed content → inner
    markup string; element children grouped by tag, repeated tags →
    list; attributes as ``@name``."""
    children = list(elem)
    if not children and not elem.attrib:
        return (elem.text or "").strip()
    if children and (elem.text or "").strip():
        return _inner_xml(elem)  # mixed content
    out: dict = {}
    for ch in children:
        val = _xml_as_dict(ch)
        if ch.tag in out:
            if not isinstance(out[ch.tag], list):
                out[ch.tag] = [out[ch.tag]]
            out[ch.tag].append(val)
        else:
            out[ch.tag] = val
    out.update({f"@{k}": v for k, v in elem.attrib.items()})
    return out


def _xml_file(spark: SparkSession, path: str) -> DataFrame:
    """xmlasdict ``unpack()`` semantics: descend through single-child
    root wrappers; if the unwrapped node's children all repeat one tag
    (<movies><movie/>…) each child is a record, otherwise the node
    itself is a single record (<wrap2><id/><name/></wrap2>)."""
    root = ET.parse(path).getroot()
    while len(list(root)) == 1 and len(list(list(root)[0])) > 0:
        root = list(root)[0]
    children = list(root)
    tags = {c.tag for c in children}
    if len(children) > 1 and len(tags) == 1:
        items = children
    else:
        items = [root]
    rows = []
    for i, it in enumerate(items):
        d = _xml_as_dict(it)
        rows.append({**(d if isinstance(d, dict) else {"value": d}), "_ord": i})
    return _local_frame(spark, rows)


def _local_frame(spark: SparkSession, rows: List[dict]) -> DataFrame:
    """Row dicts as a driver-local frame: the schema
    ``createDataFrame(rows)`` infers, built from an Arrow table so it
    plans as a ``LocalRelation`` (subyt then renders it on the
    driver)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = spark._inferSchemaFromList(rows, names=None)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def make_source_df(
    spark: SparkSession,
    identifier: str,
    fmt: Optional[str] = None,
    unique_pattern: Optional[str] = None,
    **options,
) -> DataFrame:
    """SourceFactory.make_source equivalent: dispatch path / glob /
    folder to a reader by extension (or explicit ``fmt``).

    ``unique_pattern`` wraps the source in the reference's
    FilteringSource semantics (first record per expanded URI-template
    key, source order — subyt/sources.py FilteringSource)."""
    if unique_pattern is not None:
        from ..operators.windows import unique_by_pattern

        base = make_source_df(spark, identifier, fmt, **options)
        return unique_by_pattern(base, unique_pattern)
    if os.path.isdir(identifier):
        paths = sorted(
            os.path.join(identifier, p)
            for p in os.listdir(identifier)
            if os.path.isfile(os.path.join(identifier, p))
        )
        return _concat(spark, paths, fmt, options)
    if any(ch in identifier for ch in "*?["):
        paths = sorted(_glob.glob(identifier))
        if not paths:
            raise FileNotFoundError(f"glob {identifier} matched nothing")
        return _concat(spark, paths, fmt, options)
    fmt = fmt or EXT_MAP.get(os.path.splitext(identifier)[1].lower())
    if fmt == "csv":
        return _csv(spark, identifier, **options)
    if fmt == "tsv":
        return _csv(spark, identifier, delimiter="\t", **options)
    if fmt == "json":
        return _json_file(spark, identifier)
    if fmt == "jsonl":
        return _with_ord(spark.read.json(identifier))
    if fmt == "xml":
        return _xml_file(spark, identifier)
    raise ValueError(f"unsupported source {identifier!r} (fmt={fmt!r})")


def _concat(spark, paths, fmt, options) -> DataFrame:
    """Folder/glob source: per-file reads concatenated in sorted path
    order; ``_ord`` is globally contiguous across files.

    Each file's ``_ord`` comes from ``monotonically_increasing_id``,
    whose values jump by 2^33 between scan partitions — correct
    *order* but not contiguous, so a plain offset would interleave
    files. Normalize per file to dense 0..n-1 with a row_number first.
    The single-partition window is fine here by contract: subyt
    sources are dimension-sized (they get collected for templating);
    corpus-scale data never flows through this reader."""
    from pyspark.sql.window import Window

    out = None
    offset = 0
    for p in paths:
        df = make_source_df(spark, p, fmt=fmt, **options)
        n = df.count()
        dense = F.row_number().over(Window.orderBy("_ord")) - 1
        df = df.withColumn("_ord", dense + F.lit(offset))
        offset += n
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    if out is None:
        raise FileNotFoundError("no files in source")
    return out


def collect_set(df: DataFrame, order_col: str = "_ord") -> List[dict]:
    """DataFrame → ordered list of dicts, for use as a broadcast
    ``sets`` entry (the reference's named sets are re-iterated inside
    templates — dimension-sized by contract)."""
    cols = [c for c in df.columns if c != order_col]
    rows = df.orderBy(order_col).select(*cols).collect()
    return [r.asDict(recursive=True) for r in rows]
