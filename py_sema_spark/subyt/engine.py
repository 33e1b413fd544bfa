"""The subyt generator: Jinja templates over record DataFrames.

Reference semantics (/root/reference/sema/subyt/api.py:280-401):
each record is rendered with context ``_`` (the record dict), ``sets``
(re-iterable named record sets), ``ctrl`` (isFirst / isLast / index /
settings) plus user variables; *collection mode* (``no-it``) renders
the template exactly once with only ``sets``. The Jinja environment
registers filters ``{xsd, uri}`` and functions ``{uritexpand,
regexreplace, map, xsd, unite}``
(/root/reference/sema/commons/j2/j2_functions.py:20-41) with
autoescape disabled for ttl/txt/ldt/json/jsonld
(/root/reference/sema/subyt/j2/generator.py:23-39).

Spark shape:

- ``ctrl`` is computed by :func:`..operators.windows.with_ctrl` —
  the reference's lookahead queue is a ``lead(1)``;
- rendering runs inside ``mapInPandas`` (Arrow batches; Jinja is the
  genuinely-not-column-expressible part — the template compiles once
  per executor, then renders per row within the batch);
- ``sets`` are broadcast variables (the reference's
  ``itertools.tee``-based re-iteration maps to broadcast lists, which
  are naturally re-iterable);
- ordering: the reference inherits file order; we require an explicit
  ``order_by``. A global stream (the reference's model) uses one
  window partition — fine for dimension-sized record sets; for
  corpus-scale streams pass ``stream_by`` so each logical stream is
  one hash partition (SURVEY.md §2.5 scale note).

Driver path: a record frame whose optimized plan is a ``LocalRelation``
(built from pandas or Arrow) already sits on the driver, and collecting
it starts no Spark job. Such a frame renders on the driver instead:
``ctrl`` is computed the way ``with_ctrl`` computes it (ascending,
nulls first, NaN last; per-stream ``idx`` / ``isFirst`` / ``isLast``
plus the global ``_gidx``), each column is converted to pandas by the
same Arrow converter the ``mapInPandas`` worker uses, every row goes
through the same :func:`_part_renderer`, and the ``(idx, part)`` frame
comes back Arrow-built (itself a ``LocalRelation``). A frame the driver
cannot hand the template exactly the values ``mapInPandas`` would
renders in Spark: a column type outside :data:`_DRIVER_TYPES`, a
column named like a ctrl column, or an integral column holding a null
whose rows might not share one Arrow batch (pandas turns such a column
into floats batch by batch). The switch looks at the plan and the
values only; it has no threshold or option.
"""

from __future__ import annotations

import copy
from typing import Callable, Dict, Iterator, List, Optional, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    IntegralType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

from ..functions.uritemplate import uritemplate_expand
from ..functions.xsd import (
    map_build,
    regexreplace,
    unite,
    uri_format,
    xsd_format,
)
from ..operators.windows import with_ctrl

AUTOESCAPE_DISABLED = ("ttl", "txt", "ldt", "json", "jsonld")


class GeneratorSettings:
    """Modifier flags, mirroring the reference's scheme
    (api.py:70-100): ignorecase / flatten / iteration, negated with a
    ``no-`` prefix ("no-it" → iteration=False). The reference declares
    ignorecase/flatten but never applies them in this snapshot; we
    apply them as record preprocessors (documented divergence-safe:
    defaults reproduce reference behavior on its own fixtures)."""

    _defaults = {"ignorecase": True, "flatten": True, "iteration": True}
    _aliases = {"it": "iteration"}

    def __init__(self, modifiers: Optional[str] = None):
        self.values = dict(self._defaults)
        for token in (modifiers or "").split(","):
            token = token.strip()
            if not token:
                continue
            val = True
            if token.startswith("no-"):
                val, token = False, token[3:]
            token = self._aliases.get(token, token)
            if token not in self.values:
                raise KeyError(f"unknown generator setting {token!r}")
            self.values[token] = val

    def __getattr__(self, key):
        try:
            return self.__dict__["values"][key]
        except KeyError:
            raise AttributeError(key)

    def as_dict(self) -> dict:
        return dict(self.values)


def build_env(
    templates_folder: Optional[str] = None,
    extra_filters: Optional[Dict[str, Callable]] = None,
    extra_functions: Optional[Dict[str, Callable]] = None,
):
    """The Jinja environment with the reference's filter/function
    registry (names must match — templates written for py-sema must
    render unchanged). ``extra_filters``/``extra_functions`` mirror the
    J2RDFSyntaxBuilder extension points (syntax_builder.py:23-43)."""
    from jinja2 import BaseLoader, Environment, FileSystemLoader, select_autoescape

    env = Environment(
        loader=(
            FileSystemLoader(templates_folder) if templates_folder else BaseLoader()
        ),
        autoescape=select_autoescape(
            disabled_extensions=AUTOESCAPE_DISABLED,
            default_for_string=False,  # string templates = ttl-style output
            default=True,
        ),
    )
    from jinja2 import pass_context

    @pass_context
    def _uritexpand(jctx, template, context=None):
        # j2_functions.py:366-373: a falsy context (None, Undefined —
        # e.g. a macro called with an undefined arg) falls back to the
        # full template context, minus callables
        if not context:
            context = {
                k: v for k, v in jctx.get_all().items() if not callable(v)
            }
        return uritemplate_expand(template, context)

    env.filters.update({"xsd": xsd_format, "uri": uri_format})

    def _map_build(it, key_name, val_name=None, cached_as=None,
                   _cache={}):  # noqa: B006 — deliberately env-scoped
        # the cache lives with THIS environment, not the module: Spark
        # reuses Python workers across jobs, so a module-level cache
        # would hand run 2 a stale ValueMapper built from run 1's sets
        return map_build(it, key_name, val_name, cached_as, _cache)

    env.globals.update(
        {
            "uritexpand": _uritexpand,
            "regexreplace": regexreplace,
            "map": _map_build,
            "xsd": xsd_format,
            "unite": unite,
        }
    )
    env.filters.update(extra_filters or {})
    env.globals.update(extra_functions or {})
    return env


def needs_regeneration(
    source_paths: Sequence[str], sink_paths: Sequence[str]
) -> bool:
    """T3 conditional gate (api.py:365-380): regenerate unless every
    sink is newer than every source — ``max(source mtimes) <
    min(sink mtimes)`` skips. Missing sinks always regenerate; at
    corpus scale the same comparison runs on ``max(warc_ts)`` /
    snapshot ids against the checkpoint metrics table."""
    import os

    sink_mtimes = [
        os.path.getmtime(p) for p in sink_paths if os.path.exists(p)
    ]
    if len(sink_mtimes) != len(list(sink_paths)) or not sink_mtimes:
        return True
    source_mtimes = [
        os.path.getmtime(p) for p in source_paths if os.path.exists(p)
    ]
    if not source_mtimes:
        return True
    return max(source_mtimes) >= min(sink_mtimes)


def _preprocess(item: dict, settings: GeneratorSettings) -> dict:
    if settings.flatten:
        flat = {}

        def _walk(prefix, obj):
            if isinstance(obj, dict):
                for k, v in obj.items():
                    _walk(f"{prefix}.{k}" if prefix else str(k), v)
            else:
                flat[prefix] = obj

        _walk("", item)
        item = flat
    if settings.ignorecase:
        low = {k.lower(): v for k, v in item.items()}
        item = {**item, **{k: v for k, v in low.items() if k not in item}}
    return item


def render_collection(
    template_source: str,
    sets: Dict[str, List[dict]],
    variables: Optional[dict] = None,
    settings: Optional[GeneratorSettings] = None,
    templates_folder: Optional[str] = None,
) -> str:
    """Collection ("no-it") mode: one render, driver-side (it produces
    exactly one part — distribution has nothing to parallelize)."""
    settings = settings or GeneratorSettings("no-it")
    env = build_env(templates_folder)
    tmpl = env.from_string(template_source)
    return tmpl.render(
        _=None,
        sets=sets,
        ctrl={
            "isFirst": True,
            "isLast": True,
            "index": 0,
            "settings": settings.as_dict(),
        },
        **(variables or {}),
    )


# column types whose mapInPandas values the driver path reproduces
# exactly; strings only in the default binary collation, whose order
# is Python's code-point order
_DRIVER_TYPES = (
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    BooleanType,
    DateType,
    TimestampType,
    DecimalType,
)
# the columns with_ctrl and the global index add to the Spark path's
# rows; a record column of the same name would be overwritten there
_CTRL_COLS = ("idx", "is_first", "is_last", "_gidx")


def _part_renderer(
    template_source: str,
    templates_folder: Optional[str],
    data_cols: Sequence[str],
    sets: Dict[str, List[dict]],
    variables: dict,
    settings: GeneratorSettings,
) -> Callable[[dict, int, bool, bool], str]:
    """The per-row render both paths share: ``row`` holds the record's
    columns as ``mapInPandas`` hands them over, the rest is its ctrl."""
    tmpl = build_env(templates_folder).from_string(template_source)
    settings_dict = settings.as_dict()

    def render(row: dict, index: int, is_first: bool, is_last: bool) -> str:
        item = _preprocess({k: row[k] for k in data_cols}, settings)
        return tmpl.render(
            _=item,
            sets=sets,
            ctrl={
                "isFirst": is_first,
                "isLast": is_last,
                "index": index,
                "settings": settings_dict,
            },
            **variables,
        )

    return render


def _is_driver_local(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _quoted(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def _sort_key(value):
    # Spark's ascending order: nulls first, NaN above every number
    if value is None:
        return (0,)
    if isinstance(value, float) and value != value:
        return (2,)
    return (1, value)


def _one_arrow_batch(spark, rows: list, fields) -> bool:
    """Whether the Spark path's single window partition reaches
    ``gen`` as one Arrow batch: within the record cap, and within the
    byte cap by an upper bound of the Arrow buffers (every value 32
    bytes wide plus 4 per string character, four ctrl columns, then
    doubled for buffer growth)."""
    conf = spark._jsparkSession.sessionState().conf()
    max_rows, max_bytes = conf.arrowMaxRecordsPerBatch(), conf.arrowMaxBytesPerBatch()
    if 0 < max_rows < len(rows):
        return False
    chars = sum(len(v) for r in rows for v in r if isinstance(v, str))
    bound = 2 * (32 * len(rows) * (len(fields) + 4) + 4 * chars) + (1 << 20)
    return max_bytes <= 0 or bound < max_bytes


def _driver_rows(records: DataFrame, stream_by: Sequence[str], order_by: Sequence[str]):
    """The driver-local records as ``(rows, ctrl)``: ``rows`` the row
    dicts ``mapInPandas`` would hand ``gen``, ``ctrl`` one
    ``(row, idx, is_first, is_last)`` per record in ``_gidx`` order.
    None when the driver cannot reproduce those values exactly."""
    fields = records.schema.fields
    names = [f.name for f in fields]
    if (
        not fields
        or len(set(names)) != len(names)
        or set(names) & set(_CTRL_COLS)
        or not set(stream_by) | set(order_by) <= set(names)
        or not all(
            isinstance(f.dataType, _DRIVER_TYPES) or f.dataType == StringType()
            for f in fields
        )
    ):
        return None
    spark = records.sparkSession
    # timestamps as epoch microseconds: a collected datetime is local
    # to the Python process, an Arrow batch's to the session zone. The
    # projection folds into the LocalRelation, so this starts no job.
    raw = records.select(
        *[
            F.unix_micros(_quoted(f.name)).alias(f.name)
            if isinstance(f.dataType, TimestampType)
            else _quoted(f.name)
            for f in fields
        ]
    ).collect()
    # pandas makes an integral column with a null float64 per Arrow
    # batch, so its values depend on which rows share a batch; with
    # stream_by that is decided by the shuffle
    integral_null = any(
        isinstance(f.dataType, IntegralType) and any(r[i] is None for r in raw)
        for i, f in enumerate(fields)
    )
    if integral_null and (stream_by or not _one_arrow_batch(spark, raw, fields)):
        return None

    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    # the converter the mapInPandas worker applies to each column
    ser = ArrowStreamPandasSerializer(
        spark.conf.get("spark.sql.session.timeZone"), False, False
    )
    pdf = pd.concat(
        [
            ser.arrow_to_pandas(
                pa.array([r[i] for r in raw], to_arrow_type(f.dataType)), i
            ).rename(f.name)
            for i, f in enumerate(fields)
        ],
        axis=1,
    )
    rows = pdf.to_dict("records")

    spos = [names.index(c) for c in stream_by]
    opos = [names.index(c) for c in order_by]
    keys = [
        (tuple(_sort_key(r[p]) for p in spos), tuple(_sort_key(r[p]) for p in opos))
        for r in raw
    ]
    order = sorted(range(len(raw)), key=keys.__getitem__)
    ctrl = []
    for g, i in enumerate(order):
        stream = keys[i][0]
        idx = ctrl[-1][1] + 1 if g and keys[order[g - 1]][0] == stream else 0
        last = g + 1 == len(order) or keys[order[g + 1]][0] != stream
        ctrl.append((i, idx, idx == 0, last))
    return rows, ctrl


class SparkSubyt:
    """Iteration-mode generator: one rendered part per record.

    ``process(df)`` returns a DataFrame ``(idx, part)`` — ``idx`` is
    the ctrl stream index (global render order), ``part`` the rendered
    text; sinks consume that frame (:mod:`.sinks`). A driver-local
    ``df`` renders on the driver (see the module docstring).
    """

    def __init__(
        self,
        template_source: str,
        order_by: Sequence[str],
        stream_by: Optional[Sequence[str]] = None,
        sets: Optional[Dict[str, List[dict]]] = None,
        variables: Optional[dict] = None,
        settings: Optional[GeneratorSettings] = None,
        templates_folder: Optional[str] = None,
    ):
        self.template_source = template_source
        self.order_by = list(order_by)
        self.stream_by = list(stream_by or [])
        self.sets = sets or {}
        self.variables = variables or {}
        self.settings = settings or GeneratorSettings()
        self.templates_folder = templates_folder

    def process(self, records: DataFrame) -> DataFrame:
        if not self.settings.iteration:
            raise ValueError("no-it settings: use render_collection()")
        # the source-order helper column drives ordering but is NOT
        # record data: it must not leak into the template's `_` dict
        data_cols = [c for c in records.columns if c != "_ord"]
        if _is_driver_local(records):
            local = _driver_rows(records, self.stream_by, self.order_by)
            if local is not None:
                return self._render_on_driver(records.sparkSession, data_cols, *local)
        return self._render_in_spark(records, data_cols)

    def _render_on_driver(self, spark, data_cols, rows, ctrl) -> DataFrame:
        # the Spark path's template sees its own copy of sets and
        # variables (they travel pickled), so a template cannot change
        # the caller's
        render = _part_renderer(
            self.template_source,
            self.templates_folder,
            data_cols,
            copy.deepcopy(self.sets),
            copy.deepcopy(self.variables),
            self.settings,
        )
        parts = [render(rows[i], idx, first, last) for i, idx, first, last in ctrl]
        return spark.createDataFrame(
            pa.table(
                {
                    "idx": pa.array(range(len(parts)), pa.int64()),
                    "part": pa.array(parts, pa.string()),
                }
            )
        )

    def _render_in_spark(self, records: DataFrame, data_cols) -> DataFrame:
        ctrl_df = with_ctrl(records, self.stream_by, self.order_by)
        if self.stream_by:
            # ctrl.index is per-stream (template contract), but sinks
            # consume idx as a GLOBAL total order — without this, idx
            # collides across streams and concatenation / _N suffixing
            # turns nondeterministic
            gw = Window.orderBy(
                *[F.col(c) for c in (self.stream_by + self.order_by)]
            )
            ctrl_df = ctrl_df.withColumn(
                "_gidx", F.row_number().over(gw) - 1
            )
        else:
            ctrl_df = ctrl_df.withColumn("_gidx", F.col("idx"))

        template_source = self.template_source
        templates_folder = self.templates_folder
        sets_bc = records.sparkSession.sparkContext.broadcast(self.sets)
        variables = dict(self.variables)
        settings = self.settings

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            render = _part_renderer(
                template_source,
                templates_folder,
                data_cols,
                sets_bc.value,
                variables,
                settings,
            )
            for pdf in batches:
                parts = [
                    render(
                        row,
                        int(row["idx"]),
                        bool(row["is_first"]),
                        bool(row["is_last"]),
                    )
                    for row in pdf.to_dict("records")
                ]
                yield pd.DataFrame(
                    {"idx": pdf["_gidx"].astype("int64"), "part": parts}
                )

        return ctrl_df.mapInPandas(gen, "idx long, part string")
