"""The xsd-formatting ladder — exact semantics of the reference's
Jinja filters (/root/reference/sema/commons/j2/j2_functions.py:44-357),
re-implemented from the observed behavior. These define the byte-exact
literal serialization the P/R metric is sensitive to (SURVEY.md §2.8).

Two forms:

- **Python** (this module's top half): used driver-side when compiling
  templates and inside Arrow-batched templating UDFs — authoritative.
- **Column builders** (bottom half): pure Spark expressions for the
  common types, for use when a template compiles fully to column
  expressions (no Python in the hot path at all).
"""

from __future__ import annotations

import re
from datetime import date, datetime
from math import isfinite
from typing import Any, Optional

from dateutil import parser as _dtparser
from pyspark.sql import Column
from pyspark.sql import functions as F

from .clean import check_valid_uri, clean_uri_str


def xsd_value(content: Any, quote: str, type_name: str, suffix: Optional[str] = None) -> str:
    # j2_functions.py:44-52
    if suffix is None:
        suffix = "^^" + type_name
    return quote + str(content) + quote + suffix


_FALSY_STRINGS = ["", "0", "no", "false", "off"]  # j2_functions.py:64


try:  # reference parity: jinja2 Undefined (a template typo like
    # ``_.naem``) must raise, not silently render ''/'false' literals
    from jinja2.runtime import Undefined as _J2Undefined

    _REJECTED_TYPES: tuple = (list, dict, type(None), _J2Undefined)
except ImportError:  # pragma: no cover - jinja2 ships with the env
    _REJECTED_TYPES = (list, dict, type(None))


def format_boolean(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:55-67 — list/dict/None/Undefined rejected
    if isinstance(content, _REJECTED_TYPES):
        raise TypeError(f"unsupported input type {type(content)} for boolean")
    if not isinstance(content, bool):
        content = str(content).lower() not in _FALSY_STRINGS
    return xsd_value(str(content).lower(), quote, "xsd:boolean")


def format_integer(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:70-81 — round-trip guard: "001" is an error
    if not isinstance(content, int):
        asint = int(str(content))
        if str(content) != str(asint):
            raise ValueError(
                f"int format does not round-trip [ {content!s} <> {asint!s} ]"
            )
        content = asint
    return xsd_value(str(content), quote, "xsd:integer")


def _format_realnum(type_name: str, content: Any, quote: str) -> str:
    # j2_functions.py:84-98 — float(str(x)); non-finite rejected; -0.0→0.0
    if not isinstance(content, float):
        content = float(str(content))
    if not isfinite(content):
        raise ValueError(f"{type_name} cannot represent non-finite values")
    if content == 0.0:
        content = 0.0
    return xsd_value(str(content), quote, type_name)


def format_float(content: Any, quote: str, *_: Any) -> str:
    return _format_realnum("xsd:float", content, quote)


def format_double(content: Any, quote: str, *_: Any) -> str:
    return _format_realnum("xsd:double", content, quote)


def format_date(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:109-120 — datetime input is an error
    if isinstance(content, datetime):
        raise TypeError("use datetime format for datetime values")
    if not isinstance(content, date):
        content = _dtparser.isoparse(content).date()
    return xsd_value(content.isoformat(), quote, "xsd:date")


def format_datetime(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:157-163
    if not isinstance(content, datetime):
        content = _dtparser.isoparse(content)
    return xsd_value(content.isoformat(), quote, "xsd:dateTime")


def format_gyear(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:123-134 — sign-aware %04d
    if isinstance(content, date):
        year = content.year
    else:
        year = int(str(content).strip())
    return xsd_value(f"{'-' if year < 0 else ''}{abs(year):04d}", quote, "xsd:gYear")


def format_gyearmonth(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:137-154
    if isinstance(content, (date, datetime)):
        year, month = content.year, content.month
    else:
        content = str(content).strip()
        sign = 1
        if content and content[0] == "-":
            sign = -1
            content = content[1:]
        year_s, month_s, *_rest = content.split("-")
        year, month = int(year_s) * sign, int(month_s)
    return xsd_value(
        f"{'-' if year < 0 else ''}{abs(year):04d}-{month:02d}",
        quote,
        "xsd:gYearMonth",
    )


def format_uri(content: str, quote: str, *_: Any) -> str:
    # j2_functions.py:166-169
    return xsd_value(clean_uri_str(content), quote, "xsd:anyURI")


def format_string(content: Any, quote: str, suffix: Optional[str] = None) -> str:
    # j2_functions.py:172-189 — escape \ and quote; newline → long quotes
    if isinstance(content, _REJECTED_TYPES):
        raise TypeError(f"unsupported input type {type(content)} for string")
    escqt = f"\\{quote}"
    content = str(content).replace("\\", "\\\\").replace(quote, escqt)
    if "\n" in content:
        quote = quote * 3
        assert quote not in content, "ttl format error: long-quote collision"
    return xsd_value(content, quote, "xsd:string", suffix)


_DATE_LADDER = [
    (re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"), format_datetime),
    (re.compile(r"\d{4}-\d{2}-\d{2}"), format_date),
    (re.compile(r"\d{4}-\d{2}"), format_gyearmonth),
    (re.compile(r"\d{4}"), format_gyear),
]


def _auto_str_date(content: str, quote: str) -> Optional[str]:
    # j2_functions.py:192-205 — regex gate, then isoparse must succeed
    for rx, fmt in _DATE_LADDER:
        if rx.match(content):
            try:
                _dtparser.isoparse(content)
                return fmt(content, quote)
            except ValueError:
                pass
    return None


def _auto_str_number(content: str, quote: str) -> Optional[str]:
    # j2_functions.py:208-216
    t = content.strip().lower()
    if t and t[0] in "+-":
        t = t[1:]
    if t.isdigit():
        return format_integer(content, quote)
    if t.replace(".", "", 1).isdigit():
        return format_double(content, quote)
    return None


def auto_format_date(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:219-238
    if isinstance(content, datetime):
        return format_datetime(content, quote)
    if isinstance(content, date):
        return format_date(content, quote)
    formatted = _auto_str_date(str(content), quote)
    if formatted is not None:
        return formatted
    if isinstance(content, int):
        return format_gyear(content, quote)
    raise ValueError("auto-date format failed to infer date type")


def auto_format_number(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:241-255
    if isinstance(content, bool):
        # bool IS an int, so the reference's int branch keeps the bool
        # object and serializes str(True) → 'True'^^xsd:integer
        # (j2_functions.py:244-245 → :80-81) — byte-match it, odd as
        # the lexical form is.
        return xsd_value(str(content), quote, "xsd:integer")
    if isinstance(content, int):
        return format_integer(content, quote)
    if isinstance(content, float):
        return format_double(content, quote)
    formatted = _auto_str_number(str(content), quote)
    if formatted is not None:
        return formatted
    raise ValueError("auto-number format failed to infer number type")


def auto_format_any(content: Any, quote: str, *_: Any) -> str:
    # j2_functions.py:258-297 — the 14-step ladder, order is the spec
    if isinstance(content, bool):
        return format_boolean(content, quote)
    if isinstance(content, int):
        return format_integer(content, quote)
    if isinstance(content, float):
        return format_double(content, quote)
    if isinstance(content, datetime):
        return format_datetime(content, quote)
    if isinstance(content, date):
        return format_date(content, quote)
    if isinstance(content, str) and len(content.strip()) == 0:
        return format_string(content, quote, None)
    if str(content).strip().lower() in ["true", "false"]:
        return format_boolean(content, quote)
    formatted = _auto_str_number(str(content), quote)
    if formatted is not None:
        return formatted
    formatted = _auto_str_date(str(content), quote)
    if formatted is not None:
        return formatted
    if check_valid_uri(clean_uri_str(str(content))):
        return format_uri(content, quote)
    return format_string(content, quote, None)


TYPE_FN = {
    "xsd:boolean": format_boolean,
    "xsd:integer": format_integer,
    "xsd:float": format_float,
    "xsd:double": format_double,
    "xsd:date": format_date,
    "xsd:datetime": format_datetime,
    "xsd:anyuri": format_uri,
    "xsd:string": format_string,
    "xsd:gyear": format_gyear,
    "xsd:year": format_gyear,
    "xsd:yyyy": format_gyear,
    "xsd:gyearmonth": format_gyearmonth,
    "xsd:year-month": format_gyearmonth,
    "xsd:yyyy-mm": format_gyearmonth,
    "auto-date": auto_format_date,
    "auto-number": auto_format_number,
    "auto-any": auto_format_any,
    "auto": auto_format_any,
}


def xsd_format(content: Any, type_name: str, quote: str = "'", *, fb: Optional[str] = None) -> Optional[str]:
    """Dispatch + fallback (j2_functions.py:322-357). ``@lang`` type
    names become a language suffix on string formatting."""
    assert quote in "'\"", "ttl format only accepts ' or \" as valid quotes."
    suffix = None
    type_name = type_name.lower()
    if type_name.startswith("@"):
        suffix = type_name
        type_name = "xsd:string"
    fn = TYPE_FN.get(type_name)
    if not type_name.startswith("auto"):
        if not type_name.startswith("xsd:"):
            type_name = "xsd:" + type_name
        fn = TYPE_FN.get(type_name.lower())
        assert fn is not None, f"type_name '{type_name}' not supported."
    val = fb
    try:
        val = fn(content, quote, suffix)
    except Exception:
        if fb is None:
            raise
    return val


def uri_format(uri: str) -> str:
    # j2_functions.py:360-362
    return f"<{clean_uri_str(uri)}>"


def regexreplace(find: str, replace: str, text: str) -> str:
    # j2_functions.py:377-378
    return re.sub(find, replace, text)


def unite(*args: Any, **kwargs: Any) -> str:
    """Join values only when all are truthy and ≤ n are strings —
    guarantees complete triples (j2_functions.py:426-451)."""
    sep: str = kwargs.get("sep", " ")
    n: int = kwargs.get("n", 3)
    fb: str = kwargs.get("fb", "")
    if not all(bool(a) for a in args):
        return fb
    strvals = [a for a in args if isinstance(a, str)]
    if len(strvals) == 0 or len(strvals) > n:
        return fb
    return sep.join(strvals)


class ValueMapper:
    """Lookup map with overwrite/duplicate guards
    (j2_functions.py:381-423). Driver-side counterpart of the
    broadcast-join form in operators (J5/X14)."""

    def __init__(self) -> None:
        self._map: dict = {}

    def add(self, key: Any, val: Any) -> None:
        if key in self._map:
            assert val == self._map[key], (
                f"duplicate key {key} with distinct values not allowed to build map"
            )
        self._map[key] = val

    def apply(self, record: dict, origin_name: str, target_name: str, fallback=None) -> None:
        assert target_name not in record, (
            "applying map refuses to overwrite content already in record"
        )
        record[target_name] = self._map.get(record[origin_name], fallback)


def map_build(it, key_name: str, val_name: Optional[str] = None, cached_as=None, _cache={}):
    assert key_name, "cannot build map without valid key-name"
    if cached_as is not None and cached_as in _cache:
        return _cache[cached_as]
    vmap = ValueMapper()
    for item in it:
        vmap.add(item[key_name], item[val_name] if val_name is not None else item)
    if cached_as is not None:
        _cache[cached_as] = vmap
    return vmap


# ---------------- Spark column builders ----------------


def xsd_boolean_col(col: Column, quote: str = "'") -> Column:
    """NULL input → NULL (caller coalesces a fallback, like
    :func:`xsd_integer_col`); the Python form raises for None — silent
    'false' literals for missing data are wrong triples."""
    falsy = F.lower(col.cast("string")).isin(*_FALSY_STRINGS)
    word = F.when(falsy, F.lit("false")).otherwise(F.lit("true"))
    return F.when(
        col.cast("string").isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.concat(F.lit(quote), word, F.lit(quote), F.lit("^^xsd:boolean"))
    )


def xsd_integer_col(col: Column, quote: str = "'") -> Column:
    """Round-trip-guarded integer literal; non-round-tripping input → NULL
    (caller coalesces with a fallback, mirroring ``fb``)."""
    as_int = col.cast("string").cast("long")
    ok = as_int.isNotNull() & (as_int.cast("string") == col.cast("string"))
    return F.when(
        ok, F.concat(F.lit(quote), as_int.cast("string"), F.lit(quote), F.lit("^^xsd:integer"))
    )


def xsd_string_col(col: Column, quote: str = "'", lang: Optional[str] = None) -> Column:
    esc = F.regexp_replace(col.cast("string"), r"\\", r"\\\\")
    esc = F.regexp_replace(esc, re.escape(quote), "\\\\" + quote)
    suffix = F.lit("@" + lang if lang else "^^xsd:string")
    has_nl = esc.contains("\n")
    q1, q3 = F.lit(quote), F.lit(quote * 3)
    return F.when(has_nl, F.concat(q3, esc, q3, suffix)).otherwise(
        F.concat(q1, esc, q1, suffix)
    )


def xsd_gyear_col(col: Column, quote: str = "'") -> Column:
    y = F.trim(col.cast("string")).cast("int")
    body = F.when(y < 0, F.concat(F.lit("-"), F.lpad(F.abs(y).cast("string"), 4, "0"))).otherwise(
        F.lpad(y.cast("string"), 4, "0")
    )
    return F.when(
        y.isNotNull(),
        F.concat(F.lit(quote), body, F.lit(quote), F.lit("^^xsd:gYear")),
    )


def uri_format_col(col: Column) -> Column:
    from .clean import clean_uri_col, is_valid_uri_col

    cleaned = F.when(is_valid_uri_col(col), col).otherwise(clean_uri_col(col))
    return F.concat(F.lit("<"), cleaned, F.lit(">"))


def unite_col(*cols: Column, sep: str = " ", n: int = 3, fb: str = "") -> Column:
    """Column form of ``unite``: all inputs truthy and ≤ n non-null →
    concat_ws, else fallback."""
    all_truthy = F.lit(True)
    for c in cols:
        truthy = c.isNotNull() & (F.length(c.cast("string")) > 0)
        all_truthy = all_truthy & truthy
    count_ok = F.lit(len(cols) <= n)
    return F.when(
        all_truthy & count_ok, F.concat_ws(sep, *[c.cast("string") for c in cols])
    ).otherwise(F.lit(fb))
