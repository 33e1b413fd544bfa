"""RFC 6570 URI-Template expansion (from scratch; the reference
delegates to the ``uritemplate`` package — j2_functions.py:365-374 —
which is unavailable here).

Implements expression types levels 1-4: ``{var}``, ``{+var}``,
``{#var}``, ``{.var}``, ``{/var}``, ``{;var}``, ``{?var}``, ``{&var}``
with multiple variables, prefix modifiers ``:n`` and explode ``*``,
over scalar / list / dict values. Unset/None variables contribute
nothing (and drop their separator), matching RFC 6570 §3.2.1.

Used by the subyt ``uritexpand`` function (X12) and the patterned
file sink (S14).
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Tuple

_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_RESERVED = ":/?#[]@!$&'()*+,;="

_OP_TABLE = {
    # op: (first, sep, named, ifemp, allow_reserved)
    "": ("", ",", False, "", False),
    "+": ("", ",", False, "", True),
    "#": ("#", ",", False, "", True),
    ".": (".", ".", False, "", False),
    "/": ("/", "/", False, "", False),
    ";": (";", ";", True, "", False),
    "?": ("?", "&", True, "=", False),
    "&": ("&", "&", True, "=", False),
}

_EXPR_RE = re.compile(r"\{([+#./;?&]?)([^}]+)\}")
# varname is liberal beyond RFC 6570 (spaces, '-'): the reference's
# uritemplate package resolves names like '{/Alpha-2 code}' against
# dict keys verbatim (exercised by the subyt 02-collection golden)
_VARSPEC_RE = re.compile(r"^([\w.%][\w.% -]*?)(?:(\*)|:(\d{1,4}))?$")


def _pct(value: str, allow_reserved: bool) -> str:
    safe = _UNRESERVED + (_RESERVED + "%" if allow_reserved else "")
    out = []
    for ch in value:
        if ch in safe:
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


def _fmt_scalar(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)  # floats incl. inf/nan render via str — no int()
    # round-trip that would raise OverflowError on non-finite values


def _expand_one(
    op: str, name: str, value: Any, explode: bool, prefix: Optional[int]
) -> Optional[str]:
    first, sep, named, ifemp, allow_r = _OP_TABLE[op]
    if value is None:
        return None
    if isinstance(value, (list, tuple)):
        if not value:
            return None
        items = [_pct(_fmt_scalar(v), allow_r) for v in value]
        if explode:
            if named:
                return sep.join(f"{name}={i}" if i else f"{name}{ifemp}" for i in items)
            return sep.join(items)
        joined = ",".join(items)
        return f"{name}={joined}" if named else joined
    if isinstance(value, dict):
        if not value:
            return None
        pairs: List[Tuple[str, str]] = [
            (_pct(str(k), allow_r), _pct(_fmt_scalar(v), allow_r))
            for k, v in value.items()
        ]
        if explode:
            return sep.join(f"{k}={v}" for k, v in pairs)
        joined = ",".join(f"{k},{v}" for k, v in pairs)
        return f"{name}={joined}" if named else joined
    s = _fmt_scalar(value)
    if prefix is not None:
        s = s[:prefix]
    enc = _pct(s, allow_r)
    if named:
        return f"{name}{ifemp}" if enc == "" else f"{name}={enc}"
    return enc


def uritemplate_expand(template: str, context: Dict[str, Any]) -> str:
    """Expand ``template`` against ``context`` (missing keys → empty)."""

    def repl(m: re.Match) -> str:
        op, varlist = m.group(1), m.group(2)
        first, sep, _, _, _ = _OP_TABLE[op]
        parts: List[str] = []
        for spec in varlist.split(","):
            vm = _VARSPEC_RE.match(spec.strip())
            if not vm:
                continue
            name, star, pfx = vm.group(1), vm.group(2), vm.group(3)
            val = context.get(name)
            piece = _expand_one(
                op, name, val, bool(star), int(pfx) if pfx else None
            )
            if piece is not None:
                parts.append(piece)
        if not parts:
            return ""
        return first + sep.join(parts)

    return _EXPR_RE.sub(repl, template)


def template_variables(template: str) -> List[str]:
    """Variable names referenced by the template."""
    out: List[str] = []
    for m in _EXPR_RE.finditer(template):
        for spec in m.group(2).split(","):
            vm = _VARSPEC_RE.match(spec.strip())
            if vm:
                out.append(vm.group(1))
    return out
