"""Reference filter grammar → Spark Column, plus stats-based file pruning.

The reference's filter language is exactly one whitespace-tokenized
comparison ``column <op> literal`` with ops ``= == > < >= <= != <>`` and
literal inference quoted-string → int64 → float64 → bool
(``worker/src/task_executor.rs:474-516``). We parse that grammar for
strict parity, and fall back to handing the whole string to Spark's SQL
expression parser — so any full SQL predicate (AND/OR/NOT, BETWEEN, IN,
LIKE, IS NULL, column-vs-column) works as a superset.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_OPS = {"=", "==", ">", "<", ">=", "<=", "!=", "<>"}


class FilterParseError(ValueError):
    pass


@dataclass(frozen=True)
class Comparison:
    column: str
    op: str
    value: object  # str | int | float | bool


def _parse_literal(tok: str) -> object:
    """Literal inference ORDER follows ``task_executor.rs:488-501``:
    quoted string → int → float → bool → bare string. The doubled-quote
    unescape ('it''s' → it's) is a DELIBERATE divergence from the
    reference (whose parser takes the quoted slice verbatim) toward
    Spark SQL escape semantics — without it, a filter written in valid
    Spark SQL silently matched nothing AND mis-pruned files whose
    min/max straddle the real value. Pinned by
    test_filter_grammar_unescapes_doubled_quotes."""
    if len(tok) >= 2 and tok[0] in "'\"" and tok[-1] == tok[0]:
        q = tok[0]
        return tok[1:-1].replace(q + q, q)
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    return tok


import re as _cmp_re

_QUOTED_CMP_RE = _cmp_re.compile(
    r"^\s*([A-Za-z_]\w*)\s*(==|!=|<>|>=|<=|=|<|>)"
    r"\s*('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")\s*$"
)


def parse_comparison(filter_str: str) -> Comparison | None:
    """Parse ``col op literal``; None if it isn't that shape (caller then
    treats the string as a general SQL expression). Quoted literals may
    contain spaces (e.g. ``ts >= '2024-03-15 00:00:00'``) — a superset of
    the reference's whitespace-tokenized grammar."""
    parts = filter_str.split()
    if len(parts) == 3 and parts[1] in _OPS:
        return Comparison(parts[0], parts[1], _parse_literal(parts[2]))
    m = _QUOTED_CMP_RE.match(filter_str)
    if m:
        return Comparison(m.group(1), m.group(2), _parse_literal(m.group(3)))
    return None


def _apply_op(lhs: Column, op: str, value: object) -> Column:
    if op in ("=", "=="):
        return lhs == value
    if op in ("!=", "<>"):
        return lhs != value
    if op == ">":
        return lhs > value
    if op == "<":
        return lhs < value
    if op == ">=":
        return lhs >= value
    return lhs <= value


def parse_filter(filter_str: str) -> Column:
    """Reference grammar if it matches, else full Spark SQL expression."""
    cmp = parse_comparison(filter_str)
    if cmp is not None:
        return _apply_op(F.col(cmp.column), cmp.op, cmp.value)
    try:
        return F.expr(filter_str)
    except Exception as exc:  # pragma: no cover - parse errors surface here
        raise FilterParseError(f"cannot parse filter {filter_str!r}: {exc}") from exc


def prune_files(files, filter_str: str, schema=None):
    """File-level min/max pruning for single comparisons and
    conjunctions of them (``a AND b`` prunes as the intersection of its
    terms' prunes — sound because a file with no rows matching one term
    has no rows matching the conjunction).

    Reads reach it through ``Snapshot.scan``. Keeps any file whose
    [min,max] range for the filtered column could contain matching
    rows (conservative: files with no stats are kept, and any predicate
    shape not recognized prunes nothing). The
    reference models these stats but never prunes
    (``pkg/coordinator/query_planner.go:249-255``); at 100 TB pruning is
    mandatory, and this mirrors what Delta data skipping does.

    ``schema`` (list[Field], optional) enables time-range pruning: for
    ``date``/``timestamp`` columns the literal is normalized to the same
    fixed-width ISO form the stats use (see table._stat_value), where
    lexicographic order == chronological order. Without the schema,
    time-typed columns are never pruned (strings vs time stats are not
    comparable soundly).
    """
    types = {f.name: f.type for f in schema} if schema else {}
    cmp = parse_comparison(filter_str)
    if cmp is not None:
        return _prune_single(files, cmp, types)
    # Top-level conjunction of simple comparisons (quote-aware split;
    # parens or OR anywhere → no pruning — conservative beats clever).
    parts = _split_top_level_and(filter_str)
    if parts is not None and len(parts) > 1:
        cmps = [parse_comparison(p.strip()) for p in parts]
        if all(c is not None for c in cmps):
            for c in cmps:
                files = _prune_single(files, c, types)
            return files
    return files


def _split_top_level_and(s: str):
    """Split on top-level ``AND`` respecting quotes; None when the string
    contains parens or a top-level OR (shapes we don't prune)."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "(":
            return None
        low5 = s[i : i + 5].lower()
        if low5 == " and ":
            parts.append("".join(buf))
            buf = []
            i += 5
            continue
        if s[i : i + 4].lower() == " or ":
            return None
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


import re as _re_mod

_TS_SHAPE_RE = _re_mod.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}$")
_DATE_SHAPE_RE = _re_mod.compile(r"^\d{4}-\d{2}-\d{2}$")


def _time_shape(s: str):
    if _TS_SHAPE_RE.match(s):
        return "ts"
    if _DATE_SHAPE_RE.match(s):
        return "date"
    return None


def _normalize_time_literal(value, ftype: str):
    """Literal → the fixed-width ISO string the stats use; None when the
    literal cannot be interpreted as a time (caller must keep the file)."""
    import datetime as _dt

    if not isinstance(value, str):
        return None
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            parsed = _dt.datetime.strptime(value, fmt)
        except ValueError:
            continue
        if ftype == "date":
            return parsed.strftime("%Y-%m-%d")
        return parsed.strftime("%Y-%m-%d %H:%M:%S.%f")
    return None


def _prune_single(files, cmp: Comparison, types=None):
    if isinstance(cmp.value, bool):
        return files
    ftype = (types or {}).get(cmp.column)
    if ftype in ("date", "timestamp"):
        norm = _normalize_time_literal(cmp.value, ftype)
        if norm is None:
            return files  # unintelligible time literal: prune nothing
        cmp = Comparison(cmp.column, cmp.op, norm)
    kept = []
    for f in files:
        mn = f.min_values.get(cmp.column)
        mx = f.max_values.get(cmp.column)
        if mn is None or mx is None:
            kept.append(f)
            continue
        # Without type info, never compare time-shaped stats against a
        # differently-shaped literal — lexicographic order across widths
        # is not chronological order (e.g. '2024-01-01' vs
        # '2024-01-01 00:00:00.000000').
        if ftype is None and isinstance(mn, str) and isinstance(cmp.value, str):
            if (
                _time_shape(mn) != _time_shape(cmp.value)
                or _time_shape(str(mx)) != _time_shape(cmp.value)
            ):
                kept.append(f)
                continue
        try:
            v = cmp.value
            if cmp.op in ("=", "=="):
                keep = mn <= v <= mx
            elif cmp.op == ">":
                keep = mx > v
            elif cmp.op == ">=":
                keep = mx >= v
            elif cmp.op == "<":
                keep = mn < v
            elif cmp.op == "<=":
                keep = mn <= v
            else:  # != / <> — only an all-equal file can be skipped
                keep = not (mn == mx == v)
        except TypeError:
            keep = True  # incomparable types: stay conservative
        if keep:
            kept.append(f)
    return kept
