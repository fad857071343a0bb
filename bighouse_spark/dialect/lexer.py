"""How ClickHouse SQL text is quoted: the one scanner every module asks.

ClickHouse's lexer reads every quoted span with one rule
(``quotedString``): inside ``'…'`` (a string literal), ``"…"`` and
```…``` (quoted identifiers) a backslash escapes the next character
and a doubled quote stays inside the span. An unterminated quote runs
to the end of the text. ``--`` line comments and non-nested
``/* … */`` comments are spans too, so a quote character inside a
comment opens nothing.

Scanners work on a :func:`mask` copy (offsets preserved) and slice
the raw text: a keyword, comma or paren found on the mask is never
inside a span. :func:`quote`, :func:`literal` and :func:`unquote`
render and decode one value. This module imports nothing from the package, so the
schema parser, the transpiler, the engine and the wires can all use
it.
"""

from __future__ import annotations

import bisect
import functools
import re

QUOTES = "'\"`"  # string literal, then the two identifier quotes

_SPAN = re.compile(
    r"'(?:[^'\\]+|\\.|'')*+(?:'|\\?\Z)"
    r'|"(?:[^"\\]+|\\.|"")*+(?:"|\\?\Z)'
    r"|`(?:[^`\\]+|\\.|``)*+(?:`|\\?\Z)"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)",
    re.DOTALL,
)
_CLOSED_STRING = re.compile(r"'(?:[^'\\]+|\\.|'')*+'", re.DOTALL)
_CLOSED_VALUE = re.compile(
    _CLOSED_STRING.pattern + r'|"(?:[^"\\]+|\\.|"")*+"', re.DOTALL
)
_ESCAPE = {q: re.compile(r"\\(.)|" + q * 2, re.DOTALL) for q in "'\""}
_NUMBER = re.compile(r"-?\d+(?:\.\d+)?")
_ESCAPED = {"n": "\n", "t": "\t", "r": "\r", "0": "\0", "b": "\b",
            "f": "\f", "a": "\a", "v": "\v"}
_SPAN_OR_PAREN = re.compile(_SPAN.pattern + r"|[()]", re.DOTALL)


# Scanners ask about the same statement text many times in a row (each
# call-name match, each clause keyword) between rewrites. Small: every
# rewrite of a large INSERT payload is a new key.
@functools.lru_cache(maxsize=4)
def _spans(sql: str) -> tuple[tuple[int, int], ...]:
    return tuple(m.span() for m in _SPAN.finditer(sql))


def spans(sql: str, kinds: str | None = None) -> tuple[tuple[int, int], ...]:
    """``(start, end)`` of every quoted span and comment, in order.
    ``kinds`` keeps only spans opening with one of its characters
    (``"'"`` for string literals, :data:`QUOTES` for everything but
    comments)."""
    found = _spans(sql)
    if kinds is None:
        return found
    return tuple(s for s in found if sql[s[0]] in kinds)


def in_span(sql: str, pos: int) -> bool:
    """True when offset ``pos`` falls inside a span (see :func:`spans`)."""
    found = spans(sql)
    k = bisect.bisect_right(found, (pos, len(sql) + 1)) - 1
    return k >= 0 and pos < found[k][1]


def mask(sql: str, strings_only: bool = False) -> str:
    """``sql`` with its spans blanked to spaces, offsets preserved.

    By default every span goes whole, delimiters included: string
    literals, quoted identifiers and comments (the rewrites' mask).
    ``strings_only`` is the statement router's mask: only the content
    of ``'…'`` literals is blanked; their quotes, quoted identifiers
    and comments stay verbatim."""
    out, last = [], 0
    for a, b in spans(sql):
        if strings_only:
            if sql[a] != "'":
                continue
            a += 1
            if _CLOSED_STRING.fullmatch(sql, a - 1, b):
                b -= 1
        out.append(sql[last:a])
        out.append(" " * (b - a))
        last = b
    out.append(sql[last:])
    return "".join(out)


def close_paren(sql: str, i: int) -> int | None:
    """Index of the ``)`` closing the ``(`` at ``sql[i]``, skipping
    spans; None when it is never closed. Lexes only from ``i`` on:
    the cost is the distance to the close, not the statement."""
    depth = 0
    for m in _SPAN_OR_PAREN.finditer(sql, i):
        if m.group() == "(":
            depth += 1
        elif m.group() == ")":
            depth -= 1
            if depth == 0:
                return m.start()
    return None


@functools.lru_cache(maxsize=None)
def _separators(sep: str) -> re.Pattern[str]:
    return re.compile(r"[()\[\]]|" + re.escape(sep))


def split_top_level(s: str, sep: str = ",") -> list[str]:
    r"""Split ``s`` on the ``sep`` outside spans and outside ``()`` /
    ``[]`` nesting: the one top-level splitter for argument lists,
    type parameters, column lists, assignments, SET pairs and
    ``;``-separated scripts. ``'it''s, x'`` and ``'it\'s, x'`` stay
    one part. Parts are stripped; a trailing separator adds no empty
    part."""
    parts, parens, brackets, start = [], 0, 0, 0
    for m in _separators(sep).finditer(mask(s)):
        c = m.group()
        if c == "(":
            parens += 1
        elif c == ")":
            parens -= 1
        elif c == "[":
            brackets += 1
        elif c == "]":
            brackets -= 1
        elif not (parens or brackets):
            parts.append(s[start:m.start()].strip())
            start = m.end()
    if start < len(s):
        parts.append(s[start:].strip())
    return parts


def quote(value: str) -> str:
    """``value`` as a ``'…'`` string literal that ClickHouse and Spark
    both read back as ``value`` (``\\`` and ``'`` escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def literal(value: str) -> str:
    """``value`` as SQL: a number bare, anything else :func:`quote`."""
    return value if _NUMBER.fullmatch(value) else quote(value)


def unquote(text: str) -> str:
    r"""A value decoded once: a whole ``'…'`` or ``"…"`` span loses
    its quotes, a doubled quote and ``\'`` become one quote, and
    ``\n``-style escapes their character (``'it''s'`` and
    ``'it\'s'`` → ``it's``). Any other text is returned as is."""
    if not _CLOSED_VALUE.fullmatch(text):
        return text
    return _ESCAPE[text[0]].sub(
        lambda m: m.group()[0] if m.group(1) is None
        else _ESCAPED.get(m.group(1), m.group(1)),
        text[1:-1],
    )
