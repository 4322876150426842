"""Byte-exact term encoding: IRI percent-encoding + N-Triples escaping.

Replicates the reference's two string transforms (reference:
src/morph_kgc/materializer.py:127-144):

1. IRI template references are percent-encoded with ``falcon.uri.encode_value``
   — semantically ``urllib.parse.quote(value, safe='')``: every byte of the
   UTF-8 encoding is escaped except RFC-3986 *unreserved*
   (ALPHA / DIGIT / ``-._~``). Implemented as the JVM ``url_encode`` plus
   the fixup table :func:`percent_encode_fixups`.

2. Literal lexical forms get N-Triples escaping in the reference's exact
   replacement order: ``\\  \\n  \\t  \\b  \\f  \\r  "  '`` (the
   ``_NT_ESCAPES`` table).

Both tables are rendered as native ``replace`` chains that stay inside
whole-stage codegen — as SQL strings by
:mod:`morph_kgc_spark.functions.sqlexpr` for every RML term, and as a
Column by :func:`percent_encode_col` for the ``toUpperCaseURL`` built-in.
The pure-Python twins (``percent_encode_py`` / ``ntriples_escape_py``) are
the byte-equality references of the tests and fold constants driver-side.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from urllib.parse import quote

from pyspark.sql import Column
from pyspark.sql import functions as F


def percent_encode_py(value: str) -> str:
    """Percent-encode everything but RFC-3986 unreserved chars.

    Byte-compatible with falcon.uri.encode_value (used by the reference at
    materializer.py:132): UTF-8 encode, escape all reserved/other bytes.
    urllib.parse.quote never quotes ALPHA/DIGIT/``_.-~``; with ``safe=''``
    nothing else survives, which is exactly falcon's unreserved set.
    """
    return quote(value, safe="")


def ntriples_escape_py(value: str) -> str:
    """N-Triples escape in the reference's exact order (materializer.py:144)."""
    return (
        value.replace("\\", "\\\\")
        .replace("\n", "\\n")
        .replace("\t", "\\t")
        .replace("\b", "\\b")
        .replace("\f", "\\f")
        .replace("\r", "\\r")
        .replace('"', '\\"')
        .replace("'", "\\'")
    )


_NT_ESCAPES = [
    ("\\", "\\\\"),
    ("\n", "\\n"),
    ("\t", "\\t"),
    ("\b", "\\b"),
    ("\f", "\\f"),
    ("\r", "\\r"),
    ('"', '\\"'),
    ("'", "\\'"),
]


# contextvar threading for the safe_percent_encoding config key: the
# compiler renders terms driver-side, so materialize() wraps plan
# construction in `safe_encoding_context` and every IRI template
# reference sees the configured safe characters without 8 layers of
# kwargs.
_SAFE_CHARS: ContextVar[str | None] = ContextVar("safe_percent_chars", default=None)


@contextmanager
def safe_encoding_context(safe: str | None):
    token = _SAFE_CHARS.set(safe)
    try:
        yield
    finally:
        _SAFE_CHARS.reset(token)


_UNRESERVED = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789_.-~")


def percent_encode_fixups(safe: str | None = None) -> list[tuple[str, str]]:
    """(search, replacement) pairs that turn ``url_encode(v)`` into
    ``urllib.parse.quote(v, safe=safe)``, applied in order.

    ``java.net.URLEncoder`` (behind ``url_encode``) differs from
    ``quote(v, safe='')`` in exactly three ways, each fixable with a
    post-replace that cannot collide with encoder output:

    - space → ``+`` (we want ``%20``): any original ``+`` was encoded to
      ``%2B``, so surviving ``+`` is always a space;
    - ``*`` left bare (we want ``%2A``): no ``%XX`` sequence contains
      ``*``, so every surviving ``*`` is an original asterisk;
    - ``~`` → ``%7E`` (RFC-3986 unreserved, we keep it): a literal
      ``%7E`` in the input becomes ``%257E``, so ``%7E`` is unambiguous.

    Both encoders UTF-8-encode then emit uppercase hex, so the chain is
    byte-identical to the reference's falcon ``encode_value``
    (materializer.py:132).

    ``safe`` (reference safe_percent_encoding mode, config.py:228)
    post-decodes the user's extra safe characters. Non-ASCII ones are
    skipped: ``quote`` drops them from ``safe`` too
    (``quote_from_bytes`` encodes it with ``'ascii', 'ignore'``).
    """
    fixups = [("+", "%20"), ("*", "%2A"), ("%7E", "~")]
    for ch in dict.fromkeys(safe or ""):
        if ch.isascii() and ch not in _UNRESERVED:
            fixups.append(("%%%02X" % ord(ch), ch))
    return fixups


def percent_encode_col(col: Column, safe: str | None = None) -> Column:
    """Column form of ``sqlexpr.percent_encode_sql`` (same fixup table),
    for built-ins that percent-encode a function output."""
    if safe is None:
        safe = _SAFE_CHARS.get()
    out = F.url_encode(col)
    for search, repl in percent_encode_fixups(safe):
        out = F.replace(out, F.lit(search), F.lit(repl))
    return out


def remove_non_printable_py(value: str) -> str:
    """only_write_printable_characters filter (reference utils.py)."""
    return "".join(c for c in value if c.isprintable())


# python str.isprintable() is False for Unicode categories C* (control,
# format, surrogate, private, unassigned) and Z* (separators) except the
# ASCII space — expressed as one Java-regex character class so the filter
# stays in whole-stage codegen
_NON_PRINTABLE_RE = r"[[\p{C}\p{Z}]&&[^ ]]"


def remove_non_printable_col(col: Column) -> Column:
    """Column twin of ``remove_non_printable_py`` (reference
    only_write_printable_characters, utils.py) — pure JVM regex."""
    return F.regexp_replace(col, _NON_PRINTABLE_RE, "")

