"""SQL-expression strings for the term encodings: the only term renderer.

Why strings: every ``F.*`` / Column-method invocation is one py4j
round-trip (~0.2 ms); a term map compiles to dozens of them, and a
flagship mapping (12 rules) paid ~1.3 s of driver time just BUILDING
Column trees (round-4 cProfile; BENCH.md fixed-cost note). Rendering
each term as ONE SQL string and parsing it with a single ``F.expr``
collapses that to one round-trip per term. The strings render the
replacement tables of :mod:`morph_kgc_spark.functions.encoding`, and
``tests/test_sqlexpr_parity.py`` pins them against the pure-Python
references with Hypothesis over adversarial strings.
"""

from __future__ import annotations

from morph_kgc_spark.functions.encoding import (
    _NT_ESCAPES,
    percent_encode_fixups,
)


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier (XPath-ish names: ``.``, ``a/b``, ``@id``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """Spark SQL single-quoted string literal, escape-safe.

    Control characters go out as ``\\uXXXX``: Spark's unescapeSQLString
    drops the backslash of unrecognized escapes (``'\\f'`` → ``'f'``),
    so only the explicit unicode form round-trips every byte.
    """
    out = []
    for ch in value:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif o < 0x20 or o == 0x7F:
            out.append("\\u%04X" % o)
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def ntriples_escape_sql(expr: str) -> str:
    """N-Triples escaping as a replace chain (reference
    materializer.py:144 order; ``encoding.ntriples_escape_py``)."""
    for search, repl in _NT_ESCAPES:
        expr = f"replace({expr}, {sql_str(search)}, {sql_str(repl)})"
    return expr


def percent_encode_sql(expr: str, safe: str | None = None) -> str:
    """IRI percent-encoding as ``url_encode`` plus the fixup chain of
    ``encoding.percent_encode_fixups`` (= ``quote(v, safe=safe)``)."""
    out = f"url_encode({expr})"
    for search, repl in percent_encode_fixups(safe):
        out = f"replace({out}, {sql_str(search)}, {sql_str(repl)})"
    return out


def natural_mapping_sql(expr: str, datatype: str | None) -> str:
    """Natural Mapping of SQL values (R2RML §10.2; materializer.py:133-144).

    booleans lower-cased; xsd:dateTime ``' '``→``'T'``; xsd:integer
    truncated of any ``.0`` tail via double→long round-trip.
    """
    from morph_kgc_spark import model as M

    if datatype == M.XSD_BOOLEAN:
        return f"lower({expr})"
    if datatype == M.XSD_DATETIME:
        return f"replace({expr}, ' ', 'T')"
    if datatype == M.XSD_INTEGER:
        return f"CAST(CAST(CAST({expr} AS DOUBLE) AS BIGINT) AS STRING)"
    return expr


def natural_mapping_lossless(datatype: str | None, source_type) -> bool:
    """Whether :func:`natural_mapping_sql` is the identity on the string
    forms of a ``source_type`` column (its Spark type before the cast to
    string), so distinct values keep distinct lexical forms. The three
    rewriting mappings are lossless only on their own type: a string
    column may hold ``'1'`` and ``'1.0'``, or ``' '`` and ``'T'``
    spellings of one dateTime; a bigint beyond 2^53 rounds through the
    double."""
    from pyspark.sql import types as T

    from morph_kgc_spark import model as M

    own_types = {
        M.XSD_BOOLEAN: (T.BooleanType,),
        M.XSD_DATETIME: (T.TimestampType, T.TimestampNTZType, T.DateType),
        M.XSD_INTEGER: (T.ByteType, T.ShortType, T.IntegerType),
    }.get(datatype)
    return own_types is None or isinstance(source_type, own_types)
