"""The SQL-string term encodings (functions/sqlexpr.py) — the only term
renderer — must stay byte-equivalent to the pure-Python references
(``urllib.parse.quote`` as falcon's ``encode_value``, the reference's
N-Triples escape order, R2RML natural mapping) — pinned here with
Hypothesis over adversarial strings (quotes, backslashes, control
chars, unicode)."""

from __future__ import annotations

from urllib.parse import quote

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from morph_kgc_spark.functions.encoding import (
    ntriples_escape_py,
    percent_encode_py,
)
from morph_kgc_spark.functions.sqlexpr import (
    natural_mapping_sql,
    ntriples_escape_sql,
    percent_encode_sql,
    sql_ident,
    sql_str,
)

_texts = st.text(min_size=0, max_size=40)
_nasty = st.sampled_from([
    "", " ", "a b", 'q"uote', "back\\slash", "new\nline", "tab\there",
    "\b\f\r", "'apos'", "percent % and + plus", "tilde ~ star *",
    "%7E literal", "ünïcode ✓", "\x00\x01\x1f\x7f", "`tick`",
])


def _eval_exprs(spark, vals: list[str], make_exprs):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    cols = make_exprs()
    return df.select(*cols).collect()


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(_texts, _nasty), min_size=1, max_size=8))
def test_sql_str_literal_roundtrip(spark, vals):
    """sql_str(v) parsed by Spark SQL yields exactly v — every byte,
    including control chars (emitted as \\uXXXX because Spark drops the
    backslash of unrecognized escapes)."""
    row = spark.range(1).select(
        *[F.expr(sql_str(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).first()
    assert list(row) == vals


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(_texts, _nasty), min_size=1, max_size=8))
def test_percent_encode_sql_matches_python(spark, vals):
    rows = _eval_exprs(spark, vals, lambda: [
        F.col("s"),
        F.expr(percent_encode_sql("`s`")).alias("sql_form"),
        F.expr(percent_encode_sql("`s`", "/é:")).alias("safe_form"),
    ])
    for r in rows:
        assert r.sql_form == percent_encode_py(r.s)
        # quote() drops non-ASCII safe characters, so 'é' is encoded
        assert r.safe_form == quote(r.s, safe="/é:")


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(_texts, _nasty), min_size=1, max_size=8))
def test_ntriples_escape_sql_matches_python(spark, vals):
    rows = _eval_exprs(spark, vals, lambda: [
        F.col("s"),
        F.expr(ntriples_escape_sql("`s`")).alias("sql_form"),
    ])
    for r in rows:
        assert r.sql_form == ntriples_escape_py(r.s)


def test_natural_mapping_sql_expected_values(spark):
    from morph_kgc_spark import model as M

    cases = {
        M.XSD_BOOLEAN: {"TRUE": "true", "False": "false", "1": "1"},
        M.XSD_DATETIME: {"2024-01-01 10:20:30": "2024-01-01T10:20:30",
                         "x y z": "xTyTz"},
        M.XSD_INTEGER: {"30.0": "30", "7": "7", "-2.0": "-2"},
        None: {"anything 30.0": "anything 30.0"},
    }
    for dt, expected in cases.items():
        df = spark.createDataFrame([(v,) for v in expected], "s string")
        rows = df.select(
            "s", F.expr(natural_mapping_sql("`s`", dt)).alias("sql_form"),
        ).collect()
        assert {r.s: r.sql_form for r in rows} == expected, dt


def test_compiled_template_term_end_to_end(spark):
    """compile_term renders the same bytes the reference's
    falcon-encode + wrap produce (driver replica)."""
    from morph_kgc_spark import model as M
    from morph_kgc_spark.plans.compiler import compile_term

    vals = ['sp ace', 'q"uote', "per%cent", "ünïcode", "pl+us~t*r"]
    df = spark.createDataFrame([(v,) for v in vals], "ref string")
    tm = M.TermMap(M.TEMPLATE, "http://ex.org/{ref}", M.IRI)
    rows = df.select(F.col("ref"),
                     compile_term(tm).alias("term")).collect()
    for r in rows:
        assert r.term == f"<http://ex.org/{percent_encode_py(r.ref)}>"


def test_sql_ident_quoting(spark):
    df = spark.createDataFrame([(1,)], ["weird`name/with.dots@x"])
    got = df.select(F.expr(sql_ident("weird`name/with.dots@x"))).first()[0]
    assert got == 1
