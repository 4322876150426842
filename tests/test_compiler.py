"""Core term-materialization semantics, mirrored from the reference's
behavior (src/morph_kgc/materializer.py:106-163)."""

import pandas as pd
import pytest

from morph_kgc_spark import model as M
from morph_kgc_spark.engine import materialize
from morph_kgc_spark.functions.encoding import ntriples_escape_py, percent_encode_py
from morph_kgc_spark.plans.compiler import compile_rule
from morph_kgc_spark.sources.registry import default_registry

EX = "http://example.com/"


def _registry_with(spark, name, pdf):
    reg = default_registry()
    reg.register(name, spark.createDataFrame(pdf))
    return reg


def test_template_subject_reference_object(spark):
    pdf = pd.DataFrame({"ID": [10, 20], "Name": ["Venus", "Ana Laura"]})
    reg = _registry_with(spark, "student", pdf)
    rule = M.Rule(
        source=M.Source("df", "student"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}/{Name}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, "http://xmlns.com/foaf/0.1/name", M.IRI),
        object=M.TermMap(M.REFERENCE, "Name", M.LITERAL),
    )
    rows = {tuple(r) for r in compile_rule(spark, rule, reg).collect()}
    assert rows == {
        (f"<{EX}10/Venus>", "<http://xmlns.com/foaf/0.1/name>", '"Venus"'),
        (f"<{EX}20/Ana%20Laura>", "<http://xmlns.com/foaf/0.1/name>", '"Ana Laura"'),
    }


def test_percent_encoding_matches_reference_semantics():
    # falcon.uri.encode_value semantics: only unreserved survive
    assert percent_encode_py("a b/c?d#e") == "a%20b%2Fc%3Fd%23e"
    assert percent_encode_py("A9-._~") == "A9-._~"
    assert percent_encode_py("ü") == "%C3%BC"


@pytest.mark.skipif(
    not pytest.importorskip("importlib").util.find_spec("falcon"),
    reason="falcon not installed in sandbox",
)
def test_percent_encoding_byte_identical_to_falcon():
    from falcon.uri import encode_value

    for s in ["a b", "ü/ö?#[]@!$&'()*+,;=", "plain", "100%"]:
        assert percent_encode_py(s) == encode_value(s)


def test_ntriples_escape_order():
    # backslash first, then control chars, then quotes (materializer.py:144)
    assert ntriples_escape_py('a\\b\n"c\'') == 'a\\\\b\\n\\"c\\\''


def test_escaping_inside_literal(spark):
    pdf = pd.DataFrame({"v": ['say "hi"\tok\\']})
    reg = _registry_with(spark, "t", pdf)
    rule = M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.CONSTANT, EX + "s", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        object=M.TermMap(M.REFERENCE, "v", M.LITERAL),
    )
    [row] = compile_rule(spark, rule, reg).collect()
    assert row.object == '"say \\"hi\\"\\tok\\\\"'


def test_natural_mapping_integer_and_datetime(spark):
    pdf = pd.DataFrame({"i": ["20.0"], "dt": ["2024-01-02 03:04:05"], "b": ["True"]})
    reg = _registry_with(spark, "nat", pdf)

    def rule_for(col, dtype):
        return M.Rule(
            source=M.Source("df", "nat"),
            subject=M.TermMap(M.CONSTANT, EX + "s", M.IRI),
            predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
            object=M.TermMap(M.REFERENCE, col, M.LITERAL),
            datatype=M.TermMap(M.CONSTANT, dtype, M.IRI),
        )

    [r] = compile_rule(spark, rule_for("i", M.XSD_INTEGER), reg).collect()
    assert r.object == f'"20"^^<{M.XSD_INTEGER}>'
    [r] = compile_rule(spark, rule_for("dt", M.XSD_DATETIME), reg).collect()
    assert r.object == f'"2024-01-02T03:04:05"^^<{M.XSD_DATETIME}>'
    [r] = compile_rule(spark, rule_for("b", M.XSD_BOOLEAN), reg).collect()
    assert r.object == f'"true"^^<{M.XSD_BOOLEAN}>'


def test_language_map(spark):
    pdf = pd.DataFrame({"t": ["hola"], "lang": ["es"]})
    reg = _registry_with(spark, "l", pdf)
    rule = M.Rule(
        source=M.Source("df", "l"),
        subject=M.TermMap(M.CONSTANT, EX + "s", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        object=M.TermMap(M.REFERENCE, "t", M.LITERAL),
        language=M.TermMap(M.REFERENCE, "lang"),
    )
    [r] = compile_rule(spark, rule, reg).collect()
    assert r.object == '"hola"@es'


def test_null_rows_dropped(spark):
    pdf = pd.DataFrame({"ID": ["1", "2", None], "Sport": ["ski", None, "golf"]})
    reg = _registry_with(spark, "s", pdf)
    rule = M.Rule(
        source=M.Source("df", "s"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "plays", M.IRI),
        object=M.TermMap(M.REFERENCE, "Sport", M.LITERAL),
    )
    rows = compile_rule(spark, rule, reg).collect()
    assert len(rows) == 1 and rows[0].subject == f"<{EX}1>"


def test_join_condition(spark):
    student = pd.DataFrame(
        {"ID": ["10", "11", "12"], "Name": ["V", "F", "D"], "Sport": ["110", None, "111"]}
    )
    sport = pd.DataFrame({"ID": ["110", "111"], "Name": ["Tennis", "Ski"]})
    reg = default_registry()
    reg.register("student", spark.createDataFrame(student))
    reg.register("sport", spark.createDataFrame(sport))
    rule = M.Rule(
        source=M.Source("df", "student"),
        subject=M.TermMap(M.TEMPLATE, EX + "student/{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "plays", M.IRI),
        parent_source=M.Source("df", "sport"),
        parent_subject=M.TermMap(M.TEMPLATE, EX + "sport/{ID}", M.IRI),
        join_conditions=(M.JoinCondition(child="Sport", parent="ID"),),
    )
    rows = {tuple(r) for r in compile_rule(spark, rule, reg).collect()}
    assert rows == {
        (f"<{EX}student/10>", f"<{EX}plays>", f"<{EX}sport/110>"),
        (f"<{EX}student/12>", f"<{EX}plays>", f"<{EX}sport/111>"),
    }


def test_all_constant_rule(spark):
    rule = M.Rule(
        source=M.Source("df", "unused"),
        subject=M.TermMap(M.CONSTANT, EX + "s", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        object=M.TermMap(M.CONSTANT, "const", M.LITERAL),
    )
    rows = compile_rule(spark, rule, default_registry()).collect()
    assert [tuple(r) for r in rows] == [(f"<{EX}s>", f"<{EX}p>", '"const"')]


def test_set_semantics_union_distinct(spark):
    pdf = pd.DataFrame({"k": ["1", "1", "2"]})
    reg = _registry_with(spark, "u", pdf)
    mk = lambda: M.Rule(  # noqa: E731
        source=M.Source("df", "u"),
        subject=M.TermMap(M.TEMPLATE, EX + "{k}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, M.RDF_TYPE, M.IRI),
        object=M.TermMap(M.CONSTANT, EX + "Thing", M.IRI),
    )
    out = materialize(spark, [mk(), mk()], registry=reg)
    assert out.count() == 2  # 3 dup rows × 2 rules → 2 distinct triples


def test_quoted_triples_rml_star(spark):
    pdf = pd.DataFrame({"c1": ["a"], "c2": ["b"]})
    reg = _registry_with(spark, "q", pdf)
    inner = M.Rule(
        source=M.Source("df", "q"),
        subject=M.TermMap(M.TEMPLATE, EX + "{c1}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        object=M.TermMap(M.REFERENCE, "c2", M.LITERAL),
    )
    outer = M.Rule(
        source=M.Source("df", "q"),
        subject=M.TermMap(M.TEMPLATE, EX + "{c1}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "says", M.IRI),
        quoted_object=inner,
    )
    [r] = compile_rule(spark, outer, reg).collect()
    assert r.object == f'<< <{EX}a> <{EX}p> "b" >>'


def test_quoted_triples_with_join_condition(spark):
    """RML-star quoted map over a DIFFERENT source joined by condition
    (reference: materializer.py:925-962 recursive materialization)."""
    child = pd.DataFrame({"person": ["p1", "p2"], "cert": ["c1", "c9"]})
    certs = pd.DataFrame({"id": ["c1", "c2"], "score": ["95", "80"]})
    reg = default_registry()
    reg.register("child", spark.createDataFrame(child))
    reg.register("certs", spark.createDataFrame(certs))
    quoted = M.Rule(
        source=M.Source("df", "certs"),
        subject=M.TermMap(M.TEMPLATE, EX + "cert/{id}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "score", M.IRI),
        object=M.TermMap(M.REFERENCE, "score", M.LITERAL),
    )
    rule = M.Rule(
        source=M.Source("df", "child"),
        subject=M.TermMap(M.TEMPLATE, EX + "person/{person}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "claims", M.IRI),
        quoted_object=quoted,
        join_conditions=(M.JoinCondition(child="cert", parent="id"),),
    )
    rows = {tuple(r) for r in compile_rule(spark, rule, reg).collect()}
    # only p1 joins (c9 has no cert row); quoted terms come from certs
    assert rows == {(
        f"<{EX}person/p1>", f"<{EX}claims>",
        f'<< <{EX}cert/c1> <{EX}score> "95" >>',
    )}


def test_safe_percent_encoding_mode(spark):
    """safe_percent_encoding: user-supplied safe chars stay unescaped
    (reference materializer.py:128-130)."""
    from morph_kgc_spark.functions.encoding import percent_encode_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a/b c",)], ["v"])
    [r] = df.select(
        percent_encode_col(F.col("v")).alias("strict"),
        percent_encode_col(F.col("v"), safe="/").alias("safe_slash"),
    ).collect()
    assert r.strict == "a%2Fb%20c"
    assert r.safe_slash == "a/b%20c"


@pytest.mark.parametrize("subject, expected, row_level", [
    # the leading constant carries a scheme: every row is absolute
    (M.TermMap(M.TEMPLATE, EX + "{v}", M.IRI),
     {f"<{EX}a%20b>", f"<{EX}c%3A>"}, False),
    # a leading constant that no suffix can make a scheme: every row
    # is relative
    (M.TermMap(M.TEMPLATE, "item/{v}", M.IRI),
     {f"<{EX}base/item/a%20b>", f"<{EX}base/item/c%3A>"}, False),
    # all scheme characters, so the row value decides
    (M.TermMap(M.TEMPLATE, "urn{v}", M.IRI),
     {f"<{EX}base/urna%20b>", f"<{EX}base/urnc%3A>"}, True),
    # a reference-valued IRI (RMLTC0019a): absolute and relative rows
    (M.TermMap(M.REFERENCE, "r", M.IRI),
     {"<http://x.org/abs>", f"<{EX}base/rel>"}, True),
])
def test_base_iri_resolution_folds_at_compile_time(spark, subject, expected,
                                                   row_level):
    from morph_kgc_spark.plans.compiler import _term_sql

    reg = _registry_with(spark, "t", pd.DataFrame(
        {"v": ["a b", "c:"], "r": ["http://x.org/abs", "rel"]}))
    rule = M.Rule(source=M.Source("df", "t"), subject=subject,
                  predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
                  object=M.TermMap(M.CONSTANT, EX + "o", M.IRI),
                  base_iri=EX + "base/")
    assert {r.subject for r in compile_rule(spark, rule, reg).collect()} \
        == expected
    assert ("RLIKE" in _term_sql(subject, base_iri=rule.base_iri)) \
        == row_level
