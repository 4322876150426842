"""FNML function executions: built-ins, composition, explode semantics.

Mirrors the reference's rml-fnml suite shapes (test/rml-fnml/RMLFNOTC*)
via the programmatic rule API.
"""

import pandas as pd

from morph_kgc_spark import model as M
from morph_kgc_spark.functions.builtins import GREL, bif_dict, udf
from morph_kgc_spark.plans.compiler import compile_rule
from morph_kgc_spark.sources.registry import default_registry

EX = "http://example.com/"


def _reg(spark, pdf):
    reg = default_registry()
    reg.register("t", spark.createDataFrame(pdf))
    return reg


def _rule(obj: M.TermMap, **kw) -> M.Rule:
    return M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        object=obj, **kw,
    )


def test_function_in_object_position(spark):
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "Name": ["venus WILLIAMS"]}))
    obj = M.TermMap(M.EXECUTION, GREL + "toUpperCase", M.LITERAL,
                    args=(("string", M.TermMap(M.REFERENCE, "Name")),))
    [r] = compile_rule(spark, _rule(obj), reg).collect()
    assert r.object == '"VENUS WILLIAMS"'


def test_function_composition(spark):
    reg = _reg(spark, pdf := pd.DataFrame({"ID": ["1"], "Name": [" Ana "]}))
    inner = M.TermMap(M.EXECUTION, GREL + "string_trim",
                      args=(("string", M.TermMap(M.REFERENCE, "Name")),))
    obj = M.TermMap(M.EXECUTION, GREL + "toLowerCase", M.LITERAL,
                    args=(("string", inner),))
    [r] = compile_rule(spark, _rule(obj), reg).collect()
    assert r.object == '"ana"'


def test_function_in_predicate_position(spark):
    # RMLFNOTC0004: function builds the predicate IRI
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "p": ["KNOWS"]}))
    pred = M.TermMap(M.EXECUTION, GREL + "toLowerCase", M.IRI,
                     args=(("string", M.TermMap(M.TEMPLATE, EX + "{p}")),))
    rule = M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=pred,
        object=M.TermMap(M.CONSTANT, "x", M.LITERAL),
    )
    [r] = compile_rule(spark, rule, reg).collect()
    assert r.predicate == "<http://example.com/knows>"


def test_split_explode(spark):
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "langs": ["en,es,de"]}))
    obj = M.TermMap(M.EXECUTION, GREL + "string_split_explode", M.LITERAL,
                    args=(("string", M.TermMap(M.REFERENCE, "langs")),
                          ("separator", M.TermMap(M.CONSTANT, ","))))
    rows = compile_rule(spark, _rule(obj), reg).collect()
    assert sorted(r.object for r in rows) == ['"de"', '"en"', '"es"']


def test_string_split_stringified_quirk(spark):
    # quirk parity: string_split returns the str() of a python list
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "v": ["a,b"]}))
    obj = M.TermMap(M.EXECUTION, GREL + "string_split", M.LITERAL,
                    args=(("string", M.TermMap(M.REFERENCE, "v")),
                          ("separator", M.TermMap(M.CONSTANT, ","))))
    [r] = compile_rule(spark, _rule(obj), reg).collect()
    # literal path N-Triples-escapes the quotes, like the reference
    from morph_kgc_spark.functions.encoding import ntriples_escape_py

    assert r.object == '"' + ntriples_escape_py("['a', 'b']") + '"'


def test_controls_if_and_round(spark):
    reg = _reg(spark, pd.DataFrame(
        {"ID": ["1", "2"], "flag": ["true", "false"], "n": ["3,6", "2.4"]}))
    obj = M.TermMap(M.EXECUTION, GREL + "controls_if", M.LITERAL,
                    args=(("bool_expression", M.TermMap(M.REFERENCE, "flag")),
                          ("value_true", M.TermMap(M.CONSTANT, "yes")),
                          ("value_false", M.TermMap(M.CONSTANT, "no"))))
    rows = {r.subject: r.object for r in compile_rule(spark, _rule(obj), reg).collect()}
    assert rows == {f"<{EX}1>": '"yes"', f"<{EX}2>": '"no"'}

    obj2 = M.TermMap(M.EXECUTION, GREL + "math_round", M.LITERAL,
                     args=(("number", M.TermMap(M.REFERENCE, "n")),))
    rows2 = {r.subject: r.object for r in compile_rule(spark, _rule(obj2), reg).collect()}
    assert rows2 == {f"<{EX}1>": '"4"', f"<{EX}2>": '"2"'}


def test_user_plugin_udf(spark):
    @udf(EX + "fn/shout")
    def shout(string):
        from pyspark.sql import functions as F

        return F.concat(F.upper(string), F.lit("!"))

    assert EX + "fn/shout" in bif_dict
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "v": ["hey"]}))
    obj = M.TermMap(M.EXECUTION, EX + "fn/shout", M.LITERAL,
                    args=(("string", M.TermMap(M.REFERENCE, "v")),))
    [r] = compile_rule(spark, _rule(obj), reg).collect()
    assert r.object == '"HEY!"'


def test_controls_if_evaluates_expressions(spark):
    """The reference EVALS the condition cell (built_in_functions.py:
    159-168): '1 > 2' is False, '2 > 1' is True — not lexical truthiness."""
    reg = _reg(spark, pd.DataFrame({
        "ID": ["1", "2", "3", "4", "5"],
        "cond": ["1 > 2", "2 > 1", "(3 * 3) == 9", "'a' in 'cab'", "1 - 1"],
    }))
    obj = M.TermMap(M.EXECUTION, GREL + "controls_if", M.LITERAL,
                    args=(("bool_expression", M.TermMap(M.REFERENCE, "cond")),
                          ("value_true", M.TermMap(M.CONSTANT, "yes")),
                          ("value_false", M.TermMap(M.CONSTANT, "no"))))
    rows = {r.subject: r.object for r in compile_rule(spark, _rule(obj), reg).collect()}
    assert rows == {
        f"<{EX}1>": '"no"',   # 1 > 2 → False
        f"<{EX}2>": '"yes"',  # 2 > 1 → True
        f"<{EX}3>": '"yes"',  # arithmetic comparison
        f"<{EX}4>": '"yes"',  # membership
        f"<{EX}5>": '"no"',   # 1 - 1 == 0 → falsy
    }


def test_concat_function_in_predicate_position(spark):
    """Executions compile in predicate position too (IRI termtype)."""
    from morph_kgc_spark.functions.builtins import IDLAB

    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "kind": ["knows"]}))
    pred = M.TermMap(M.EXECUTION, IDLAB + "concat", M.IRI, args=(
        ("str1", M.TermMap(M.CONSTANT, EX)),
        ("str2", M.TermMap(M.REFERENCE, "kind"))))
    rule = M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=pred,
        object=M.TermMap(M.CONSTANT, EX + "o", M.IRI))
    [r] = compile_rule(spark, rule, reg).collect()
    assert r.predicate == f"<{EX}knows>"


def test_execution_iri_trimmed_resolved_and_filtered(spark):
    """An IRI-valued execution output is trimmed, never percent-encoded,
    and resolved against the document base when relative; the invalid-IRI
    filter sees the trimmed value, so padding survives and an internal
    space is a data error (reference materializer.py:183-186)."""
    reg = _reg(spark, pd.DataFrame({
        "ID": ["1", "2", "3"], "v": [" Rel/A ", "HTTP://X.ORG/ABS", "BAD V"]}))
    obj = M.TermMap(M.EXECUTION, GREL + "toLowerCase", M.IRI,
                    args=(("string", M.TermMap(M.REFERENCE, "v")),))
    rows = compile_rule(spark, _rule(obj, base_iri=EX + "base/"),
                        reg).collect()
    assert sorted(r.object for r in rows) == [
        f"<{EX}base/rel/a>", "<http://x.org/abs>"]


def test_execution_inside_quoted_map(spark):
    """RML-star: an execution in a quoted triples map renders over the
    rows the quoted map shares with its parent rule."""
    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "Name": ["ana"]}))
    quoted = _rule(M.TermMap(M.EXECUTION, GREL + "toUpperCase", M.LITERAL,
                             args=(("string", M.TermMap(M.REFERENCE,
                                                        "Name")),)))
    rule = M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "claims", M.IRI),
        quoted_object=quoted)
    [r] = compile_rule(spark, rule, reg).collect()
    assert r.object == f'<< <{EX}1> <{EX}p> "ANA" >>'


def test_load_udfs_from_file(spark, tmp_path):
    """Reference-style user UDF file: @udf functions become Arrow-batched
    builders; params accept kwarg/local/alias spellings."""
    from morph_kgc_spark.functions.builtins import bif_dict, load_udfs

    udf_file = tmp_path / "udf.py"
    udf_file.write_text(
        "@udf(fun_id='http://ex/rev3',\n"
        "     text='http://users.ugent.be/~bjdmeest/function/grel.ttl#valueParam')\n"
        "def rev3(text):\n"
        "    return text[::-1][:3]\n")
    ids = load_udfs(str(udf_file))
    assert ids == ["http://ex/rev3"]
    assert "http://ex/rev3" in bif_dict

    reg = _reg(spark, pd.DataFrame({"ID": ["1"], "Name": ["Venus"]}))
    obj = M.TermMap(M.EXECUTION, "http://ex/rev3", M.LITERAL,
                    args=(("string", M.TermMap(M.REFERENCE, "Name")),))
    [r] = compile_rule(spark, _rule(obj), reg).collect()
    assert r.object == '"sun"'
