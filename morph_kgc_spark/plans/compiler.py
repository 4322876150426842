"""Rule → DataFrame expression compiler.

Each :class:`morph_kgc_spark.model.Rule` compiles to a lazy DataFrame
pipeline::

    scan → select(refs).cast(string) → null-drop → dropDuplicates
         → [join parent]  → concat-tree term expansion → (s, p, o[, g])

mirroring the reference's per-rule pandas dataflow
(src/morph_kgc/materializer.py:910-1040) but expressed declaratively so
Catalyst gets column pruning, NOT-NULL pushdown, and join strategy for free.

Scale notes (100 TB target):
- every term renders as ONE Spark SQL string (``_term_sql``) parsed by a
  single ``F.expr``: templates become ``concat`` trees of native
  expressions (``url_encode`` + replace chains) → whole-stage codegen, no
  Python in the plan. FNML executions are projected into generated
  columns first (``_project_executions``) and rendered from there;
- referencing-object-map joins go through operators/joins.py which
  broadcasts small parents and can salt skewed keys;
- set semantics = one distinct per mapping-partition group (groups the
  partitioner proves disjoint need no global one, plans/partitioner.py).
  A group whose only rule renders injectively (``_renders_injectively``)
  skips its distinct over the rendered triples and dedups its narrow
  referenced columns at the scan instead (dropDuplicates is already a
  partial+final hash aggregate).
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from morph_kgc_spark import model as M
from morph_kgc_spark.functions.encoding import (
    _SAFE_CHARS,
    _UNRESERVED,
    ntriples_escape_py,
)
from morph_kgc_spark.functions.sqlexpr import (
    natural_mapping_lossless,
    natural_mapping_sql,
    ntriples_escape_sql,
    percent_encode_sql,
    sql_ident,
    sql_str,
)
from morph_kgc_spark.operators.joins import join_child_parent

SourceLoader = Callable[[SparkSession, M.Source], DataFrame]

TRIPLE_COLS = ("subject", "predicate", "object")
QUAD_COLS = ("subject", "predicate", "object", "graph")

# default NULL lexical forms dropped from every referenced column
# (reference: src/morph_kgc/config.py:81 — na_values ['', 'nan'])
DEFAULT_NA_VALUES = ("", "nan")


def _ref_col(name: str) -> Column:
    """Column by EXACT name: backtick-quoted so XPath-ish references
    (``.``, ``a/b``, ``@id``, JSON dotted paths) resolve as column names
    rather than nested-field paths."""
    return F.col("`" + name.replace("`", "``") + "`")


def prepare_source(df: DataFrame, references: Iterable[str],
                   na_values: Iterable[str] = DEFAULT_NA_VALUES,
                   dedup: bool = True,
                   drop_null_subset: Iterable[str] | None = None,
                   fill_missing: bool = False) -> DataFrame:
    """Project/prune + str-coerce + null-drop + dedup.

    Reference: materializer.py:37-55 (_preprocess_data): ``data.map(str)``,
    ``dropna(how='any', subset=refs)``, ``drop_duplicates()``.
    The string coercion matches pandas ``str()`` for int/double/timestamp
    because Spark's CAST(x AS STRING) uses the same lexical forms.

    ``fill_missing`` (hierarchical sources): references absent from the
    document become all-null columns — and are then dropped by the null
    filter, yielding an empty result instead of an analysis error
    (reference data_file.py:246-248; tabular sources keep erroring on
    unknown columns, matching RMLTC0002c's expected failure).
    """
    refs = list(references)
    if fill_missing:
        existing = set(df.columns)
        missing = [r for r in refs if r not in existing]
        if missing:
            # includes '.*'-wildcard references (country.*.label):
            # the reference's JSONPath extraction also yields nothing
            # for them (json/complex expects NO such triples), so
            # they become all-null and their rows drop
            df = df.select(
                "*", *[F.expr(f"CAST(NULL AS STRING) AS {sql_ident(r)}")
                       for r in missing])
    null_subset = list(drop_null_subset) if drop_null_subset is not None else refs

    def _not_null(frame, subset):
        # conjunction of plain IsNotNull: pushes down to the parquet
        # scan's PushedFilters (row-group/page skipping at 100 TB), and
        # unlike na.drop it accepts XPath-ish column names like '.';
        # ONE where(condition-string) — a single py4j round-trip
        if not subset:
            return frame
        return frame.where(" AND ".join(
            f"{sql_ident(r)} IS NOT NULL" for r in subset))

    out = _not_null(df, null_subset)
    # str-coerce + na_values as one selectExpr: nullif(c, na) is exactly
    # the when(c == na, NULL).otherwise(c) chain, parsed in one shot
    exprs = []
    for r in refs:
        e = f"CAST({sql_ident(r)} AS STRING)"
        for na in na_values:
            e = f"nullif({e}, {sql_str(na)})"
        exprs.append(f"{e} AS {sql_ident(r)}")
    out = out.selectExpr(*exprs)
    out = _not_null(out, null_subset)
    if dedup:
        out = out.dropDuplicates()
    return out


def _template_parts(template: str) -> tuple[list[str], list[str]]:
    """Split a template into literal parts and references.

    Returns (parts, refs) with len(parts) == len(refs) + 1. Escaped braces
    in literal parts are unescaped (materializer.py:116).
    """
    parts: list[str] = []
    refs: list[str] = []
    last = 0
    for m in M._TEMPLATE_REF_RE.finditer(template):
        parts.append(template[last:m.start()].replace("\\{", "{").replace("\\}", "}"))
        refs.append(m.group(1).replace("\\{", "{").replace("\\}", "}"))
        last = m.end()
    parts.append(template[last:].replace("\\{", "{").replace("\\}", "}"))
    return parts, refs


# RFC-3986 scheme: a term starting with one and a colon is an absolute
# IRI and is never resolved against the document base
_SCHEME_RE = "[A-Za-z][A-Za-z0-9+.-]*"
_ABSOLUTE_IRI_RE = f"^{_SCHEME_RE}:"
# characters that cannot appear in an IRI (space/controls and RFC-3987
# excluded delimiters) — rows producing such IRIs are data errors and are
# omitted per the R2RML term-generation rules (W3C test cases RMLTC0019b+)
_INVALID_IRI_CHARS_RE = '[\\x00-\\x20<>"{}|\\\\^`]'


def _base_fold(lead: str) -> Optional[bool]:
    """Whether every row of an IRI term led by the constant text
    ``lead`` is absolute (True) or relative (False), known at compile
    time; None when it is decided per row. A lead that already carries
    a scheme makes every row absolute; a non-empty lead that no suffix
    can turn into a scheme (it is not all scheme characters) makes every
    row relative."""
    if re.match(_ABSOLUTE_IRI_RE, lead):
        return True
    if lead and not re.fullmatch(_SCHEME_RE, lead):
        return False
    return None


def _resolve_base_sql(term: str, base_iri: str, lead: str) -> str:
    """Base-IRI resolution (R2RML: relative IRIs resolve against the
    base), folded at compile time from ``lead`` (:func:`_base_fold`).
    Any other term is decided per row — RMLTC0019a has absolute and
    relative values in one column."""
    absolute = _base_fold(lead)
    if absolute:
        return term
    if absolute is not None:
        return f"concat({sql_str(base_iri)}, {term})"
    return (f"(CASE WHEN {term} RLIKE {sql_str(_ABSOLUTE_IRI_RE)} "
            f"THEN {term} ELSE concat({sql_str(base_iri)}, {term}) END)")


def _wrap_sql(term: str, termtype: str) -> str:
    if termtype == M.IRI:
        return f"concat('<', {term}, '>')"
    if termtype == M.BLANK_NODE:
        return f"concat('_:', {term})"
    if termtype == M.LITERAL:
        return f"concat('\"', {term}, '\"')"
    return term


def _term_sql(tm: M.TermMap, *, datatype: Optional[str] = None,
              col_prefix: str = "", wrap: bool = True,
              base_iri: str = "") -> str:
    """Spark SQL expression producing the term's N-Triples lexical form.

    Reference: materializer.py:106-163 (_materialize_template) — constants
    and literal template parts are emitted verbatim; only *reference values*
    are percent-encoded (IRI position) or natural-mapped + escaped (literal
    position); then the whole term is termtype-wrapped. ``base_iri``
    (document-driven mappings only) resolves relative IRI results.

    An EXECUTION term must have been projected by
    :func:`_project_executions`: its ``value`` names the generated column
    holding the function output, which renders like a reference value
    except that IRIs are trimmed (reference materializer.py:165-197).
    """
    if tm.kind == M.CONSTANT:
        return sql_str(_wrap_py(tm.value, tm.termtype) if wrap else tm.value)

    if tm.kind == M.EXECUTION:
        # the generated column is a top-level column of the frame
        parts, refs, col_prefix = ["", ""], [tm.value], ""
    else:
        template = tm.value if tm.kind == M.TEMPLATE else "{" + tm.value + "}"
        parts, refs = _template_parts(template)
    pieces: list[str] = []
    for part, ref in zip(parts, refs):
        if part:
            pieces.append(sql_str(part))
        e = sql_ident(col_prefix + ref)
        if tm.termtype == M.IRI and tm.kind == M.TEMPLATE:
            e = percent_encode_sql(e, _SAFE_CHARS.get())
        elif tm.termtype == M.IRI and tm.kind == M.EXECUTION:
            # "IRI values are assumed correct and NOT percent encoded",
            # only trimmed (reference: materializer.py:183-186)
            e = f"trim({e})"
        # plain reference in IRI position: assumed a correct IRI, NOT
        # percent-encoded and NOT trimmed — the reference only strips
        # FNML execution outputs (materializer.py:186); plain reference
        # values are emitted verbatim, so whitespace-padded cells flow
        # to the invalid-IRI data-error filter instead of being silently
        # repaired (deliberate parity choice, round-4 advice)
        elif tm.termtype == M.LITERAL:
            e = ntriples_escape_sql(natural_mapping_sql(e, datatype))
        pieces.append(e)
    if parts[-1]:
        pieces.append(sql_str(parts[-1]))
    term = pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"
    if tm.termtype == M.IRI and base_iri:
        term = _resolve_base_sql(term, base_iri, parts[0])
    return _wrap_sql(term, tm.termtype) if wrap else term


def _term_injective(tm: Optional[M.TermMap], *, base_iri: str = "",
                    datatype: Optional[str] = None,
                    source_types: Optional[dict] = None) -> bool:
    """Whether :func:`_term_sql` maps distinct values of ``tm``'s
    references to distinct strings. False whenever in doubt.

    - IRI template: ``quote(v, safe)`` is injective on valid UTF-8 while
      ``%`` is not safe; two encoded values are told apart only by a
      literal part holding a character the encoder always escapes
      (``{a}{b}`` on ("1", "23") and ("12", "3") collide).
    - plain reference IRI: emitted verbatim;
    - base resolution must fold at compile time: the row-level CASE maps
      ``a`` and ``<base>a`` to one IRI;
    - blank node / literal: values are emitted raw (escaped), so one
      reference at most, and a literal's natural mapping must be the
      identity on its source column's type.
    """
    if tm is None or tm.kind == M.CONSTANT:
        return True
    if tm.kind == M.EXECUTION:
        return False
    template = tm.value if tm.kind == M.TEMPLATE else "{" + tm.value + "}"
    parts, refs = _template_parts(template)
    if tm.termtype == M.IRI:
        if base_iri and _base_fold(parts[0]) is None:
            return False
        if tm.kind != M.TEMPLATE:
            return True
        safe = _SAFE_CHARS.get() or ""
        if "%" in safe:
            return False
        # characters an encoded value can contain
        kept = set(_UNRESERVED) | set(safe) | {"%"}
        return all(set(part) - kept for part in parts[1:-1])
    if len(refs) > 1:
        return False
    if tm.termtype == M.BLANK_NODE:
        return True
    return tm.termtype == M.LITERAL and all(
        natural_mapping_lossless(datatype, (source_types or {}).get(r))
        for r in refs)


def _renders_injectively(rule: M.Rule, source_types: dict) -> bool:
    """Whether :func:`compile_rule` renders distinct rows of the rule's
    (deduped) referenced columns to distinct triples, so that
    ``render(dedup(refs)) == distinct(render(refs))`` and the rendered
    distinct can be skipped. ``source_types`` maps the child source's
    columns to their Spark types before ``prepare_source`` casts them.

    An inner join of two deduped inputs is a set of (child, parent)
    pairs, so a join rule qualifies when every child and parent
    reference is rendered by some term: a join key that reaches no term
    (``c_nationkey`` under a nation-name object) lets two keys render
    one triple. False whenever in doubt: gathers, quoted maps, subject
    joins, FNML executions and non-constant datatype maps."""
    if rule.gather is not None or rule.quoted_subject is not None \
            or rule.quoted_object is not None or rule.subject_join_conditions:
        return False
    if rule.datatype is not None and rule.datatype.kind != M.CONSTANT:
        return False
    joined = rule.parent_source is not None
    obj = rule.parent_subject if rule.parent_subject is not None else rule.object
    if obj is None or (joined and not rule.join_conditions):
        return False
    lang = rule.language
    # a language reference follows the literal's closing quote, the only
    # unescaped '"' of the rendered literal
    if lang is not None and lang.kind != M.CONSTANT and not (
            lang.kind == M.REFERENCE and obj.termtype == M.LITERAL):
        return False
    datatype = rule.datatype.value if rule.datatype is not None else None
    if not all(_term_injective(tm, base_iri=rule.base_iri)
               for tm in (rule.subject, rule.predicate, rule.graph)) \
            or not _term_injective(obj, base_iri=rule.base_iri,
                                   datatype=datatype,
                                   source_types=source_types):
        return False
    child_terms = [rule.subject, rule.predicate, rule.graph, lang]
    if not joined:
        child_terms.append(obj)
    read = {r for tm in child_terms if tm is not None for r in tm.references}
    return set(rule.references) <= read and (
        not joined or set(rule.parent_references) <= set(obj.references))


def compile_term(tm: M.TermMap, *, datatype: Optional[str] = None,
                 col_prefix: str = "", wrap: bool = True,
                 base_iri: str = "") -> Column:
    """Column form of :func:`_term_sql`: one ``F.expr`` (one py4j
    round-trip) per term; constants fold driver-side
    (materializer.py:919-923)."""
    if tm.kind == M.CONSTANT:
        return F.lit(_wrap_py(tm.value, tm.termtype) if wrap else tm.value)
    return F.expr(_term_sql(tm, datatype=datatype, col_prefix=col_prefix,
                            wrap=wrap, base_iri=base_iri))


def compile_execution(tm: M.TermMap, col_prefix: str = ""):
    """Compile an EXECUTION term map: resolve args, apply the built-in.

    Constants are passed as python strings (some builders need them
    driver-side, e.g. date formats); references/templates/nested
    executions become Columns. Returns (Column, explodes).
    """
    from morph_kgc_spark.functions.builtins import apply_function

    kwargs = {}
    for name, arg in tm.args:
        if arg.kind == M.CONSTANT:
            kwargs[name] = arg.value
        elif arg.kind == M.EXECUTION:
            col, explodes = compile_execution(arg, col_prefix)
            if explodes:
                raise ValueError("nested list-returning executions unsupported")
            kwargs[name] = col
        else:  # reference / template, raw value (no termtype wrapping)
            kwargs[name] = compile_term(arg.but(termtype=""), wrap=False,
                                        col_prefix=col_prefix)
    return apply_function(tm.value, **kwargs)


def _wrap_py(value: str, termtype: str) -> str:
    if termtype == M.IRI:
        return f"<{value}>"
    if termtype == M.BLANK_NODE:
        return f"_:{value}"
    if termtype == M.LITERAL:
        return f'"{ntriples_escape_py(value)}"'
    return value


def _object_sql(rule: M.Rule, col_prefix: str = "") -> str:
    """Object term + optional @lang / ^^<datatype> suffix.

    Reference: materializer.py:213-228.
    """
    datatype_iri = (rule.datatype.value
                    if rule.datatype is not None and rule.datatype.kind == M.CONSTANT
                    else None)
    obj = _term_sql(rule.object, datatype=datatype_iri,
                    col_prefix=col_prefix, base_iri=rule.base_iri)
    if rule.language is not None:
        return f"concat({obj}, '@', {_term_sql(rule.language, wrap=False)})"
    if rule.datatype is not None:
        dt = _term_sql(rule.datatype.but(termtype=M.IRI))
        return f"concat({obj}, '^^', {dt})"
    return obj


def _object_column(rule: M.Rule, col_prefix: str = "") -> Column:
    return F.expr(_object_sql(rule, col_prefix))


# the term-map slots of a rule; quoted_* hold whole sub-rules
_TERM_SLOTS = ("subject", "predicate", "object", "graph", "language",
               "datatype", "parent_subject", "quoted_subject",
               "quoted_object")


def _project_execution(base: DataFrame, tm: Optional[M.TermMap], name: str,
                       col_prefix: str = "", explode: bool = False
                       ) -> tuple[DataFrame, Optional[M.TermMap]]:
    """Project one FNML execution's output into the generated column
    ``name`` of ``base``; return the frame and the term rewritten to
    render that column (``value`` = ``name``, no args). Other terms pass
    through unchanged.

    ``explode``: a list-returning function becomes one row per element
    (reference: fnml_executer.py:120 ``data.explode(fnml_execution)``),
    rendered as a plain reference value; elsewhere it is an error.
    """
    if tm is None or tm.kind != M.EXECUTION:
        return base, tm
    col, explodes = compile_execution(tm, col_prefix=col_prefix)
    if not explodes:
        return base.withColumn(name, col), tm.but(value=name, args=())
    if not explode:
        raise ValueError(
            f"list-returning function {tm.value!r} must be exploded at the "
            "rule level (object position only)")
    base = base.withColumn(name, F.explode(col)).na.drop("any", subset=[name])
    return base, tm.but(kind=M.REFERENCE, value=name, args=())


def _project_executions(base: DataFrame, rule: M.Rule,
                        prefixes: dict[str, str],
                        tag: str = "__fn_") -> tuple[DataFrame, M.Rule]:
    """:func:`_project_execution` over every term-map slot of ``rule``,
    quoted sub-rules included. ``prefixes`` maps a slot to the column
    prefix its function arguments resolve over (a quoted sub-rule: all of
    its terms); absent slots use ``""``. Only the top-level object may
    explode."""
    changes = {}
    for slot in _TERM_SLOTS:
        tm = getattr(rule, slot)
        prefix = prefixes.get(slot, "")
        if isinstance(tm, M.Rule):
            base, changes[slot] = _project_executions(
                base, tm, dict.fromkeys(_TERM_SLOTS, prefix),
                f"{tag}{slot}_")
        else:
            base, changes[slot] = _project_execution(
                base, tm, tag + slot, prefix,
                explode=slot == "object" and tag == "__fn_")
    return base, rule.but(**changes)


def compile_rule(spark: SparkSession, rule: M.Rule,
                 load_source: SourceLoader,
                 na_values: Iterable[str] = DEFAULT_NA_VALUES,
                 dedup_source: bool = True) -> DataFrame:
    """Compile one rule into a DataFrame(subject, predicate, object[, graph]).

    The scan-level dropDuplicates runs over the referenced columns, which
    are far narrower than the rendered triple. When the rule renders
    injectively (:func:`_renders_injectively`) the result is then
    already a set, and materialize_rules skips the group's rendered
    distinct.

    ``dedup_source=False`` skips that dropDuplicates: when a
    set-semantics distinct runs downstream anyway, dedup(refs) → render →
    distinct and render → distinct produce the same set, and the early
    dedup is a pure extra shuffle (rendered terms are functions of the
    refs). materialize_rules passes False for projection rules in groups
    that keep their rendered distinct; JOIN rules keep the pre-join
    dedup — duplicate keys would multiply join output before the
    distinct could collapse it (the reference preprocess dedups for the
    same reason, materializer.py:37-55).
    """
    if rule.gather is not None:
        return _compile_gather_rule(spark, rule, load_source, na_values)
    if rule.parent_source is not None or rule.join_conditions \
            or rule.subject_join_conditions:
        dedup_source = True

    # quoted map with join condition: the quoted rule's own source is
    # the join parent unless the caller set one explicitly (must happen
    # before computing references — quoted refs move to the parent side)
    if rule.quoted_object is not None and rule.join_conditions \
            and rule.parent_source is None:
        rule = rule.but(parent_source=rule.quoted_object.source)

    refs = rule.references

    if not refs and rule.parent_source is None and rule.quoted_object is None \
            and rule.quoted_subject is None:
        # all-constant rule → 1-row placeholder (materializer.py:919-923)
        base = spark.range(1)
    else:
        base = prepare_source(load_source(spark, rule.source), refs,
                              na_values=na_values, dedup=dedup_source,
                              fill_missing=rule.source.kind in ("json", "xml"))

    col_prefix = ""
    if rule.parent_source is not None and rule.join_conditions:
        parent = prepare_source(
            load_source(spark, rule.parent_source),
            rule.parent_references, na_values=na_values,
            fill_missing=rule.parent_source.kind in ("json", "xml"))
        base = join_child_parent(base, parent, rule.join_conditions)
        col_prefix = "parent_"

    # quoted SUBJECT map with its own join condition: the quoted rule
    # materializes over ITS OWN source, joined in on the subject join
    # (reference materializer.py:929-944)
    subj_prefix = ""
    if rule.quoted_subject is not None and rule.subject_join_conditions:
        if col_prefix:
            raise NotImplementedError(
                "a rule with BOTH a quoted-subject join and an object-side "
                "join is not supported yet")
        s_parent = prepare_source(
            load_source(spark, rule.quoted_subject.source),
            rule.subject_parent_references, na_values=na_values)
        base = join_child_parent(base, s_parent,
                                 rule.subject_join_conditions)
        subj_prefix = "parent_"

    # FNML executions → generated columns the renderers read
    base, rule = _project_executions(base, rule, {
        "parent_subject": col_prefix, "quoted_object": col_prefix,
        "quoted_subject": subj_prefix})

    # data-error filtering (document-driven rules only): IRI terms built
    # from raw reference/function values may contain characters illegal in
    # IRIs — those rows are omitted, not emitted (R2RML term-generation
    # rules; W3C RMLTC0019b). Template refs are percent-encoded so they
    # cannot produce invalid characters. The raw value is the unwrapped,
    # unresolved term: verbatim for references, trimmed for executions
    # (materializer.py:186), so a whitespace-padded but otherwise valid
    # function output survives while a padded reference cell does not.
    if rule.base_iri:
        for tm, prefix in ((rule.subject, subj_prefix),
                           (rule.predicate, ""),
                           (rule.object, col_prefix),
                           (rule.graph, ""),
                           (rule.parent_subject,
                            "parent_" if rule.parent_source is not None else "")):
            if tm is not None and tm.termtype == M.IRI \
                    and tm.kind in (M.REFERENCE, M.EXECUTION):
                raw_sql = _term_sql(tm, wrap=False, col_prefix=prefix)
                base = base.where(
                    f"NOT ({raw_sql} RLIKE {sql_str(_INVALID_IRI_CHARS_RE)})")

    # --- term columns ------------------------------------------------------
    if rule.quoted_subject is not None:
        subj = _quoted_triple_col(rule.quoted_subject, col_prefix=subj_prefix)
    else:
        subj = compile_term(rule.subject, base_iri=rule.base_iri)

    pred = compile_term(rule.predicate, base_iri=rule.base_iri)

    if rule.quoted_object is not None:
        # with a join condition the quoted rule materializes over ITS OWN
        # source (joined in as parent_); without one it shares the
        # child's rows (reference: materializer.py:925-962)
        obj = _quoted_triple_col(rule.quoted_object, col_prefix=col_prefix)
    elif rule.parent_subject is not None:
        # referencing object map: object = parent subject, over parent_
        # cols after a join, else (self-join eliminated) over the child's
        # own rows
        obj = compile_term(rule.parent_subject, col_prefix=col_prefix,
                           base_iri=rule.base_iri)
    else:
        obj = _object_column(rule, col_prefix="")

    out_cols = [subj.alias("subject"), pred.alias("predicate"), obj.alias("object")]
    if rule.graph is not None:
        out_cols.append(compile_term(rule.graph,
                                     base_iri=rule.base_iri).alias("graph"))
    out = base.select(*out_cols)
    # function executions may yield null (e.g. controls_if with no
    # value_false) — such triples are filtered, not emitted (reference:
    # built_in_functions.py:194 'this will be filtered when removing
    # nulls'). Only EXECUTION-built positions get the filter so plain
    # rules keep their exact plans.
    for tm, pos in ((rule.subject, "subject"), (rule.predicate, "predicate"),
                    (rule.object, "object"), (rule.graph, "graph")):
        if tm is not None and tm.kind == M.EXECUTION:
            out = out.where(F.col(pos).isNotNull())
    return out


def _compile_gather_rule(spark: SparkSession, rule: M.Rule,
                         load_source: SourceLoader,
                         na_values: Iterable[str]) -> DataFrame:
    """RML-CC gather rule → collection/container triples.

    Hierarchical (JSON) sources load with arrays PRESERVED
    (flatten="structs"): the gather operator then runs per-row array
    lambdas — the only exchange is the source dedup, and rdf:List order
    = document order (reference materializer.py:237-892 iterates the
    exploded frame in document order; an explode→groupBy plan adds a
    second corpus-sized shuffle and loses the order). Scalar gather
    refs (tabular sources) keep the grouped cross-row path, value-sorted.

    Null handling differs from plain rules: rows with null/empty *gather*
    values stay (they determine empty collections when
    allowEmptyListAndContainer), only null subject/head refs drop.
    """
    from pyspark.sql.types import ArrayType

    from morph_kgc_spark.operators.gather import (
        gather_triples,
        gather_triples_per_row,
    )

    g = rule.gather
    subject_position = g.position == "subject"
    head_refs = g.head.references if g.head is not None else []
    if subject_position:
        scalar_refs = list(head_refs)
        for pom in rule.gather_poms:
            for tm in pom:
                if tm is not None:
                    scalar_refs.extend(tm.references)
        required = head_refs
    else:
        scalar_refs = rule.subject.references + list(head_refs)
        required = scalar_refs
        if rule.predicate.kind != M.CONSTANT:
            raise ValueError("gather rules need a constant predicate map")
    scalar_refs = list(dict.fromkeys(scalar_refs))

    src = rule.source
    if src.kind in ("json", "python"):
        src = M.Source(src.kind, src.value,
                       {**src.options, "flatten": "structs"})
    df = load_source(spark, src)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if src is not rule.source:
        # the array-preserving load keeps gather refs as arrays, but a
        # SCALAR ref nested under an array (e.g. "items.name") only
        # materializes under the full cartesian flatten — fall back to
        # it when that resolves refs the structs mode cannot (then every
        # ref is scalar and the grouped cross-row path below applies)
        needed = set(scalar_refs) | set(g.references)
        if not needed.issubset(dtypes):
            full = load_source(spark, rule.source)
            full_types = {f.name: f.dataType for f in full.schema.fields}
            if len(needed & set(full_types)) > len(needed & set(dtypes)):
                df, dtypes = full, full_types

    any_array = any(isinstance(dtypes.get(r), ArrayType)
                    for r in g.references)
    if not any_array and not subject_position:
        # tabular source: cross-row grouped gather (legacy reference
        # behavior for scalar refs — consecutive rows share a collection)
        all_refs = list(dict.fromkeys(scalar_refs + list(g.references)))
        base = prepare_source(df, all_refs, na_values=na_values, dedup=True,
                              drop_null_subset=scalar_refs)
        base, subject = _project_execution(base, rule.subject, "__fn_subject")
        base, head = _project_execution(base, g.head, "__fn_head")
        return gather_triples(
            base,
            subject_col=compile_term(subject),
            predicate_iri=rule.predicate.value,
            gather_refs=list(g.references),
            gather_as=g.gather_as,
            value_termtype=g.value_termtype,
            value_datatype=g.value_datatype,
            head_col=compile_term(head) if head is not None else None,
            allow_empty=g.allow_empty,
        )

    def _na(c: Column) -> Column:
        c = c.cast("string")
        for na in na_values:
            c = F.when(c == F.lit(na), F.lit(None)).otherwise(c)
        return c

    sel = [_na(_ref_col(r) if r in dtypes else F.lit(None)).alias(r)
           for r in scalar_refs]
    gv_cols = []
    for i, ref in enumerate(g.references):
        t = dtypes.get(ref)
        col = _ref_col(ref) if ref in dtypes else F.lit(None).cast("string")
        arr = (F.transform(col, _na) if isinstance(t, ArrayType)
               else F.array(_na(col)))
        name = f"__gv{i}"
        gv_cols.append(name)
        sel.append(F.coalesce(
            F.filter(arr, lambda v: v.isNotNull()),
            F.array().cast("array<string>")).alias(name))
    base = df.select(*sel)
    for r in required:
        base = base.where(_ref_col(r).isNotNull())
    base = base.dropDuplicates()

    if len(gv_cols) > 1:
        # multi-reference melt semantics: union of values, dedup,
        # value-sorted (reference materializer.py:243-255)
        vals = F.array_sort(F.array_distinct(
            F.concat(*[F.col(c) for c in gv_cols])))
    else:
        # single reference: document order, duplicate values collapse
        # (the reference's preprocess drop_duplicates on (key, value))
        vals = F.array_distinct(F.col(gv_cols[0]))

    base, head = _project_execution(base, g.head, "__fn_head")
    head_col = compile_term(head) if head is not None else None
    if subject_position:
        poms = []
        for i, pom in enumerate(rule.gather_poms):
            terms = []
            for j, tm in enumerate(pom):
                base, tm = _project_execution(base, tm, f"__fn_pom{i}_{j}")
                terms.append(tm)
            p, o, dt, lang = terms
            poms.append((compile_term(p, base_iri=rule.base_iri),
                         _object_column(rule.but(object=o, datatype=dt,
                                                 language=lang))))
        return gather_triples_per_row(
            base, vals, g.gather_as, head_col=head_col, poms=tuple(poms),
            value_termtype=g.value_termtype, value_datatype=g.value_datatype,
            allow_empty=g.allow_empty)
    base, subject = _project_execution(base, rule.subject, "__fn_subject")
    return gather_triples_per_row(
        base, vals, g.gather_as, head_col=head_col,
        subject_col=compile_term(subject, base_iri=rule.base_iri),
        predicate_iri=rule.predicate.value,
        value_termtype=g.value_termtype, value_datatype=g.value_datatype,
        allow_empty=g.allow_empty)


def _quoted_triple_sql(sub_rule: M.Rule, col_prefix: str = "") -> str:
    """RML-star quoted triple ``<< s p o >>``, recursively nested.

    Reference: materializer.py:925-962 — with no join condition the
    quoted rule is evaluated over the child's rows (col_prefix "");
    with one, over the joined-in parent columns (col_prefix "parent_").
    Nested quoting (a quoted rule whose own subject/object is quoted,
    RMLSTARTC004a shape) recurses over the same rows.
    """
    if sub_rule.quoted_subject is not None:
        s = _quoted_triple_sql(sub_rule.quoted_subject, col_prefix=col_prefix)
    else:
        s = _term_sql(sub_rule.subject, col_prefix=col_prefix,
                      base_iri=sub_rule.base_iri)
    p = _term_sql(sub_rule.predicate, col_prefix=col_prefix,
                  base_iri=sub_rule.base_iri)
    if sub_rule.quoted_object is not None:
        if sub_rule.join_conditions:
            raise NotImplementedError(
                "join condition inside a *nested* quoted map is unsupported")
        o = _quoted_triple_sql(sub_rule.quoted_object, col_prefix=col_prefix)
    else:
        o = _object_sql(sub_rule, col_prefix=col_prefix)
    return f"concat('<< ', {s}, ' ', {p}, ' ', {o}, ' >>')"


def _quoted_triple_col(sub_rule: M.Rule, col_prefix: str = "") -> Column:
    return F.expr(_quoted_triple_sql(sub_rule, col_prefix))


def _source_types(spark: SparkSession, rule: M.Rule,
                  load_source: SourceLoader) -> dict:
    """Spark types of the rule's source columns, before ``prepare_source``
    casts them to string. Empty for rules that read no source columns
    (compiled over a one-row placeholder) and gathers (loaded with their
    own options), so their sources are not loaded here."""
    if not rule.references or rule.gather is not None:
        return {}
    schema = load_source(spark, rule.source).schema
    return {f.name: f.dataType for f in schema.fields}


def materialize_rules(spark: SparkSession, rules: list[M.Rule],
                      load_source: SourceLoader,
                      distinct: bool = True,
                      na_values: Iterable[str] = DEFAULT_NA_VALUES) -> DataFrame:
    """Union all rules' triples with set semantics.

    Rules that share a ``mapping_partition`` label are distinct-ed together;
    groups proven disjoint by the partitioner are unioned WITHOUT a second
    global distinct — the reference's signature optimization
    (mapping_partitioner.py:159-358) re-expressed as shuffle pruning.

    A labelled group whose only rule renders injectively
    (:func:`_renders_injectively`) runs no distinct over its rendered
    triples: it dedups its referenced columns instead, and
    ``render(dedup(refs))`` is already the set ``distinct(render(refs))``
    — the reference's own order (preprocess ``drop_duplicates``,
    materializer.py:37-55), with the shuffle carrying the narrow
    columns rather than the N-Triples strings.
    """
    if not rules:
        raise ValueError("no rules to materialize")

    n_graph = any(r.graph is not None for r in rules)
    group_sizes = Counter(r.mapping_partition for r in rules)
    frames: dict[str, DataFrame] = {}
    narrow: set[str] = set()
    for i, rule in enumerate(rules):
        key = rule.mapping_partition or f"__rule_{i}"
        if distinct and rule.mapping_partition and group_sizes[key] == 1 \
                and _renders_injectively(
                    rule, _source_types(spark, rule, load_source)):
            narrow.add(key)
        # every other branch ends in a distinct (per-group or global)
        # whenever set semantics are on — the scan-level dedup is then a
        # redundant extra exchange for projection-only rules
        df = compile_rule(spark, rule, load_source, na_values=na_values,
                          dedup_source=not distinct or key in narrow)
        if n_graph and "graph" not in df.columns:
            df = df.withColumn("graph", F.lit(None).cast("string"))
        frames[key] = frames[key].unionAll(df) if key in frames else df

    parts = [p if not distinct or k in narrow else p.distinct()
             for k, p in frames.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # cross-group distinct only needed when partition labels were absent
    if distinct and len(frames) > 1 and any(k.startswith("__rule_") for k in frames):
        out = out.distinct()
    return out
