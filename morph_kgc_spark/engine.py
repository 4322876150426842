"""Top-level API: materialize an RML mapping (or rule list) to triples.

The Spark analogue of ``morph_kgc.materialize`` (reference:
src/morph_kgc/__init__.py:38-83): parse + normalize the mapping document on
the driver, compile to the flat rule table, partition the rules, then build
ONE lazy DataFrame for the whole knowledge graph. Instead of the
reference's process pool (one OS process per mapping group,
__init__.py:45-53), every rule contributes a branch to a single Spark job
DAG — executors are the parallel unit and the scheduler sees the whole
plan.
"""

from __future__ import annotations

from typing import Iterable, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from morph_kgc_spark import model as M
from morph_kgc_spark.functions.encoding import safe_encoding_context
from morph_kgc_spark.operators.cache import own
from morph_kgc_spark.plans.compiler import DEFAULT_NA_VALUES, materialize_rules
from morph_kgc_spark.plans.partitioner import assign_mapping_partitions
from morph_kgc_spark.sources.registry import SourceRegistry, default_registry


def materialize(spark: SparkSession,
                mapping: Union[str, Iterable[M.Rule]],
                registry: Optional[SourceRegistry] = None,
                distinct: bool = True,
                partition_rules: bool = True,
                na_values: Iterable[str] = DEFAULT_NA_VALUES,
                safe_percent_encoding: Optional[str] = None) -> DataFrame:
    """Materialize a knowledge graph.

    ``mapping`` is either RML Turtle text / a path to a ``.ttl`` file, or an
    already-compiled iterable of Rules. Returns a DataFrame(subject,
    predicate, object[, graph]) of N-Triples lexical terms with set
    semantics.

    ``na_values`` are the lexical forms treated as NULL in referenced
    columns (reference config.py:81, default ['', 'nan']);
    ``safe_percent_encoding`` lists characters exempted from IRI
    percent-encoding (reference config.py:228).

    With a ``persist_sources`` registry the returned frame owns the
    persisted sources its rules read: ``operators.cache.release`` on it
    frees them.
    """
    registry = registry or default_registry()

    if isinstance(mapping, str):
        from morph_kgc_spark.mapping import parse_any_mapping
        rules = parse_any_mapping(mapping)
    else:
        rules = list(mapping)

    if partition_rules:
        rules = assign_mapping_partitions(rules)

    read: list[DataFrame] = []

    def load(session: SparkSession, source: M.Source) -> DataFrame:
        read.append(registry(session, source))
        return read[-1]

    # plan construction is driver-side eager, so the contextvar scope
    # covers every IRI template reference the compiler renders
    with safe_encoding_context(safe_percent_encoding):
        out = materialize_rules(spark, rules, load, distinct=distinct,
                                na_values=tuple(na_values))
    return own(out, read) if registry.persist_sources else out
