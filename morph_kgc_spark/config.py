"""INI config front-end — the reference's user-facing entry shape.

morph-kgc is driven by an INI document (reference:
src/morph_kgc/args_parser.py:75-89, config.py:147-195): a
``[CONFIGURATION]`` section plus one section per data source whose
``mappings`` key lists RML documents. A reference user can point this
engine at the same config:

    import morph_kgc_spark
    df = morph_kgc_spark.materialize_from_config(spark, "config.ini")

Supported keys (superset ignored gracefully): per-source ``mappings``
(comma-separated paths), ``file_path`` (override the rml:source of that
section's rules), [CONFIGURATION] ``na_values`` (comma-separated null
lexical forms, default ['', 'nan'] like config.py:81), ``output_file`` /
``output_dir`` (targets for write_ntriples).
"""

from __future__ import annotations

import configparser
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

CONFIGURATION = "CONFIGURATION"


@dataclass
class EngineConfig:
    # section name → list of mapping paths (order preserved)
    section_mappings: dict[str, list[str]] = field(default_factory=dict)
    file_path_overrides: dict[str, str] = field(default_factory=dict)  # section → path
    na_values: tuple[str, ...] = ("", "nan")
    safe_percent_encoding: str | None = None
    only_printable: bool = False
    udf_path: str | None = None
    infer_sql_datatypes: bool = False
    # OUR extension (not in the reference): W3C-correct natural mapping —
    # declared-catalog SQL→XSD inference (fixing the reference's quoted
    # column-name bug, relational_db.py:102-104) plus canonical lexical
    # forms (3.0E1 doubles, true/false booleans, uppercase-hex binary)
    strict_natural_mapping: bool = False
    db_urls: dict[str, str] = field(default_factory=dict)  # section → url
    output_file: str | None = None

    @property
    def mapping_paths(self) -> list[str]:
        return [p for paths in self.section_mappings.values() for p in paths]


def apply_runtime_defaults(spark: SparkSession) -> None:
    """Keep codegen stage ids out of generated class names unless the
    session already has a value for ``useIdInClassName``.

    AQE numbers whole-stage-codegen stages in the order it re-plans
    query stages, and the id is part of each class name, so
    byte-identical code gets a new name on every run and misses Spark's
    codegen cache (≈50 Janino compiles per repeat run of the benchmark
    mapping, 0 without the id). A runtime SQLConf that only names
    generated classes: plans and output are unchanged.
    """
    key = "spark.sql.codegen.useIdInClassName"
    if spark.conf.get(key, None) is None:
        spark.conf.set(key, "false")


def load_config(config: str) -> EngineConfig:
    """Parse an INI string or file path into an EngineConfig."""
    parser = configparser.ConfigParser()
    base_dir = "."
    if "\n" not in config and os.path.exists(config):
        base_dir = os.path.dirname(os.path.abspath(config))
        parser.read(config)
    else:
        parser.read_string(config)

    out = EngineConfig()
    if parser.has_section(CONFIGURATION):
        sec = parser[CONFIGURATION]
        if "na_values" in sec:
            out.na_values = tuple(sec["na_values"].split(","))
        if "safe_percent_encoding" in sec:
            out.safe_percent_encoding = sec["safe_percent_encoding"]
        out.only_printable = sec.getboolean(
            "only_write_printable_characters", fallback=False)
        if "udfs" in sec:
            fp = sec["udfs"]
            out.udf_path = fp if os.path.isabs(fp) else os.path.join(base_dir, fp)
        out.infer_sql_datatypes = sec.getboolean(
            "infer_sql_datatypes", fallback=False)
        out.strict_natural_mapping = sec.getboolean(
            "strict_natural_mapping", fallback=False)
        out.output_file = sec.get("output_file") or sec.get("output_dir")

    for name in parser.sections():
        if name == CONFIGURATION:
            continue
        sec = parser[name]
        if "mappings" not in sec:
            raise ValueError(f"data source section [{name}] without 'mappings'")
        paths = []
        for m in sec["mappings"].split(","):
            m = m.strip()
            if not os.path.isabs(m):
                m = os.path.join(base_dir, m)
            paths.append(m)
        out.section_mappings[name] = paths
        if "file_path" in sec:
            fp = sec["file_path"]
            if not os.path.isabs(fp):
                fp = os.path.join(base_dir, fp)
            out.file_path_overrides[name] = fp
        if "db_url" in sec:
            out.db_urls[name] = sec["db_url"]
    if not out.section_mappings:
        raise ValueError("config declares no data source sections with mappings")
    return out


# extension → Source kind, shared with the mapping parser
_EXT_KIND = {
    ".csv": "csv", ".tsv": "csv", ".json": "json", ".parquet": "parquet",
    ".orc": "orc", ".xml": "xml", ".xlsx": "pandas_any",
    ".feather": "pandas_any",
}


def _override_source(src, path: str):
    """Re-point a file Source at the section's ``file_path`` override
    (reference: a data-source section's file_path replaces the mapping's
    rml:source, config.py:207-214). Table/SQL/df sources pass through."""
    if src is None or src.kind in ("table", "sql", "df", "jdbc"):
        return src
    ext = os.path.splitext(path)[1].lower()
    kind = _EXT_KIND.get(ext, src.kind)
    options = dict(src.options)
    if ext == ".tsv":
        options.setdefault("sep", "\t")
    from morph_kgc_spark.model import Source

    return Source(kind, path, options)


def _attach_db(src, db_url: str, strict: bool = False):
    """Bind a data-source section's db_url to its table/sql sources."""
    if src is None or src.kind not in ("table", "sql"):
        return src
    from morph_kgc_spark.model import Source

    opts = {**src.options, "db_url": db_url}
    if strict:
        opts["lexical"] = "canonical"
    return Source(src.kind, src.value, opts)


def materialize_from_config(spark: SparkSession, config: str,
                            write: bool = False,
                            python_source: dict | None = None) -> DataFrame:
    """Reference-compatible entry: INI config → triples DataFrame.

    Applies every parsed configuration key: per-section ``file_path``
    source overrides, ``na_values``, ``safe_percent_encoding``. With
    ``write=True`` and an output_file configured, also writes the
    distributed N-Triples directory.
    """
    from morph_kgc_spark.engine import materialize
    from morph_kgc_spark.mapping import parse_any_mapping as parse_mapping

    cfg = load_config(config)
    if cfg.udf_path:
        from morph_kgc_spark.functions.builtins import load_udfs

        load_udfs(cfg.udf_path)
    rules = []
    tm_sections: dict[str, str] = {}
    for section, paths in cfg.section_mappings.items():
        override = cfg.file_path_overrides.get(section)
        for path in paths:
            if not os.path.exists(path):
                raise FileNotFoundError(f"mapping file not found: {path}")
            section_rules = parse_mapping(path)
            # one triples map must not appear in two data sources
            # (reference validate_mappings, mapping_parser.py:750-758)
            for r in section_rules:
                prev = tm_sections.setdefault(r.triples_map_id, section)
                if prev != section:
                    raise ValueError(
                        f"triples map {r.triples_map_id!r} appears in data "
                        f"sources [{prev}] and [{section}]; a triples map "
                        "cannot be repeated across data sources")
            if override:
                section_rules = [
                    r.but(source=_override_source(r.source, override),
                          parent_source=_override_source(r.parent_source,
                                                         override))
                    for r in section_rules
                ]
            db_url = cfg.db_urls.get(section)
            if db_url:
                strict = cfg.strict_natural_mapping \
                    and db_url.startswith("sqlite:")
                section_rules = [
                    r.but(source=_attach_db(r.source, db_url, strict),
                          parent_source=_attach_db(r.parent_source, db_url,
                                                   strict))
                    for r in section_rules
                ]
                if strict:
                    # W3C-correct inference off the declared catalog
                    # types (longest-match), canonical lexical forms
                    # are applied by the source load (lexical option)
                    from morph_kgc_spark.sources.relational import (
                        infer_sql_datatypes,
                        infer_xsd_datatype_strict,
                        sqlite_catalog_type_lookup,
                    )

                    lookup = sqlite_catalog_type_lookup(db_url)
                    section_rules = infer_sql_datatypes(
                        section_rules, lookup,
                        to_xsd=infer_xsd_datatype_strict)
                elif cfg.infer_sql_datatypes and db_url.startswith("sqlite:"):
                    from morph_kgc_spark.sources.relational import (
                        infer_sql_datatypes,
                        sqlite_type_lookup,
                    )

                    section_rules = infer_sql_datatypes(
                        section_rules, sqlite_type_lookup(db_url))
            rules.extend(section_rules)
    registry = None
    if python_source:
        # reference-compatible in-memory data (morph_kgc.materialize's
        # second argument): {sd:name → dict | list | DataFrame}
        from morph_kgc_spark.sources.registry import default_registry

        registry = default_registry()
        for name, data in python_source.items():
            registry.register_python(spark, name, data)
    df = materialize(spark, rules, registry=registry,
                     na_values=cfg.na_values,
                     safe_percent_encoding=cfg.safe_percent_encoding)
    if write and cfg.output_file:
        from morph_kgc_spark.sinks.ntriples import write_ntriples

        write_ntriples(df, cfg.output_file, only_printable=cfg.only_printable)
    return df
