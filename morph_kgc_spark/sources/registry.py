"""Source dispatch: Source spec → DataFrame.

Mirrors the reference's dispatcher (src/morph_kgc/data_source/*,
materializer.py:58-70) with Spark-native readers. Scans are cached per
logical source so N rules over one table share one scan subtree (the
reference re-reads the file per rule; reference README touts mapping
partitions instead — on Spark a shared cached projection is strictly
better).

Supported kinds:
- ``table``      — spark catalog table (Iceberg on a real cluster)
- ``parquet``    — parquet path
- ``csv``        — header CSV; ``options`` forwarded (sep, quote, …)
- ``json``       — JSON lines / multiline via options
- ``orc``        — ORC path
- ``sql``        — RML tabular view: SQL over previously registered views
  (reference runs DuckDB over files, data_file.py:59-60; Spark SQL is the
  native replacement)
- ``df``         — in-memory DataFrame registered by name
  (reference: data_source/python_data.py)
- ``jdbc``       — relational DB (reference: data_source/relational_db.py);
  pushdown comes free via the JDBC source
- ``pandas_any`` — driver-side pandas reader for long-tail formats the
  reference supports (feather/excel/ods/stata/sas/spss): tiny files only.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from morph_kgc_spark import model as M


class SourceRegistry:
    """Resolves Source specs to DataFrames, caching scans per source.

    ``persist_sources=True`` additionally Spark-persists every loaded
    source (MEMORY_AND_DISK): in a multi-rule job each logical source
    feeds several union branches, and Spark does not deduplicate
    identical scan subtrees across branches — persisting turns N
    re-scans into one. Right for sources that fit cluster storage
    (dimension tables, benchmark SFs); leave off for the 100 TB fact
    table, whose branches should instead be column-pruned scans.
    """

    def __init__(self, persist_sources: bool = False) -> None:
        self._named: dict[str, DataFrame] = {}
        self._cache: dict[str, DataFrame] = {}
        self.persist_sources = persist_sources

    def register(self, name: str, df: DataFrame) -> None:
        """Register an in-memory / pre-built DataFrame source."""
        self._named[name] = df

    def register_python(self, spark: SparkSession, name: str, data) -> None:
        """Reference-compatible in-memory sources
        (src/morph_kgc/data_source/python_data.py:17-66): a pandas
        DataFrame, (nested) dict, list of dicts, or a JSON string.
        Nested dicts/lists stay raw so an rml:iterator can navigate them
        at load time (sd:DatasetSpecification sources)."""
        import pandas as pd

        if isinstance(data, DataFrame):
            self._named[name] = data
        elif isinstance(data, pd.DataFrame):
            # reference quirk (python_data.py:23-26): double quotes are
            # STRIPPED from string columns of in-memory DataFrames
            data = data.copy()
            for col in data.select_dtypes(include=["object"]).columns:
                data[col] = data[col].map(
                    lambda x: x.replace('"', "") if isinstance(x, str) else x)
            self._named[name] = spark.createDataFrame(data)
        else:
            self._python = getattr(self, "_python", {})
            self._python[name] = data

    def _load_python(self, spark: SparkSession, name: str, opts: dict) -> DataFrame:
        if name in self._named:
            return self._named[name]
        data = getattr(self, "_python", {}).get(name)
        if data is None:
            raise ValueError(
                f"python source {name!r} not registered — call "
                "register_python(spark, name, data) or pass python_source")
        import json as _json
        import tempfile

        from morph_kgc_spark.sources.hierarchical import json_source

        if isinstance(data, str):
            payload = data
        else:
            payload = _json.dumps(data)
        # one temp file per registered source, cached and reused across
        # materializations (mkstemp: unpredictable name, no create race)
        self._python_paths = getattr(self, "_python_paths", {})
        path = self._python_paths.get(name)
        if path is None or not os.path.exists(path):
            fd, path = tempfile.mkstemp(suffix=".json",
                                        prefix=f"pysrc_{name}_")
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                f.write(payload)
            self._python_paths[name] = path
        return json_source(spark, path, iterator=opts.get("iterator", "$.*"),
                           flatten=opts.get("flatten", True))

    def close(self) -> None:
        """Remove temp files written for python sources."""
        for path in getattr(self, "_python_paths", {}).values():
            try:
                os.unlink(path)
            except OSError:
                pass
        self._python_paths = {}

    def __call__(self, spark: SparkSession, source: M.Source) -> DataFrame:
        key = source.cache_key()
        if key not in self._cache:
            df = self._load(spark, source)
            if self.persist_sources:
                from pyspark.storagelevel import StorageLevel

                df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._cache[key] = df
        return self._cache[key]

    def _load(self, spark: SparkSession, source: M.Source) -> DataFrame:
        kind, value, opts = source.kind, source.value, dict(source.options)
        if kind in ("df", "python"):
            if value in self._named:
                return self._named[value]
            return self._load_python(spark, value, opts)
        if kind == "table":
            if opts.get("db_url", "").startswith("sqlite:"):
                from morph_kgc_spark.sources.relational import load_sqlite

                return load_sqlite(spark, opts["db_url"], table=value,
                                   lexical=opts.get("lexical", "raw"))
            return spark.read.table(value)
        if kind == "parquet":
            return read_parquet_cached_schema(spark, value)
        if kind == "orc":
            return spark.read.orc(value)
        if kind == "csv":
            opts.setdefault("header", "true")
            if "sep" not in opts:
                sep = _sniff_csv_delimiter(value)
                if sep:
                    opts["sep"] = sep
            return spark.read.options(**opts).csv(value)
        if kind == "json":
            from morph_kgc_spark.sources.hierarchical import json_source

            return json_source(
                spark, value,
                iterator=opts.get("iterator", "$.*"),
                multi_line=opts.get("multiLine", True),
                flatten=opts.get("flatten", True),
            )
        if kind == "xml":
            from morph_kgc_spark.sources.hierarchical import xml_source

            return xml_source(spark, value, row_tag=opts.get("rowTag"),
                              iterator=opts.get("iterator", "/row"))
        if kind == "sql":
            if opts.get("db_url", "").startswith("sqlite:"):
                from morph_kgc_spark.sources.relational import load_sqlite

                return load_sqlite(spark, opts["db_url"], query=value,
                                   lexical=opts.get("lexical", "raw"))
            try:
                return spark.sql(value)
            except Exception:
                # RML tabular views (rml:query) may use DuckDB-flavored
                # SQL over file paths (FROM 'x.csv') — exactly what the
                # reference executes (data_file.py:59-60). Driver-side
                # DuckDB is the parity path for these small view
                # definitions; at cluster scale, register the files as
                # Spark views and use Spark SQL instead.
                import duckdb

                con = duckdb.connect()
                if opts.get("base_dir"):
                    con.execute(
                        f"SET file_search_path = '{opts['base_dir']}'")
                pdf = con.execute(value).df()
                return spark.createDataFrame(pdf)
        if kind == "jdbc":
            from morph_kgc_spark.sources.relational import jdbc_read_options

            refs = opts.pop("references", ())
            return spark.read.format("jdbc") \
                .options(**jdbc_read_options(opts, refs)).load()
        if kind == "pandas_any":
            return _pandas_fallback(spark, value, opts)
        raise ValueError(f"unknown source kind: {kind!r}")


# parquet schemas by path, process-lifetime: schema inference is the
# bulk of spark.read.parquet's driver cost (~80 ms/call: footer read +
# datasource resolution), and a multi-rule mapping or a 40-query bench
# session re-reads the same tables constantly. Parquet table schemas are
# immutable for the life of a job; a service that rewrites files with a
# NEW schema under the same path should clear this dict.
_PARQUET_SCHEMAS: dict = {}


def _schema_cache_key(path: str) -> str:
    """Canonical cache key: equivalent spellings of one location (a
    trailing slash, a ``file://`` prefix, a symlink) must hit — and
    invalidate — the same entry (round-6 review: a raw-string key made
    ``invalidate_parquet_schema_cache('/data/t/')`` silently miss the
    entry pinned under ``'/data/t'``)."""
    p = path.strip()
    if p.startswith("file:"):
        # both URI spellings reach here: 'file:///x' / 'file:/x'
        # (Hadoop itself emits the single-slash form)
        p = p[len("file:"):]
        if p.startswith("//") and (len(p) == 2 or p[2] == "/"):
            p = p[2:]
        elif p.startswith("//"):
            # authority form 'file://host/x': keep the host and key it
            # verbatim — realpath() would treat '//host/x' as a local
            # path and variant spellings could then miss/invalidate the
            # wrong entry (round-7 ADVICE fix, registry.py:223)
            return p.rstrip("/")
    if "://" in p or not p.startswith("/"):
        return p.rstrip("/")  # remote URI: no local fs to resolve
    return os.path.realpath(p)


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with a process-level schema cache: the
    first read of a path infers the schema from footers; later reads
    pass it explicitly, skipping inference (file listing still runs, so
    new PARTITIONS under the path are picked up — only the schema is
    pinned)."""
    key = _schema_cache_key(path)
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[key] = df.schema
    return df


def invalidate_parquet_schema_cache(path: str | None = None) -> None:
    """Drop the pinned schema for *path* (or ALL paths when ``None``).

    The cache pins the first-seen schema per path for the process
    lifetime; if files under a path are rewritten with an EVOLVED schema
    (added/renamed columns), later reads would silently use the stale
    schema — columns come back missing/null instead of erroring.  Call
    this after any in-place schema-changing rewrite (round-6 advice,
    sources/registry.py:870).  Also documented in README §limitations.
    """
    if path is None:
        _PARQUET_SCHEMAS.clear()
    else:
        _PARQUET_SCHEMAS.pop(_schema_cache_key(path), None)


def _sniff_csv_delimiter(path: str) -> str | None:
    """Detect non-comma delimiters from the file head (reference
    data_file.py:63-88 sniffs on parse failure — issue #81: ';' CSVs).

    Driver-side peek of the first KB; on a DFS this is a ranged read.
    Returns None for plain comma CSVs (the reader default).
    """
    import csv as _csv

    try:
        with open(path, newline="", encoding="utf-8", errors="replace") as f:
            head = f.read(4096)
        sep = _csv.Sniffer().sniff(head, delimiters=",;\t|").delimiter
        return sep if sep != "," else None
    except Exception:
        return None


def _pandas_fallback(spark: SparkSession, path: str, opts: dict) -> DataFrame:
    """Long-tail formats via driver-side pandas (tiny inputs only).

    Reference reads these with pandas too (data_file.py:95-138).
    """
    import pandas as pd

    fmt = opts.get("format") or path.rsplit(".", 1)[-1].lower()
    readers: dict[str, Callable] = {
        "feather": pd.read_feather,
        "xlsx": pd.read_excel,
        "xls": pd.read_excel,
        "ods": pd.read_excel,
        "dta": pd.read_stata,
        "sas7bdat": pd.read_sas,
        "sav": getattr(pd, "read_spss", None),
    }
    reader = readers.get(fmt)
    if reader is None:
        raise ValueError(f"unsupported pandas fallback format: {fmt!r}")
    try:
        pdf = reader(path, **opts.get("reader_kwargs", {}))
    except ImportError:
        if fmt not in ("xlsx", "ods"):
            # other formats have no stdlib fallback — surface pandas'
            # actionable "install <engine>" error
            raise
        # pandas' excel engines (openpyxl/odfpy) are optional deps; both
        # formats are zip+XML, covered by the stdlib readers in sheets.py
        from morph_kgc_spark.sources.sheets import read_ods, read_xlsx

        pdf = read_ods(path) if fmt == "ods" else read_xlsx(path)
    return spark.createDataFrame(pdf)


def default_registry(persist_sources: bool = False) -> SourceRegistry:
    return SourceRegistry(persist_sources=persist_sources)
