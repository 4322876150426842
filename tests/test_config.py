"""INI config front-end (reference-compatible entry)."""

import os

import pytest

from morph_kgc_spark import materialize, materialize_from_config

EX = "http://example.com/"
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_materialize_from_config(spark, tmp_path):
    out_dir = str(tmp_path / "out.nt")
    ini = f"""
[CONFIGURATION]
output_file={out_dir}

[DataSource1]
mappings={FIXTURES}/mapping_basic.ttl
"""
    df = materialize_from_config(spark, ini, write=True)
    assert df.count() == 13
    lines = spark.read.text(out_dir)
    assert lines.count() == 13
    assert all(r.value.endswith(" .") for r in lines.collect())


def test_config_requires_mappings(spark):
    with pytest.raises(ValueError, match="without 'mappings'"):
        materialize_from_config(spark, "[DS]\nfile_path=x\n")


def test_package_reads_no_environment():
    """Tuning lives in module constants, not environment variables: no
    package file names a MORPH_KGC_ variable or reads the environment."""
    import re

    import morph_kgc_spark

    pkg = os.path.dirname(morph_kgc_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    for no, line in enumerate(f, 1):
                        if re.search(r"MORPH_KGC_|os\.environ|getenv", line):
                            hits.append(f"{os.path.relpath(path, pkg)}:{no}")
    assert hits == []


STABLE_NAMES = "spark.sql.codegen.useIdInClassName"


def _materialize_basic(spark):
    return materialize(spark, os.path.join(FIXTURES, "mapping_basic.ttl"))


def test_materialize_keeps_stage_ids_out_of_class_names(spark):
    spark.conf.unset(STABLE_NAMES)
    _materialize_basic(spark)
    assert spark.conf.get(STABLE_NAMES) == "false"


def test_materialize_respects_user_class_name_setting(spark):
    spark.conf.set(STABLE_NAMES, "true")
    try:
        _materialize_basic(spark)
        assert spark.conf.get(STABLE_NAMES) == "true"
    finally:
        spark.conf.unset(STABLE_NAMES)


def test_repeat_materialize_compiles_no_classes(spark):
    """Stable class names let the second run of the same mapping reuse
    every generated class from Spark's codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = _materialize_basic(spark).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    second = _materialize_basic(spark).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
    assert sorted(first) == sorted(second)
