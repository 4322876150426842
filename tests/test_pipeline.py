"""North-star pipeline: extraction invariant, EL determinism,
checkpoint/resume with lineage guard."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from morph_kgc_spark.pipeline.checkpoint import (
    commit_metrics,
    read_committed,
    write_checkpointed,
)
from morph_kgc_spark.pipeline.pages import (
    alias_dictionary,
    detect_mentions,
    extract_text_udf,
    link_entities,
    run_pipeline,
    synthetic_pages,
)


def test_extraction_byte_identical(spark):
    pages = synthetic_pages(spark, 500)
    bad = (pages.withColumn("etext", extract_text_udf(F.col("html")))
           .where(F.col("etext") != F.col("text")).count())
    assert bad == 0


def test_generator_deterministic(spark):
    a = synthetic_pages(spark, 200, partitions=2).collect()
    b = synthetic_pages(spark, 200, partitions=8).collect()  # diff parallelism
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_mention_detection_and_linking(spark):
    pages = synthetic_pages(spark, 300).select("url", "text", "lang")
    aliases = alias_dictionary(spark, 64)
    mentions = detect_mentions(pages, aliases)
    assert mentions.count() > 0
    # every page embeds the alias of entity id%64 when id%256 < 64
    linked = link_entities(mentions)
    # one winner per (url, alias)
    dups = (linked.groupBy("url", "alias").count()
            .where(F.col("count") > 1).count())
    assert dups == 0
    # deterministic across runs
    l2 = link_entities(detect_mentions(pages, aliases))
    assert sorted(map(tuple, linked.select("url", "alias", "entity_iri").collect())) == \
        sorted(map(tuple, l2.select("url", "alias", "entity_iri").collect()))


def test_pipeline_triples_shape(spark):
    out = run_pipeline(spark, 1000, n_entities=32)
    assert out.columns == ["subject", "predicate", "object"]
    n = out.count()
    assert n > 1000  # mentions + lang + crawledAt + labels
    assert out.distinct().count() == n  # set semantics already applied


def _files(root, k):
    """name -> mtime of every file in bucket k's data directory."""
    d = os.path.join(root, f"bucket={k}")
    return {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)}


def _triples(spark, n):
    return spark.range(n).select(
        F.format_string("<http://ex.org/s%d>", "id").alias("subject"),
        F.lit("<http://ex.org/p>").alias("predicate"),
        F.col("id").cast("string").alias("object"))


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "sink")
    out = run_pipeline(spark, 500, n_entities=16)

    s1 = write_checkpointed(out, root, n_buckets=4)
    assert len(s1.written_buckets) == 4 and not s1.skipped_buckets

    # resume: everything committed → no-op
    s2 = write_checkpointed(out, root, n_buckets=4)
    assert len(s2.skipped_buckets) == 4 and not s2.written_buckets

    # partial resume: delete one commit marker → only that bucket rewrites
    os.remove(os.path.join(root, "_commits", "bucket_2.json"))
    kept = {k: _files(root, k) for k in (0, 1, 3)}
    s3 = write_checkpointed(out, root, n_buckets=4)
    assert s3.written_buckets == [2] and len(s3.skipped_buckets) == 3
    assert {k: _files(root, k) for k in (0, 1, 3)} == kept

    total = read_committed(spark, root).count()
    assert total == out.count()
    m = commit_metrics(root)
    assert m["buckets"] == 4 and m["rows"] == total


def test_checkpoint_lineage_guard(spark, tmp_path):
    root = str(tmp_path / "sink")
    out1 = run_pipeline(spark, 300, n_entities=16)
    write_checkpointed(out1, root, n_buckets=2)
    out2 = run_pipeline(spark, 400, n_entities=16)  # different input
    with pytest.raises(ValueError, match="different lineage"):
        write_checkpointed(out2, root, n_buckets=2)


def test_checkpoint_lineage_guard_writes_nothing(spark, tmp_path):
    # a foreign marker anywhere refuses the call before any bucket of the
    # new lineage is written or marked
    root = str(tmp_path / "sink")
    write_checkpointed(_triples(spark, 200), root, n_buckets=4, lineage="A")
    marker0 = os.path.join(root, "_commits", "bucket_0.json")
    os.remove(marker0)
    before = _files(root, 0)
    other = _triples(spark, 300)
    with pytest.raises(ValueError, match="different lineage"):
        write_checkpointed(other, root, n_buckets=4, lineage="B")
    assert not os.path.exists(marker0)
    assert _files(root, 0) == before  # A's uncommitted leftover, untouched
    assert not os.path.exists(os.path.join(root, "_staging"))

    # with bucket 0 gone altogether, nothing of it comes back either
    shutil.rmtree(os.path.join(root, "bucket=0"))
    with pytest.raises(ValueError, match="different lineage"):
        write_checkpointed(other, root, n_buckets=4, lineage="B")
    assert not os.path.exists(marker0)
    assert not os.path.exists(os.path.join(root, "bucket=0"))


def test_checkpoint_empty_buckets(spark, tmp_path):
    # at least 5 of the 8 buckets get no rows; each marker's seconds is
    # its share of the one write, so the metric counts that write once
    root = str(tmp_path / "sink")
    t0 = time.time()
    s = write_checkpointed(_triples(spark, 3), root, n_buckets=8)
    wall = time.time() - t0
    assert s.written_buckets == list(range(8)) and s.rows_written == 3
    m = commit_metrics(root)
    assert m["buckets"] == 8 and m["rows"] == 3
    assert 0 < m["seconds"] <= wall
    assert read_committed(spark, root).count() == 3


def test_checkpoint_empty_frame(spark, tmp_path):
    root = str(tmp_path / "sink")
    s = write_checkpointed(_triples(spark, 0), root, n_buckets=4)
    assert s.written_buckets == [0, 1, 2, 3] and s.rows_written == 0
    got = read_committed(spark, root)
    assert got.columns == ["subject", "predicate", "object"]
    assert got.count() == 0


def test_checkpoint_one_write_job(spark, tmp_path):
    # the whole call is one write job plus the count (≤ 2 jobs under
    # AQE); a job per bucket would run ≥ 16
    sc = spark.sparkContext
    df = _triples(spark, 2000)
    sc.setJobGroup("checkpoint_jobs", "write_checkpointed")
    try:
        write_checkpointed(df, str(tmp_path / "sink"), n_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint_jobs")
    assert 0 < len(jobs) <= 3


def test_checkpoint_clears_stale_staging(spark, tmp_path):
    root = str(tmp_path / "sink")
    stale = os.path.join(root, "_staging", "bucket=1")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as f:
        f.write("not parquet")
    write_checkpointed(_triples(spark, 100), root, n_buckets=4)
    assert not os.path.exists(os.path.join(root, "_staging"))
    assert "junk.parquet" not in os.listdir(os.path.join(root, "bucket=1"))
    assert read_committed(spark, root).count() == 100
