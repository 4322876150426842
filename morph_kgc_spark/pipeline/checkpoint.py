"""Checkpoint-resumable partitioned triple sink with lineage + metrics.

North-rule requirement: the pipeline must be resumable per partition with
lineage and counter metrics written alongside each commit. On a real
cluster the sink is an Iceberg table (atomic snapshot commits, partition
spec ``bucket(url)``/``days(warc_ts)``); this sandbox has no Iceberg
runtime jar, so the same commit protocol is implemented over a parquet
directory layout:

    <root>/bucket=<k>/part-*.parquet       (data, atomic via staging+rename)
    <root>/_commits/bucket_<k>.json        (commit marker: metrics+lineage)
    <root>/_staging/bucket=<k>/            (the current batch, pre-rename)

A bucket is committed iff its marker exists; ``write_checkpointed``
skips committed buckets, so a killed run resumes where it stopped, and a
re-run of a fully-committed table is a no-op. Markers carry row counts,
wall time, and a lineage fingerprint (plan + input description) so a
resume against *different* inputs is refused, before anything is
written, instead of silently mixed.

One call is one batch: a single partitioned write job stages every
uncommitted bucket, one count job reads the per-bucket rows back, and
then each bucket is renamed into place and marked on its own. That is
the Iceberg shape (one snapshot commit per partition batch); the cost is
in-run granularity: a kill during the write job keeps nothing from that
run, where a job per bucket kept the buckets already finished.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CommitStats:
    written_buckets: list[int]
    skipped_buckets: list[int]
    rows_written: int


_EXPR_ID_RE = re.compile(r"#\d+L?")


def _lineage_fingerprint(df: DataFrame, extra: str = "") -> str:
    """Restart-stable fingerprint of the logical plan + caller input id.

    The raw plan string embeds per-JVM attribute exprIds (``subject#123``)
    that change on every new driver, which would make every resume after
    a restart refuse with 'different lineage'. Canonicalize by stripping
    the numeric ids — relation paths, schemas, and operator structure
    (the parts that actually identify the lineage) survive.
    """
    plan = df._jdf.queryExecution().logical().toString()
    plan = _EXPR_ID_RE.sub("#", plan)
    return hashlib.md5((plan + "\n" + extra).encode()).hexdigest()


def bucketed(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Add a deterministic bucket column (md5-derived, engine-portable)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    return df.withColumn("bucket", bucket)


def write_checkpointed(df: DataFrame, root: str, key_col: str = "subject",
                       n_buckets: int = 16, lineage: str = "") -> CommitStats:
    """Write df partitioned by bucket(key_col), resuming past commits.

    One call runs one partitioned write job for every *uncommitted*
    bucket and one count job over the staged files, whatever
    ``n_buckets`` is. Every marker is checked against the lineage before
    anything is written. Each bucket then commits on its own (rename
    into place, then marker). A kill during the write job commits
    nothing from this run; the next run rewrites every bucket still
    without a marker. Each marker's ``seconds`` is its share of the
    batch's wall time, so ``commit_metrics`` sums to the batch.
    """
    commits = os.path.join(root, "_commits")
    os.makedirs(commits, exist_ok=True)
    fingerprint = _lineage_fingerprint(df, lineage)

    todo, skipped = [], []
    for k in range(n_buckets):
        marker = os.path.join(commits, f"bucket_{k}.json")
        if not os.path.exists(marker):
            todo.append(k)
            continue
        with open(marker) as f:
            prev = json.load(f)
        if prev.get("lineage") != fingerprint:
            raise ValueError(
                f"bucket {k} was committed from different lineage "
                f"{prev.get('lineage')[:12]}… (current {fingerprint[:12]}…); "
                "refusing to mix — clear the sink or bump the root path")
        skipped.append(k)
    if not todo:
        return CommitStats([], skipped, 0)

    spark = df.sparkSession
    staging = os.path.join(root, "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    t0 = time.time()
    bdf = bucketed(df, key_col, n_buckets)
    if skipped:
        bdf = bdf.where(F.col("bucket").isin(todo))
    bdf.write.partitionBy("bucket").parquet(staging)
    # explicit schema: no inference job over the staged footers
    counts = dict(spark.read.schema(bdf.schema).parquet(staging)
                  .groupBy("bucket").count().collect())
    empty = [k for k in todo if k not in counts]
    if empty:
        # partitionBy writes no directory for a bucket without rows; give
        # each one a schema-only part so an all-empty sink stays readable
        template = os.path.join(staging, "_empty")
        spark.createDataFrame([], df.schema).write.parquet(template)
        for k in empty:
            shutil.copytree(template, os.path.join(staging, f"bucket={k}"))
    share = (time.time() - t0) / len(todo)

    for k in todo:
        final_dir = os.path.join(root, f"bucket={k}")
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
        os.rename(os.path.join(staging, f"bucket={k}"), final_dir)
        marker = os.path.join(commits, f"bucket_{k}.json")
        with open(marker + ".tmp", "w") as f:
            json.dump({
                "bucket": k,
                "rows": counts.get(k, 0),
                "seconds": round(share, 6),
                "lineage": fingerprint,
                "committed_at_epoch": int(time.time()),
            }, f)
        os.rename(marker + ".tmp", marker)
    shutil.rmtree(staging)
    return CommitStats(todo, skipped, sum(counts.values()))


def read_committed(spark, root: str) -> DataFrame:
    """Read only committed buckets."""
    commits = os.path.join(root, "_commits")
    dirs = []
    for name in sorted(os.listdir(commits)):
        if name.endswith(".json"):
            k = int(name[len("bucket_"):-len(".json")])
            dirs.append(os.path.join(root, f"bucket={k}"))
    if not dirs:
        raise ValueError(f"no committed buckets under {root}")
    return spark.read.parquet(*dirs)


def commit_metrics(root: str) -> dict:
    """Aggregate the per-partition counter metrics."""
    commits = os.path.join(root, "_commits")
    out = {"buckets": 0, "rows": 0, "seconds": 0.0}
    for name in os.listdir(commits):
        if name.endswith(".json"):
            with open(os.path.join(commits, name)) as f:
                m = json.load(f)
            out["buckets"] += 1
            out["rows"] += m["rows"]
            out["seconds"] += m["seconds"]
    return out
