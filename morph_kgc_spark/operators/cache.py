"""Cache lifecycle helpers for operators that persist intermediates.

Pattern: an operator that must read an intermediate twice (LSH banded
self-joins, iterative label propagation) persists it, EAGERLY
materializes its (much smaller) result via ``localCheckpoint``, then
unpersists the intermediate before returning — so no operator leaks
corpus-sized cache blocks across queries in one session. The returned
DataFrame owns exactly one set of blocks (its own checkpointed result);
callers that are done with it release those too with :func:`release`.

``localCheckpoint`` is the right materializer here (vs ``persist`` +
count): it also truncates the logical plan, which iterative algorithms
need anyway (the plan string otherwise grows per round until plan
processing OOMs), and its blocks are addressable for explicit release.

Ownership rides on the returned frame, as Spark's own persistence does:
the program holds the handle. Release the frame the operator returned.
A derivative (``out.where(...)``) is a fresh wrapper that owns nothing,
so releasing it frees none of ``out``'s intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all RDDs currently holding persisted/checkpointed blocks."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def own(result: DataFrame, intermediates: list[DataFrame]) -> DataFrame:
    """Attach persisted or checkpointed intermediates to ``result`` for
    deferred release.

    Lazy-mode pair operators (``simhash_pairs(..., lazy=True)`` etc.)
    skip the eager ``localCheckpoint`` of their result — the caller
    consumes it exactly once, so paying a checkpoint write inside the
    query is pure overhead — but their persisted intermediates must stay
    alive until that consumption happens. ``own`` lists them on the
    returned wrapper so that :func:`release` frees them afterwards.
    Ownership composes: owning an already-owning frame also takes over
    the intermediates it owns.

    An owning result dropped without :func:`release` leaves its blocks
    in the cache manager until ``spark.catalog.clearCache()``; callers
    that cannot guarantee a release should use the eager operator mode.
    """
    owned = list(getattr(result, "_mkgc_owned", ()))
    for dep in intermediates:
        owned.extend(getattr(dep, "_mkgc_owned", ()))
        owned.append(dep)
    result._mkgc_owned = owned
    return result


def release(df: DataFrame) -> None:
    """Free the blocks of a frame an operator returned.

    Unpersists every intermediate attached via :func:`own` and drops its
    ``localCheckpoint`` blocks, then drops the frame's own. The frame
    must not be used afterwards. A second release, or a release of a
    frame that owns nothing and is not checkpoint-backed, is a no-op.
    (PySpark has no public unpersist for checkpointed frames; the JVM
    handles here are stable internals — same class of access as the
    session's own ``_jsc`` — and the hygiene test pins the behavior.)

    Spark's cache manager is PLAN-keyed: unpersisting an intermediate
    also drops the blocks of a semantically identical persist made by
    a concurrent run, which then recomputes them on its next use.
    """
    owned = getattr(df, "_mkgc_owned", [])
    for dep in owned:
        dep.unpersist()
        _drop_checkpoint(dep)
    owned.clear()
    _drop_checkpoint(df)


def _drop_checkpoint(df: DataFrame) -> None:
    """Free the ``localCheckpoint`` blocks backing ``df``, if any."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName().endswith(".LogicalRDD"):
        rdd = plan.rdd()
        if rdd.getStorageLevel().isValid():  # NONE once released
            rdd.unpersist(False)
