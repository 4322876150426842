"""Operators that persist intermediates must not leak cache blocks.

Round-2 verdict: minhash_lsh_pairs / simhash_pairs / ngram_jaccard_topk
persisted corpus-sized intermediates with no unpersist, and dup_clusters
accumulated one localCheckpoint per iteration — blocks piled up across
queries in one session. Contract now: after an operator returns, the
ONLY persisted blocks are the operator's own (small, eagerly
materialized) result; morph_kgc_spark.operators.cache.release(result)
frees those, leaving the session clean.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from morph_kgc_spark.operators import dedup as D
from morph_kgc_spark.operators.cache import persistent_rdd_ids, release

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.mark.parametrize("op", [
    lambda df: D.minhash_lsh_pairs(df, "doc_id", "text"),
    lambda df: D.simhash_pairs(df, "doc_id", "text", max_hamming=6),
    lambda df: D.ngram_jaccard_topk(df, "doc_id", "text", k=5),
    lambda df: D.ngram_jaccard_topk(df, "doc_id", "text", k=5, df_cap=3),
])
def test_pair_ops_release_intermediates(spark, op):
    before = persistent_rdd_ids(spark)
    out = op(_docs(spark))
    out.count()  # consume
    leaked = persistent_rdd_ids(spark) - before
    # at most the result's own checkpoint blocks remain
    assert len(leaked) <= 1, f"leaked intermediate caches: {leaked}"
    release(out)
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(result) must leave the session cache-clean"


@pytest.mark.parametrize("op", [
    lambda df: D.minhash_lsh_pairs(df, "doc_id", "text", lazy=True),
    lambda df: D.simhash_pairs(df, "doc_id", "text", max_hamming=6, lazy=True),
    lambda df: D.ngram_jaccard_topk(df, "doc_id", "text", k=5, lazy=True),
    lambda df: D.ngram_jaccard_topk(df, "doc_id", "text", k=5, df_cap=3,
                                    lazy=True),
])
def test_pair_ops_lazy_mode_release_on_demand(spark, op):
    """lazy=True: no eager checkpoint; any persisted intermediate stays
    attached to the result until cache.release(result) — then the
    session is clean. (minhash/simhash now persist nothing at all: their
    signatures are zero-shuffle projections recomputed per use.)"""
    before = persistent_rdd_ids(spark)
    out = op(_docs(spark))
    out.count()  # single consumption (the lazy-mode contract)
    release(out)
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(result) must free lazy-mode intermediates"


def test_ngram_hot_path_lazy_owns_dfreq(spark):
    """With a hot shingle (df_cap exceeded) the shared dfreq aggregate is
    persisted; lazy mode attaches it to the result for deferred release."""
    out = D.ngram_jaccard_topk(_docs(spark), "doc_id", "text", k=5,
                               df_cap=3, lazy=True)
    out.count()
    assert getattr(out, "_mkgc_owned", []), \
        "hot-path lazy result must carry the persisted dfreq"
    release(out)


@pytest.mark.parametrize("lazy", [False, True])
def test_pair_ops_modes_agree(spark, lazy):
    """Both hygiene modes produce identical pairs."""
    docs = _docs(spark)
    out = D.minhash_lsh_pairs(docs, "doc_id", "text", lazy=lazy)
    rows = sorted((r.id_a, r.id_b) for r in out.collect())
    release(out)
    ref = D.minhash_lsh_pairs(docs, "doc_id", "text")
    ref_rows = sorted((r.id_a, r.id_b) for r in ref.collect())
    release(ref)
    assert rows == ref_rows


def test_pipeline_triples_releases_linked_persist(spark):
    """run_pipeline's linked-entities persist is owned by the result and
    freed by cache.release — no corpus-sized blocks leak per invocation
    (round-3 verdict: pipeline/pages.py held one unscoped persist)."""
    from morph_kgc_spark.pipeline.pages import run_pipeline

    before = persistent_rdd_ids(spark)
    out = run_pipeline(spark, 300, n_entities=16)
    assert out.count() > 0
    assert persistent_rdd_ids(spark) - before, \
        "sanity: the linked persist should be live while consuming"
    release(out)
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(run_pipeline output) must leave the session cache-clean"


def test_materialize_releases_persisted_sources(spark):
    """With a persist_sources registry the materialized frame owns the
    persisted sources: releasing it leaves the session cache-clean."""
    import os

    from morph_kgc_spark.engine import materialize
    from morph_kgc_spark.sources.registry import default_registry

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    before = persistent_rdd_ids(spark)
    out = materialize(spark, os.path.join(fixtures, "mapping_basic.ttl"),
                      registry=default_registry(persist_sources=True))
    assert out.count() == 13
    assert persistent_rdd_ids(spark) - before, \
        "sanity: the persisted sources should be live while consuming"
    release(out)
    assert persistent_rdd_ids(spark) == before


def test_dup_clusters_releases_round_blocks(spark):
    before = persistent_rdd_ids(spark)
    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 2)], ["id_a", "id_b"])
    out = D.dup_clusters(ids, pairs, "doc_id")
    rows = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert (1, 0) in rows and (39, 39) in rows
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) <= 1, \
        f"iteration checkpoints must be released per round, got {leaked}"
    release(out)
    assert persistent_rdd_ids(spark) - before == set()


def test_release_of_derivative_frees_owned_persists(spark):
    """Ownership survives transformations (round-4 advice / round-5
    directive): releasing a FILTERED/PROJECTED derivative of an owning
    frame finds the persisted intermediate in the derivative's plan and
    frees it — the wrapper attribute alone was lost on any select/where."""
    before = persistent_rdd_ids(spark)
    out = D.simhash_pairs(_docs(spark), "doc_id", "text", max_hamming=6,
                          lazy=True)
    derived = out.where(F.col("id_a") >= 0).select("id_a", "id_b")
    derived.count()
    assert persistent_rdd_ids(spark) - before, \
        "sanity: the signature persist should be live"
    release(derived)  # NOT the frame the operator returned
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(derivative) must free the upstream owned persists"


def test_release_of_filtered_pipeline_output_is_clean(spark):
    """The round-5 directive's exact scenario: a filtered run_pipeline
    output released without the original wrapper leaves
    persistent_rdd_ids clean."""
    from morph_kgc_spark.pipeline.pages import run_pipeline

    before = persistent_rdd_ids(spark)
    out = run_pipeline(spark, 300, n_entities=16)
    derived = out.where("subject IS NOT NULL")
    assert derived.count() > 0
    release(derived)
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(filtered pipeline output) must leave the session clean"


def test_release_of_reowned_derivative_frees_chained_persists(spark):
    """Round-6 review finding: own(a.where(...), [dep2]) loses a's
    chained dep list to the where(), so releasing the re-owned frame
    must ALSO walk the registry for owned subtrees in its plan — the
    attribute pass alone leaves a's corpus-sized persists live."""
    from morph_kgc_spark.operators.cache import own

    before = persistent_rdd_ids(spark)
    docs = _docs(spark)
    a = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)  # hot path: owns persisted dfreq
    a.count()
    assert persistent_rdd_ids(spark) - before, \
        "sanity: dfreq persist should be live"
    extra = docs.select("doc_id").persist()
    b = own(a.where("jaccard >= 0"), [extra])  # where() drops a's deps
    b.count()
    release(b)
    assert persistent_rdd_ids(spark) - before == set(), \
        "release(re-owned derivative) must free deps chained before the " \
        "transformation"


def test_release_scoped_per_ownership_instance(spark):
    """Round-6 advice (cache.py:441): two concurrent identical lazy runs
    share one plan-keyed cache entry; releasing ONE of them must not
    drop the blocks the other still needs. The registry refcounts
    ownership instances and defers the real unpersist to the last."""
    before = persistent_rdd_ids(spark)
    docs = _docs(spark)
    a = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    b = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    a.count()
    release(a)
    assert persistent_rdd_ids(spark) - before, \
        "release(a) must not drop blocks still owned by b"
    b.count()
    release(b)
    assert persistent_rdd_ids(spark) - before == set(), \
        "releasing the last owner must actually free the blocks"


def test_registry_self_bounds_after_clear_cache(spark):
    """Round-6 directive #5: N lazy results created and never released
    accumulate registry entries; once their blocks are gone (here via
    spark.catalog.clearCache()) the next own()/release() sweep drops the
    dead entries instead of pinning the wrappers forever."""
    import gc

    from morph_kgc_spark.operators import cache as C

    docs = _docs(spark)
    kept = [D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                                 lazy=True)
            for _ in range(3)]  # never released, still referenced
    assert sum(len(v) for v in C._OWNED_BY_HASH.values()) >= 3
    spark.catalog.clearCache()
    # the next own() (a DIFFERENT plan — n=4 grams, so its persist
    # cannot resurrect the plan-keyed cache entry first) sweeps the
    # block-less entries
    out = D.ngram_jaccard_topk(docs, "doc_id", "text", n=4, k=5,
                               df_cap=3, lazy=True)
    live = sum(len(v) for v in C._OWNED_BY_HASH.values())
    assert live <= len(out._mkgc_owned), \
        f"registry must self-bound after blocks are dropped, got {live}"
    release(out)

    # weakref path: results DROPPED without release() stop pinning the
    # registry as soon as Python frees their wrappers
    again = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                                 lazy=True)
    del kept, again
    gc.collect()
    C._sweep()
    assert sum(len(v) for v in C._OWNED_BY_HASH.values()) == 0
    spark.catalog.clearCache()  # drop `again`'s (documented) block leak


def test_double_chained_dep_cannot_steal_concurrent_instance(spark):
    """Round-7 ADVICE fix (cache.py:120): chaining the SAME dep wrapper
    twice via repeated own() used to leave it twice in _mkgc_owned; the
    attribute pass then released two instances — the second via the
    any-one fallback, stealing a concurrent identical run's instance
    and unpersisting blocks it still needed. own() now dedupes the
    owned list by wrapper identity and the attribute pass only
    decrements exact-identity registrations."""
    from morph_kgc_spark.operators import cache as C

    before = persistent_rdd_ids(spark)
    docs = _docs(spark)
    a = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    dep = a._mkgc_owned[0]
    C.own(a, [dep])  # chain the same wrapper again
    assert sum(1 for d in a._mkgc_owned if d is dep) == 1, \
        "own() must dedupe the owned list by wrapper identity"
    b = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    a.count()
    release(a)
    assert persistent_rdd_ids(spark) - before, \
        "releasing the double-chained owner must not steal b's instance"
    b.count()
    release(b)
    assert persistent_rdd_ids(spark) - before == set()


def test_unregistered_dep_release_leaves_live_instances(spark):
    """Round-7 ADVICE fix (cache.py:120), failed-registration leg: an
    attribute-pass dep whose own() registration is gone must NOT
    decrement someone else's live instance (exact_only semantics); with
    no other instance the blocks are unpersisted as before."""
    from morph_kgc_spark.operators import cache as C

    before = persistent_rdd_ids(spark)
    docs = _docs(spark)
    a = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    b = D.ngram_jaccard_topk(docs, "doc_id", "text", k=5, df_cap=3,
                             lazy=True)
    # simulate a's registration having failed: drop ONLY a's weakref
    dep = a._mkgc_owned[0]
    h = int(dep._jdf.queryExecution().analyzed().semanticHash())
    C._OWNED_BY_HASH[h] = [r for r in C._OWNED_BY_HASH[h]
                           if r() is not dep]
    a.count()
    release(a)
    assert persistent_rdd_ids(spark) - before, \
        "unregistered dep must not take b's instance down with it"
    b.count()
    release(b)
    assert persistent_rdd_ids(spark) - before == set()
