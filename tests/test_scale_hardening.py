"""Scale hardening: hot-shingle df-cap, block-size cap, large-dict mentions.

Each test pairs a semantics check (hardened path ≡ exact path on
well-behaved data) with a blowup check (the pathological fixture that
would go quadratic no longer does).
"""

import pytest
from pyspark.sql import functions as F

from morph_kgc_spark.operators.dedup import (
    embedding_dup_pairs,
    ngram_jaccard_topk,
)
from morph_kgc_spark.pipeline.pages import (
    alias_dictionary,
    detect_mentions,
    synthetic_pages,
)


# ---------------------------------------------------------------------------
# ngram jaccard df-cap
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_df_cap_preserves_real_neardups(spark):
    """Near-dup pairs share rare shingles → capped result == exact."""
    rows = [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
            for i in range(40)]
    # two near-dup pairs sharing long rare runs
    rows += [(100, "the quick brown fox jumps over the lazy dog today"),
             (101, "the quick brown fox jumps over the lazy dog tonight"),
             (102, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
             (103, "lorem ipsum dolor sit amet consectetur adipiscing sed")]
    df = _docs(spark, rows)
    capped = ngram_jaccard_topk(df, "doc_id", "text", k=2, df_cap=5).collect()
    exact = ngram_jaccard_topk(df, "doc_id", "text", k=2, df_cap=None).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in capped] == \
           [(r.id_a, r.id_b, r.jaccard) for r in exact]
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101), (102, 103)}


def test_ngram_df_cap_kills_hot_shingle_blowup(spark):
    """300 docs sharing ONLY one corpus-wide shingle: the uncapped join
    would build 300·299/2 ≈ 45k candidate pairs from boilerplate; the
    capped path drops the hot posting list and yields none."""
    n = 300
    rows = [(i, f"unique{i} alone{i} solo{i} common hot shingle")
            for i in range(n)]
    df = _docs(spark, rows)
    capped = ngram_jaccard_topk(df, "doc_id", "text", k=50, df_cap=10).collect()
    assert capped == []  # boilerplate-only pairs are not near-dups
    exact = ngram_jaccard_topk(df, "doc_id", "text", k=50, df_cap=None).collect()
    assert len(exact) == 50  # uncapped drowns in hot-shingle pairs


# ---------------------------------------------------------------------------
# embedding block cap
# ---------------------------------------------------------------------------


def test_embedding_block_cap_equals_exact_for_small_blocks(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    capped = {(r.id_a, r.id_b, r.cos_sim) for r in embedding_dup_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.3,
        max_block_size=100_000).collect()}
    exact = {(r.id_a, r.id_b, r.cos_sim) for r in embedding_dup_pairs(
        emb, "vec_id", "embedding", "label", threshold=0.3,
        max_block_size=None).collect()}
    assert capped == exact


def test_embedding_block_cap_subsplits_giant_block(spark):
    """One 400-vector block with clustered sign patterns: the cap
    sub-splits it and still finds every within-cluster near-dup."""
    import math

    rows = []
    for i in range(400):
        cluster = i % 4
        # one orthant per cluster (signs differ across clusters), tiny
        # deterministic jitter within a cluster
        base = [(1.0 if (cluster >> b) & 1 else -1.0) for b in range(2)]
        vec = [base[0], base[1]] + [1.0, 0.5 + (i % 7) * 1e-4]
        norm = math.sqrt(sum(x * x for x in vec))
        rows.append((i, [x / norm for x in vec], "B"))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    capped = embedding_dup_pairs(emb, "vec_id", "embedding", "label",
                                 threshold=0.999, max_block_size=150)
    exact = embedding_dup_pairs(emb, "vec_id", "embedding", "label",
                                threshold=0.999, max_block_size=None)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    want = {(r.id_a, r.id_b) for r in exact.collect()}
    # same-orthant near-dups all survive the sub-split
    same_cluster = {p for p in want if p[0] % 4 == p[1] % 4}
    assert same_cluster and same_cluster <= got
    # the sub-split never invents pairs
    assert got <= want


# ---------------------------------------------------------------------------
# detect_mentions dictionary regimes
# ---------------------------------------------------------------------------


def test_detect_mentions_large_dict_not_in_plan(spark):
    """A dictionary above the InSet cap must not compile into the plan;
    both regimes return identical mentions."""
    pages = synthetic_pages(spark, 400, n_entities=256, partitions=4)
    aliases = alias_dictionary(spark, 256)

    small = detect_mentions(pages, aliases)  # 256 ≤ cap → InSet path
    large = detect_mentions(pages, aliases, max_inset_aliases=10)  # force big path

    plan = large._jdf.queryExecution().optimizedPlan().toString()
    assert "Entity Alias 200" not in plan  # dictionary values absent

    key = lambda df: {(r.url, r.alias, r.entity_iri) for r in df.collect()}  # noqa: E731
    assert key(small) == key(large)
    small_plan = small._jdf.queryExecution().optimizedPlan().toString()
    assert "Entity Alias 200" in small_plan  # InSet regime really differs


def test_dup_clusters_components(spark):
    """Min-label propagation: chains, triangles, singletons."""
    from morph_kgc_spark.operators.dedup import dup_clusters

    ids = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    # chain 0-1-2-3, triangle 4-5-6 (+edge 6-4), pair 7-8, singleton 9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (7, 8)],
        ["id_a", "id_b"])
    out = {r.doc_id: r.cluster_id
           for r in dup_clusters(ids, pairs, "doc_id").collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 9}


def test_dup_clusters_long_chain_pointer_doubling(spark):
    """A 40-node path converges well inside max_iterations thanks to
    pointer doubling (plain propagation would need ~40 rounds)."""
    from morph_kgc_spark.operators.dedup import dup_clusters

    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["id_a", "id_b"])
    out = dup_clusters(ids, pairs, "doc_id", max_iterations=10).collect()
    assert {r.cluster_id for r in out} == {0}


def test_scrub_pii_masks_and_counts(spark):
    from morph_kgc_spark.operators.text import scrub_pii

    df = spark.createDataFrame([
        (1, "mail me at jo.doe+x@corp.example.org thanks"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "clean text only"),
        (4, "two a@b.io c.d@e.fr and 12345678901"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in scrub_pii(df, "doc_id", "text").collect()}
    assert out[1].clean_text == "mail me at <EMAIL> thanks"
    assert (out[1].n_emails, out[1].n_numbers) == (1, 0)
    assert out[2].clean_text == "call <NUMBER> now"
    assert (out[2].n_emails, out[2].n_numbers) == (0, 1)
    assert out[3].clean_text == "clean text only"
    assert out[4].n_emails == 2 and out[4].n_numbers == 1


def test_kmeans_cells_deterministic_and_correct(spark):
    """Deterministic Lloyd's quantizer: min-id seeds, scaled-integer
    means, lowest-cell tie-break — two well-separated clusters assign
    exactly; repeat runs produce identical centroids."""
    from morph_kgc_spark.operators.similarity import (
        kmeans_cells,
        kmeans_train,
    )

    rows = [(i, [10.0 + (i % 3) * 0.1, 10.0]) for i in range(6)] + \
           [(i, [-10.0, -10.0 - (i % 3) * 0.1]) for i in range(6, 12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = {r.vec_id: r.cell
             for r in kmeans_cells(df, "vec_id", "embedding",
                                   k=2, iters=3).collect()}
    # seeds are ids 0 and 1 (both in the + cluster) — after updates the
    # two centroids separate into the two real clusters
    assert len(set(cells.values())) == 2
    assert {cells[i] for i in range(6)} != {cells[i] for i in range(6, 12)}
    c1 = kmeans_train(df, "vec_id", "embedding", k=2, iters=3)
    c2 = kmeans_train(df, "vec_id", "embedding", k=2, iters=3)
    assert c1 == c2  # bit-identical across runs


def test_kmeans_farthest_point_separates_minid_collapse(spark):
    """Round-6 directive #6: three well-separated clusters whose
    LOWEST-id vectors all sit in cluster A. min-id seeding puts every
    seed in A and (with one update round) cannot split B from C;
    deterministic farthest-point seeding picks one seed per cluster and
    separates all three. Both inits are RNG-free and repeatable."""
    from morph_kgc_spark.operators.similarity import (
        kmeans_cells,
        kmeans_train,
    )

    rows = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(6)]          # A
            + [(10 + i, [100.0 + i * 0.01, 0.0]) for i in range(3)]  # B
            + [(20 + i, [0.0 + i * 0.01, 100.0]) for i in range(3)])  # C
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def groups(cells):
        a = {cells[i] for i in range(6)}
        b = {cells[10 + i] for i in range(3)}
        c = {cells[20 + i] for i in range(3)}
        return a, b, c

    def separated(cells):
        a, b, c = groups(cells)
        return len(a) == len(b) == len(c) == 1 and len(a | b | c) == 3

    minid = {r.vec_id: r.cell
             for r in kmeans_cells(df, "vec_id", "embedding",
                                   k=3, iters=2).collect()}
    assert not separated(minid), \
        "fixture sanity: min-id seeding must fail to separate the clusters"

    fp = {r.vec_id: r.cell
          for r in kmeans_cells(df, "vec_id", "embedding",
                                k=3, iters=2, init="farthest").collect()}
    assert separated(fp), \
        f"farthest-point must separate all three clusters, got {fp}"

    s1 = kmeans_train(df, "vec_id", "embedding", k=3, iters=2,
                      init="farthest")
    s2 = kmeans_train(df, "vec_id", "embedding", k=3, iters=2,
                      init="farthest")
    assert s1 == s2  # bit-identical across runs


def test_kmeans_rejects_non_finite_seed(spark):
    """Round-6 advice: a NaN coordinate reaching the seed set raises a
    clear ValueError naming the vector, not a Spark SQL parse error."""
    import pytest as _pytest

    from morph_kgc_spark.operators.similarity import kmeans_train

    rows = [(0, [float("nan"), 1.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="id=0.*non-finite"):
        kmeans_train(df, "vec_id", "embedding", k=2, iters=2)


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """A centroid that captures no vectors keeps its position instead of
    producing nulls (the oracle's COALESCE twin)."""
    from morph_kgc_spark.operators.similarity import kmeans_train

    # ids 0,1 seed at the SAME point: every vector ties to the lower
    # cell, so cell 1 captures nothing in round 1 and must keep its seed
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]),
            (2, [0.2, 0.0]), (3, [0.3, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_train(df, "vec_id", "embedding", k=2, iters=2)
    assert cents[1] == [0.0, 0.0]  # kept via the empty-cell fallback
    assert cents[0] != [0.0, 0.0]  # cell 0 moved to the members' mean
    assert all(x is not None for c in cents for x in c)


# ---------------------------------------------------------------------------
# signature contraction + the CC edge layout and join-strategy branches
# ---------------------------------------------------------------------------


def _cluster_rows(df):
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def test_simhash_contraction_parity(spark):
    """Contracting equal-signature docs into min-id representatives
    before the banded join must produce EXACTLY the uncontracted
    simhash_pairs -> dup_clusters composition's clusters."""
    from morph_kgc_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    direct = _cluster_rows(D.dup_clusters(
        docs.select("doc_id"),
        D.simhash_pairs(docs, "doc_id", "text", max_hamming=6, lazy=True),
        "doc_id"))
    contracted = _cluster_rows(
        D.simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6))
    assert contracted == direct


def _spy_dup_clusters(D, monkeypatch):
    """Record what simhash_dup_clusters hands dup_clusters: the
    representative count, the pair count and the edge layout."""
    seen = []
    real = D.dup_clusters

    def spy(ids, pairs, id_col, **kw):
        seen.append((ids.count(), pairs.count(), kw.get("dense")))
        return real(ids, pairs, id_col, **kw)

    monkeypatch.setattr(D, "dup_clusters", spy)
    return seen


def test_simhash_all_duplicate_corpus(spark, monkeypatch):
    """40 copies of one text contract into ONE representative with zero
    pairs, and expand back into one 40-member cluster."""
    from morph_kgc_spark.operators import dedup as D

    seen = _spy_dup_clusters(D, monkeypatch)
    docs = spark.createDataFrame(
        [(i, "the same small text") for i in range(40)], "doc_id long, text string")
    rows = _cluster_rows(
        D.simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6))
    assert seen == [(1, 0, False)]
    assert {c for _, c in rows} == {0} and len(rows) == 40


def test_simhash_null_text_is_its_own_cluster(spark):
    """A NULL text has no tokens and so no signature; it must still come
    out as its own singleton, as in the DuckDB oracle (and the composed
    simhash_pairs -> dup_clusters path)."""
    import duckdb

    from morph_kgc_spark import oracles
    from morph_kgc_spark.operators import dedup as D

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, None), (4, ""),
            (5, "x y z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _cluster_rows(
        D.simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6))
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = sorted(con.execute(oracles.dedup_clusters()).fetchall())
    finally:
        con.close()
    assert (3, 3) in want
    assert got == want


def test_simhash_edge_layout_follows_band_probe(spark, monkeypatch):
    """The representatives' band-probe bound picks the CC edge layout:
    doubled edges below _CC_DUAL_EDGE_MAX, single-direction above —
    with the same clusters either way."""
    from morph_kgc_spark.operators import dedup as D

    seen = _spy_dup_clusters(D, monkeypatch)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sparse = _cluster_rows(
        D.simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6))
    monkeypatch.setattr(D, "_CC_DUAL_EDGE_MAX", 0)
    dense = _cluster_rows(
        D.simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6))
    assert [d for _, _, d in seen] == [False, True]
    assert seen[0][1] > 0 and dense == sparse


def test_dup_clusters_dense_mode_parity(spark, monkeypatch):
    """dense=True (single-direction edges, both-side per-round
    aggregates) and the dense=None staging decision must yield the
    same fixpoint as the sparse doubled-edge mode."""
    from morph_kgc_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = docs.select("doc_id")

    def pairs():
        return D.simhash_pairs(docs, "doc_id", "text", max_hamming=6,
                               lazy=True)

    sparse = _cluster_rows(D.dup_clusters(ids, pairs(), "doc_id",
                                          dense=False))
    dense = _cluster_rows(D.dup_clusters(ids, pairs(), "doc_id",
                                         dense=True))
    assert dense == sparse
    # dense=None decides from a staging checkpoint count; forcing the
    # threshold to 0 routes even this tiny graph through dense mode
    monkeypatch.setattr(D, "_CC_DUAL_EDGE_MAX", 0)
    decided = _cluster_rows(D.dup_clusters(ids, pairs(), "doc_id"))
    assert decided == sparse


def test_dup_clusters_shuffle_rounds_match_broadcast(spark, monkeypatch):
    """Above _CC_BROADCAST_MAX_NODES the rounds shuffle-join instead of
    broadcasting the label table; the 40-node path clusters the same."""
    from morph_kgc_spark.operators import dedup as D

    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  ["id_a", "id_b"])
    broadcasts = []
    real = D.F.broadcast

    def spy(df):
        broadcasts.append(df)
        return real(df)

    monkeypatch.setattr(D.F, "broadcast", spy)
    default = _cluster_rows(D.dup_clusters(ids, pairs, "doc_id"))
    assert broadcasts
    broadcasts.clear()
    monkeypatch.setattr(D, "_CC_BROADCAST_MAX_NODES", 0)
    shuffled = _cluster_rows(D.dup_clusters(ids, pairs, "doc_id"))
    assert not broadcasts
    assert shuffled == default == [(i, 0) for i in range(n)]
