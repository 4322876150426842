"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Designed for 100 TB corpora:
- exact dedup is one hash-aggregate (map-side partial combine free);
- MinHash signatures are computed with ONE shuffle (explode shingles →
  groupBy doc with 16 min() aggregates), LSH banding turns the quadratic
  candidate problem into an equi-join on (band, bucket);
- SimHash is 32 conditional-sum aggregates over exploded tokens — one
  shuffle, then Hamming-adjacent pairs come from the banded prefix join;
- n-gram Jaccard is exact pairwise similarity restricted to
  candidate pairs that share ≥1 shingle (posting-list join — never the
  full cross product);
- embedding near-dup blocks on a coarse key (label / IVF cell) before the
  exact cosine.

Every hash is md5-derived (functions/hashing.py) so the DuckDB oracle
computes identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from morph_kgc_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    N_PERMS,
    h64,
    h64_spark_sql,
    perm_sql,
)
from morph_kgc_spark.operators import cache
from morph_kgc_spark.operators.text import (
    _parallelize_narrow,
    tokens,
    word_ngrams,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate clusters by md5(text).

    Returns (content_hash, keep_id, n_dups) — keep_id is the min id, the
    canonical survivor. One hash-partitioned aggregate; at 100 TB this is
    the cheapest possible dedup (no sort, partials combine map-side).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                   n: int = 3) -> DataFrame:
    """Per-doc DISTINCT word n-gram shingles as an array: (id, grams).

    Tokens are materialized in a separate projection first — Catalyst
    does no CSE inside transform() lambdas, so inlining split(text) into
    word_ngrams would re-split the text for every element_at. The
    per-doc set dedup is ``array_distinct`` INSIDE the row: the
    explode + dropDuplicates formulation shuffles the entire posting
    stream (at 100 TB that is shingles-per-doc × corpus, the largest
    shuffle in the whole pipeline) to deduplicate what is a purely
    row-local set — and on repetitive near-dup corpora the distinct set
    is a small fraction of the raw stream, so everything downstream of
    the explode (hashing, aggregation, joins) shrinks by that factor
    too (measured ~20× on the synthetic documents table).
    """
    tok = _parallelize_narrow(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__tok"))
    return tok.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col("__tok"), n)).alias("grams"),
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle) — zero-shuffle.

    ``explode_outer`` + not-null filter, NOT plain ``explode``: for a
    non-outer generate Catalyst's InferFiltersFromGenerate infers
    ``size(grams) > 0`` and pushes it below the projections, inlining
    the whole tokenize→n-gram→distinct expression tree into an
    interpreted Filter where split(text) is re-evaluated per element_at
    — O(tokens²) per row and a second full pass (measured 20×). The
    outer generate infers nothing; the filter on the GENERATED column
    cannot be pushed below the generate and stays a cheap null check.
    """
    return shingle_arrays(df, id_col, text_col, n).select(
        F.col(id_col), F.explode_outer("grams").alias("shingle")
    ).where(F.col("shingle").isNotNull())


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3) -> DataFrame:
    """(id, sig_0..sig_15): min over shingles of 16 md5-derived permutations.

    One explode + one codegen hash-aggregate (16 min() aggs with
    map-side partial combine). Deliberately NOT a per-row
    ``transform``/``array_min`` formulation: lambda bodies of
    higher-order functions are evaluated INTERPRETED (no whole-stage
    codegen), and an interpreted md5 per shingle is ~8× slower than this
    exploded codegen pipeline — measured, not guessed. The explode is
    cheap because the per-doc set dedup already happened row-locally in
    :func:`shingle_arrays`.
    """
    sh = shingles(df, id_col, text_col, n)
    # one F.expr per aggregate instead of ~7 py4j Column calls each
    # (16 perms × 7 ≈ 112 driver round-trips; part of the round-4
    # plan-build fixed cost) — the parsed Catalyst tree is identical.
    # The md5 is materialized ONCE per shingle in its own projection:
    # inlining h64(shingle) into all 16 min() aggregates relies on
    # codegen subexpression elimination that only partially fires
    # (measured 0.43 → 0.28 s at sf0.1 for the signature aggregate).
    hashed = sh.select(F.col(id_col),
                       F.expr(f"{h64_spark_sql('`shingle`')} AS __h"))
    aggs = [F.expr(f"min({perm_sql('__h', i)}) AS sig_{i}")
            for i in range(N_PERMS)]
    return hashed.groupBy(id_col).agg(*aggs)


def _grouped_pairs(df: DataFrame, keys: list[str], item,
                   bucket_cap: int | None = None,
                   extra_cols: list[str] = ()) -> DataFrame:
    """All unordered item pairs within each key group — ONE shuffle.

    ``groupBy(keys) + sort_array(collect_list(item))`` then a per-row
    lambda emits the i<j pairs (columns ``a`` / ``b``, sorted order, so
    a < b without a post-filter). This replaces the two-sided bucket
    self-join (two shuffle writes + a persist of the bucket stream, and
    aliased self-join sides get no ReusedExchange) with a single
    aggregation shuffle.

    Output size is Σ|bucket|² either way — that quadratic is inherent to
    exact within-bucket pairing, not to this plan. ``bucket_cap`` bounds
    the degenerate case (a bucket of near-identical boilerplate docs):
    groups larger than the cap emit a STAR (first item paired with each
    other item) instead of all pairs — O(b) rows, connectivity-preserving
    (every member still reaches the same connected component through the
    hub), so clustering consumers lose nothing; pair-level consumers that
    verify each candidate edge should leave the cap off.
    """
    grouped = (
        df.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(item)).alias("items"))
        .where(F.size("items") >= 2)
    )
    full = F.flatten(F.transform(
        "items",
        lambda a, i: F.transform(
            F.slice("items", i + 2, F.size("items")),
            lambda b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ))
    if bucket_cap is None:
        pairs = full
    else:
        star = F.transform(
            F.slice("items", 2, F.size("items")),
            lambda b: F.struct(F.element_at("items", 1).alias("a"),
                               b.alias("b")),
        )
        pairs = F.when(F.size("items") > bucket_cap, star).otherwise(full)
    # explode_outer: a plain explode makes InferFiltersFromGenerate
    # duplicate the whole pair-generation lambda into a size()>0 Filter
    # (evaluated interpreted, once more per group)
    extra = list(extra_cols)
    # a != b: duplicate ITEMS in one group (same id collected twice)
    # sort adjacent and would emit a self-pair — the old self-join
    # formulation's id_a < id_b excluded those (round-4 advice). Items
    # that differ only outside the id field are the CALLER's contract
    # (pair operators re-filter on the id fields).
    return (grouped.select(*extra, F.explode_outer(pairs).alias("p"))
            .where(F.col("p").isNotNull())
            .where(F.col("p.a") != F.col("p.b"))
            .select(*extra, F.col("p.a").alias("a"), F.col("p.b").alias("b")))


def _band_bucket_expr():
    """Bucket-vector expression over a signature row: one md5 per LSH
    band of its signature slice — the ONE place the banding scheme
    (layout, hash, separator) is written; :func:`minhash_lsh_pairs`
    and :func:`_band_buckets` both build from it, and the DuckDB twin
    is oracles._minhash_bands_sql."""
    return F.expr("array(%s)" % ", ".join(
        "md5(concat_ws('|', %s))" % ", ".join(
            f"CAST(sig_{b * LSH_ROWS + r} AS STRING)"
            for r in range(LSH_ROWS))
        for b in range(LSH_BANDS)))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, lazy: bool = False,
                      bucket_cap: int | None = None) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Banding: 4 bands × 4 rows; bucket = md5 of the band's signature
    slice. Three shuffles total: the signature aggregate, one grouping
    shuffle for within-bucket pairing (:func:`_grouped_pairs` — md5
    buckets are genuinely small, cardinality ~ corpus / dup-cluster
    size, so collecting a bucket into a row is safe where it is NOT for
    simhash's coarse bands), and the cross-band pair dedup. The
    signature stream is consumed exactly once (no self-join), so
    nothing is PERSISTED in either mode — but the default mode still
    eagerly ``localCheckpoint``-s the (small) pair result so a caller
    that reads it more than once (e.g. counts the pairs, then clusters
    them) does not recompute the whole tokenize→minhash→pair pipeline
    per read, the same contract as the sibling pair operators;
    ``lazy=True`` skips that for single-read callers. ``bucket_cap``
    star-pairs degenerate buckets (see :func:`_grouped_pairs`).
    """
    sigs = minhash_signatures(df, id_col, text_col, n)
    buckets = _band_bucket_expr()
    # one explode of the band INDEX instead of LSH_BANDS unions (which
    # would recompute the signature projection per band); every item
    # carries its full bucket vector so cross-band dedup is a per-pair
    # lambda, not a shuffle (see below)
    bands = sigs.select(F.col(id_col), buckets.alias("bkts")).select(
        F.col(id_col), F.col("bkts"),
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).select(
        id_col, "bkts", "band",
        F.element_at("bkts", F.col("band") + 1).alias("bucket"),
    )
    item = F.struct(F.col(id_col).alias("id"), F.col("bkts").alias("bkts"))
    pairs = _grouped_pairs(bands, ["band", "bucket"], item, bucket_cap,
                           extra_cols=["band"])
    if bucket_cap is None:
        # FIRST-MATCHING-BAND dedup: a pair sharing k bands would come
        # out k times; instead of a full dropDuplicates shuffle of the
        # pair set (at corpus scale: a shuffle as large as the
        # candidate set), keep the pair only in the lowest band where
        # its buckets agree — a row-local array comparison. With
        # bucket_cap the star strategy can suppress a pair in its first
        # band, so the shuffle dedup remains the correct fallback.
        earlier_match = F.exists(
            F.zip_with(F.slice(F.col("a.bkts"), 1, F.col("band")),
                       F.slice(F.col("b.bkts"), 1, F.col("band")),
                       lambda x, y: x == y),
            lambda eq: eq)
        out = (pairs.where(~earlier_match)
               .select(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
               .where(F.col("id_a") != F.col("id_b")))
    else:
        out = (pairs.select(F.col("a.id").alias("id_a"),
                            F.col("b.id").alias("id_b"))
               .where(F.col("id_a") != F.col("id_b"))
               .dropDuplicates())
    return out if lazy else out.localCheckpoint()


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 32) -> DataFrame:
    """(id, simhash): 32-bit SimHash over word tokens.

    Per-bit majority vote of token h64 hashes; computed as `bits`
    conditional sums over the exploded token stream — a single codegen
    hash-aggregate shuffle with map-side partial combine. (A per-row
    ``F.aggregate`` over the token array avoids the shuffle but runs the
    md5 interpreted inside the lambda — measured ~10× slower; see
    :func:`minhash_signatures`.)
    """
    # explode_outer avoids InferFiltersFromGenerate re-evaluating the
    # split per row in a pushed-down size()>0 filter (split never yields
    # an empty array, so no row is actually droppable anyway)
    tok = _parallelize_narrow(df, id_col).select(
        F.col(id_col),
        F.explode_outer(tokens(F.col(text_col))).alias("token"),
    ).where(F.col("token").isNotNull())
    # F.expr strings: the Column form of these `bits`-wide expression
    # lists paid ~200 py4j round-trips of driver plan-build per query.
    # md5 once per token in a projection (see minhash_signatures — the
    # 32 inlined copies only partially CSE in codegen).
    hashed = tok.select(F.col(id_col),
                        F.expr(f"{h64_spark_sql('`token`')} AS __h"))
    sums = [
        F.expr(f"sum(CASE WHEN (shiftright(__h, {j}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS b{j}")
        for j in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*sums)
    sim = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2 ** j}L ELSE 0L END)"
        for j in range(bits))
    return agg.select(F.col(id_col), F.expr(f"({sim}) AS simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 6, bits: int = 32,
                  n_bands: int | None = None, lazy: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding: split the signature into ``n_bands`` bands; a
    pair within hamming ``n_bands - 1`` differs in at most ``n_bands-1``
    *covered* bits, so some band is untouched and the pair shares it —
    candidates come from an equi-join on (band_idx, band_value) and the
    exact hamming (bit_count of xor) filters them. One signature shuffle
    + one banded self-join — never all-pairs.

    Completeness therefore requires ``n_bands >= max_hamming + 1``
    (default: derived). Bits above ``n_bands * (bits // n_bands)`` being
    uncovered is harmless: differences there never *prevent* a band
    match, and the exact hamming filter runs on the full signature.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall for "
            f"max_hamming={max_hamming}: pigeonhole needs n_bands >= "
            f"max_hamming + 1 = {max_hamming + 1}")
    sig = simhash(df, id_col, text_col, bits=bits).persist()
    pairs = _simhash_pairs_from_sig(sig, id_col, max_hamming, bits, n_bands)
    if lazy:
        # single-consumption mode: no eager checkpoint; the signature
        # cache stays attached to the result until cache.release(result)
        return cache.own(pairs, [sig])
    try:
        return pairs.localCheckpoint()
    finally:
        sig.unpersist()


def _simhash_pairs_from_sig(sig: DataFrame, id_col: str, max_hamming: int,
                            bits: int, n_bands: int) -> DataFrame:
    # a two-sided equi-join, NOT the collect_list grouped pairing used
    # for minhash buckets: simhash bands are only ``bits/n_bands`` wide
    # (16 distinct values at 32/7), so a band group holds a large slice
    # of the corpus — collecting it into one row serializes the
    # within-group quadratic into a single task, while the join streams
    # it through codegen across tasks. The persisted signature is shared
    # by both join sides (aliased self-join sides get no ReusedExchange).
    #
    # FIRST-MATCHING-BAND dedup (round 7): a pair sharing k bands comes
    # out of the join k times; both full signatures ride on the joined
    # row, so "is this the lowest matching band" is pure row-local bit
    # arithmetic — a matching-band bitmask with no set bit below the
    # join band — and the cross-band ``dropDuplicates`` exchange (at
    # sf0.1: a 1.66M-pair shuffle, the operator's largest) disappears.
    # Each qualifying pair is emitted exactly once, from its lowest
    # matching band, so the output SET is unchanged.
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.expr("explode(array(%s))" % ", ".join(
            f"struct({b} AS band, "
            f"shiftright(simhash, {b * width}) & {mask} AS val)"
            for b in range(n_bands))).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"),
             F.col("bb.val").alias("val"))
    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
                     "band", "val")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
                     "band", "val")
    match_mask = " + ".join(
        f"(CASE WHEN (shiftright(sh_a, {bb * width}) & {mask}) = "
        f"(shiftright(sh_b, {bb * width}) & {mask}) "
        f"THEN {1 << bb}L ELSE 0L END)"
        for bb in range(n_bands))
    return (
        a.join(b, on=["band", "val"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.expr(
            f"(({match_mask}) & (shiftleft(1L, band) - 1)) = 0"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_topk(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, k: int = 10,
                       df_cap: int | None = 1000,
                       lazy: bool = False) -> DataFrame:
    """Top-k most similar pairs by exact n-gram Jaccard.

    Hot-shingle-safe at corpus scale via a rare/hot posting split:

    - shingles with document frequency ≤ ``df_cap`` (*rare*) self-join
      exactly as the exhaustive plan does — one equi-join + groupBy
      counting the rare part of each pair's intersection. A corpus-wide
      common 3-gram (df ≈ N) would blow that join to ~N² rows; the cap
      bounds it at Σ min(df, cap)².
    - *hot* shingles (df > df_cap) never self-join; their exact
      contribution is repaired per CANDIDATE pair by joining the rare
      pairs against the hot postings of each side — cost
      |candidates| × hot-shingles-per-doc, and literally zero extra
      rows when no shingle exceeds the cap (the common case).

    The Jaccard value is therefore exact over ALL shingles for every
    pair that shares ≥1 rare shingle. A pair is only *missed* if its
    overlap is pure boilerplate (no shared shingle rarer than df_cap) —
    noise for near-dup detection. ``df_cap=None`` restores the
    exhaustive single join. Returns (id_a, id_b, jaccard) ordered
    (jaccard desc, id_a, id_b).
    """
    # the shingle stream is a zero-shuffle projection now (per-row
    # array_distinct), so it is NOT persisted: recomputing it per join
    # side is a scan + row-local arithmetic, while caching it at corpus
    # scale is impossible anyway (it is larger than the corpus). Doc
    # sizes are row-local too (array length) — the old groupBy(id) agg
    # shuffle is gone.
    base = shingle_arrays(df, id_col, text_col, n)
    # explode_outer + not-null, same reason as shingles(): a non-outer
    # explode triggers InferFiltersFromGenerate's O(tokens²) pushdown
    sh = base.select(F.col(id_col), F.explode_outer("grams").alias("shingle")) \
             .where(F.col("shingle").isNotNull())
    sizes = base.select(F.col(id_col), F.size("grams").alias("sz"))
    dfreq = None
    if df_cap is not None:
        # statistics-driven plan choice: one small aggregate decides
        # whether any posting list exceeds the cap. No hot shingles →
        # the exhaustive single-join plan IS the capped plan, without
        # the split's extra joins. dfreq is persisted so the probe and
        # the rare/hot splits share one aggregation; the probe is a
        # full max() (a filtered limit(1).count() scans everything
        # anyway in the common no-hot case AND would leave dfreq
        # partially cached).
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df")) \
                  .persist()
        max_df = dfreq.agg(F.max("df")).first()[0]
        if max_df is None or max_df <= df_cap:
            df_cap = None
            dfreq.unpersist()
            dfreq = None
    topk = _ngram_topk(sh, sizes, dfreq, id_col, k, df_cap)
    if dfreq is None:
        # nothing cached, but the eager multi-read contract stays
        # uniform: default mode returns a checkpointed frame so a
        # caller that reads it more than once never recomputes the
        # tokenize→join→top-k pipeline per action
        return topk if lazy else topk.localCheckpoint()
    if lazy:
        return cache.own(topk, [dfreq])
    try:
        return topk.localCheckpoint()
    finally:
        dfreq.unpersist()


def _ngram_topk(sh: DataFrame, sizes: DataFrame, dfreq, id_col: str, k: int,
                df_cap: int | None) -> DataFrame:
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")

    if df_cap is None:
        inter = (
            a.join(b, on="shingle", how="inner")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        rare = dfreq.where(F.col("df") <= df_cap).select("shingle")
        hot = dfreq.where(F.col("df") > df_cap).select("shingle")
        ra = a.join(rare, "shingle")
        rb = b.join(rare, "shingle")
        rare_inter = (
            ra.join(rb, on="shingle", how="inner")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("rare_n"))
        )
        hot_a = a.join(hot, "shingle")
        hot_b = b.join(hot, "shingle")
        hot_inter = (
            rare_inter.select("id_a", "id_b")
            .join(hot_a, "id_a")
            .join(hot_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("hot_n"))
        )
        inter = (
            rare_inter.join(hot_inter, ["id_a", "id_b"], "left")
            .select("id_a", "id_b",
                    (F.col("rare_n")
                     + F.coalesce(F.col("hot_n"), F.lit(0))).alias("inter"))
        )

    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(k)


def ngram_capped_pairs(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, star_cap: int = 64,
                       lazy: bool = False) -> DataFrame:
    """Shingle-sharing candidate pairs with the posting-list skew cap,
    carrying exact Jaccard over ALL shingles: (id_a, id_b, jaccard).

    The uncapped posting self-join (:func:`ngram_jaccard_topk`'s rare
    side) is bounded by Σ df² — an adversarial corpus where one shingle
    appears everywhere makes that quadratic in the corpus. Posting lists
    longer than ``star_cap`` emit a connectivity-preserving STAR (min-id
    hub paired with each other member, the same trick as minhash's
    ``bucket_cap``): O(df) rows, and every member still reaches the
    hub's connected component — clustering consumers (``dup_clusters``)
    lose nothing. Pairs whose every shared shingle is starred away are
    the only loss; within the cap, the pair set and its jaccard values
    are byte-identical to the exhaustive plan's.

    Plan: ONE grouping shuffle builds per-shingle postings and emits the
    capped pairs row-locally (:func:`_grouped_pairs`), a pair-distinct
    collapses multi-shingle duplicates, then the exact jaccard is
    computed ROW-LOCALLY per candidate: two id-equi-joins fetch each
    side's distinct-gram array and ``array_intersect`` counts the
    overlap in place. The exploded shingle stream (corpus ×
    shingles-per-doc rows) is shuffled exactly ONCE — the round-5
    formulation re-shuffled it twice more for posting repair joins plus
    a pair groupBy; those intermediates were |candidates| ×
    shingles-per-doc rows, this one's are |candidates| rows carrying
    two arrays (round-6 directive #2: ≤2 exchanges over the shingle
    stream — interleaved A/B at sf0.1 measured ~4× faster, plan
    shows 1).

    The intersect runs in :func:`h64` space, not string space: each
    side's distinct-gram array is mapped to distinct 60-bit md5 hashes
    once per document, so the |candidates| hot loop intersects 8-byte
    longs instead of ~30-byte strings (measured ~30% off the whole
    query; the broadcast halves too). The DuckDB oracle intersects the
    SAME hash values, so parity is bit-exact even in the 2^-60 event
    of a collision — which is also the only case where the reported
    jaccard deviates from raw-string jaccard (two colliding grams
    count once; same order of error as minhash's own hash family).
    """
    base = shingle_arrays(df, id_col, text_col, n)
    sh = base.select(F.col(id_col), F.explode_outer("grams").alias("shingle")) \
             .where(F.col("shingle").isNotNull())
    cand = (
        _grouped_pairs(sh, ["shingle"], F.col(id_col), bucket_cap=star_cap)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .dropDuplicates()
    )
    gh = base.select(
        F.col(id_col),
        F.array_distinct(F.transform("grams", h64)).alias("__gh"))
    ga = gh.select(F.col(id_col).alias("id_a"), F.col("__gh").alias("__ga"))
    gb = gh.select(F.col(id_col).alias("id_b"), F.col("__gh").alias("__gb"))
    out = (
        cand.join(ga, "id_a").join(gb, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__ga", "__gb")))
        .select(
            "id_a", "id_b",
            F.round(
                F.col("__i").cast("double")
                / (F.size("__ga") + F.size("__gb") - F.col("__i"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return out if lazy else out.localCheckpoint()


# dup-graph node count up to which every CC round joins against a
# broadcast label table (1M rows ≈ tens of MB); above it the rounds
# shuffle-join, the 100 TB shape
_CC_BROADCAST_MAX_NODES = 1_000_000
# stored pair count up to which CC keeps both edge orientations (see the
# edge-storage note in dup_clusters)
_CC_DUAL_EDGE_MAX = 25_000_000


def dup_clusters(ids: DataFrame, pairs: DataFrame, id_col: str,
                 max_iterations: int = 50,
                 dense: bool | None = None) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id).

    ``cluster_id`` is the minimum member id of each component — the
    canonical survivor for a keep-one-per-cluster dedup policy.
    Min-label propagation to fixpoint: each round every node takes the
    min of its own label and its neighbors' labels, converging in
    O(component diameter) rounds (pointer doubling makes it
    O(log diameter)) — near-dup clusters are dense and shallow, so 2-4
    rounds in practice. Each round ends in a ``localCheckpoint``:
    iterative joins otherwise chain the entire lineage, and the logical
    plan grows until plan processing itself blows up — the standard
    Spark iterative-algorithm discipline (GraphX/Pregel does the same).
    The driver only ever sees a changed-row COUNT.

    The iteration runs over DUP-GRAPH NODES ONLY — ids that never
    appear in a pair cannot change label, so they skip the rounds
    entirely and are appended once at the end via one anti-join (at
    100 TB the dup graph is orders of magnitude smaller than the
    corpus, so per-round cost scales with |V(dup graph)|, not
    |corpus|). Components are computed over the subgraph INDUCED ON
    ``ids``: pairs touching an id outside ``ids`` are dropped up front
    (two broadcast-able semi-joins, paid once), so the output has
    exactly one row per input id and every cluster_id is an input id.

    Plan shape: the pair stream is read ONCE; the edge table is
    hash-partitioned on ``dst`` exactly once, then checkpointed WITH
    that partitioning. ``dense`` picks the edge layout (both
    orientations when False, one when True; ``None`` decides from a
    staging count against ``_CC_DUAL_EDGE_MAX`` — see the note at the
    decision site). The label table is one row per dup-graph node,
    known exactly after one count; up to ``_CC_BROADCAST_MAX_NODES``
    rows every per-round join is a map-side BroadcastHashJoin and the
    dst-side neighbor-min aggregate reuses the edges' partitioning —
    ZERO exchanges per sparse-mode round. Above it the rounds fall back
    to shuffle joins (the 100 TB shape). The fixpoint — and therefore
    the output — is identical in every mode; only storage layout and
    join strategy differ (the decisions AQE would make from runtime
    sizes, taken here from exact counts because checkpointed RDDs
    carry no size statistics).
    """
    from morph_kgc_spark.operators.cache import release

    id_set = ids.select(F.col(id_col).alias("node"))
    pairs_in = (
        pairs.join(id_set.withColumnRenamed("node", "id_a"), "id_a",
                   "left_semi")
        .join(id_set.withColumnRenamed("node", "id_b"), "id_b", "left_semi")
    )
    # EDGE STORAGE is tiered (round 7, sf1.0 hardening): the dense
    # synthetic corpus reaches 10^8 true pairs at sf1.0 and a doubled
    # (both orientations) edge checkpoint OOMed a 16 GB local heap.
    # SPARSE graphs (≤ _CC_DUAL_EDGE_MAX stored pairs) store both
    # directions — per-round neighbor-min is then ONE partitioning-
    # reusing aggregate; DENSE graphs keep a single direction (half the
    # storage) and each round aggregates BOTH sides of it (two scans of
    # half the data: same bytes read, two extra node-sized exchanges).
    # ``dense=None`` decides from a staging checkpoint's exact count;
    # callers that can bound the edge count up front
    # (simhash_dup_clusters's banded candidate bound) pass the regime
    # explicitly and skip the staging pass. The fixpoint — and
    # therefore the output — is identical in every mode.
    n_parts = ids.sparkSession.sparkContext.defaultParallelism
    if dense is None:
        edges1 = (
            pairs_in.select(F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst"))
            .repartition(n_parts, "dst")
            .localCheckpoint(eager=False)
        )
        dense = edges1.count() > _CC_DUAL_EDGE_MAX
        src = edges1
    else:
        edges1 = None
        src = pairs_in.select(F.col("id_a").alias("src"),
                              F.col("id_b").alias("dst"))
    if dense:
        edges = src if edges1 is not None else (
            src.repartition(n_parts, "dst").localCheckpoint(eager=False))
    else:
        edges = (
            src.select(F.explode(F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"),
                         F.col("src").alias("dst")),
            )).alias("e"))
            .select("e.src", "e.dst")
            .repartition(n_parts, "dst")
            .localCheckpoint(eager=False)
        )
    # label init FUSED with the first neighbor-min half-round:
    # lbl_0(x) = min(x, min over neighbors) comes out of the same
    # aggregate(s) that would otherwise just distinct the node set, so
    # the iteration starts one propagation step ahead for free (round 7)
    if not dense:
        labels = (edges.groupBy(F.col("dst").alias("node"))
                  .agg(F.least(F.col("dst"), F.min("src")).alias("lbl"))
                  .localCheckpoint(eager=False))
    else:
        labels = (
            edges.groupBy(F.col("dst").alias("node"))
            .agg(F.least(F.col("dst"), F.min("src")).alias("lbl"))
            .unionByName(
                edges.groupBy(F.col("src").alias("node"))
                .agg(F.least(F.col("src"), F.min("dst")).alias("lbl")))
            .groupBy("node").agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    # one count materializes the checkpoints (labels scans edges) and
    # yields the EXACT node count for the broadcast-vs-shuffle decision
    n_nodes = labels.count()
    if edges1 is not None and edges is not edges1:
        # the doubled table is materialized now — the single-direction
        # staging checkpoint is dead weight
        release(edges1)
    bcast = (lambda df: F.broadcast(df)) \
        if n_nodes <= _CC_BROADCAST_MAX_NODES else (lambda df: df)

    prev = labels
    for _ in range(max_iterations):
        if not dense:
            neighbor_min = (
                edges.join(bcast(labels), edges["src"] == labels["node"])
                .groupBy(F.col("dst").alias("__n"))
                .agg(F.min("lbl").alias("nlbl"))
            )
        else:
            nb_dst = (
                edges.join(bcast(labels), edges["src"] == labels["node"])
                .groupBy(F.col("dst").alias("__n"))
                .agg(F.min("lbl").alias("nlbl"))
            )
            nb_src = (
                edges.join(bcast(labels), edges["dst"] == labels["node"])
                .groupBy(F.col("src").alias("__n"))
                .agg(F.min("lbl").alias("nlbl"))
            )
            neighbor_min = (nb_dst.unionByName(nb_src)
                            .groupBy("__n").agg(F.min("nlbl").alias("nlbl")))
        merged = (
            labels.join(bcast(neighbor_min),
                        labels["node"] == neighbor_min["__n"], "left")
            .select(F.col("node"), F.col("lbl").alias("old_lbl"),
                    F.least(F.col("lbl"), F.coalesce(F.col("nlbl"),
                                                     F.col("lbl"))).alias("lbl"))
        )
        # pointer doubling: follow the label's own label (labels are
        # monotone decreasing, so lbl[lbl[x]] <= lbl[x]) — propagation
        # distance doubles per round → O(log diameter) rounds. The hop
        # side recomputes `merged`, but in broadcast mode that is a
        # node-sized map-side plan (measured: hopping through the
        # in-flight labels converges one round earlier than hopping
        # through the previous round's).
        hop = merged.select(F.col("node").alias("h_node"),
                            F.col("lbl").alias("h_lbl"))
        new_labels = (
            merged.join(bcast(hop), merged["lbl"] == hop["h_node"], "left")
            .select(F.col("node"), F.col("old_lbl"),
                    F.least(F.col("lbl"), F.coalesce(F.col("h_lbl"),
                                                     F.col("lbl"))).alias("lbl"))
            # lazy: the convergence aggregate below is the FIRST action on
            # this frame, so ONE job per round both materializes the
            # checkpoint blocks (truncating lineage) and computes the
            # changed count — round 3 ran two jobs per round (eager
            # checkpoint, then a limit(1).count() probe). The aggregate
            # must be a full scan (it is): an early-exiting limit would
            # leave unmaterialized partitions behind a truncated lineage.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum(
            (F.col("lbl") != F.col("old_lbl")).cast("long")
        ).alias("c")).first()["c"] or 0
        # the new round is materialized: the previous round's checkpoint
        # blocks are dead weight — release them (superseded rounds
        # otherwise accumulate one labels copy per iteration)
        release(prev)
        prev = new_labels
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    # singletons (never in a pair) are their own cluster: one anti-join
    # against the dup-node set, paid once — not once per round
    singletons = (
        ids.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("lbl"))
    )
    # the result is checkpointed BEFORE its inputs are released: the
    # final round's blocks back `labels`, and a checkpointed plan
    # cannot recompute released dependencies
    out = (labels.unionAll(singletons)
           .select(F.col("node").alias(id_col),
                   F.col("lbl").alias("cluster_id")).localCheckpoint())
    release(edges)
    release(prev)
    return out


def simhash_dup_clusters(df: DataFrame, id_col: str, text_col: str,
                         max_hamming: int = 6, bits: int = 32,
                         n_bands: int | None = None) -> DataFrame:
    """Connected components over SimHash near-dup pairs — the
    :func:`simhash_pairs` → :func:`dup_clusters` composition over
    signature-CONTRACTED documents.

    Documents sharing an identical signature are pairwise linked by
    construction (equal signatures agree on every band and are at
    hamming 0 ≤ max_hamming), so each signature-equivalence class
    contracts into its min-id representative BEFORE the banded pair
    join: an inter-class doc pair exists iff the same pair of signature
    VALUES passes the band+hamming test, i.e. iff the representatives
    are paired — components of the contracted graph expand to exactly
    the components of the full doc graph, and the component minimum is
    preserved (each representative is already its class minimum).
    Output is therefore IDENTICAL to the uncontracted composition
    (oracle hash pinned). The contraction removes every intra-class
    pair (sf1.0: 164M raw doc pairs become 54M signature pairs; the
    5k-doc benchmark corpus: 15.7k become 9.5k).

    The CC edge layout comes from a ~free DENSITY PROBE over the
    representatives: the banded self-join's candidate volume is
    Σ n·(n−1)/2 over (band, value) groups, an upper bound on the pairs
    CC stores, and simhash bands have at most n_bands · 2^(bits/n_bands)
    distinct keys (112 at 32/7) — one map-side-combined aggregate
    collecting ~a hundred rows at ANY corpus size. Above
    ``_CC_DUAL_EDGE_MAX`` candidates CC runs in dense single-direction
    edge mode, otherwise in the doubled-edge mode — the decision
    ``dup_clusters(dense=None)`` would take, without its staging pass.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    sig = simhash(df, id_col, text_col, bits=bits).persist()
    rep = (sig.groupBy("simhash").agg(F.min(id_col).alias("__rep"))
           .persist())
    reps = rep.select(F.col("__rep").alias(id_col), F.col("simhash"))
    width = bits // n_bands
    mask = (1 << width) - 1
    band_counts = (reps.select(F.expr("explode(array(%s))" % ", ".join(
        f"struct({b} AS band, shiftright(simhash, {b * width}) & {mask} "
        f"AS val)" for b in range(n_bands))).alias("bb"))
        .groupBy("bb.band", "bb.val").count().collect())
    cand_bound = sum(r["count"] * (r["count"] - 1) // 2 for r in band_counts)
    pairs = _simhash_pairs_from_sig(reps, id_col, max_hamming, bits, n_bands)
    rc = dup_clusters(reps.select(id_col), pairs, id_col,
                      dense=cand_bound > _CC_DUAL_EDGE_MAX)
    rep_clusters = rc.withColumnRenamed(id_col, "__rep")
    # a NULL text has no tokens, hence no signature: it is its own
    # singleton cluster (a non-NULL string always splits into ≥ 1 token)
    null_text = df.where(F.col(text_col).isNull()).select(
        F.col(id_col), F.col(id_col).alias("cluster_id"))
    try:
        out = (sig.join(rep, "simhash")
               .join(rep_clusters, "__rep")
               .select(F.col(id_col), F.col("cluster_id"))
               .unionByName(null_text)
               .localCheckpoint())
    finally:
        # release the checkpoint-backed handle, not the renamed
        # derivative (the wrapper attribute does not survive the rename)
        cache.release(rc)
        sig.unpersist()
        rep.unpersist()
    return out


def keep_canonical(docs: DataFrame, pairs: DataFrame, id_col: str,
                   score_col) -> DataFrame:
    """The end-state of a dedup pipeline: ONE survivor per near-dup
    cluster — highest ``score_col``, minimum id on ties — with the
    cluster's size attached. ``pairs`` is any candidate-pair frame
    (``minhash_lsh_pairs`` / ``simhash_pairs`` / …); clustering is
    :func:`dup_clusters`' connected components, so transitively-linked
    docs compete for one slot even when no direct pair connects them.
    Singletons survive trivially with cluster_size 1.

    Output: (``id_col``, cluster_id, cluster_size, score). The result
    owns the clustering's checkpoint: ``cache.release`` it when done.

    Scale shape: the clustering's iterative joins (see
    :func:`dup_clusters`), then ONE id-equi-join to attach scores and
    ONE aggregate shuffled on cluster_id whose output is one row per
    cluster. The survivor argmax is a map-side-combinable
    ``min(struct(-score, id))`` — no window, no per-cluster sort, no
    row_number skew (a window over a 10^8-member degenerate cluster
    would sort it on one task; the struct-min reduces it). Score must
    be numeric (it is negated for the combined argmax/tiebreak order);
    a NULL score never wins (coalesced to -inf before the argmax —
    Spark's struct ordering would otherwise sort NULL FIRST and crown
    the null-scored doc). An all-null cluster falls back to the min-id
    member with a NULL reported score.
    """
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    clusters = dup_clusters(docs.select(id_col), pairs, id_col)
    scored = docs.select(
        F.col(id_col),
        F.coalesce(sc.cast("double"),
                   F.lit(float("-inf"))).alias("__score"),
    ).join(clusters, id_col)
    winners = scored.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("__score")).alias("ns"),
                       F.col(id_col).alias("sid"))).alias("m"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return cache.own(winners.select(
        F.col("m.sid").alias(id_col),
        "cluster_id",
        "cluster_size",
        F.when(F.col("m.ns") == F.lit(float("inf")),
               F.lit(None).cast("double"))
         .otherwise(-F.col("m.ns")).alias("score"),
    ), [clusters])


def embedding_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                        block_col: str, threshold: float = 0.8,
                        max_block_size: int | None = 100_000) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks, skew-capped.

    Blocks on ``block_col`` (a label / coarse IVF cell) so the pairwise
    cosine never crosses blocks. Within-block all-pairs is quadratic in
    block size, so blocks larger than ``max_block_size`` are sub-split
    by a secondary deterministic quantizer — the sign pattern of the
    first ⌈log2(n/cap)⌉ vector coordinates (a fixed-hyperplane SRP
    bucket). Sub-splitting is *approximate* for oversized blocks only:
    a near-dup pair straddling a sign boundary in those coordinates is
    missed; high-cosine pairs rarely straddle (their coordinates agree
    in sign wherever |x| is non-negligible). Blocks within the cap are
    exact and byte-identical to the uncapped plan.

    Vectors are cast to array<double> and the dot product is evaluated
    in index order so the oracle's arithmetic matches bit-for-bit.
    """
    v = df.select(
        F.col(id_col), F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if max_block_size is not None:
        counts = v.groupBy("block").agg(F.count("*").alias("__bn"))
        v = v.join(F.broadcast(counts), "block")
        # bits so that expected sub-block size ≤ cap: 2^bits ≥ n/cap
        bits = F.ceil(F.log2(F.col("__bn") / F.lit(max_block_size)))
        bits = F.when(F.col("__bn") <= max_block_size, F.lit(0)) \
                .otherwise(F.least(bits, F.lit(16)))
        sign_bits = F.when(
            bits == 0, F.lit("")
        ).otherwise(
            F.concat_ws("", F.transform(
                F.slice("v", F.lit(1), bits),
                lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
            ))
        )
        v = v.select(
            F.col(id_col),
            F.concat_ws("#", F.col("block"), sign_bits).alias("block"),
            "v",
        )
    # norms are computed ONCE PER VECTOR before the join — inside the
    # pair projection they would re-run per PAIR (O(pairs·dim) extra
    # interpreted lambda work, 3× the per-pair cost; same float order,
    # so values are bit-identical). The EXPLICIT repartition defeats
    # AQE's post-shuffle coalescing: the pre-join shuffle is tiny
    # (vectors) so AQE folds it to few partitions, but the join OUTPUT
    # is the within-block quadratic — the stage that needs the cores.
    n_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    v = v.select(
        F.col(id_col), "block", "v",
        F.sqrt(F.aggregate(F.transform("v", lambda x: x * x),
                           F.lit(0.0), lambda a_, x: a_ + x)).alias("nrm"),
    ).repartition(n_parts, "block")
    a = v.select(F.col(id_col).alias("id_a"), "block",
                 F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col(id_col).alias("id_b"), "block",
                 F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, on="block", how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _band_buckets(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """(id, band, bucket) MinHash-LSH band buckets — the same banding
    as :func:`minhash_lsh_pairs` (4 bands × 4 rows, bucket = md5 of the
    band's signature slice) without the pairing machinery, for callers
    that probe buckets across TWO frames instead of within one."""
    sigs = minhash_signatures(df, id_col, text_col, n)
    return sigs.select(F.col(id_col),
                       _band_bucket_expr().alias("bkts")).select(
        F.col(id_col), F.col("bkts"),
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).select(
        id_col, "band",
        F.element_at(F.col("bkts"), F.col("band") + 1).alias("bucket"),
    )


def incremental_dedup(index: DataFrame, batch: DataFrame,
                      id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Incremental near-dup gate: drop NEW-batch documents whose
    MinHash-LSH band bucket collides with ANY existing-corpus document;
    return the surviving batch ids. This is the shape every continuous
    ingestion pipeline needs — each crawl snapshot is deduped against
    the accumulated corpus, not just against itself (within-batch dups
    are :func:`minhash_lsh_pairs`'s job).

    Scale shape: the CORPUS stream is never shuffled past its signature
    aggregate — the batch's band buckets (4 rows per batch doc) are
    BROADCAST and the corpus probes them map-side (inner broadcast-hash
    join), so matched ids arrive as a stream bounded by collisions, are
    distinct-ed at batch cardinality, and close with a broadcast
    anti-join. At 100 TB the index signatures/buckets would be a stored
    table partitioned by (band, bucket) — computed once per corpus, not
    per batch; this function recomputes them only because it takes raw
    text frames.
    """
    bb_batch = _band_buckets(batch, id_col, text_col, n) \
        .withColumnRenamed(id_col, "__batch_id")
    bb_index = _band_buckets(index, id_col, text_col, n)
    matched = (
        bb_index.join(F.broadcast(bb_batch), ["band", "bucket"], "inner")
        .select(F.col("__batch_id").alias(id_col))
        .distinct()
    )
    return (batch.select(id_col)
            .join(F.broadcast(matched), id_col, "left_anti"))
