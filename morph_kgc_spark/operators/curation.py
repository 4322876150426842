"""Training-data curation: benchmark decontamination + deterministic sampling.

Two operators every large-scale LLM-pretraining pipeline runs between
dedup and tokenization, with no counterpart in the reference engine
(they act on the corpus, not the mappings):

- :func:`decontaminate`: flag corpus documents sharing word n-grams with
  an evaluation/benchmark set (the GPT-3/PaLM-style train-test overlap
  scrub). The benchmark side is tiny relative to the corpus, so its
  distinct shingle set rides to every executor — the 100-TB corpus is
  never shuffled.
- :func:`sample_deterministic` / :func:`sample_stratified`: md5-derived
  keep/drop decisions — reproducible across runs, engines, cluster
  sizes, and partitionings (``df.sample`` is none of those: its output
  depends on partition layout). Salt changes give independent samples.

Both bottom out in the portable md5 hash family
(:mod:`morph_kgc_spark.functions.hashing`) so the DuckDB oracle replays
every decision bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from morph_kgc_spark.functions.hashing import h64
from morph_kgc_spark.operators.dedup import shingle_arrays, shingles

# benchmark document count up to which decontaminate's default regime
# intersects a broadcast shingle array (above: broadcast hash join)
_DECONTAM_MAX_ARRAY_DOCS = 1000


def decontaminate(corpus: DataFrame, bench: DataFrame, id_col: str,
                  text_col: str, n: int = 3, min_hit: int = 5,
                  broadcast_array: bool | None = None) -> DataFrame:
    """Per-corpus-doc benchmark n-gram overlap:
    (id, n_grams, n_hit, contaminated).

    ``n_hit`` counts the corpus doc's DISTINCT word n-grams that occur
    anywhere in the benchmark set; ``contaminated`` is
    ``n_hit >= min_hit`` (decontamination drops or audits those rows).

    Scale design — the corpus is the 100-TB side and is NEVER shuffled:

    - ``broadcast_array=True``: the benchmark's distinct shingles are
      aggregated into ONE array row (a small job on the small side),
      broadcast, and intersected row-locally (``array_intersect``
      against each doc's distinct-gram array). Zero exchange over the
      corpus — but the per-row intersect walks the WHOLE benchmark
      array, so per-doc cost grows with the benchmark size.
    - ``broadcast_array=False``: broadcast HASH join of the corpus
      posting stream against the benchmark shingles + one re-group by
      id. Same result; per-posting cost is O(1) regardless of
      benchmark size.
    - ``broadcast_array=None`` (default): decided from the benchmark's
      DOCUMENT count (one cheap count on the SMALL side — a
      distinct-shingle probe would be exact but measured ~0.7 s of pure
      probe overhead where the whole sf0.1 query is 0.6 s): the array
      regime up to ``_DECONTAM_MAX_ARRAY_DOCS`` (1000) benchmark docs,
      the hash join above. Rationale for the crossover:
      ``array_intersect`` rebuilds the benchmark hash set PER CORPUS
      ROW, so its cost is corpus_docs × benchmark_shingles — at sf1.0
      (2.5k benchmark docs ≈ 27k shingles × 47.5k corpus docs) the
      array regime took 10.6 s where the hash join takes ~2 s; at sf0.1
      (250 benchmark docs ≈ 9.8k shingles) the array regime wins. Both
      regimes produce identical rows (pinned by tests/test_curation.py's
      parity test and the oracle hash).
    """
    grams = shingle_arrays(corpus, id_col, text_col, n)
    bench_sh = shingles(bench, id_col, text_col, n).select("shingle")
    if broadcast_array is None:
        broadcast_array = bench.count() <= _DECONTAM_MAX_ARRAY_DOCS
    if broadcast_array:
        # collect_set already deduplicates — a .distinct() here would
        # add a second full aggregate+exchange over the benchmark
        # shingle stream for nothing (round-6 review finding)
        bench_arr = bench_sh.agg(
            F.collect_set("shingle").alias("__bgrams"))
        out = (grams.join(F.broadcast(bench_arr))
               .select(F.col(id_col),
                       F.size("grams").alias("n_grams"),
                       F.size(F.array_intersect("grams", "__bgrams"))
                       .alias("n_hit")))
    else:
        posting = (grams.select(F.col(id_col),
                                F.explode_outer("grams").alias("shingle")))
        hit = posting.join(F.broadcast(bench_sh.distinct().withColumn(
            "__hit", F.lit(1))), on="shingle", how="left")
        out = (hit.groupBy(id_col)
               .agg(F.sum(F.when(F.col("shingle").isNotNull(), 1)
                          .otherwise(0)).cast("int").alias("n_grams"),
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    .cast("int").alias("n_hit")))
    return out.withColumn("contaminated", F.col("n_hit") >= F.lit(min_hit))


def _bucket(id_col: str, salt: str) -> F.Column:
    """Deterministic sampling bucket: h64(salt || id) spread over 10^6
    buckets. md5 output is uniform, so keeping buckets below rate·10^6
    realizes ~``rate``; the SAME ids survive on any engine, cluster
    size, or partitioning. Rate→threshold truncation happens driver-
    side in Python (``int(rate * 1e6)``) so no engine-specific
    double→long cast semantics can leak into the decision."""
    return h64(F.concat(F.lit(salt + "|"),
                        F.col(id_col).cast("string"))) % F.lit(1_000_000)


def sample_deterministic(df: DataFrame, id_col: str, rate: float,
                         salt: str = "s0") -> DataFrame:
    """Hash-gated sample: keeps the deterministic ~``rate`` fraction.

    A pure narrow filter — pushes to the scan, no shuffle, no RNG
    state. Different ``salt`` values give independent samples; for
    DISJOINT splits (train/holdout) use one salt with complementary
    bucket ranges (e.g. ``rate=0.9`` and its negation) rather than two
    salts, which would overlap at random."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.where(_bucket(id_col, salt) < F.lit(int(rate * 1_000_000)))


def sample_stratified(df: DataFrame, id_col: str, stratum_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "s0") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    downsample English, keep low-resource languages whole).

    ``rates`` maps stratum value → keep fraction; strata not listed use
    ``default_rate``. The rate lookup is a small CASE expression (no
    join), so this stays a narrow scan-time filter like
    :func:`sample_deterministic`."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for stratum {k!r} must be in [0, 1], "
                             f"got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    thr = F.lit(int(default_rate * 1_000_000))
    for k, v in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == F.lit(k),
                     F.lit(int(v * 1_000_000))).otherwise(thr)
    return df.where(_bucket(id_col, salt) < thr)


def remove_repeated_passages(df: DataFrame, id_col: str, text_col: str,
                             tile_tokens: int = 10,
                             max_df: int = 2) -> DataFrame:
    """CCNet-style within-document boilerplate removal over token tiles.

    Documents are cut into consecutive ``tile_tokens``-token tiles; a
    tile occurring more than ``max_df`` times ACROSS THE CORPUS
    (occurrence count over all (doc, slot) positions — repeated
    boilerplate within one document counts too) is dropped from every
    document, and the survivors are reassembled in order. Returns
    ``(id, n_tiles, n_kept, clean_md5)`` — the md5 of the reassembled
    text keeps oracle rows small; callers wanting the cleaned TEXT use
    the same plan with the join unchanged.

    Scale design: tiling is a narrow per-row explode; the tile
    occurrence count is ONE hash-aggregate (map-side partials); the
    hot-tile set (df > max_df) is the small side by construction —
    boilerplate is by definition few distinct strings — so it
    broadcasts into a left join marking hot tiles, and the per-document
    reassembly groupBy is the only other exchange. Every document
    survives, even one whose every tile was boilerplate (empty clean
    text), so corpus accounting stays exact.
    """
    from morph_kgc_spark.operators.text import _parallelize_narrow, tokens

    T = tile_tokens
    toks = _parallelize_narrow(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t")),
        key=id_col)
    toks = toks.withColumn("__nt", F.greatest(
        F.ceil(F.size("__t") / F.lit(T)).cast("int"), F.lit(1)))
    tiles = (toks.select(
        F.col(id_col), F.col("__t"),
        F.explode_outer(F.sequence(F.lit(0), F.col("__nt") - 1))
        .alias("__idx"))
        .where(F.col("__idx").isNotNull()))
    tiles = tiles.select(
        F.col(id_col), F.col("__idx"),
        F.array_join(F.slice("__t", F.col("__idx") * T + 1, T), " ")
        .alias("__tile"))
    tiles = tiles.withColumn("__h", h64(F.col("__tile")))
    hot = (tiles.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
           .where(F.col("__df") > max_df)
           .select("__h", F.lit(True).alias("__hot")))
    marked = (tiles.join(F.broadcast(hot), "__h", "left")
              .withColumn("__hot", F.coalesce("__hot", F.lit(False))))
    keep = F.when(~F.col("__hot"),
                  F.struct(F.col("__idx"), F.col("__tile")))
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.sum(F.when(~F.col("__hot"), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.md5(F.array_join(
                     F.transform(F.array_sort(F.collect_list(keep)),
                                 lambda x: x["__tile"]),
                     " ")).alias("clean_md5")))
