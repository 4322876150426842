"""Training-data curation operators: decontamination + deterministic
sampling (morph_kgc_spark/operators/curation.py)."""

import pytest
from pyspark.sql import Row, functions as F

from morph_kgc_spark.operators.curation import (
    decontaminate,
    sample_deterministic,
    sample_stratified,
)


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="pack my box with five dozen liquor jugs"),
        Row(doc_id=3, text="the quick brown fox naps all afternoon today"),
        Row(doc_id=4, text="completely unrelated words here"),
        Row(doc_id=5, text="a b"),  # fewer tokens than n -> zero grams
    ]
    return spark.createDataFrame(rows)


def _bench(spark):
    rows = [
        Row(doc_id=100, text="the quick brown fox jumps high"),
        Row(doc_id=101, text="five dozen liquor jugs on a shelf"),
    ]
    return spark.createDataFrame(rows)


class TestDecontaminate:
    def test_counts_and_flags(self, spark):
        out = {r["doc_id"]: r for r in decontaminate(
            _docs(spark), _bench(spark), "doc_id", "text",
            n=3, min_hit=2).collect()}
        # doc 1 grams: 7 distinct 3-grams; bench doc 100 shares
        # "the quick brown", "quick brown fox", "brown fox jumps"
        assert out[1]["n_grams"] == 7
        assert out[1]["n_hit"] == 3
        assert out[1]["contaminated"] is True
        # doc 2 shares "five dozen liquor", "dozen liquor jugs"
        assert out[2]["n_hit"] == 2
        assert out[2]["contaminated"] is True
        # doc 3 shares only "the quick brown" + "quick brown fox"... check
        assert out[3]["n_hit"] == 2
        # doc 4 shares nothing
        assert out[4]["n_hit"] == 0
        assert out[4]["contaminated"] is False
        # doc 5 has zero grams and must still appear
        assert out[5]["n_grams"] == 0
        assert out[5]["n_hit"] == 0
        assert out[5]["contaminated"] is False

    def test_join_path_matches_broadcast_array_path(self, spark):
        a = decontaminate(_docs(spark), _bench(spark), "doc_id", "text",
                          n=3, min_hit=2, broadcast_array=True)
        b = decontaminate(_docs(spark), _bench(spark), "doc_id", "text",
                          n=3, min_hit=2, broadcast_array=False)
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))

    def test_default_regime_choice_both_sides(self, spark, monkeypatch):
        """The default picks the array regime for a small benchmark and
        the hash join above _DECONTAM_MAX_ARRAY_DOCS; same rows."""
        from morph_kgc_spark.operators import curation

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        corpus = docs.where(F.col("doc_id") % 20 != 7)
        bench = docs.where(F.col("doc_id") % 20 == 7)

        def run():
            out = decontaminate(corpus, bench, "doc_id", "text", n=3,
                                min_hit=5)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            return "array_intersect" in plan, sorted(map(tuple, out.collect()))

        array_side, rows = run()
        monkeypatch.setattr(curation, "_DECONTAM_MAX_ARRAY_DOCS", 0)
        join_side, join_rows = run()
        assert (array_side, join_side) == (True, False)
        assert join_rows == rows and any(r[3] for r in rows)

    def test_corpus_side_has_no_shuffle_broadcast_array(self, spark):
        """The 100-TB corpus side must not shuffle: the only exchanges
        allowed in the broadcast-array plan are on the (tiny) benchmark
        aggregation side."""
        plan = decontaminate(
            _docs(spark), _bench(spark), "doc_id", "text"
        )._jdf.queryExecution().executedPlan().toString()
        # benchmark collect_set needs its exchanges; the corpus path is
        # scan -> project -> broadcast-nested-loop. No SortMergeJoin or
        # hash-partitioned exchange keyed on corpus columns may appear.
        assert "SortMergeJoin" not in plan
        assert "hashpartitioning(doc_id" not in plan


class TestDeterministicSampling:
    def test_rate_and_determinism_across_partitionings(self, spark):
        df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
        kept1 = {r[0] for r in
                 sample_deterministic(df, "doc_id", 0.25).collect()}
        kept2 = {r[0] for r in sample_deterministic(
            df.repartition(13), "doc_id", 0.25).collect()}
        assert kept1 == kept2  # df.sample would fail this
        assert 0.20 < len(kept1) / 5000 < 0.30

    def test_salts_are_independent_and_complement_is_disjoint(self, spark):
        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r[0] for r in
             sample_deterministic(df, "doc_id", 0.5, salt="a").collect()}
        b = {r[0] for r in
             sample_deterministic(df, "doc_id", 0.5, salt="b").collect()}
        # independent salts overlap ~rate^2, not 0 and not rate
        assert 0.15 < len(a & b) / 2000 < 0.35
        # complementary ranges on ONE salt partition exactly
        from morph_kgc_spark.operators.curation import _bucket
        hi = df.where(~(_bucket("doc_id", "a") < F.lit(500_000)))
        hi_ids = {r[0] for r in hi.select("doc_id").collect()}
        assert a.isdisjoint(hi_ids)
        assert len(a) + len(hi_ids) == 2000

    def test_sample_is_narrow_no_exchange(self, spark):
        df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
        plan = sample_deterministic(
            df, "doc_id", 0.5)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_stratified_rates(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=i, lang="en" if i % 2 == 0 else "fr")
             for i in range(4000)])
        out = sample_stratified(df, "doc_id", "lang",
                                {"en": 0.1, "fr": 0.9}).groupBy("lang") \
            .count().collect()
        counts = {r["lang"]: r["count"] for r in out}
        assert 120 < counts["en"] < 280      # of 2000, ~200
        assert 1700 < counts["fr"] < 1900    # of 2000, ~1800

    def test_stratified_default_rate_zero_drops_unlisted(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, lang="xx"), Row(doc_id=2, lang="en")])
        out = sample_stratified(df, "doc_id", "lang", {"en": 1.0})
        assert [r["lang"] for r in out.collect()] == ["en"]

    def test_invalid_rates_raise(self, spark):
        df = spark.range(1).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            sample_deterministic(df, "doc_id", 1.5)
        with pytest.raises(ValueError):
            sample_stratified(df, "doc_id", "doc_id", {"x": -0.1})
        with pytest.raises(ValueError):
            sample_stratified(df, "doc_id", "doc_id", {}, default_rate=2.0)


class TestCurationPipeline:
    """The composed pipeline query (q_curation_pipeline) — stage
    invariants on real testdata; engine-vs-engine equality is the
    driver's curation_pipeline correctness row."""

    def test_pipeline_invariants(self, spark):
        import __spark_entry__ as entrymod

        sf = "/root/testdata/sf0.001"
        out = entrymod.queries()["curation_pipeline"](spark, sf)
        rows = out.collect()
        assert rows, "pipeline must keep some documents"
        ids = [r.doc_id for r in rows]
        # benchmark-split docs never survive into the training corpus
        assert all(i % 20 != 7 for i in ids)
        # no duplicate surviving ids
        assert len(ids) == len(set(ids))
        # survivors carry no exact-duplicate texts
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        surv = docs.join(out.select("doc_id"), "doc_id", "left_semi")
        n_texts = surv.select("text").distinct().count()
        assert n_texts == len(ids)
        # deterministic: a rebuilt plan returns the identical set
        again = entrymod.queries()["curation_pipeline"](spark, sf)
        assert sorted(ids) == sorted(r.doc_id for r in again.collect())

    def test_pipeline_is_jvm_only(self, spark):
        import __spark_entry__ as entrymod

        plan = (entrymod.queries()["curation_pipeline"](
                    spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


class TestRepeatedPassages:
    def test_boilerplate_tile_dropped_everywhere(self, spark):
        """A tile occurring in >max_df (doc,slot) positions vanishes
        from every document; unique tiles survive."""
        import hashlib

        from morph_kgc_spark.operators.curation import (
            remove_repeated_passages)

        boiler = "cookie notice terms apply"
        docs = spark.createDataFrame(
            [(i, f"{boiler} unique{i} text{i} here{i}") for i in range(4)],
            ["doc_id", "text"])
        out = remove_repeated_passages(docs, "doc_id", "text",
                                       tile_tokens=4, max_df=2)
        rows = {r.doc_id: r for r in out.collect()}
        assert all(r.n_tiles == 2 and r.n_kept == 1
                   for r in rows.values())
        for i, r in rows.items():
            want = hashlib.md5(
                f"unique{i} text{i} here{i}".encode()).hexdigest()
            assert r.clean_md5 == want

    def test_fully_hot_document_survives_empty(self, spark):
        import hashlib

        from morph_kgc_spark.operators.curation import (
            remove_repeated_passages)

        docs = spark.createDataFrame(
            [(i, "same same same same") for i in range(5)],
            ["doc_id", "text"])
        out = remove_repeated_passages(docs, "doc_id", "text",
                                       tile_tokens=4, max_df=2)
        rows = out.collect()
        assert len(rows) == 5  # no document disappears
        empty_md5 = hashlib.md5(b"").hexdigest()
        assert all(r.n_kept == 0 and r.clean_md5 == empty_md5
                   for r in rows)

    def test_plan_jvm_only_bounded_exchanges(self, spark):
        from morph_kgc_spark.operators.curation import (
            remove_repeated_passages)

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        plan = (remove_repeated_passages(docs, "doc_id", "text")
                ._jdf.queryExecution().executedPlan().toString())
        assert "Python" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        # parallelize(key=doc_id) + tile-count aggregate are the only
        # shuffles; the final per-doc groupBy reuses the doc_id
        # partitioning laid down before the explode
        import re
        shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        assert shuffles <= 3, plan
