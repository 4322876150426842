"""The three benchmark workloads.

Each workload has:

- ``generate(inp, seed)``: write the seed's inputs (see gen.py);
- ``run(spark, inp, out)``: one pass through the program's public API,
  ending in a write to ``out``;
- ``fingerprint(out)`` and ``reference(inp)``: (rows, distinct rows,
  sum of row hashes) of the pass output and of an independent DuckDB /
  numpy reference over the same inputs. A pass is correct when the two
  are equal;
- ``items(ref)``: the items a pass produces (triples written, or
  input documents for curation_dedup);
- ``trace(spark, inp, scratch, t)``: per-layer metrics, timed around the
  calls into each module's public functions (prefix forcing: a stage's
  self time is the forced prefix ending at it minus the prefix before).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb
import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _fp(sql: str, views: dict[str, str] | None = None) -> list[int]:
    """(rows, distinct rows, hash sum) of the one-string-column query."""
    con = duckdb.connect()
    try:
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        n, d, h = con.execute(
            f"SELECT count(*), count(DISTINCT k), sum(hash(k)) "
            f"FROM ({sql}) t(k)").fetchone()
    finally:
        con.close()
    return [int(n), int(d), int(h or 0)]


def _views(inp: str, names: list[str]) -> dict[str, str]:
    return {n: os.path.join(inp, f"{n}.parquet") for n in names}


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 1e6


class Timer:
    """Forces frames with the noop sink from a cold cache and records
    seconds, so each measurement reads its inputs from disk."""

    def __init__(self, spark):
        self.spark = spark

    def force(self, df) -> float:
        return self.call(lambda: df.write.format("noop")
                         .mode("overwrite").save())[1]

    def call(self, fn):
        self.spark.catalog.clearCache()
        t = time.perf_counter()
        result = fn()
        return result, time.perf_counter() - t


# ---------------------------------------------------------------------------
# kg_rml: RML mapping -> engine.materialize -> N-Triples on local disk
# ---------------------------------------------------------------------------

class KgRml:
    name = "kg_rml"
    # passes are short and still speeding up after the cold one
    warmup_passes, min_timed_passes = 2, 3
    # ~80k lineitems, 2k customers (sf0.1 has 150k orders)
    n_orders = 20_000

    def __init__(self):
        with open(os.path.join(HERE, "kg_mapping.ttl")) as f:
            self.mapping = f.read()

    def generate(self, inp, seed):
        gen.tpch_tables(inp, seed, self.n_orders)

    def _materialize(self, spark, inp, distinct=True):
        from morph_kgc_spark import engine
        from morph_kgc_spark.mapping import parse_any_mapping
        from morph_kgc_spark.sources.registry import default_registry

        rules = parse_any_mapping(self.mapping, inp)
        # the flagship job's registry: each source persisted once per job
        return engine.materialize(
            spark, rules, registry=default_registry(persist_sources=True),
            distinct=distinct)

    def run(self, spark, inp, out):
        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.sinks.ntriples import write_ntriples

        triples = self._materialize(spark, inp)
        write_ntriples(triples, out)
        release(triples)

    def fingerprint(self, out):
        return _fp(f"SELECT line FROM (SELECT unnest(string_split(content, "
                   f"chr(10))) AS line FROM read_text('{out}/*.txt')) "
                   f"WHERE line <> ''")

    def reference(self, inp):
        return _fp(*self.reference_sql(inp))

    def reference_sql(self, inp):
        from morph_kgc_spark import oracles as O

        # the nation twin renders n_name raw; TPC-H names hold spaces,
        # which an IRI template percent-encodes
        nation = ("SELECT subject, predicate, replace(object, ' ', '%20') "
                  f"AS object FROM ({O.kg_join_customer_nation()})")
        twins = [O.kg_customer_triples(), O.kg_rdf_type(),
                 O.kg_typed_literals(), nation,
                 O.kg_language_tags(), O.kg_blank_nodes(),
                 O.kg_union_distinct(), O.kg_self_join_elimination(),
                 O.kg_lineitem_orders_salted(), O.kg_ntriples_escaping()]
        sql = "\nUNION\n".join(
            f"SELECT subject || ' ' || predicate || ' ' || object || ' .' "
            f"FROM ({t})" for t in twins)
        return sql, _views(inp, ["customer", "supplier", "orders", "nation",
                                 "documents", "region", "part", "lineitem"])

    def items(self, ref):
        return ref[0]

    @staticmethod
    def rule_name(rule):
        return rule.triples_map_id.rsplit("#", 1)[-1].rsplit("/", 1)[-1]

    def trace(self, spark, inp, scratch, t):
        from morph_kgc_spark import engine
        from morph_kgc_spark.mapping import parse_any_mapping
        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.plans.compiler import compile_rule
        from morph_kgc_spark.plans.partitioner import assign_mapping_partitions
        from morph_kgc_spark.sinks.ntriples import ntriples_lines, write_ntriples
        from morph_kgc_spark.sources.registry import default_registry

        m = {}
        rules, m["mapping.parse_s"] = t.call(
            lambda: parse_any_mapping(self.mapping, inp))
        m["mapping.rules"] = len(rules)
        m["plans.partition_groups"] = len(
            {r.mapping_partition for r in assign_mapping_partitions(rules)})
        triples, m["plans.build_s"] = t.call(lambda: engine.materialize(
            spark, rules, registry=default_registry(persist_sources=True)))
        release(triples)

        reg, seen, scan = default_registry(), set(), 0.0
        for r in rules:
            for src in (r.source, r.parent_source):
                if src is not None and src.cache_key() not in seen:
                    seen.add(src.cache_key())
                    scan += t.force(reg(spark, src))
        m["sources.scan_s"] = scan
        for r in rules:
            m[f"plans.rule_s.{self.rule_name(r)}"] = t.force(
                compile_rule(spark, r, default_registry()))

        def lines_noop(distinct):
            frame = self._materialize(spark, inp, distinct)
            s = t.force(ntriples_lines(frame))
            release(frame)
            return s

        with_distinct = lines_noop(True)
        m["plans.distinct_s"] = with_distinct - lines_noop(False)
        out = os.path.join(scratch, "kg_trace_out")
        frame = self._materialize(spark, inp)
        _, wrote = t.call(lambda: write_ntriples(frame, out))
        release(frame)
        m["sinks.ntriples.write_s"] = wrote - with_distinct
        m["sinks.ntriples.mb"] = _dir_mb(out)
        shutil.rmtree(out, ignore_errors=True)
        return m


# ---------------------------------------------------------------------------
# web_pages: pages -> pipeline.pages.pipeline_triples -> checkpointed sink
# ---------------------------------------------------------------------------

_PAGE = f"{gen.KG}page/"
_XSD_DT = "http://www.w3.org/2001/XMLSchema#dateTime"


class WebPages:
    name = "web_pages"
    warmup_passes, min_timed_passes = 1, 2
    n_pages = 20_000
    n_buckets = 4

    def generate(self, inp, seed):
        gen.web_pages(inp, seed, self.n_pages)

    def _frames(self, spark, inp):
        return (spark.read.parquet(os.path.join(inp, "pages.parquet")),
                spark.read.parquet(os.path.join(inp, "aliases.parquet")))

    def run(self, spark, inp, out):
        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.pipeline.checkpoint import write_checkpointed
        from morph_kgc_spark.pipeline.pages import pipeline_triples

        triples = pipeline_triples(spark, *self._frames(spark, inp))
        write_checkpointed(triples, out, key_col="subject",
                           n_buckets=self.n_buckets)
        release(triples)

    def fingerprint(self, out):
        return _fp(f"SELECT subject || ' ' || predicate || ' ' || object "
                   f"|| ' .' FROM read_parquet('{out}/bucket=*/*.parquet')")

    def reference(self, inp):
        return _fp(*self.reference_sql(inp))

    def reference_sql(self, inp):
        # mentions: token-aligned matches of the (three-word) aliases;
        # linking: highest prior per (page, alias), ties to the smallest
        # entity IRI; urls hold only [a-z0-9.:/], so percent-encoding
        # is two replaces
        page = f"'<{_PAGE}' || replace(replace(url, ':', '%3A'), '/', '%2F') || '>'"
        sql = f"""
WITH p AS (SELECT url, string_split(text, ' ') AS t FROM pages),
g AS (SELECT DISTINCT url, unnest(list_transform(range(1, len(t) - 1),
        i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS alias FROM p),
m AS (SELECT g.url, a.alias, a.entity_iri, row_number() OVER (
        PARTITION BY g.url, a.alias ORDER BY a.prior DESC, a.entity_iri) AS rk
      FROM g JOIN aliases a USING (alias)),
l AS (SELECT url, alias, entity_iri FROM m WHERE rk = 1)
SELECT {page} || ' <{gen.KG}mentions> <' || entity_iri || '> .' FROM l
UNION
SELECT '<' || entity_iri || '> <{gen.KG}label> "' || alias || '" .' FROM l
UNION ALL
SELECT {page} || ' <{gen.KG}lang> "' || lang || '" .' FROM pages
UNION ALL
SELECT {page} || ' <{gen.KG}crawledAt> "'
       || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S') || '"^^<{_XSD_DT}> .'
FROM pages
"""
        return sql, _views(inp, ["pages", "aliases"])

    def items(self, ref):
        return ref[0]

    def trace(self, spark, inp, scratch, t):
        from pyspark.sql import functions as F

        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.pipeline.checkpoint import write_checkpointed
        from morph_kgc_spark.pipeline.pages import (detect_mentions,
                                                    extract_text_udf,
                                                    link_entities,
                                                    pipeline_triples)

        pages, aliases = self._frames(spark, inp)
        extracted = pages.select(
            "url", extract_text_udf(F.col("html")).alias("text"), "lang")
        m = {}
        extract = t.force(extracted)
        mentions = detect_mentions(extracted, aliases)
        detect = t.force(mentions)
        linked = link_entities(mentions)
        link = t.force(linked)
        m["pipeline.mentions"] = linked.count()
        triples = pipeline_triples(spark, pages, aliases)
        render = t.force(triples)
        release(triples)
        root = os.path.join(scratch, "web_trace_out")
        triples = pipeline_triples(spark, pages, aliases)
        stats, write = t.call(lambda: write_checkpointed(
            triples, root, key_col="subject", n_buckets=self.n_buckets))
        release(triples)
        shutil.rmtree(root, ignore_errors=True)
        m.update({
            "pipeline.extract_s": extract,
            "pipeline.detect_s": detect - extract,
            "pipeline.link_s": link - detect,
            "pipeline.render_s": render - link,
            "pipeline.checkpoint.write_s": write - render,
            "pipeline.checkpoint.buckets": len(stats.written_buckets),
        })
        return m


# ---------------------------------------------------------------------------
# curation_dedup: curation chain + simhash near-dup clusters
# ---------------------------------------------------------------------------

def curation_chain(docs):
    """The q_curation_pipeline composition, one frame per stage:
    url dedup -> exact dedup -> token gate -> decontaminate -> sample."""
    from pyspark.sql import functions as F

    from morph_kgc_spark.operators.curation import (decontaminate,
                                                    sample_deterministic)
    from morph_kgc_spark.operators.dedup import exact_dedup
    from morph_kgc_spark.operators.text import token_count
    from morph_kgc_spark.operators.weburl import synth_urls, url_dedup

    keep_url = (url_dedup(synth_urls(docs.select("doc_id"), "doc_id"),
                          "doc_id").select(F.col("keep_id").alias("doc_id")))
    d1 = docs.join(keep_url, "doc_id", "left_semi")
    keep_text = (exact_dedup(d1, "doc_id", "text")
                 .select(F.col("keep_id").alias("doc_id")))
    d2 = d1.join(keep_text, "doc_id", "left_semi")
    d3 = d2.where(token_count(F.col("text")) >= 20)
    corpus = d3.where(F.col("doc_id") % 20 != 7)
    bench = docs.where(F.col("doc_id") % 20 == 7)
    flags = decontaminate(corpus, bench, "doc_id", "text", n=3, min_hit=5)
    clean = flags.where(~F.col("contaminated")).select("doc_id")
    d4 = corpus.join(clean, "doc_id", "left_semi")
    d5 = sample_deterministic(d4, "doc_id", 0.7, salt="pipe")
    return {"url_dedup": d1, "exact": d2, "gate": d3,
            "decontaminate": d4, "sample": d5}


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> 1) & 0x55555555)
    x = (x & 0x33333333) + ((x >> 2) & 0x33333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F
    return (x * 0x01010101 & 0xFFFFFFFF) >> 24


def simhash_clusters(ids, texts, bits=32, max_hamming=6):
    """Reference near-dup clusters: 32-bit simhash over space-split
    tokens (per-bit majority of the tokens' md5-derived 60-bit hashes),
    all pairs within ``max_hamming``, connected components labelled by
    their smallest id. Plain numpy, no Spark and no banding."""
    vocab: dict[str, int] = {}
    tok_idx, bounds = [], [0]
    for text in texts:
        for tok in text.split(" "):
            tok_idx.append(vocab.setdefault(tok, len(vocab)))
        bounds.append(len(tok_idx))
    h = np.array([int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
                  for w in vocab], dtype=np.uint64)
    signs = ((h[:, None] >> np.arange(bits, dtype=np.uint64)) & 1
             ).astype(np.int64) * 2 - 1
    votes = np.add.reduceat(signs[np.array(tok_idx)], np.array(bounds[:-1]))
    sig = ((votes > 0).astype(np.uint64)
           << np.arange(bits, dtype=np.uint64)).sum(axis=1)
    sig = sig.astype(np.int64)
    ids = np.asarray(ids, dtype=np.int64)
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for start in range(0, len(sig), 512):
        block = sig[start:start + 512]
        close = _popcount(block[:, None] ^ sig[None, :]) <= max_hamming
        for i, j in zip(*np.nonzero(close)):
            a, b = find(int(ids[start + i])), find(int(ids[j]))
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {int(i): find(int(i)) for i in ids}


class CurationDedup:
    name = "curation_dedup"
    warmup_passes, min_timed_passes = 1, 2
    n_docs = 5_000

    def generate(self, inp, seed):
        gen.corpus(inp, seed, self.n_docs)

    def _docs(self, spark, inp):
        return spark.read.parquet(os.path.join(inp, "documents.parquet"))

    def run(self, spark, inp, out):
        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.operators.dedup import simhash_dup_clusters

        docs = self._docs(spark, inp)
        (curation_chain(docs)["sample"].select("doc_id")
         .write.parquet(os.path.join(out, "survivors")))
        clusters = simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6)
        clusters.write.parquet(os.path.join(out, "clusters"))
        release(clusters)

    def fingerprint(self, out):
        return _fp(f"""
SELECT 'S' || doc_id FROM read_parquet('{out}/survivors/*.parquet')
UNION ALL
SELECT 'C' || doc_id || ':' || cluster_id
FROM read_parquet('{out}/clusters/*.parquet')""")

    def reference(self, inp):
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE r (k VARCHAR)")
            con.executemany("INSERT INTO r VALUES (?)",
                            [(k,) for k in self.reference_rows(inp)])
            n, d, h = con.execute("SELECT count(*), count(DISTINCT k), "
                                  "sum(hash(k)) FROM r").fetchone()
        finally:
            con.close()
        return [int(n), int(d), int(h or 0)]

    def reference_rows(self, inp):
        """'S<id>' per curation survivor (the oracles.curation_pipeline
        twin) and 'C<id>:<cluster>' per document (numpy clusters)."""
        from morph_kgc_spark import oracles

        path = os.path.join(inp, "documents.parquet")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS "
                        f"SELECT * FROM read_parquet('{path}')")
            survivors = [r[0] for r in con.execute(
                f"SELECT doc_id FROM ({oracles.curation_pipeline()})").fetchall()]
            ids, texts = zip(*con.execute(
                "SELECT doc_id, text FROM documents").fetchall())
        finally:
            con.close()
        labels = simhash_clusters(ids, texts)
        return [f"S{i}" for i in survivors] + [
            f"C{i}:{c}" for i, c in labels.items()]

    def items(self, ref):
        return self.n_docs

    def trace(self, spark, inp, scratch, t):
        from pyspark.sql import functions as F

        from morph_kgc_spark.operators.cache import release
        from morph_kgc_spark.operators.dedup import dup_clusters, simhash_pairs

        docs = self._docs(spark, inp)
        stages = curation_chain(docs)
        m, before = {}, 0.0
        for stage, metric in [("url_dedup", "operators.weburl.url_dedup_s"),
                              ("exact", "operators.dedup.exact_s"),
                              ("gate", "operators.text.gate_s"),
                              ("decontaminate",
                               "operators.curation.decontaminate_s"),
                              ("sample", "operators.curation.sample_s")]:
            upto = t.force(stages[stage])
            m[metric] = upto - before
            before = upto
        m["operators.curation.survivors"] = stages["sample"].count()

        pairs, m["operators.dedup.pairs_s"] = t.call(
            lambda: simhash_pairs(docs, "doc_id", "text", max_hamming=6))
        m["operators.dedup.pairs"] = pairs.count()
        sc = spark.sparkContext
        sc.setJobGroup("cc", "cc")
        clusters, m["operators.dedup.cc_s"] = t.call(lambda: _forced(
            dup_clusters(docs.select("doc_id"), pairs, "doc_id")))
        sc.setJobGroup("trace", "trace")
        m["operators.dedup.cc_jobs"] = len(sc.statusTracker()
                                           .getJobIdsForGroup("cc"))
        m["operators.dedup.clusters"] = (clusters.select("cluster_id")
                                         .agg(F.countDistinct("cluster_id"))
                                         .first()[0])
        release(clusters)
        release(pairs)
        return m


def _forced(df):
    df.write.format("noop").mode("overwrite").save()
    return df


WORKLOADS = {w.name: w for w in (KgRml, WebPages, CurationDedup)}
