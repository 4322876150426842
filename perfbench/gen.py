"""Seeded input generators for the three benchmark workloads.

Every generator writes parquet files into a directory and touches
nothing else; the program under test only ever reads those files. The
same seed always gives byte-identical inputs.

- ``tpch_tables``: a TPC-H-shaped schema (customer, orders, lineitem,
  part, supplier, nation, region) plus a small ``documents`` table for
  the language-tagged rule. Keys, foreign keys and value columns come
  from a fixed stream, so every seed has the same row counts and key
  distribution; the seed draws the document texts and the row order of
  every table.
- ``web_pages``: pages in the pipeline's input shape (url, warc_ts,
  html, text, lang) and the alias dictionary (alias, n_words,
  entity_iri, prior). The seed draws the words, the mentioned entities
  and the dictionary priors.
- ``corpus``: a near-duplicate document corpus (doc_id, text, lang,
  source, n_chars): originals plus edited and exact copies of them.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the words of the shipped test corpus, padded with synthetic tokens so
# 3-gram decontamination and simhash see a realistic vocabulary
_BASE_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
               "dup", "fast", "filter", "group", "hash", "join", "key",
               "line", "merge", "order", "part", "query", "row", "scan",
               "slow", "small", "sort", "spark", "stream", "table", "the",
               "value", "vector", "window"]
VOCAB = _BASE_WORDS + [f"w{i:03d}" for i in range(600)]
LANGS = ["en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
           "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
           "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
           "UNITED KINGDOM", "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# the dirty-literal suffix: every N-Triples escape in one string
DIRTY_SUFFIX = '\\"q"\n\t\'\b\f\r'

PAGE_WORDS = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
              "data", "knowledge", "graph", "pipeline", "spark", "web",
              "page", "crawl", "archive", "index", "content", "extract",
              "entity", "link"]
HTML_PRE = "<html><head><title>p</title></head><body><article>"
HTML_POST = "</article></body></html>"
KG = "http://kg.example.org/"


def _write(out_dir: str, name: str, cols: dict, order=None) -> None:
    table = pa.table(cols)
    if order is not None:
        table = table.take(pa.array(order))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    # uniform draws: under a skewed word distribution every 32-bit
    # simhash follows the frequent words and the near-dup graph
    # collapses into one component
    lengths = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return out


def tpch_tables(out_dir: str, seed: int, n_orders: int) -> None:
    """TPC-H-shaped tables with ``n_orders`` orders (sf0.1 has 150k)."""
    os.makedirs(out_dir, exist_ok=True)
    fixed = np.random.default_rng(20_240_101)
    seeded = np.random.default_rng(seed)
    n_cust, n_part = n_orders // 10, n_orders * 2 // 15
    n_supp, n_docs = max(n_orders // 150, 1), n_orders // 30

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(1, n_cust + 1)
    seg = [SEGMENTS[i] for i in fixed.integers(0, 5, n_cust)]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(fixed.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(fixed.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg,
        "c_dirty": [s + DIRTY_SUFFIX for s in seg],
    }, seeded.permutation(n_cust))

    sk = np.arange(1, n_supp + 1)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(fixed.integers(0, 25, n_supp), pa.int32()),
    }, seeded.permutation(n_supp))

    pk = np.arange(1, n_part + 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"part {k}" for k in pk],
        "p_size": pa.array(fixed.integers(1, 51, n_part), pa.int32()),
    }, seeded.permutation(n_part))

    # TPC-H sparse order keys; a third of the customers place no order
    ok = np.arange(1, n_orders + 1) * 4 - 3
    cents = fixed.integers(90_000, 50_000_000, n_orders)
    epoch = dt.datetime(1992, 1, 1)
    secs = fixed.integers(0, 2400 * 86400, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(fixed.integers(1, n_cust * 2 // 3 + 1,
                                             n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in fixed.choice(3, n_orders,
                                                p=[0.49, 0.49, 0.02])],
        "o_totalprice": cents / 100.0,
        "o_price": pa.array([Decimal(int(c)).scaleb(-2) for c in cents],
                            pa.decimal128(12, 2)),
        "o_orderdate": pa.array([epoch + dt.timedelta(seconds=int(s))
                                 for s in secs], pa.timestamp("us")),
    }, seeded.permutation(n_orders))

    per_order = fixed.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_ok = np.repeat(ok, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_ln = np.arange(n_li) - starts + 1
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(fixed.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(fixed.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": fixed.integers(1, 51, n_li).astype(np.float64),
    }, seeded.permutation(n_li))

    docs = _texts(seeded, n_docs, 8, 60)
    # a few texts carry characters the literal escaper must handle
    for i in range(0, n_docs, 97):
        docs[i] += ' "quoted" \\ tail'
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in seeded.integers(0, len(LANGS), n_docs)],
    }, seeded.permutation(n_docs))


def web_pages(out_dir: str, seed: int, n_pages: int,
              n_entities: int = 256, n_hosts: int = 1024) -> None:
    """Pages plus the alias dictionary the entity linker reads.

    Every page names one entity's alias, a fifth also name a head
    entity (join skew); one page in 17 carries quotes, a backslash and
    a non-ASCII letter. The dictionary holds one alias per entity plus
    a second entity for every 16th alias, so linking has real choices.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = np.arange(n_pages)
    hosts = np.minimum(n_hosts - 1,
                       np.floor(rng.exponential(120, n_pages))).astype(int)
    lengths = rng.integers(12, 32, n_pages)
    words = rng.integers(0, len(PAGE_WORDS), int(lengths.sum()))
    ent = rng.integers(0, n_entities, n_pages)
    head = rng.integers(0, 4, n_pages)
    texts, pos = [], 0
    for i in ids:
        k = lengths[i]
        t = " ".join(PAGE_WORDS[w] for w in words[pos:pos + k])
        pos += k
        t += f" Entity Alias {ent[i]}"
        if i % 5 == 0:
            t += f" Entity Alias {head[i]}"
        if i % 17 == 0:
            t += ' "quoted" \\ tail \u00fc'
        texts.append(t)
    t0 = dt.datetime(2024, 1, 1)
    _write(out_dir, "pages", {
        "url": [f"http://site{h}.example.org/page/{i}"
                for h, i in zip(hosts, ids)],
        "warc_ts": pa.array([t0 + dt.timedelta(seconds=int(i) * 7)
                             for i in ids], pa.timestamp("us")),
        "html": pa.array([(HTML_PRE + t + HTML_POST).encode()
                          for t in texts], pa.binary()),
        "text": texts,
        "lang": [("en", "es", "de", "fr")[i] for i in rng.integers(0, 4, n_pages)],
    }, rng.permutation(n_pages))

    ent_ids = list(range(n_entities)) + [n_entities + e for e in
                                         range(0, n_entities, 16)]
    alias_of = [e if e < n_entities else (e - n_entities)
                for e in ent_ids]
    aliases = [f"Entity Alias {a}" for a in alias_of]
    _write(out_dir, "aliases", {
        "alias": aliases,
        "n_words": pa.array([len(a.split(" ")) for a in aliases], pa.int32()),
        "entity_iri": [f"{KG}entity/E{e}" for e in ent_ids],
        "prior": rng.integers(0, 1000, len(ent_ids)) / 1000.0,
    })


def corpus(out_dir: str, seed: int, n_docs: int) -> None:
    """Near-duplicate corpus: 40% originals, 45% copies with one to
    three words replaced, 15% exact copies, shuffled over doc ids."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orig = n_docs * 40 // 100
    n_near = n_docs * 45 // 100
    texts = _texts(rng, n_orig, 15, 90)
    for src in rng.integers(0, n_orig, n_near):
        toks = texts[src].split(" ")
        for j in rng.integers(0, len(toks), rng.integers(1, 4)):
            toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
        texts.append(" ".join(toks))
    texts += [texts[i] for i in rng.integers(0, len(texts),
                                             n_docs - len(texts))]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
