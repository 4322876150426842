"""The benchmark's correctness check is not vacuous: an output equal to
the reference passes, and the same output with one triple or one id
dropped fails. Spark-free; run with

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402


def _lines(sql: str, views: dict[str, str]) -> list[str]:
    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        return sorted(r[0] for r in con.execute(sql).fetchall())
    finally:
        con.close()


def _write_text(out, lines):
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "part-00000.txt"), "w") as f:
        f.write("".join(line + "\n" for line in lines))


def _write_triples(out, lines):
    os.makedirs(os.path.join(out, "bucket=0"), exist_ok=True)
    spo = [line[:-2].split(" ", 2) for line in lines]
    pq.write_table(pa.table({k: [t[i] for t in spo] for i, k in
                             enumerate(["subject", "predicate", "object"])}),
                   os.path.join(out, "bucket=0", "part-0.parquet"))


def _write_ids(out, rows):
    for name, cols in [
        ("survivors", {"doc_id": [int(r[1:]) for r in rows if r[0] == "S"]}),
        ("clusters", {
            "doc_id": [int(r[1:].split(":")[0]) for r in rows if r[0] == "C"],
            "cluster_id": [int(r.split(":")[1]) for r in rows if r[0] == "C"]}),
    ]:
        os.makedirs(os.path.join(out, name), exist_ok=True)
        pq.write_table(pa.table({k: pa.array(v, pa.int64())
                                 for k, v in cols.items()}),
                       os.path.join(out, name, "part-0.parquet"))


def test_kg_check_fails_on_a_dropped_triple(tmp_path):
    wl = workloads.KgRml()
    wl.n_orders = 600
    inp = str(tmp_path / "in")
    wl.generate(inp, 7)
    ref = wl.reference(inp)
    lines = _lines(*wl.reference_sql(inp))
    _write_text(str(tmp_path / "good"), lines)
    _write_text(str(tmp_path / "bad"), lines[:-1])
    assert wl.fingerprint(str(tmp_path / "good")) == ref
    assert wl.fingerprint(str(tmp_path / "bad")) != ref


def test_web_check_fails_on_a_dropped_triple(tmp_path):
    wl = workloads.WebPages()
    wl.n_pages = 500
    inp = str(tmp_path / "in")
    wl.generate(inp, 7)
    ref = wl.reference(inp)
    lines = _lines(*wl.reference_sql(inp))
    _write_triples(str(tmp_path / "good"), lines)
    _write_triples(str(tmp_path / "bad"), lines[1:])
    assert wl.fingerprint(str(tmp_path / "good")) == ref
    assert wl.fingerprint(str(tmp_path / "bad")) != ref


def test_curation_check_fails_on_a_dropped_id(tmp_path):
    wl = workloads.CurationDedup()
    wl.n_docs = 400
    inp = str(tmp_path / "in")
    wl.generate(inp, 7)
    ref = wl.reference(inp)
    rows = wl.reference_rows(inp)
    survivor = next(r for r in rows if r[0] == "S")
    _write_ids(str(tmp_path / "good"), rows)
    _write_ids(str(tmp_path / "bad"), [r for r in rows if r != survivor])
    assert wl.fingerprint(str(tmp_path / "good")) == ref
    assert wl.fingerprint(str(tmp_path / "bad")) != ref


def test_simhash_reference_matches_the_oracle(tmp_path):
    """The numpy cluster reference agrees with the DuckDB recursive-CTE
    oracle on a corpus small enough for the oracle."""
    from morph_kgc_spark import oracles

    inp = str(tmp_path / "in")
    workloads.gen.corpus(inp, 3, 300)
    path = os.path.join(inp, "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        oracle = dict(con.execute(oracles.dedup_clusters()).fetchall())
        ids, texts = zip(*con.execute("SELECT doc_id, text FROM documents")
                         .fetchall())
    finally:
        con.close()
    assert workloads.simhash_clusters(ids, texts) == oracle
    assert len(set(oracle.values())) < len(oracle)  # some docs cluster
