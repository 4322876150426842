"""Adversarial input shapes.

KG materialization: empty sources, one hot join key, and NULL lexical
forms in referenced columns. Each case runs ``fixtures/mapping_basic.ttl``
(students → sports via a join on ``Sport = ID``) over CSVs generated
next to a copy of it, and compares against the exact triple set the
mapping defines.

Curation: corpora with NULL and empty texts, all-duplicate texts and a
single document, through the curation chain and SimHash clusters,
compared against their DuckDB oracles.
"""

import os
import shutil

import duckdb
import pytest

import __spark_entry__ as entry
from morph_kgc_spark import materialize, oracles
from morph_kgc_spark.operators.cache import release
from morph_kgc_spark.operators.dedup import simhash_dup_clusters

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
EX = "http://example.com/"
FOAF = "http://xmlns.com/foaf/0.1/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _run(spark, tmp_path, students: str, sports: str) -> set:
    shutil.copy(os.path.join(FIXTURES, "mapping_basic.ttl"), tmp_path)
    (tmp_path / "student.csv").write_text(students)
    (tmp_path / "sport.csv").write_text(sports)
    out = materialize(spark, str(tmp_path / "mapping_basic.ttl"))
    return {tuple(r) for r in out.collect()}


def _student(sid: str, name: str | None = None, sport: str | None = None):
    s = f"<{EX}student/{sid}>"
    out = {(s, RDF_TYPE, f"<{FOAF}Person>"),
           (s, f"<{EX}id>", f'"{sid}"^^<{XSD}integer>')}
    if name is not None:
        out.add((s, f"<{FOAF}name>", f'"{name}"'))
    if sport is not None:
        out.add((s, f"<{EX}plays>", f"<{EX}sport/{sport}>"))
    return out


def test_header_only_sources_yield_no_triples(spark, tmp_path):
    assert _run(spark, tmp_path, "ID,Name,Sport\n", "ID,Description\n") \
        == set()


def test_one_hot_join_key(spark, tmp_path):
    """Every student joins the same sport row."""
    n = 2000
    students = "ID,Name,Sport\n" + "".join(
        f"{i},Student {i},110\n" for i in range(1, n + 1))
    got = _run(spark, tmp_path, students, "ID,Description\n110,Tennis\n")
    expected = {(f"<{EX}sport/110>", f"<{FOAF}name>", '"Tennis"')}
    for i in range(1, n + 1):
        expected |= _student(str(i), f"Student {i}", "110")
    assert len(got) == 4 * n + 1
    assert got == expected


def test_na_values_drop_referencing_triples(spark, tmp_path):
    """'' and 'nan' (the default na_values) are NULL: a term that
    references one is not generated, and neither is its triple."""
    students = ("ID,Name,Sport\n"
                "1,nan,110\n"
                "2,Bea,\n"
                "3,,nan\n"
                '4,"",111\n'
                "nan,Ghost,110\n")
    got = _run(spark, tmp_path, students,
               "ID,Description\n110,Tennis\n111,nan\n")
    expected = {(f"<{EX}sport/110>", f"<{FOAF}name>", '"Tennis"')}
    expected |= _student("1", sport="110")
    expected |= _student("2", "Bea")
    expected |= _student("3")
    expected |= _student("4", sport="111")
    assert got == expected


# ---------------------------------------------------------------------------
# curation corpora: NULL / empty texts, all-duplicate, one document
# ---------------------------------------------------------------------------


def _text(i: int, n: int = 25) -> str:
    return " ".join(f"w{i}_{j}" for j in range(n))


def _null_and_empty_corpus():
    docs = {i: _text(i) for i in range(40)}
    docs[12] = _text(7, 24) + " tail"  # contaminated by bench doc 7
    docs.update({17: None, 27: None, 3: "", 30: ""})  # 27 is a bench doc
    return sorted(docs.items())


CORPORA = {
    "null_and_empty": _null_and_empty_corpus(),
    # even ids: no copy is a bench doc (doc_id % 20 == 7), so one
    # survives decontamination
    "all_duplicate": [(2 * i, _text(0)) for i in range(40)],
    "one_document": [(3, _text(3))],
}


@pytest.mark.parametrize("corpus", CORPORA)
def test_curation_and_clusters_match_oracles(spark, tmp_path, corpus):
    """The composed curation chain and SimHash clusters over a
    documents.parquet of the given shape equal their DuckDB twins."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
        con.executemany(
            "INSERT INTO documents VALUES (?, ?, 'en', 'web', ?)",
            [(i, t, len(t or "")) for i, t in CORPORA[corpus]])
        con.execute(f"COPY documents TO '{tmp_path}/documents.parquet' "
                    "(FORMAT parquet)")
        want_kept = sorted(con.execute(oracles.curation_pipeline()).fetchall())
        want_clusters = sorted(con.execute(oracles.dedup_clusters()).fetchall())
    finally:
        con.close()

    kept = entry.queries()["curation_pipeline"](spark, str(tmp_path))
    assert sorted(tuple(r) for r in kept.collect()) == want_kept
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    clusters = simhash_dup_clusters(docs, "doc_id", "text", max_hamming=6)
    assert sorted(tuple(r) for r in clusters.collect()) == want_clusters
    release(clusters)
