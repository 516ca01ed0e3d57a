"""Seed -> inputs: the same seed gives the same inputs, and a seed changes
only the delta tenth and the row layout, never the document content."""

import collections
import os

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import worker


def _files(table_dir):
    names = sorted(n for n in os.listdir(table_dir) if n.endswith(".parquet"))
    return [pq.read_table(os.path.join(table_dir, n)).to_pylist() for n in names]


def _multiset(files):
    return collections.Counter(tuple(sorted(r.items())) for f in files for r in f)


def test_data_is_the_first_thousand_documents():
    assert corpus.doc_ids() == list(range(corpus.N_DOCS))
    schema = pq.read_schema(corpus.DATA)
    assert schema.names == ["doc_id", "text", "lang", "source", "n_chars"]


def test_longtail_split_is_a_seeded_tenth():
    ids = corpus.doc_ids()
    base, delta = corpus.split_longtail(ids, seed=3)
    assert set(base) | set(delta) == set(ids) and not set(base) & set(delta)
    assert len(delta) == 100 and len(base) == 900
    assert corpus.split_longtail(ids, seed=13) == (base, delta)  # seed % 10
    assert corpus.split_longtail(ids, seed=4)[1] != delta


def test_write_documents_keeps_the_rows(tmp_path):
    ids = [5, 7, 900]
    out = corpus.write_documents(ids, str(tmp_path / "sf"))
    got = pq.read_table(os.path.join(out, "documents.parquet")).to_pylist()
    every = {r["doc_id"]: r for r in pq.read_table(corpus.DATA).to_pylist()}
    assert got == [every[i] for i in ids]


def test_materialize_seed_sets_layout_not_content(spark, tmp_path):
    df = spark.createDataFrame([(f"u{i}", i) for i in range(200)], "url string, n long")
    one = _files(worker.materialize(df, str(tmp_path / "a"), seed=7, n_files=4))
    two = _files(worker.materialize(df, str(tmp_path / "b"), seed=7, n_files=4))
    other = _files(worker.materialize(df, str(tmp_path / "c"), seed=8, n_files=4))
    assert one == two
    assert one != other
    assert _multiset(one) == _multiset(other) == _multiset([df.toPandas().to_dict("records")])


def test_land_files_keeps_rows(tmp_path):
    src = tmp_path / "t"
    src.mkdir()
    pq.write_table(pa.table({"url": [f"u{i}" for i in range(10)]}), str(src / "p.parquet"))
    out = corpus.land_files(str(src), str(tmp_path / "landed"), 4)
    files = sorted(os.listdir(out))
    assert len(files) == 4
    got = [u for n in files for u in pq.read_table(os.path.join(out, n))["url"].to_pylist()]
    assert got == [f"u{i}" for i in range(10)]
