"""Workload inputs: the documents and their seed-dependent split.

The documents are ``data/documents.parquet``: the first 1,000 doc ids of the
sf0.1 test tables' ``documents.parquet`` (TESTDATA.md), kept in the benchmark
so a run reads nothing outside its checkout. Rebuild it with

    python3 perfbench/corpus.py SF0.1_DIR

``graphiti_spark.synth`` turns them into pages. The run seed picks which
tenth of the doc ids is the fresh-pool delta batch (``delta_tenth``); the
row layout of the materialized pages is ``worker.materialize``'s. This
module imports no Spark.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
# Not sf0.1's 5,000: the bootstrap and the delta are mostly fixed per-job
# overhead (~25 s and ~22 s on a 4-core host at both 500 and 1,000
# documents; 55 s and 37 s at 5,000), and at 5,000 the runs the benchmark
# makes no longer fit its time budget.
N_DOCS = 1000
N_TENTHS = 10


def doc_ids() -> list[int]:
    return pq.read_table(DATA, columns=["doc_id"])["doc_id"].to_pylist()


def tenths(ids: list[int]) -> list[list[int]]:
    """Ten equal parts of ``ids``: ordered by an md5 of the doc id and cut
    into consecutive tenths, so every tenth is a hash sample of the same size."""
    ranked = sorted(ids, key=lambda i: hashlib.md5(f"tenth:{i}".encode()).hexdigest())
    n = len(ranked)
    return [ranked[n * i // N_TENTHS : n * (i + 1) // N_TENTHS] for i in range(N_TENTHS)]


def delta_tenth(seed: int) -> int:
    """The tenth of the long-tail urls that forms the fresh delta batch."""
    return seed % N_TENTHS


def split_longtail(ids: list[int], seed: int) -> tuple[list[int], list[int]]:
    """(base 90%, delta 10%) of the long-tail doc ids for this seed."""
    parts = tenths(ids)
    t = delta_tenth(seed)
    base = [i for k, part in enumerate(parts) if k != t for i in part]
    return sorted(base), sorted(parts[t])


def write_documents(ids: list[int], sf_dir: str) -> str:
    """Write the documents with these ids as ``<sf_dir>/documents.parquet``,
    the layout ``graphiti_spark.synth`` reads."""
    table = pq.read_table(DATA)
    table = table.filter(pc.is_in(table["doc_id"], value_set=pa.array(ids, pa.int64())))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def land_files(table_dir: str, out: str, n_files: int) -> str:
    """Split a parquet table into ``n_files`` files under ``out``, keeping its
    row order: pages landing in a directory a stream will drain. Timestamps
    are written as UTC microseconds, the only form Spark reads back as its
    ``timestamp`` type."""
    table = pq.read_table(table_dir)
    utc = pa.timestamp("us", tz="UTC")
    table = table.cast(
        pa.schema(
            [pa.field(f.name, utc) if pa.types.is_timestamp(f.type) else f for f in table.schema]
        )
    )
    os.makedirs(out, exist_ok=True)
    bounds = [table.num_rows * i // n_files for i in range(n_files + 1)]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"drop-{i:05d}.parquet"))
    return out


def make_data(sf_dir: str) -> None:
    """Write ``DATA``: the first ``N_DOCS`` doc ids of ``<sf_dir>/documents.parquet``."""
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    table = table.filter(pc.less(table["doc_id"], N_DOCS)).sort_by("doc_id")
    table = table.replace_schema_metadata(None)
    assert table.num_rows == N_DOCS, table.num_rows
    os.makedirs(os.path.dirname(DATA), exist_ok=True)
    pq.write_table(table, DATA)


if __name__ == "__main__":
    make_data(sys.argv[1])
