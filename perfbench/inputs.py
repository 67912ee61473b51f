"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the seed: the seed picks a window of
page indexes, and the `kgpipe.fixtures` generators turn each index into
the same page (or N-Triples block) every time. A new seed gives new
pages from the same distribution. The query tables are fixed; the seed
only permutes their row order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgpipe.fixtures import nt_block, page_html

# seed s reads page indexes [s * SEED_STRIDE, s * SEED_STRIDE + n)
SEED_STRIDE = 1_000_000
# the tables the headline queries read: a copy of the project's sf0.01
# synthetic test tables (TPC-H-style star schema, events, documents,
# embeddings), fixed for every seed
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
QUERY_TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders")
# the pages table is written as this many files so the fused Python
# stage gets one input split per core slot (a single parquet row group
# never splits)
PAGE_FILES = 8


def window(seed: int, n: int, skip: int = 0) -> range:
    lo = seed * SEED_STRIDE + skip
    return range(lo, lo + n)


def page_url(i: int) -> str:
    # same url shape as kgpipe.fixtures.gen_pages
    return f"https://site{i % 97}.example.org/page/{i}"


def pages_frame(idx: range) -> dict[str, list]:
    return {
        "url": [page_url(i) for i in idx],
        "html": [page_html(i) for i in idx],
    }


def write_pages(path: str, idx: range) -> int:
    """Pages (url, html) for the indexes in `idx` as PAGE_FILES parquet
    files under `path`; returns the page count."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    n = len(idx)
    step = -(-n // PAGE_FILES)
    for k in range(PAGE_FILES):
        part = idx[k * step:(k + 1) * step]
        if not len(part):
            continue
        table = pa.table(pages_frame(part), schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    return n


def write_query_tables(path: str, seed: int) -> None:
    """The fixed query tables (QUERY_TABLES), each with its rows in the
    order a seeded permutation gives, as one parquet file of one row
    group, the layout the tables ship in. A seed changes the physical
    order and so the partition contents, never the rows: the query
    results are the same for every seed."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in QUERY_TABLES:
        table = pq.read_table(os.path.join(QUERY_DATA, f"{name}.parquet"))
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(path, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))


def write_nt_file(path: str, idx: range) -> int:
    """One N-Triples text file holding nt_block(i) for every index;
    returns the line count (about 1% of the lines are malformed on
    purpose, as the fixture generator makes them)."""
    n_lines = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in idx:
            block = nt_block(i)
            f.write(block)
            f.write("\n")
            n_lines += block.count("\n") + 1
    return n_lines
