"""Write pins.json: the expected output digests of every workload for a
range of seeds, computed without Spark by perfbench.reference, and
the digest of each headline query's result over the query tables,
computed by the query's DuckDB oracle in `__spark_entry__.oracle_sql`.

    python3 perfbench/pin.py 0 99

A benchmark run whose seed is pinned takes the pin as its expected
output instead of computing it, so a change to the per-batch kernels
that alters their output fails the run, where the reference (which
calls the same kernels) would move with it.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgpipe.fixtures import RULES_16_TEXT  # noqa: E402
from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT  # noqa: E402
from kgpipe.nt.rules import NULL_SENTINEL  # noqa: E402

from perfbench import inputs, reference, workloads as W  # noqa: E402


def pins_for(seed: int, tmp: str) -> dict:
    pipe = lambda n: reference.expected_pipeline(  # noqa: E731
        inputs.window(seed, n), RULES_16_TEXT, "compat", NULL_SENTINEL)
    nt = os.path.join(tmp, f"input-{seed}.nt")
    inputs.write_nt_file(nt, inputs.window(seed, W.NT_BLOCKS))
    keep = lambda d, keys: {k: d[k] for k in keys}  # noqa: E731
    out = {
        "full_build": keep(pipe(W.FULL_PAGES), W.PIPELINE_KEYS),
        "delta_ingest": keep(pipe(W.DELTA_BASE_PAGES + W.DELTA_NEW_PAGES), W.PIPELINE_KEYS),
        "nt_convert": keep(reference.expected_convert(nt, DEFAULT_RULES_TEXT), ("ldj", "n_triples")),
    }
    os.remove(nt)
    return out


def query_pins() -> dict[str, str]:
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    for t in inputs.QUERY_TABLES:
        path = os.path.join(inputs.QUERY_DATA, f"{t}.parquet")
        con.sql(f"create view {t} as select * from read_parquet('{path}')")
    out = {}
    for q in W.HEADLINE_QUERIES:
        res = con.sql(__spark_entry__.oracle_sql()[q])
        out[q] = reference.result_digest(res.columns, res.fetchall())
    return out


def main(lo: int, hi: int) -> None:
    pins: dict[str, dict] = {"queries": query_pins()}
    with tempfile.TemporaryDirectory(dir=os.path.dirname(reference.PINS)) as tmp:
        for seed in range(lo, hi + 1):
            for name, want in pins_for(seed, tmp).items():
                if name in W.JOBS:
                    pins.setdefault(name, {})[str(seed)] = want
    with open(reference.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
