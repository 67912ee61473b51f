"""Expected outputs, computed in plain Python without Spark, and
order-insensitive digests of what the program wrote.

The expected triples come from the same per-batch kernels the Spark
stages run (`extract_text_frame`, `PrefixRewriter.rewrite_series`,
`parse_nt_frame`), so a mismatch points at the distributed plumbing:
partitioning, checkpoints, link, CC or materialize. The pinned digests
in `pins.json` guard the kernels themselves: they were computed with
the kernels of the commit that introduced the benchmark. The headline
queries have no Python recomputation: their results are checked
against digests pinned from their DuckDB oracles.

Linking is recomputed from its definition: explicit owl:sameAs edges
plus URIs equal after `normalize_uri`, connected components labelled
by their smallest member.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re

import pandas as pd
import pyarrow.parquet as pq

from kgpipe.fixtures import OWL_SAMEAS, page_html
from kgpipe.nt.parser import parse_nt_frame
from kgpipe.nt.rules import PrefixRewriter, parse_rules
from kgpipe.operators.extract import extract_text_frame

from perfbench.inputs import page_url

BATCH = 2000
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def digest(rows) -> str:
    """Order-insensitive digest of a multiset of tuples."""
    lines = sorted("\x1f".join("\x00" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()[:32]


# -- expected outputs ------------------------------------------------------

def page_rows(idx, rules_text: str, mode: str, null: str) -> list[tuple]:
    """(s, p, o, url, error) for every line the fused page stage emits,
    error rows included."""
    rw = PrefixRewriter(parse_rules(rules_text), mode=mode, null=null)
    rows: list[tuple] = []
    for lo in range(0, len(idx), BATCH):
        chunk = idx[lo:lo + BATCH]
        texts = extract_text_frame(pd.Series([page_html(i) for i in chunk], dtype="object"))
        if mode == "compat":
            texts = rw.rewrite_series(texts)
        urls, flat = [], []
        for i, text in zip(chunk, texts.fillna("")):
            for ln in text.split("\n"):
                if ln.strip():
                    urls.append(page_url(i))
                    flat.append(ln)
        out = parse_nt_frame(pd.Series(flat, dtype="object"))
        if mode != "compat":
            ok = out["error"].isna()
            for c in ("s", "p", "o"):
                col = out[c]
                col.loc[ok] = rw.rewrite_series(col.loc[ok])
                out[c] = col
        for (s, p, o, err), url in zip(out[["s", "p", "o", "error"]].itertuples(index=False), urls):
            rows.append((s, p, o, url, None if pd.isna(err) else err))
    return rows


def _normalize(u: str) -> str:
    # kgpipe.operators.link.normalize_uri, in Python
    u = re.sub(r"^https://", "http://", u)
    u = re.sub(r"^http://www\.", "http://", u)
    u = re.sub(r"/$", "", u)
    return u.replace("%20", " ")


def canonical_map(clean: list[tuple], sameas_pred: str = OWL_SAMEAS) -> dict[str, str]:
    """uri -> smallest member of its component, for every URI that sits
    on a link edge."""
    edges = [(s, o) for s, p, o in clean if p == sameas_pred and s is not None and o is not None]
    by_norm: dict[str, list[str]] = {}
    for u in {v for s, _p, o in clean for v in (s, o) if v is not None}:
        by_norm.setdefault(_normalize(u), []).append(u)
    for group in by_norm.values():
        if len(group) > 1:
            hub = min(group)
            edges.extend((u, hub) for u in group if u != hub)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def expected_pipeline(idx, rules_text: str, mode: str, null: str) -> dict:
    """Digests and sizes of triples_raw, canonical_map and edges for a
    from-scratch build over the pages in `idx`."""
    raw = page_rows(idx, rules_text, mode, null)
    clean = [(s, p, o) for s, p, o, _u, err in raw if err is None]
    cmap = canonical_map(clean)
    edges = [(cmap.get(s, s), p, cmap.get(o, o)) for s, p, o in clean]
    return {
        "triples_raw": digest(raw),
        "canonical_map": digest(cmap.items()),
        "edges": digest(edges),
        "n_clean": len(clean),
        "n_nonidentity": sum(1 for u, c in cmap.items() if u != c),
    }


def expected_convert(nt_path: str, rules_text: str) -> dict:
    """Digest of the (s, p, o) records `kgpipe convert` writes in its
    default mode (compat rewrite of the raw line, then parse)."""
    rw = PrefixRewriter(parse_rules(rules_text), mode="compat")
    with open(nt_path, encoding="utf-8") as f:
        lines = [ln.rstrip("\n") for ln in f]
    lines = [ln for ln in lines if ln.strip()]
    rows: list[tuple] = []
    for lo in range(0, len(lines), BATCH):
        batch = rw.rewrite_series(pd.Series(lines[lo:lo + BATCH], dtype="object"))
        out = parse_nt_frame(batch.reset_index(drop=True))
        out = out[out["error"].isna()]
        rows.extend(out[["s", "p", "o"]].itertuples(index=False, name=None))
    return {"ldj": digest(rows), "n_triples": len(rows), "n_lines": len(lines)}


# -- what the program wrote --------------------------------------------------

def table_rows(path: str, cols: list[str]) -> list[tuple]:
    """Rows of a parquet table directory (hive partition dirs and
    bucketed files included; _/.-prefixed side files are skipped)."""
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def written_pipeline(warehouse: str) -> dict:
    raw = table_rows(os.path.join(warehouse, "triples_raw"), ["s", "p", "o", "url", "error"])
    cmap = table_rows(os.path.join(warehouse, "canonical_map"), ["uri", "canon_id"])
    edges = table_rows(os.path.join(warehouse, "edges"), ["canon_s", "p", "canon_o"])
    return {
        "triples_raw": digest(raw),
        "canonical_map": digest(cmap),
        "edges": digest(edges),
        "n_clean": sum(1 for r in raw if r[4] is None),
        "n_nonidentity": sum(1 for u, c in cmap if u != c),
    }


def written_ldj(out_dir: str) -> dict:
    rows = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            for ln in f:
                d = json.loads(ln)
                rows.append((d.get("s"), d.get("p"), d.get("o")))
    return {"ldj": digest(rows), "n_triples": len(rows)}


def _canon(v) -> str:
    # the canonical cell form of tests/test_entry.py's oracle gate
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_digest(cols: list[str], rows) -> str:
    """Digest of a query result, insensitive to row and column order
    (columns are matched by lower-cased name)."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    head = "\x1e".join(names[i] for i in order)
    return digest([(head,)] + [tuple(_canon(r[i]) for i in order) for r in rows])


def mismatches(got: dict, want: dict, keys) -> list[str]:
    return [f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys if got.get(k) != want.get(k)]


def load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)
