"""Per-batch Python kernels timed without Spark, over 2000-row batches
built from the run's own seed window."""

from __future__ import annotations

import statistics
import time

import pandas as pd

from kgpipe.fixtures import RULES_16_TEXT, nt_block, page_html
from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
from kgpipe.nt.parser import parse_nt_frame
from kgpipe.nt.rules import PrefixRewriter, parse_rules
from kgpipe.operators.extract import extract_text_frame

ROWS = 2000
REPEATS = 5


def _us_per_row(fn, batch: pd.Series) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn(batch)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(batch) * 1e6


def kernel_metrics(idx) -> dict[str, float]:
    """us per row of each kernel; `idx` is the run's page-index window
    (its first ROWS pages give the html and text batches, its first
    blocks give the line and term batches)."""
    pages = idx[:ROWS]
    html = pd.Series([page_html(i) for i in pages], dtype="object")
    texts = extract_text_frame(html)
    lines = []
    for i in idx:
        lines.extend(nt_block(i).split("\n"))
        if len(lines) >= ROWS:
            break
    lines = pd.Series(lines[:ROWS], dtype="object")
    terms = parse_nt_frame(lines)["s"].dropna().reset_index(drop=True)

    compat16 = PrefixRewriter(parse_rules(RULES_16_TEXT), mode="compat")
    rules223 = parse_rules(DEFAULT_RULES_TEXT)
    compat223 = PrefixRewriter(rules223, mode="compat")
    lpm223 = PrefixRewriter(rules223, mode="lpm")
    return {
        "nt.parser.parse_nt_frame.us_per_row": _us_per_row(parse_nt_frame, lines),
        "nt.rules.rewrite_series.compat16.us_per_row": _us_per_row(compat16.rewrite_series, texts),
        "nt.rules.rewrite_series.compat223.us_per_row": _us_per_row(compat223.rewrite_series, lines),
        "nt.rules.rewrite_series.lpm223.us_per_row": _us_per_row(lpm223.rewrite_series, terms),
        "operators.extract.extract_text_frame.us_per_row": _us_per_row(extract_text_frame, html),
    }
