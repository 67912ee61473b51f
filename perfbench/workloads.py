"""The benchmark workloads: what each one prepares, runs in its timed
region and checks afterwards.

Each benchmark workload runs two jobs one after the other in every
timed run, so that the jobs share one session's start and warm-up:

build_delta    full_build, then delta_ingest:
  full_build     run_pipeline on a fresh warehouse (extract -> parse ->
                 abbreviate -> link -> CC -> materialize), then a no-op
                 re-run over the unchanged input (the resume cost).
  delta_ingest   incremental_link=True: a base warehouse is built in
                 set-up and restored from a pristine copy before each
                 run; the run ingests base + 1% new pages, then re-runs.
convert_query  nt_convert, then query_suite:
  nt_convert     `kgpipe convert` (CLI entry, built-in 223-rule table,
                 compat, LDJ) over one N-Triples file.
  query_suite    the 15 headline declared queries of `__spark_entry__`
                 over the sf0.01 tables, every result collected.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import __spark_entry__
import kgpipe.cli
import kgpipe.pipeline
from kgpipe.fixtures import RULES_16_TEXT
from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT
from kgpipe.nt.rules import NULL_SENTINEL

from perfbench import inputs, procstat, reference

FULL_PAGES = 4000
# the delta's cost is mostly fixed (index lookups, merge, per-table
# jobs): at local[3] a delta into a 1,000-page base took 8-10 s and
# into a 300-page base 6-6.5 s. With 1% new pages no delta of seeds
# 0-31 relabels an old component, so every seed takes the same path;
# at 1,000 + 10 pages 6 of those seeds relabel, and at 300 + 30 pages
# 12 do, and a relabelling delta took 1.5-2 s longer than the others
DELTA_BASE_PAGES = 300
DELTA_NEW_PAGES = DELTA_BASE_PAGES // 100
# 105k lines; 20k blocks cost ~1 s more a run, which the budget for
# convert_query's two timed runs does not leave
NT_BLOCKS = 10_000
# checkpoint partitions and edge buckets. bench.py's 64/32 hold 625
# pages and ~14k clean triples each at its 40k pages; at 4k pages that
# is 6.4 and 3.2, rounded up to 8 and 4. Measured over 4k pages at
# local[3], one session, three alternating rounds after a warm-up:
# 8/4 took 3.0-4.2 s a build, 16/8 2.9-6.5 s, 32/16 3.8-4.0 s and
# 64/32 5.4-6.5 s (the per-task overhead of 64 tiny partitions)
N_PARTS = 8
N_BUCKETS = 4
# session settings get_spark derives from the master; a workload that
# calls get_spark again (the CLI does) must leave them as they were
WATCHED_CONF = ("spark.master", "spark.sql.shuffle.partitions", "spark.sql.files.minPartitionNum")
PIPELINE_KEYS = ("triples_raw", "canonical_map", "edges", "n_clean")
# bench.py's headline list
HEADLINE_QUERIES = (
    "nt_parse", "nt_parse_abbrev", "sameas_canonical", "exact_dedup_docs",
    "token_counts", "quality_scores", "lang_id", "minhash_lsh_pairs",
    "simhash_pairs", "ann_bruteforce", "ann_ivf",
    "lineitem_agg", "revenue_by_nation", "topk_orders_per_customer",
    "events_agg",
)


@dataclass
class Outcome:
    """One run of a workload's timed region and what it left behind."""
    wall_s: float
    cpu_s: float
    out_rows: int = 0
    written_bytes: int = 0
    disk_write_bytes: int = 0
    peak_rss: int = 0
    steal_frac: float = 0.0
    resume_s: float | None = None
    problems: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)  # job -> its wall_s

    @staticmethod
    def combine(outs: dict[str, Outcome]) -> Outcome:
        """The outcome of jobs run one after the other: times, rows and
        bytes add up, memory is the highest peak."""
        vals = list(outs.values())
        wall = sum(o.wall_s for o in vals)
        resumes = [o.resume_s for o in vals if o.resume_s is not None]
        return Outcome(
            wall_s=wall, cpu_s=sum(o.cpu_s for o in vals),
            out_rows=sum(o.out_rows for o in vals),
            written_bytes=sum(o.written_bytes for o in vals),
            disk_write_bytes=sum(o.disk_write_bytes for o in vals),
            peak_rss=max(o.peak_rss for o in vals),
            steal_frac=sum(o.steal_frac * o.wall_s for o in vals) / wall,
            resume_s=sum(resumes) if resumes else None,
            problems=[f"{name}: {p}" for name, o in outs.items() for p in o.problems],
            phases={name: o.wall_s for name, o in outs.items()},
        )


def bytes_since(path: str, t0: float) -> int:
    """Bytes of the files under `path` last modified at or after t0
    (wall-clock seconds): what a run wrote and left on disk."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(d, name))
            if st.st_mtime >= t0:
                total += st.st_size
    return total


class Workload:
    name = ""
    warmups = 1
    min_runs = 1  # timed runs per invocation at the least
    pipeline = False  # runs kgpipe.pipeline.run_pipeline (span balance check)
    new_pages = 0  # pages the warehouse has not seen before (useful_frac)

    def __init__(self, spark, seed: int, work: str, rss: procstat.PeakRss):
        self.spark, self.seed, self.work, self.rss = spark, seed, work, rss
        os.makedirs(work, exist_ok=True)
        self.conf0 = self._conf()

    def _conf(self) -> dict:
        return {k: self.spark.conf.get(k, None) for k in WATCHED_CONF}

    def conf_problems(self) -> list[str]:
        now = self._conf()
        return [f"session conf changed: {k} {v} -> {now[k]}" for k, v in self.conf0.items() if now[k] != v]

    def _timed(self, fn) -> tuple[object, Outcome]:
        """Run the timed region: wall time, process-tree CPU time, bytes
        written to storage and peak resident memory of exactly that
        call."""
        pids = procstat.tree()
        c0, w0 = procstat.cpu_seconds(pids), procstat.write_bytes(pids)
        j0, st0 = procstat.host_jiffies()
        self.rss.reset()
        t0 = time.monotonic()
        ret = fn()
        wall = time.monotonic() - t0
        j1, st1 = procstat.host_jiffies()
        pids = procstat.tree()
        out = Outcome(wall_s=wall, cpu_s=procstat.cpu_seconds(pids) - c0,
                      disk_write_bytes=procstat.write_bytes(pids) - w0,
                      peak_rss=self.rss.reset(), steal_frac=(st1 - st0) / max(j1 - j0, 1))
        return ret, out

    def _pinned(self) -> dict | None:
        return reference.load_pins().get(self.name, {}).get(str(self.seed))

    def prepare(self) -> None:
        """Inputs for the timed runs (set-up). It is timed several
        times, so a second call rewrites the same files."""
        raise NotImplementedError

    def expect(self) -> dict:
        """Expected output: pinned, or computed without Spark (not
        set-up time)."""
        raise NotImplementedError

    def warm_up(self) -> list[str]:
        """The untimed runs before the timed loop (set-up); returns
        what their output checks found."""
        problems = []
        for _ in range(self.warmups):
            problems += self.run_once().problems
        return problems

    def run_once(self) -> Outcome:
        raise NotImplementedError


class _Pipeline(Workload):
    incremental = False
    pipeline = True

    def _cfg(self, warehouse: str):
        return kgpipe.pipeline.PipelineConfig(
            warehouse=warehouse, rules_text=RULES_16_TEXT, mode="compat",
            n_parts=N_PARTS, n_buckets=N_BUCKETS, incremental_link=self.incremental,
        )

    def _pages(self):
        return self.spark.read.parquet(*self.page_dirs)

    def _expected(self, n_pages: int) -> dict:
        # a pinned seed's pin was computed with the kernels of the
        # commit that introduced the benchmark, so it also catches a
        # kernel change that alters the output
        return self._pinned() or reference.expected_pipeline(
            inputs.window(self.seed, n_pages), RULES_16_TEXT, "compat", NULL_SENTINEL)

    def _run_and_resume(self, wh: str, restore: str | None) -> Outcome:
        shutil.rmtree(wh, ignore_errors=True)
        if restore:
            shutil.copytree(restore, wh)
        cfg = self._cfg(wh)
        pages = self._pages()
        t_wall = time.time()
        _, out = self._timed(lambda: kgpipe.pipeline.run_pipeline(self.spark, pages, cfg))
        t0 = time.monotonic()
        kgpipe.pipeline.run_pipeline(self.spark, self._pages(), cfg)
        out.resume_s = time.monotonic() - t0
        out.written_bytes = bytes_since(wh, t_wall)
        got = reference.written_pipeline(wh)
        out.problems = reference.mismatches(got, self.want, PIPELINE_KEYS)
        if got["n_nonidentity"] == 0:
            out.problems.append("canonical_map has no non-identity rows: linking did nothing")
        out.out_rows = self._new_triples(wh, got)
        return out

    def _new_triples(self, wh: str, got: dict) -> int:
        return got["n_clean"]


class FullBuild(_Pipeline):
    name = "full_build"

    def prepare(self) -> None:
        idx = inputs.window(self.seed, FULL_PAGES)
        self.page_dirs = [os.path.join(self.work, "pages")]
        inputs.write_pages(self.page_dirs[0], idx)
        self.new_pages = len(idx)

    def expect(self) -> dict:
        return self._expected(FULL_PAGES)

    def run_once(self) -> Outcome:
        return self._run_and_resume(os.path.join(self.work, "wh"), None)


class DeltaIngest(_Pipeline):
    name = "delta_ingest"
    incremental = True

    def prepare(self) -> None:
        base = inputs.window(self.seed, DELTA_BASE_PAGES)
        new = inputs.window(self.seed, DELTA_NEW_PAGES, skip=DELTA_BASE_PAGES)
        self.page_dirs = [os.path.join(self.work, "pages_base"), os.path.join(self.work, "pages_new")]
        inputs.write_pages(self.page_dirs[0], base)
        inputs.write_pages(self.page_dirs[1], new)
        self.new_pages = len(new)
        self.new_urls = {inputs.page_url(i) for i in new}

    def warm_up(self) -> list[str]:
        # the base warehouse every delta starts from, then the warm-up delta
        self.pristine = os.path.join(self.work, "pristine")
        shutil.rmtree(self.pristine, ignore_errors=True)
        kgpipe.pipeline.run_pipeline(
            self.spark, self.spark.read.parquet(self.page_dirs[0]), self._cfg(self.pristine))
        return super().warm_up()

    def expect(self) -> dict:
        # the incremental result must equal a from-scratch build over
        # base + new pages
        return self._expected(DELTA_BASE_PAGES + DELTA_NEW_PAGES)

    def run_once(self) -> Outcome:
        return self._run_and_resume(os.path.join(self.work, "wh"), self.pristine)

    def _new_triples(self, wh: str, got: dict) -> int:
        rows = reference.table_rows(os.path.join(wh, "triples_raw"), ["url", "error"])
        return sum(1 for url, err in rows if err is None and url in self.new_urls)


class NtConvert(Workload):
    name = "nt_convert"

    def prepare(self) -> None:
        self.nt_path = os.path.join(self.work, "input.nt")
        inputs.write_nt_file(self.nt_path, inputs.window(self.seed, NT_BLOCKS))

    def expect(self) -> dict:
        return self._pinned() or reference.expected_convert(self.nt_path, DEFAULT_RULES_TEXT)

    def run_once(self) -> Outcome:
        out_dir = os.path.join(self.work, "ldj")
        shutil.rmtree(out_dir, ignore_errors=True)
        t_wall = time.time()
        rc, out = self._timed(lambda: kgpipe.cli.main(["convert", self.nt_path, "--out", out_dir]))
        out.written_bytes = bytes_since(out_dir, t_wall)
        if rc != 0:
            out.problems.append(f"kgpipe convert exited {rc}")
            return out
        got = reference.written_ldj(out_dir)
        out.problems = reference.mismatches(got, self.want, ("ldj", "n_triples"))
        out.out_rows = got["n_triples"]
        return out


def run_query(name: str, spark, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """One declared query with every row and column computed and
    brought to the driver: (column names, rows)."""
    df = __spark_entry__.queries()[name](spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


class QuerySuite(Workload):
    name = "query_suite"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work, "tables")
        inputs.write_query_tables(self.sf_dir, self.seed)

    def expect(self) -> dict:
        # the tables hold the same rows for every seed, so one pinned
        # digest per query serves them all
        return reference.load_pins()["queries"]

    def run_once(self) -> Outcome:
        results = {}

        def suite():
            for q in HEADLINE_QUERIES:
                # looked up at call time, so a traced run sees the wrapper
                results[q] = run_query(q, self.spark, self.sf_dir)

        _, out = self._timed(suite)
        got = {q: reference.result_digest(*results[q]) for q in HEADLINE_QUERIES}
        out.problems = reference.mismatches(got, self.want, HEADLINE_QUERIES)
        out.out_rows = sum(len(rows) for _cols, rows in results.values())
        return out


class _Jobs(Workload):
    """Jobs run one after the other as one workload: set-up, warm-up
    and each timed run go through every job in order."""
    jobs: tuple[type[Workload], ...] = ()

    def __init__(self, spark, seed: int, work: str, rss: procstat.PeakRss):
        super().__init__(spark, seed, work, rss)
        self.parts = [job(spark, seed, os.path.join(work, job.name), rss) for job in self.jobs]
        self.pipeline = any(p.pipeline for p in self.parts)

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()
        self.new_pages = sum(p.new_pages for p in self.parts)

    def expect(self) -> dict:
        for p in self.parts:
            p.want = p.expect()
        return {p.name: p.want for p in self.parts}

    def warm_up(self) -> list[str]:
        return [f"{p.name}: {x}" for p in self.parts for x in p.warm_up()]

    def run_once(self) -> Outcome:
        return Outcome.combine({p.name: p.run_once() for p in self.parts})


class BuildDelta(_Jobs):
    name = "build_delta"
    jobs = (FullBuild, DeltaIngest)


class ConvertQuery(_Jobs):
    name = "convert_query"
    jobs = (NtConvert, QuerySuite)
    # its first timed run is still 5-10% slower than the second (the
    # JVM is compiling), and a median over two halves the weight of a
    # burst of host CPU steal that meets one run. build_delta's set-up
    # runs the pipeline three times, and a second timed build_delta
    # run does not fit the run budget
    min_runs = 2


WORKLOADS = {w.name: w for w in (BuildDelta, ConvertQuery)}
# every job of every workload, in run order
JOBS = [job.name for w in WORKLOADS.values() for job in w.jobs]
