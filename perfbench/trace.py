"""Spans around the calls into kgpipe's modules, recorded from the
benchmark's side: kgpipe itself is not edited, its public callables are
wrapped where `kgpipe.pipeline` (and the CLI) look them up.

Each span sets a Spark job group named after it, so the event log can
attribute every job, task, CPU second, shuffle byte and spill byte to
the innermost span that ran it. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

from perfbench.workloads import HEADLINE_QUERIES

# the spans reported per layer with every field. The tracer also opens
# io.write.other (the pipeline's other tables) and cli.main (the CLI
# around the convert job), so that their time is not booked to their
# parent's self time, but does not report them
SPANS = [
    "pipeline.run_pipeline",
    "io.write.triples_raw",
    "cc.canonical_map_for_nodes",
    "cc.incremental_merge",
    "io.write.canonical_map",
    "io.write_bucketed.edges",
    "io.patch_partitions",
    "io.replace",
    "io.small",
    "checkpoints.mark_done_rows",
    "checkpoints.completed_set",
    "sinks.write_ldj",
]
# spans that report only their wall time: the pipeline's writes of the
# edges table through TableIO.write (the incremental path's delta layer
# or full relabel) and one span per headline query
S_ONLY = ["io.write.edges", *(f"query.{q}" for q in HEADLINE_QUERIES)]
# per-span field -> unit
FIELDS = {"s": "s", "self_s": "s", "calls": "count", "jobs": "count",
          "tasks_failed": "count", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    run: int
    parent: int | None
    depth: int
    thread: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while `run` is set; a span entered with the same
    name as the innermost open span on its thread is folded into it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run: int | None = None
        self.run_ids = itertools.count()
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        if self.run is None or (stack and stack[-1].name == name):
            return fn(*args, **kwargs)
        # a span opened on a thread with nothing open (the pipeline's
        # background stats thread) hangs under the run's root span
        parent = stack[-1] if stack else self._root
        sp = Span(
            id=next(self._ids), name=name, run=self.run,
            parent=parent.id if parent else None,
            depth=parent.depth + 1 if parent else 0,
            thread=threading.current_thread().name, start=time.monotonic(),
        )
        if parent is None:
            self._root = sp
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(f"{self.run}:{name}", name)
        stack.append(sp)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.monotonic()
            stack.pop()
            for k, v in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)
            if sp is self._root:
                self._root = None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: (s.run, s.start)):
                f.write(json.dumps(asdict(sp)) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap kgpipe's public callables at the names the pipeline and the
    CLI resolve at call time, and the per-query call of convert_query."""
    import kgpipe.cli
    import kgpipe.operators.cc
    import kgpipe.operators.sinks
    import kgpipe.pipeline
    from kgpipe.checkpoints import CheckpointLog
    from kgpipe.io import TableIO

    import perfbench.workloads

    def wrap(owner, attr: str, name):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = name(*args, **kwargs) if callable(name) else name
            return tracer.call(span, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    wrap(kgpipe.pipeline, "run_pipeline", "pipeline.run_pipeline")
    wrap(kgpipe.pipeline, "canonical_map_for_nodes", "cc.canonical_map_for_nodes")
    wrap(kgpipe.operators.cc, "canonical_map_for_nodes", "cc.canonical_map_for_nodes")
    wrap(kgpipe.operators.cc, "incremental_merge", "cc.incremental_merge")
    wrap(kgpipe.operators.sinks, "write_ldj", "sinks.write_ldj")
    wrap(kgpipe.cli, "main", "cli.main")

    def write_span(io, df, name, *a, **kw):
        return f"io.write.{name}" if name in ("triples_raw", "canonical_map", "edges") else "io.write.other"

    wrap(TableIO, "write", write_span)
    wrap(TableIO, "write_bucketed", lambda io, df, name, *a, **kw: f"io.write_bucketed.{name}")
    wrap(TableIO, "patch_partitions", "io.patch_partitions")
    wrap(TableIO, "replace", "io.replace")
    for attr in ("write_small_rows", "write_small", "write_json_atomic",
                 "read_small_rows", "read_json"):
        wrap(TableIO, attr, "io.small")
    wrap(CheckpointLog, "mark_done_rows", "checkpoints.mark_done_rows")
    wrap(CheckpointLog, "completed_set", "checkpoints.completed_set")
    wrap(perfbench.workloads, "run_query", lambda q, *a, **kw: f"query.{q}")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span of one run. Every instant of the run is
    booked to exactly one span: the deepest one open at that instant
    (the latest started on a tie), so time where a background-thread
    span overlaps the main thread's spans is counted once, and the self
    times of a root and everything under it sum to the root's wall
    time."""
    out = {sp.id: 0.0 for sp in spans}
    cuts = sorted({t for sp in spans for t in (sp.start, sp.end)})
    for a, b in zip(cuts, cuts[1:]):
        open_ = [sp for sp in spans if sp.start <= a and sp.end >= b]
        if open_:
            owner = max(open_, key=lambda sp: (sp.depth, sp.start))
            out[owner.id] += b - a
    return out


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order: Spark 4 writes a directory
    `eventlog_v2_<app>/events_<n>_<app>` per application (older
    layouts: one plain file)."""
    out = []
    for d, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith("events_"):
                out.append((int(name.split("_")[1]), os.path.join(d, name)))
            elif not name.startswith(("appstatus", ".")) and d == log_dir:
                out.append((0, os.path.join(d, name)))
    return [p for _n, p in sorted(out)]


def event_log_stats(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, failed tasks, executor CPU seconds, shuffle
    MB written, MB spilled to disk and input records read, summed from
    the Spark event log(s) in `log_dir`."""
    stats: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}

    def bucket(group: str) -> dict[str, float]:
        return stats.setdefault(group, dict.fromkeys(
            ("jobs", "tasks_failed", "cpu_s", "shuffle_mb", "spill_mb", "records_in"), 0.0))

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        bucket(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    b = bucket(group)
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        b["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    b["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    b["records_in"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return stats


def layer_metrics(spans: list[Span], run: int, groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """`<span>.<field>` for every field of the spans in SPANS and `.s`
    of those in S_ONLY, summed over the calls one run made (0 for spans
    the run never entered)."""
    mine = [sp for sp in spans if sp.run == run]
    own = self_times(mine)
    out: dict[str, float] = {}
    for name in [*SPANS, *S_ONLY]:
        calls = [sp for sp in mine if sp.name == name]
        g = groups.get(f"{run}:{name}", {})
        vals = {
            "s": sum(sp.end - sp.start for sp in calls),
            "self_s": sum(own[sp.id] for sp in calls),
            "calls": len(calls),
            **{k: g.get(k, 0.0) for k in ("jobs", "tasks_failed", "cpu_s", "shuffle_mb", "spill_mb")},
        }
        out.update({f"{name}.{k}": vals[k] for k in (["s"] if name in S_ONLY else FIELDS)})
    return out


def root_balance(spans: list[Span], run: int) -> float:
    """Root wall time minus the summed self times of the run's spans
    (0 up to float rounding when the booking is complete)."""
    mine = [sp for sp in spans if sp.run == run]
    roots = [sp for sp in mine if sp.parent is None]
    return sum(sp.end - sp.start for sp in roots) - sum(self_times(mine).values())
