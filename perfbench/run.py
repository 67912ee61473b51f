"""kgpipe benchmark entry point.

    python3 perfbench/run.py --workload build_delta --seed 1 --seconds 10 --trace 0

Runs from the root of a kgpipe checkout. One process, one Spark session
at local[<cores>], one workload run at a time (a closed loop). Set-up
(session start, seeded inputs repeated three times, the delta base
warehouse and untimed warm-up runs) happens before the timed loop and
is reported as setup_s. The loop then repeats the workload's timed
region until --seconds have passed and it has timed at least the
workload's min_runs runs, and checks every run's output against the
expected tables.

--trace 0 prints the end-to-end metrics; --trace 1 wraps kgpipe's
public callables in spans, turns on the Spark event log and prints the
per-layer metrics instead. `--workload all` runs every workload in one
session and prints one result line per workload before a combined line.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is 1 when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, trace: bool):
    """Session as kgpipe.session.get_spark builds it, with every scratch
    path (shuffle files, temp files, event log, catalog warehouse)
    inside the run's work directory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    from kgpipe.session import get_spark

    # one CPU is left to the driver, the JVM's JIT and GC threads: with
    # every CPU running tasks the host saturates, and on a shared VM the
    # hypervisor then steals enough time to spread wall times ~4x wider
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    # `kgpipe convert` builds its session with get_spark's default
    # master: pointing that at the same local[N] makes it derive the
    # same conf instead of rewriting it for every CPU
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # nothing reads the web UI (spans come from the event log),
            # and stopping a session with it up took ~1.5 s longer
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "catalog"),
            # no hsperfdata file in the system temp directory: the run
            # writes only inside its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every process it
    started (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = [p for p in procstat.tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after stop: {started}")
        time.sleep(0.1)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(wl, seconds: float, tracer=None) -> dict:
    """The timed loop. With a tracer, runs alternate untraced and
    traced; the traced ones carry a run id for their spans."""
    outcomes, traced, attempted, failed = [], [], 0, 0
    t_start = time.monotonic()
    k = 0
    while True:
        # a traced run sits between two untraced ones, so the tracing
        # overhead compares runs that are equally far into the warm-up
        untraced = wl.min_runs if tracer is None else max(wl.min_runs, 2)
        have_all = len(outcomes) >= untraced and (tracer is None or traced)
        if time.monotonic() - t_start >= seconds and (have_all or failed):
            break
        trace_this = tracer is not None and k % 2 == 1
        load = os.getloadavg()[0]
        if trace_this:
            tracer.run = run_id = next(tracer.run_ids)
        attempted += 1
        try:
            out = wl.run_once()
            out.problems += wl.conf_problems()
        except Exception:
            traceback.print_exc()
            failed += 1
            k += 1
            continue
        finally:
            if tracer is not None:
                tracer.run = None
        phases = " ".join(f"{j} {s:.3f}s" for j, s in out.phases.items())
        log(f"{wl.name} run {k}: wall {out.wall_s:.3f}s ({phases}) cpu {out.cpu_s:.3f}s "
            f"loadavg {load:.2f} steal {out.steal_frac:.3f}"
            + (" traced" if trace_this else "")
            + (f" CHECK FAILED {out.problems}" if out.problems else ""))
        if out.problems:
            failed += 1
        elif trace_this:
            traced.append((run_id, out))
        else:
            outcomes.append(out)
        k += 1
    return {"outcomes": outcomes, "traced": traced, "attempted": attempted, "failed": failed}


def median_of(outs, f) -> float:
    return statistics.median(f(o) for o in outs) if outs else 0.0


def end_to_end(res: dict, setup_s: float) -> dict:
    outs = res["outcomes"]
    return {
        "wall_s": metric(median_of(outs, lambda o: o.wall_s), "s"),
        "setup_s": metric(setup_s, "s"),
        "rows_per_s": metric(median_of(outs, lambda o: o.out_rows / o.wall_s), "1/s"),
        "disk_write_mb": metric(median_of(outs, lambda o: o.disk_write_bytes / 1e6), "MB"),
    }


def per_layer(wl, res: dict, tracer, groups: dict) -> tuple[dict, list[str]]:
    from perfbench import inputs, trace
    from perfbench.kernels import ROWS as KERNEL_ROWS, kernel_metrics
    from perfbench.workloads import JOBS

    problems = []
    m: dict[str, dict] = {}
    traced = sorted(res["traced"], key=lambda t: t[1].wall_s)
    run_k = traced[(len(traced) - 1) // 2][0] if traced else None
    layers = trace.layer_metrics(tracer.spans, run_k, groups) if run_k is not None else {}
    for name in trace.SPANS:
        for f, unit in trace.FIELDS.items():
            m[f"{name}.{f}"] = metric(layers.get(f"{name}.{f}", 0.0), unit)
    for name in trace.S_ONLY:
        m[f"{name}.s"] = metric(layers.get(f"{name}.s", 0.0), "s")
    if run_k is not None and wl.pipeline:
        gap = trace.root_balance(tracer.spans, run_k)
        if abs(gap) > 1e-6:
            problems.append(f"span self times miss the root wall time by {gap}s")
    records = groups.get(f"{run_k}:io.write.triples_raw", {}).get("records_in", 0)
    m["io.write.triples_raw.useful_frac"] = metric(wl.new_pages / records if records else 0.0, "ratio")
    for name, v in kernel_metrics(inputs.window(wl.seed, KERNEL_ROWS)).items():
        m[name] = metric(v, "us")
    outs = res["outcomes"]
    resumes = [o.resume_s for o in outs if o.resume_s is not None]
    m["resume_s"] = metric(statistics.median(resumes) if resumes else 0.0, "s")
    for job in JOBS:
        m[f"{job}.wall_s"] = metric(median_of(outs, lambda o: o.phases.get(job, 0.0)), "s")
    m["written_mb"] = metric(median_of(outs, lambda o: o.written_bytes / 1e6), "MB")
    m["peak_rss_mb"] = metric(median_of(outs, lambda o: o.peak_rss / 1e6), "MB")
    m["tree_cpu_s"] = metric(median_of(outs, lambda o: o.cpu_s), "s")
    m["failed_frac"] = metric(res["failed"] / res["attempted"], "ratio")
    if outs and traced:
        overhead = (statistics.median(o.wall_s for _, o in traced)
                    - statistics.median(o.wall_s for o in outs))
    else:
        overhead = 0.0
    m["trace_overhead_s"] = metric(overhead, "s")
    return m, problems


def run_workload(spark, name: str, seed: int, seconds: float, tracer, work: str,
                 session_s: float, rss) -> dict:
    from perfbench.workloads import WORKLOADS

    load0 = os.getloadavg()[0]
    wl = WORKLOADS[name](spark, seed, os.path.join(work, name), rss)
    problems = []
    # input generation is repeated and its median kept; session start
    # and the warm-up runs happen once
    t_inputs = []
    for _ in range(INPUT_REPEATS):
        t0 = time.monotonic()
        wl.prepare()
        t_inputs.append(time.monotonic() - t0)
    inputs_s = statistics.median(t_inputs)
    wl.want = wl.expect()
    t1 = time.monotonic()
    problems += [f"warm-up: {p}" for p in wl.warm_up() + wl.conf_problems()]
    warmup_s = time.monotonic() - t1
    setup_s = session_s + inputs_s + warmup_s
    log(f"{name} seed {seed}: set-up {setup_s:.3f}s (session {session_s:.3f}s, "
        f"inputs {inputs_s:.3f}s median of {INPUT_REPEATS}, warm-up {warmup_s:.3f}s), "
        f"loadavg {load0:.2f}")
    res = measure(wl, seconds, tracer)
    if problems:
        log(f"{name}: CHECK FAILED {problems}")
    return {
        "workload": wl, "res": res, "setup_s": setup_s, "problems": problems,
    }


def result_line(r: dict, metrics: dict) -> dict:
    res = r["res"]
    failed = res["failed"] + (1 if r["problems"] else 0)
    return {
        "correct": failed == 0,
        "attempted": res["attempted"] + (1 if r["problems"] else 0),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS  # noqa: F401  (fails fast outside a checkout)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    from perfbench import procstat, trace

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    lines = []
    try:
        with procstat.PeakRss() as rss:
            t0 = time.monotonic()
            spark, cores = start_spark(work, bool(args.trace))
            session_s = time.monotonic() - t0
            log(f"session local[{cores}] up in {session_s:.3f}s")
            tracer = None
            try:
                if args.trace:
                    tracer = trace.Tracer(spark)
                    trace.install(tracer)
                runs = []
                for name in names:
                    runs.append(run_workload(spark, name, args.seed, args.seconds, tracer,
                                             work, session_s, rss))
            finally:
                stop_spark(spark)
        groups = {}
        if tracer is not None:
            groups = trace.event_log_stats(os.path.join(work, "eventlog"))
            tracer.dump(os.path.join(ROOT, ".bench_work", "traces",
                                     f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        for r in runs:
            if tracer is None:
                metrics = end_to_end(r["res"], r["setup_s"])
            else:
                metrics, extra = per_layer(r["workload"], r["res"], tracer, groups)
                r["problems"] += extra
            lines.append(result_line(r, metrics))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if len(lines) > 1:
        for line in lines:
            print(json.dumps(line))
        combined = {
            "correct": all(x["correct"] for x in lines),
            "attempted": sum(x["attempted"] for x in lines),
            "failed": sum(x["failed"] for x in lines),
            "metrics": {f"{n}.{k}": v for n, x in zip(names, lines) for k, v in x["metrics"].items()},
        }
        lines.append(combined)
    print(json.dumps(lines[-1]))
    return 0 if lines[-1]["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
