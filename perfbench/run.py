#!/usr/bin/env python3
"""CDC engine benchmark: one workload (or all), one seed, one run.

    python3 perfbench/run.py --workload replay_cow_bulk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Runs on ``local[nproc]`` from the root of a source checkout and writes only
under ``.bench_work/`` there (removed on exit). The run warms up, sets its
inputs up three times (``setup_s`` is the median), runs the measured steps
that fit ``--seconds`` on the reference host, and checks every output
against an independent oracle. ``all`` runs the three workloads in turn.

``--trace 0`` prints every end-to-end metric, one per line with its unit
and sample count, then a context line (seed, nproc, Spark version, session
conf, workload parameters), then the result line: one JSON object with
``correct``, ``attempted``, ``failed`` and the gated end-to-end metrics.

``--trace 1`` makes the untraced measurement, then the same steps again
traced (job group per span, Spark event log), folds the event log into the
per-layer table, prints it, and reports the per-layer metrics in the result
line. On
``replay_cow_bulk`` it also replays once on ``local[1]`` and prints
``scaling_efficiency_1_to_n`` (diagnostic, not a result metric).

Exit status: 0 when every check passed, 1 when a check or an operation
failed (the result line still prints), 2 when the engine sources are not
beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def measure(run, wl, seconds: float, setup: bool = True) -> None:
    """Warm up (untimed: every session starts cold), set up (timed,
    repeated) unless ``setup`` is false (the inputs exist), then run steps
    for ``seconds``."""
    inputs = os.path.join(run.work, "inputs")
    marks = [("start", time.perf_counter())]
    wl.warm(run)
    marks.append(("warm-up", time.perf_counter()))
    if setup:
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.perf_counter()
            wl.setup(run, inputs)
            run.sample("setup_s", time.perf_counter() - t0)
    marks.append(("setup", time.perf_counter()))
    wl.prepare(run, inputs)
    marks.append(("prepare", time.perf_counter()))
    steps = max(1, round(seconds / wl.step_seconds))
    for _ in range(steps):
        wl.step(run)
    marks.append((f"{steps} steps", time.perf_counter()))
    wl.finish(run)
    marks.append(("finish", time.perf_counter()))
    for name, values in sorted(run.samples.items()):
        print(f"samples {name}: " + " ".join(f"{x:.4g}" for x in values), file=sys.stderr)
    print("phases: " + ", ".join(
        f"{name} {b - a:.1f}s" for (_, a), (name, b) in zip(marks, marks[1:])
    ), file=sys.stderr)


def guarded(run, fn, *args) -> None:
    """Run ``fn``; an exception counts as one failed operation."""
    try:
        fn(*args)
    except Exception:  # noqa: BLE001 — the result line must still print
        traceback.print_exc()
        run.check(fn.__name__, False, traceback.format_exc(limit=1).strip())


def p(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) of ``values``, linearly interpolated."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(run) -> dict[str, dict]:
    """Gated metrics: the same names on every workload (see README.md)."""
    s = run.samples
    return {
        "setup_s": {"value": statistics.median(s["setup_s"]), "unit": "s"},
        "items_per_sec": {"value": run.items_per_sec(), "unit": "1/s"},
        "step_s_p50": {"value": p(s["step_s"], 0.5), "unit": "s"},
    }


def report_lines(wl_name: str, run) -> list[str]:
    """Every end-to-end metric under its workload-specific name, with unit
    and sample count."""
    s = run.samples
    replay = wl_name != "dedup_neardup"
    rows = [("setup_s", statistics.median(s["setup_s"]), "s", len(s["setup_s"]))]
    if replay:
        rows += [
            ("events_per_sec", run.items_per_sec(), "events/s", len(s["items"])),
            ("epoch_s_p50", p(s["step_s"], 0.5), "s", len(s["step_s"])),
            ("epoch_s_p75", p(s["step_s"], 0.75), "s", len(s["step_s"])),
            ("lookup_s_p50", p(s["query_s"], 0.5), "s", len(s["query_s"])),
            ("lookup_s_p80", p(s["query_s"], 0.8), "s", len(s["query_s"])),
            ("table_bytes_per_row", statistics.median(s["table_bytes_per_row"]), "bytes",
             len(s["table_bytes_per_row"])),
        ]
        if "snapshot_read_s" in s:
            rows.append(("snapshot_read_s", statistics.median(s["snapshot_read_s"]), "s",
                         len(s["snapshot_read_s"])))
    else:
        rows += [
            ("docs_per_sec", run.items_per_sec(), "docs/s", len(s["items"])),
            ("incremental_probe_s", p(s["step_s"], 0.5), "s", len(s["step_s"])),
            ("dedup_recall", min(s["dedup_recall"]), "ratio", len(s["dedup_recall"])),
        ]
    rows.append(("failed_ops_ratio", run.failed / max(1, run.attempted), "ratio", run.attempted))
    return [f"metric {n} = {v:.6g} {u} (n={k})" for n, v, u, k in rows]


def run_untraced(args, wl, work, cores):
    from perfbench.engine import session_conf, start_session
    from perfbench.trace import Tracer
    from perfbench.workloads import Run

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    print(f"session_start_s = {time.perf_counter() - t0:.3f}", file=sys.stderr)
    run = Run(spark, work, args.seed, Tracer())
    guarded(run, measure, run, wl, args.seconds)
    ctx = {"spark_version": spark.version, "conf": session_conf(spark)}
    spark.stop()
    return run, ctx, end_to_end


def run_traced(args, wl, work, cores):
    from perfbench.engine import session_conf, start_session
    from perfbench.layers import layer_metrics, print_layer_table
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import Run

    spark = start_session(work, cores)
    plain = Run(spark, work, args.seed, Tracer())
    guarded(plain, measure, plain, wl, args.seconds)
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, cores, event_log_dir=log_dir)
    ctx = {"spark_version": spark.version, "conf": session_conf(spark)}
    traced = Run(spark, work, args.seed, Tracer(spark.sparkContext))
    guarded(traced, measure, traced, wl, args.seconds, False)
    spark.stop()
    (log_file,) = os.listdir(log_dir)
    groups = fold_event_log(os.path.join(log_dir, log_file))

    extra = {}
    if wl.name == "replay_cow_bulk":
        spark = start_session(work, 1)
        single = Run(spark, work, args.seed, Tracer())
        guarded(single, measure, single, wl, 0, False)
        spark.stop()
        plain.absorb(single)
        eff = (
            plain.items_per_sec() / single.items_per_sec() / cores
            if single.samples.get("items") else 0.0
        )
        extra["scaling_efficiency_1_to_n"] = eff
        print(f"scaling_efficiency_1_to_{cores} = {eff:.4f} (diagnostic)")

    metrics = layer_metrics(traced, groups, plain)
    print_layer_table(metrics)
    traced.absorb(plain)
    ctx.update(extra)
    return traced, ctx, lambda _run: metrics


def run_all(args, workloads) -> int:
    """Run every workload, one process each; the worst exit status wins."""
    import subprocess

    status = 0
    for name in workloads:
        print(f"== {name}", flush=True)
        status = max(status, subprocess.run([
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]).returncode)
    return status


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cdc_tools_spark")):
        print(f"perfbench: no engine sources (cdc_tools_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.engine import stop_jvm
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, WORKLOADS)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    params = wl.params()
    cores = nproc()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        run, ctx, metrics_of = (run_traced if args.trace else run_untraced)(
            args, wl, work, cores
        )
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for problem in run.problems:
        print(f"FAILED {problem}", file=sys.stderr)
    correct = run.failed == 0
    metrics = {}
    if correct:
        if not args.trace:
            for line in report_lines(args.workload, run):
                print(line)
        metrics = metrics_of(run)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, **ctx, "params": params,
    }))
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
