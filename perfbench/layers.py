"""The per-layer table of a traced run.

Layers are the engine's modules, as the spans name them:

=====================  =====================================================
span                   engine call (module)
=====================  =====================================================
``replay``             ``pipeline.replay`` (its own loop is ``replay.self_s``)
``plan_epochs``        ``operators.epochs.plan_epochs``
``merge``              ``lake.parquet_merge.ParquetMergeTable.merge``
``governor``           ``ParquetMergeTable.compact_table`` (MOR only)
``commit``             ``state.commit_log.CommitLog.commit``
``resume``             ``CommitLog.committed_epochs`` / ``last_committed``
``lookup``, ``read``   ``ParquetMergeTable.lookup`` / ``read``
``dedup.*``            ``ops.dedup`` calls
=====================  =====================================================

Replay-layer figures are per epoch (per committed epoch marker), reader
figures per call, dedup figures per call. A layer the workload does not
run reports 0. ``README.md`` maps each metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import statistics

from perfbench.trace import LayerCost, layer_table

DEDUP_CALLS = ("pairs", "cc", "index_build", "incremental")

PER_LAYER: dict[str, str] = {
    "epochs.plan_s": "s/run",
    "epochs.plan_jobs": "count/run",
    "epochs.count": "count/run",
    "merge.wall_s": "s/epoch",
    "merge.job_s": "s/epoch",
    "merge.driver_gap_s_per_epoch": "s/epoch",
    "merge.jobs_per_epoch": "count/epoch",
    "merge.tasks": "count/epoch",
    "merge.executor_run_s": "s/epoch",
    "merge.shuffle_write_bytes": "bytes/epoch",
    "merge.shuffle_read_bytes": "bytes/epoch",
    "merge.spill_bytes": "bytes/epoch",
    "merge.input_bytes": "bytes/epoch",
    "merge.output_bytes": "bytes/epoch",
    "merge.calls_per_epoch": "count/epoch",
    "merge.applied_ratio": "ratio",
    "governor.wall_s": "s/epoch",
    "governor.folds": "count/epoch",
    "governor.output_bytes": "bytes/epoch",
    "governor.shuffle_write_bytes": "bytes/epoch",
    "commit_log.commit_s_per_epoch": "s/epoch",
    "commit_log.resume_s": "s/run",
    "replay.wall_s": "s/run",
    "replay.self_s": "s/run",
    "lookup.wall_s": "s/call",
    "lookup.jobs": "count/call",
    "lookup.tasks": "count/call",
    "lookup.input_bytes": "bytes/call",
    "read.wall_s": "s/call",
    "read.tasks": "count/call",
    "read.input_bytes": "bytes/call",
    "read.shuffle_write_bytes": "bytes/call",
    "read.executor_run_s": "s/call",
    "table.bytes_per_row": "bytes",
    **{
        f"dedup.{c}{suffix}": unit
        for c in DEDUP_CALLS
        for suffix, unit in (
            ("_s", "s/call"), (".executor_run_s", "s/call"),
            (".shuffle_write_bytes", "bytes/call"), (".spill_bytes", "bytes/call"),
        )
    },
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.cc_rounds": "count",
    "trace.overhead_ratio": "ratio",
}


def layer_metrics(traced, groups, plain) -> dict[str, dict]:
    """Per-layer metrics of the traced pass of a run; ``plain`` is the
    untraced pass, the base of ``trace.overhead_ratio``."""
    tracer = traced.tracer
    table = layer_table(tracer, groups)
    empty = LayerCost()

    def layer(name: str) -> LayerCost:
        return table.get(name, empty)

    def per(x: float, n: int) -> float:
        return x / n if n else 0.0

    v: dict[str, float] = {}
    runs = layer("replay").calls
    epochs = layer("commit").calls
    plan, merge, gov = layer("plan_epochs"), layer("merge"), layer("governor")
    v["epochs.plan_s"] = per(plan.wall_s, runs)
    v["epochs.plan_jobs"] = per(len(plan.cost.jobs), runs)
    v["epochs.count"] = per(sum(s.attrs["epochs"] for s in tracer.named("plan_epochs")), runs)
    v["merge.wall_s"] = per(merge.wall_s, epochs)
    v["merge.job_s"] = per(merge.job_s, epochs)
    v["merge.driver_gap_s_per_epoch"] = per(merge.driver_gap_s, epochs)
    v["merge.jobs_per_epoch"] = per(len(merge.cost.jobs), epochs)
    v["merge.calls_per_epoch"] = per(merge.calls, epochs)
    for k in ("tasks", "executor_run_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "input_bytes", "output_bytes"):
        v[f"merge.{k}"] = per(getattr(merge.cost, k), epochs)
    merges = tracer.named("merge")
    raw = sum(s.attrs["raw_events"] for s in merges if s.attrs["raw_events"] > 0)
    applied = sum(
        s.attrs["upserts"] + s.attrs["deletes"] for s in merges if s.attrs["raw_events"] > 0
    )
    v["merge.applied_ratio"] = per(applied, raw)
    v["governor.wall_s"] = per(gov.wall_s, epochs)
    v["governor.folds"] = per(sum(s.attrs["folded"] for s in tracer.named("governor")), epochs)
    v["governor.output_bytes"] = per(gov.cost.output_bytes, epochs)
    v["governor.shuffle_write_bytes"] = per(gov.cost.shuffle_write_bytes, epochs)
    v["commit_log.commit_s_per_epoch"] = per(layer("commit").wall_s, epochs)
    v["commit_log.resume_s"] = per(layer("resume").wall_s, runs)
    v["replay.wall_s"] = per(layer("replay").wall_s, runs)
    v["replay.self_s"] = per(layer("replay").self_s, runs)
    look, read = layer("lookup"), layer("read")
    v["lookup.wall_s"] = per(look.wall_s, look.calls)
    v["lookup.jobs"] = per(len(look.cost.jobs), look.calls)
    v["lookup.tasks"] = per(look.cost.tasks, look.calls)
    v["lookup.input_bytes"] = per(look.cost.input_bytes, look.calls)
    v["read.wall_s"] = per(read.wall_s, read.calls)
    v["read.tasks"] = per(read.cost.tasks, read.calls)
    v["read.input_bytes"] = per(read.cost.input_bytes, read.calls)
    v["read.shuffle_write_bytes"] = per(read.cost.shuffle_write_bytes, read.calls)
    v["read.executor_run_s"] = per(read.cost.executor_run_s, read.calls)
    sizes = traced.samples.get("table_bytes_per_row")
    v["table.bytes_per_row"] = statistics.median(sizes) if sizes else 0.0
    for c in DEDUP_CALLS:
        d = layer(f"dedup.{c}")
        v[f"dedup.{c}_s"] = per(d.wall_s, d.calls)
        v[f"dedup.{c}.executor_run_s"] = per(d.cost.executor_run_s, d.calls)
        v[f"dedup.{c}.shuffle_write_bytes"] = per(d.cost.shuffle_write_bytes, d.calls)
        v[f"dedup.{c}.spill_bytes"] = per(d.cost.spill_bytes, d.calls)
    cands = [s.attrs["count"] for s in tracer.named("dedup.candidates")]
    rounds = [s.attrs["rounds"] for s in tracer.named("dedup.cc_stats")]
    pairs = traced.samples.get("pairs", [])
    v["dedup.candidates"] = statistics.median(cands) if cands else 0.0
    v["dedup.pairs"] = statistics.median(pairs) if pairs else 0.0
    v["dedup.verify_yield"] = per(v["dedup.pairs"], v["dedup.candidates"])
    v["dedup.cc_rounds"] = statistics.median(rounds) if rounds else 0.0
    traced_rate = traced.items_per_sec()
    v["trace.overhead_ratio"] = plain.items_per_sec() / traced_rate - 1.0 if traced_rate else 0.0
    check_attribution(traced, groups)
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


# event-log times are whole milliseconds
CLOCK_SLACK_S = 0.005


def check_attribution(traced, groups) -> None:
    """Every job the event log shows submitted during a replay call must
    carry the job group of that call or of a span inside it: the engine
    reset no job group and launched no job from a thread the tags miss, so
    the replay layers account for all of replay's cluster work."""
    tracer = traced.tracer
    for s in tracer.named("replay"):
        mine = tracer.subtree(s)
        stray = [
            g for g, cost in groups.items() if g not in mine
            for submit, _ in cost.jobs
            if s.start + CLOCK_SLACK_S < submit < s.end - CLOCK_SLACK_S
        ]
        traced.check("replay's jobs carry its spans' job groups", not stray,
                     f"{len(stray)} jobs in groups {sorted(set(stray))[:5]}")


def print_layer_table(metrics: dict[str, dict]) -> None:
    print(f"{'layer metric':40s} {'value':>14s}  unit")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:14.6g}  {m['unit']}")
