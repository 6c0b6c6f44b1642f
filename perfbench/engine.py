"""The benchmark's only points of contact with the engine.

Everything here goes through the public API: a SparkSession from
``cdc_tools_spark.session.get_spark``, a :class:`LakeTable` proxy handed to
``pipeline.replay(table=...)``, and wrappers on
``cdc_tools_spark.pipeline.plan_epochs`` and the :class:`CommitLog` methods
that replay calls, installed only while a replay call runs.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from cdc_tools_spark.lake.base import LakeTable, MergeResult
from cdc_tools_spark.lake.parquet_merge import ParquetMergeTable

from perfbench.trace import Tracer


def start_session(work: str, cores: int, event_log_dir: str | None = None):
    """A ``local[cores]`` session with every scratch path under ``work``.

    Mirrors ``bench.py``'s session settings (2x cores shuffle partitions,
    16 MiB splits, lz4) so replay throughput is comparable to its
    ``events_per_sec``. ``event_log_dir`` turns on an uncompressed,
    non-rolling event log for the traced run."""
    from cdc_tools_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # also reaches the short-lived launcher JVM that spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.io.compression.codec": "lz4",
        "spark.sql.parquet.compression.codec": "lz4",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "cdc-perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores * 2, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for its JVM to exit (after
    ``spark.stop()``; the JVM would otherwise outlive the call)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def session_conf(spark) -> dict[str, str]:
    """The settings a result line records (the ones that shape timings)."""
    keys = (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes", "spark.sql.adaptive.enabled",
        "spark.io.compression.codec", "spark.sql.parquet.compression.codec",
        "spark.sql.autoBroadcastJoinThreshold", "spark.eventLog.enabled",
    )
    conf = spark.sparkContext.getConf()
    return {k: conf.get(k, "") for k in keys}


class TracedTable(LakeTable):
    """``LakeTable`` proxy that records a span around each ``merge`` and
    each governor call (``replay`` only calls ``compact_table`` on MOR
    tables, and only when the table has the method)."""

    def __init__(self, inner: ParquetMergeTable, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.key_cols = inner.key_cols
        self._version = -1

    def exists(self) -> bool:
        return self.inner.exists()

    def read(self):
        return self.inner.read()

    def merge(self, batch, epoch_id, collect_metrics=True, prune_buckets=True) -> MergeResult:
        with self.tracer.span("merge", epoch=epoch_id) as s:
            r = self.inner.merge(batch, epoch_id, collect_metrics, prune_buckets)
            s.attrs.update(
                upserts=r.upserts, deletes=r.deletes, raw_events=r.raw_events,
                version=r.version,
            )
        self._version = r.version
        return r

    def compact_table(self, max_deltas: int = 8, epoch_id: int = -1) -> int:
        with self.tracer.span("governor") as s:
            v = self.inner.compact_table(max_deltas, epoch_id)
            # a fold writes a new version; a no-op returns the current one
            s.attrs["folded"] = v != self._version
        self._version = v
        return v


@contextlib.contextmanager
def instrumented(tracer: Tracer) -> Iterator[None]:
    """Record spans around the epoch planner and the commit-log calls that
    ``pipeline.replay`` makes, for the duration of the block."""
    import cdc_tools_spark.pipeline as pipeline
    from cdc_tools_spark.state.commit_log import CommitLog

    plan = pipeline.plan_epochs
    commit = CommitLog.commit
    committed_epochs = CommitLog.committed_epochs
    last_committed = CommitLog.last_committed

    def traced_plan(*args, **kwargs):
        with tracer.span("plan_epochs") as s:
            epochs = plan(*args, **kwargs)
            s.attrs["epochs"] = len(epochs)
        return epochs

    def traced_commit(self, rec):
        with tracer.span("commit", epoch=rec.epoch):
            return commit(self, rec)

    def traced_committed_epochs(self):
        with tracer.span("resume"):
            return committed_epochs(self)

    def traced_last_committed(self):
        with tracer.span("resume"):
            return last_committed(self)

    pipeline.plan_epochs = traced_plan
    CommitLog.commit = traced_commit
    CommitLog.committed_epochs = traced_committed_epochs
    CommitLog.last_committed = traced_last_committed
    try:
        yield
    finally:
        pipeline.plan_epochs = plan
        CommitLog.commit = commit
        CommitLog.committed_epochs = committed_epochs
        CommitLog.last_committed = last_committed
