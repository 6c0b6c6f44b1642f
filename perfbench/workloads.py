"""The benchmark's three workloads and their seeded input generators.

A workload warms up, stores its inputs (``setup``, timed by the caller),
computes their references (``prepare``) and then runs measured steps.
Every step's output is checked against :mod:`perfbench.oracle`.

* ``replay_cow_bulk`` — one COW ``pipeline.replay`` per step over a stored
  log cut into 2 large epochs; ``bench.py``'s generator shape.
* ``tail_mor_readwrite`` — a MOR table fed by scheduled ingest runs, one
  per arriving log slice, each replayed as several small epochs with the
  governor on; a closed-loop reader (point lookups + one full snapshot
  read) runs after each ingest run.
* ``dedup_neardup`` — ``ops.dedup`` near-duplicate pairs and clusters over
  a corpus with planted near-duplicates, then incremental probes against
  a stored LSH band index.

Every workload records the same samples (see README.md): ``items`` and
``items_s`` (throughput) and ``step_s``; the replay workloads also record
``query_s`` (point lookups).
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import types as T

from cdc_tools_spark.lake.parquet_merge import META_COLS, ParquetMergeTable
from cdc_tools_spark.ops import dedup as D
from cdc_tools_spark.pipeline import ReplayConfig, replay
from cdc_tools_spark.sources.binlog import synthetic_binlog
from cdc_tools_spark.state.commit_log import CommitLog

from perfbench import oracle
from perfbench.engine import TracedTable, instrumented
from perfbench.trace import Span, Tracer

KEY_COLS = ("repo", "path")
N_HOT_KEYS = 5
N_REPOS = 200


@dataclass
class Run:
    """One benchmark run: its session, seed, scratch space and results."""

    spark: object
    work: str
    seed: int
    tracer: Tracer
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def timed_items(self, items: int, seconds: float) -> None:
        """Record ``items`` put through the engine in ``seconds``."""
        self.sample("items", items)
        self.sample("items_s", seconds)

    def items_per_sec(self) -> float:
        """Items through the timed calls of all measured steps, per second
        (0 before any step)."""
        s = self.samples
        return sum(s["items"]) / sum(s["items_s"]) if s.get("items") else 0.0

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one oracle check (or one operation's outcome)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {detail}")
        return ok

    def ops(self, n: int) -> None:
        """Count ``n`` operations that completed."""
        self.attempted += n

    def absorb(self, other: Run) -> None:
        """Add ``other``'s operation counts and problems (not its samples)."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems


def binlog(spark, n_events: int, seed: int):
    """``bench.py``'s generator shape: n/20 keys, 4-event transactions,
    200 repos, 20 % of events on 5 hot keys, 256-char content."""
    return synthetic_binlog(
        spark, n_events, n_keys=max(n_events // 20, N_HOT_KEYS + 1), txn_size=4,
        n_repos=N_REPOS, hot_key_pct=20, n_hot_keys=N_HOT_KEYS,
        content_chars=256, seed=seed,
    )


def write_input(df, path: str, partition_by: str | None = None) -> None:
    """Store a generated input as snappy parquet, a codec the oracle's
    readers (DuckDB, pyarrow) share with Spark."""
    w = df.write.option("compression", "snappy")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def payload_schema(log) -> T.StructType:
    """The table schema ``replay`` would create: the log minus order columns."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in log.schema.fields
         if f.name not in META_COLS]
    )


def lookup_keys(state: oracle.LogState, rng: random.Random, n: int) -> list[tuple]:
    """A mix of hot keys, cold live keys and deleted keys, in that order of
    preference, ``n`` in total."""
    hot = [(f"repo_{k % N_REPOS}", f"path_{k}") for k in range(N_HOT_KEYS)]
    live = sorted(state.live)
    per = max(1, n // 3)
    keys = rng.sample(hot, min(per, len(hot)))
    keys += rng.sample(live, min(per, len(live)))
    keys += rng.sample(state.deleted, min(n - len(keys), len(state.deleted)))
    return keys


def timed_lookups(run: Run, table: ParquetMergeTable, state: oracle.LogState, keys) -> None:
    for key in keys:
        with run.tracer.span("lookup") as s:
            rows = table.lookup(*key).select("content_sha256").collect()
        run.sample("query_s", s.wall)
        want = state.live.get(key)
        got = [r[0] for r in rows]
        run.check("lookup", got == ([want] if want else []), f"{key}: {got} != {want}")


def check_table(run: Run, table: ParquetMergeTable, state: oracle.LogState) -> None:
    rows = table.read().select(*KEY_COLS, "content_sha256").collect()
    got = oracle.digest(tuple(r) for r in rows)
    want = state.digest()
    run.check("table = DuckDB last-write-wins", got == want, f"{got} != {want}")


def epoch_latencies(tracer: Tracer, replay_span: Span) -> list[float]:
    """Per epoch: first merge start to commit-marker end, inside one replay."""
    inside = [s for s in tracer.spans if replay_span.start <= s.start <= replay_span.end]
    starts: dict[int, float] = {}
    for s in inside:
        if s.name == "merge":
            starts.setdefault(s.attrs["epoch"], s.start)
    return [
        s.end - starts[s.attrs["epoch"]]
        for s in inside if s.name == "commit" and s.attrs["epoch"] in starts
    ]


def table_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


class Workload:
    name = ""
    # A step's duration on the reference host (4 vCPUs): a run of
    # ``seconds`` makes round(seconds / step_seconds) steps, at least one,
    # so every run of a workload does the same work.
    step_seconds = 1.0

    def setup(self, run: Run, d: str) -> None:
        """Generate and store one copy of the inputs under ``d``."""
        raise NotImplementedError

    def prepare(self, run: Run, d: str) -> None:
        """Adopt the inputs under ``d`` and compute their references."""
        raise NotImplementedError

    def step(self, run: Run) -> None:
        raise NotImplementedError

    def finish(self, run: Run) -> None:
        """Final checks after the last step."""

    def warm(self, run: Run) -> None:
        """Untimed work before the set-ups that compiles what the measured
        steps will run."""

    def params(self) -> dict:
        """The workload's parameters, as the result's context line records
        them."""
        return {
            k: getattr(self, k) for k in dir(self)
            if not k.startswith("_") and not callable(getattr(self, k))
        }


class ReplayCowBulk(Workload):
    name = "replay_cow_bulk"
    step_seconds = 4.5

    def __init__(self, events: int = 320_000, epochs: int = 2, lookups: int = 8):
        self.events = events
        self.epochs = epochs
        # bench.py's 128 buckets suit 2M events on 32 cores; at this size
        # they make per-bucket file overhead, not the data, the cost
        self.num_buckets = 16
        self.lookups = lookups

    def warm(self, run):
        """One step of a tenth-size copy; its checks count, its timings do
        not."""
        small = ReplayCowBulk(self.events // 10, self.epochs, 2)
        wrun = Run(run.spark, os.path.join(run.work, "warm"), run.seed, Tracer())
        inputs = os.path.join(wrun.work, "inputs")
        small.setup(wrun, inputs)
        small.prepare(wrun, inputs)
        small.step(wrun)
        small.finish(wrun)
        shutil.rmtree(wrun.work, ignore_errors=True)
        run.absorb(wrun)

    def config(self) -> ReplayConfig:
        # bench.py's run_replay configuration
        return ReplayConfig(
            epoch_events=max(self.events // self.epochs, 1),
            num_buckets=self.num_buckets, epoch_strategy="quantile",
            collect_metrics=False, total_events=self.events,
            bucket_pruning=False, parity_column=True, merge_mode="cow",
        )

    def setup(self, run, d):
        write_input(binlog(run.spark, self.events, run.seed), os.path.join(d, "log"))

    def prepare(self, run, d):
        self.log_dir = os.path.join(d, "log")
        self.state = oracle.LogState([self.log_dir])
        self.rng = random.Random(run.seed)
        self.last_table = None

    def step(self, run):
        spark, tracer = run.spark, run.tracer
        rep = tempfile.mkdtemp(prefix="cow-", dir=run.work)
        root = os.path.join(rep, "t")
        log = spark.read.parquet(self.log_dir)
        with tracer.span("replay") as rs, instrumented(tracer):
            with tracer.span("create"):
                ParquetMergeTable.create(
                    spark, root, payload_schema(log), KEY_COLS, self.num_buckets,
                    merge_mode="cow",
                )
            summary = replay(
                spark, log, root, os.path.join(rep, "s"), config=self.config(),
                table=TracedTable(ParquetMergeTable(spark, root), tracer),
            )
        run.timed_items(self.events, rs.wall)
        for x in epoch_latencies(tracer, rs):
            run.sample("step_s", x)
        run.ops(summary.epochs_applied)
        run.check("epochs applied", summary.epochs_applied >= 1, str(summary.epochs_applied))
        table = ParquetMergeTable(spark, root)
        timed_lookups(run, table, self.state, lookup_keys(self.state, self.rng, self.lookups))
        if self.last_table:
            shutil.rmtree(os.path.dirname(self.last_table.root), ignore_errors=True)
        self.last_table = table

    def finish(self, run):
        check_table(run, self.last_table, self.state)
        run.sample("table_bytes_per_row", table_bytes(self.last_table.root) / len(self.state.live))


class TailMorReadwrite(Workload):
    name = "tail_mor_readwrite"
    step_seconds = 2.0

    # the first slice (4 epochs) is ingested untimed; a run's 4 measured
    # ingest runs apply epochs 5-20, and the governor, which folds a bucket
    # once its delta chain passes the default cadence (16 epochs), folds
    # once among them, after the 17th epoch
    slices = 5
    slice_events = 4_500
    epochs_per_slice = 4
    lookups = 6
    # sized for a ~10 MB table
    num_buckets = 8

    def config(self) -> ReplayConfig:
        # defaults otherwise: bucket pruning on, governor at its cadence
        return ReplayConfig(
            epoch_events=self.slice_events // self.epochs_per_slice,
            num_buckets=self.num_buckets, merge_mode="mor", parity_column=True,
        )

    def setup(self, run, d):
        # lsn = event id // 4, so slice k holds event ids [k*S, (k+1)*S)
        lsns_per_slice = self.slice_events // 4
        write_input(
            binlog(run.spark, self.slices * self.slice_events, run.seed)
            .withColumn("slice", (F.col("lsn") / lsns_per_slice).cast("int")),
            os.path.join(d, "log"), "slice",
        )

    def prepare(self, run, d):
        self.slice_dirs = [
            os.path.join(d, "log", f"slice={k}") for k in range(self.slices)
        ]
        self.rng = random.Random(run.seed)
        self.rep = None
        self.arrived = self.slices  # forces a new table on the first step
        self.checked = True
        # Warm-up: the first slice is ingested and read untimed.
        wrun = Run(run.spark, run.work, run.seed, Tracer())
        self._ingest(wrun)
        self._read(wrun)
        run.absorb(wrun)

    def _new_table(self, run):
        if not self.checked:
            self._check_table(run)
        if self.rep:
            shutil.rmtree(self.rep, ignore_errors=True)
        self.rep = tempfile.mkdtemp(prefix="mor-", dir=run.work)
        self.arrived = 0
        self.root = os.path.join(self.rep, "t")
        self.state_root = os.path.join(self.rep, "s")

    def step(self, run):
        self._ingest(run)
        self._read(run)

    def _ingest(self, run, new_slices: int = 1):
        """One scheduled ingest run: replay every slice arrived so far."""
        spark, tracer = run.spark, run.tracer
        if self.arrived + new_slices > self.slices:
            self._new_table(run)
        self.arrived += new_slices
        self.checked = False
        log = spark.read.parquet(*self.slice_dirs[: self.arrived])
        with tracer.span("replay") as rs, instrumented(tracer):
            if self.arrived == new_slices:
                with tracer.span("create"):
                    ParquetMergeTable.create(
                        spark, self.root, payload_schema(log), KEY_COLS,
                        self.num_buckets, order_cols=("lsn", "seqval"), merge_mode="mor",
                    )
            summary = replay(
                spark, log, self.root, self.state_root, config=self.config(),
                table=TracedTable(ParquetMergeTable(spark, self.root), tracer),
            )
        run.timed_items(new_slices * self.slice_events, rs.wall)
        for x in epoch_latencies(tracer, rs):
            run.sample("step_s", x)
        run.ops(summary.epochs_applied)
        run.check("ingest run applied its slice", summary.epochs_applied >= 1,
                  str(summary.epochs_applied))

    def _read(self, run):
        """The closed-loop reader: point lookups, then one full snapshot."""
        spark, tracer = run.spark, run.tracer
        state = oracle.LogState(self.slice_dirs[: self.arrived])
        table = ParquetMergeTable(spark, self.root)
        timed_lookups(run, table, state, lookup_keys(state, self.rng, self.lookups))
        with tracer.span("read") as s:
            table.read().write.format("noop").mode("overwrite").save()
        run.sample("snapshot_read_s", s.wall)
        run.ops(1)

    def _check_table(self, run):
        state = oracle.LogState(self.slice_dirs[: self.arrived])
        table = ParquetMergeTable(run.spark, self.root)
        check_table(run, table, state)
        records = CommitLog(self.state_root, "run-0", "repo_files").records()
        hi = self.arrived * self.slice_events // 4 - 1
        gaps = oracle.commit_log_gaps(records, 0, hi)
        run.check("commit log covers the log once", not gaps, "; ".join(gaps))
        run.sample("table_bytes_per_row", table_bytes(self.root) / len(state.live))
        self.checked = True

    def finish(self, run):
        if not self.checked:
            self._check_table(run)


def build_corpus(spark, n: int, path: str, salt: int) -> None:
    """``n`` docs of 60 md5-derived tokens with planted near-duplicates.

    A salted copy of ``tools/bench_dedup_volume.build_corpus``: the seed
    salts every token hash, the dup structure stays fixed.

    * ``id % 10 == 9`` (outside chains): a near-copy of ``id - 1`` with 2
      tokens rewritten (shingle Jaccard ~0.8);
    * ``id % 100`` in {97, 98, 99}: a path rooted at ``id % 100 == 96``;
      depth d rewrites ``4*d`` spread positions with depth-stable values,
      so consecutive depths share Jaccard ~0.66 and depth-skipping pairs
      fall below 0.5, giving connected components multi-hop work.
    """
    s = F.lit(str(salt))
    m100 = F.col("id") % 100
    depth = m100 - 96
    is_chain = m100.isin(97, 98, 99)
    root = F.col("id") - depth
    is_pair = (F.col("id") % 10 == 9) & ~is_chain
    base = F.when(is_chain, root).when(is_pair, F.col("id") - 1).otherwise(F.col("id"))

    def tok(j, owner):
        return F.substring(F.md5(F.concat_ws(":", s, owner.cast("string"), j.cast("string"))), 1, 8)

    def chain_tok(j):
        return F.substring(
            F.md5(F.concat_ws(":", s, root.cast("string"), j.cast("string"), F.lit("mut"))), 1, 8
        )

    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda j: F.when(
                is_chain & (j % 16).isin(0, 4, 8) & (F.floor((j % 16) / 4) < depth),
                chain_tok(j),
            )
            .when(is_pair & j.isin(0, 29), tok(j + 1000, F.col("id")))
            .otherwise(tok(j, base)),
        ),
        " ",
    )
    write_input(spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text")), path)


class DedupNeardup(Workload):
    name = "dedup_neardup"

    step_seconds = 12.0

    docs = 1_500
    probes = 4
    num_hashes = 32
    rows_per_band = 4
    threshold = 0.5
    batch_fraction = 0.05
    # 8 bands of 4 rows make a planted pair (Jaccard ~0.8) an LSH candidate
    # with p ~0.985 and a chain link (~0.66) with p ~0.8: expected recall
    # ~0.94, standard deviation ~0.017 over the 180 recallable edges of
    # 1,500 docs; seeded runs gave 0.94-0.98
    recall_floor = 0.85

    def warm(self, run):
        """Run pairs and clusters once on a full-size corpus: the measured
        pass then finds the plans of its own input size compiled."""
        d = os.path.join(run.work, "warm")
        self.setup(run, d)
        docs = run.spark.read.parquet(os.path.join(d, "docs"))
        D.neardup_pairs(docs, threshold=self.threshold, **self._kw()).write.parquet(
            os.path.join(d, "pairs")
        )
        pairs = run.spark.read.parquet(os.path.join(d, "pairs"))
        D.dedup_clusters(docs, pairs).write.format("noop").mode("overwrite").save()
        shutil.rmtree(d, ignore_errors=True)

    def setup(self, run, d):
        build_corpus(run.spark, self.docs, os.path.join(d, "docs"), run.seed)

    def prepare(self, run, d):
        import pyarrow.parquet as pq

        self.corpus_dir = os.path.join(d, "docs")
        t = pq.read_table(self.corpus_dir).to_pydict()
        texts = dict(zip(t["doc_id"], t["text"]))
        self.planted = oracle.planted_edges(self.docs)
        self.recallable = {
            e for e in self.planted
            if oracle.shingle_jaccard(texts[e[0]], texts[e[1]]) >= self.threshold
        }
        self.cut = int(self.docs * (1 - self.batch_fraction))
        # the stored band index of the corpus minus the arriving batch
        self.index_dir = tempfile.mkdtemp(prefix="index-", dir=run.work)
        corpus = run.spark.read.parquet(self.corpus_dir).where(F.col("doc_id") < self.cut)
        with run.tracer.span("dedup.index_build"):
            D.lsh_band_index(corpus, **self._kw()).write.mode("overwrite").parquet(
                self.index_dir
            )

    def _kw(self):
        return dict(num_hashes=self.num_hashes, rows_per_band=self.rows_per_band)

    def step(self, run):
        spark, tracer = run.spark, run.tracer
        rep = tempfile.mkdtemp(prefix="dedup-", dir=run.work)
        docs = spark.read.parquet(self.corpus_dir)
        with tracer.span("dedup.pairs") as sp:
            D.neardup_pairs(docs, threshold=self.threshold, **self._kw()).write.parquet(
                os.path.join(rep, "pairs")
            )
        pairs_df = spark.read.parquet(os.path.join(rep, "pairs"))
        with tracer.span("dedup.cc") as sc:
            D.dedup_clusters(docs, pairs_df).write.parquet(os.path.join(rep, "clusters"))
        run.timed_items(self.docs, sp.wall + sc.wall)
        run.ops(2)

        corpus = docs.where(F.col("doc_id") < self.cut)
        batch = docs.where(F.col("doc_id") >= self.cut)
        index = spark.read.parquet(self.index_dir)
        incs = []
        for _ in range(self.probes):
            with tracer.span("dedup.incremental") as si:
                incs.append(D.neardup_pairs_incremental(
                    batch, corpus, threshold=self.threshold, corpus_index=index, **self._kw()
                ).select("doc_a", "doc_b").collect())
            run.sample("step_s", si.wall)
        if tracer.sc is not None:
            self._trace_counts(run, docs, pairs_df)
        self._check(run, pairs_df, os.path.join(rep, "clusters"), incs)
        shutil.rmtree(rep, ignore_errors=True)

    def _trace_counts(self, run, docs, pairs_df):
        """Counts the untimed steps do not produce: LSH candidates and
        connected-component rounds (traced runs only)."""
        with run.tracer.span("dedup.candidates") as s:
            s.attrs["count"] = D.minhash_lsh_candidates(docs, **self._kw()).count()
        stats: dict = {}
        with run.tracer.span("dedup.cc_stats") as s:
            D.connected_components(pairs_df, stats=stats).count()
            s.attrs["rounds"] = stats.get("rounds", 0)

    def _check(self, run, pairs_df, clusters_dir, incs):
        pairs = {(r[0], r[1]) for r in pairs_df.select("doc_a", "doc_b").collect()}
        run.sample("pairs", len(pairs))
        extra = pairs - self.planted
        run.check("every verified pair is planted", not extra, f"{sorted(extra)[:5]}")
        recall = len(pairs & self.recallable) / max(1, len(self.recallable))
        run.sample("dedup_recall", recall)
        run.check("recall of planted edges", recall >= self.recall_floor,
                  f"{recall:.3f} < {self.recall_floor} ({len(pairs)} pairs)")
        want = oracle.components(pairs)
        got = {
            r[0]: r[1]
            for r in run.spark.read.parquet(clusters_dir).collect()
            if r[0] != r[1] or r[0] in want
        }
        run.check("clusters = union-find over pairs", got == want,
                  f"{len(got)} vs {len(want)} clustered docs")
        batch_pairs = {p for p in pairs if p[1] >= self.cut}
        for inc in incs:
            run.check("incremental probe = batch pairs", {tuple(r) for r in inc} == batch_pairs,
                      f"{len(inc)} vs {len(batch_pairs)}")


WORKLOADS = {w.name: w for w in (ReplayCowBulk, TailMorReadwrite, DedupNeardup)}
