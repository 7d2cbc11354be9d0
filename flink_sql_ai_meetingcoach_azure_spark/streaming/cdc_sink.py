"""Continuously-maintained CDC upsert view: streaming APPLY CHANGES sink.

The batch operator :func:`~..operators.dedup.apply_changes` collapses a
change log to its final state (latest row per key by sequence, key dropped
when that latest op is a delete). Production CDC consumers need the same
thing maintained CONTINUOUSLY over a change stream — a durable,
directly-queryable latest-state table every micro-batch advances — which
Spark's native streaming dedup/agg state (checkpoint-internal, opaque to
SQL) does not give. Same LSM merge-on-read state shape as the rollup /
near-dup / IVF-ingest sinks:

- per micro-batch the batch is PRE-COLLAPSED distributed-side to ONE row
  per key (its latest change by seq, KEEPING delete tombstones as rows —
  a tombstone must survive so a stale out-of-order update in a later
  batch cannot resurrect the key), then appended to a parquet log;
- reads run the batch ``apply_changes`` over the log (one partitioned
  window) — so the maintained view is BY CONSTRUCTION equal to the batch
  operator over the union of everything ingested, out-of-order capture
  included (asserted in tests);
- ``compact()`` folds the log to one row per key — again KEEPING
  tombstones — without changing any read;
- each batch commits exactly once, replays and crashes included, through
  ``maintenance.commit_batch`` under a ``_batches/<id>`` marker.

At 100 TB: per batch one key-partitioned window (the operator's inherent
cost on any engine) + an append of O(active keys per batch) rows; the log
grows by active keys per trigger, independent of change volume, and
compaction bounds it at O(live keys + tombstones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import apply_changes
from flink_sql_ai_meetingcoach_azure_spark.streaming.maintenance import (
    commit_batch,
    read_log,
    replace_log_atomically,
)


class StreamingUpsertSink:
    """``foreachBatch`` sink maintaining the latest-state (upsert) view of
    a keyed change stream in an append-only parquet log merged on read."""

    def __init__(
        self,
        state_dir: str,
        key_cols: list[str],
        seq_cols: list[str],
        op_col: str,
        spark: SparkSession,
        delete_op: str = "D",
    ) -> None:
        self.state_dir = state_dir.rstrip("/")
        self.key_cols = list(key_cols)
        self.seq_cols = list(seq_cols)
        self.op_col = op_col
        self.spark = spark
        self.delete_op = delete_op

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        """Latest change per key by seq — tombstones KEPT (this is
        apply_changes minus the delete filter)."""
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.desc(c) for c in self.seq_cols]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        writes = []
        if not batch_df.isEmpty():
            writes = [(self._latest_per_key(batch_df), f"{self.state_dir}/log", None)]
        commit_batch(self.spark, f"{self.state_dir}/_batches/{int(batch_id)}", writes)

    # -- merge-on-read views -------------------------------------------
    def current(self) -> DataFrame:
        """The maintained upsert view: latest non-deleted row per key —
        equal to batch apply_changes over the union of all ingested
        batches."""
        log = read_log(self.spark, f"{self.state_dir}/log")
        if log is None:
            raise FileNotFoundError(f"{self.state_dir}: no batch committed yet")
        return apply_changes(
            log, self.key_cols, self.seq_cols, self.op_col, self.delete_op
        )

    def compact(self) -> None:
        """Fold the log to one row per key, tombstones included (dropping
        them would let a stale out-of-order update resurrect a deleted
        key). Offline maintenance; reads are unchanged. Crash-safe: the
        folded log is fully written to a sibling temp dir before the live
        dir is swapped out (see streaming.maintenance) — an in-place
        overwrite backed only by a localCheckpoint loses the state if the
        driver dies mid-write."""
        log = read_log(self.spark, f"{self.state_dir}/log")
        if log is None:
            return
        replace_log_atomically(
            self.spark, f"{self.state_dir}/log", self._latest_per_key(log)
        )
