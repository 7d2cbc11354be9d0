"""Structured Streaming operators (SURVEY.md §2.10).

The reference's continuous CTAS chain (one always-on statement and one Kafka
topic per stage, generate_personalized_commands.sh:347-433) runs through
``ddl.FlinkStatementSession.start_continuous``: one standing query and one
parquet topic per statement. This module holds the streaming operators that
chain and other callers compose:

- at-least-once + content dedup (md5 + 300 s TTL dict,
  app/utils/kafka_utils.py:209-249) → ``withWatermark`` +
  ``dropDuplicates`` on the content hash (T4). Spark checkpointing already
  gives exactly-once to idempotent sinks; the dedup stays to mirror
  reference semantics for at-least-once producers.
- the global streaming Top-N view (W1, :489-505) → ``foreachBatch``-merged
  bounded table, because Spark disallows un-partitioned ``row_number`` on a
  stream (SURVEY §7.4.1).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.streaming.maintenance import (
    read_log,
    replace_log_atomically,
)

_BATCH_COL = "__batch_id"


def dedup_stream(
    stream: DataFrame,
    content_col: str = "message",
    ts_col: str = "rowtime",
    ttl: str = "5 minutes",
) -> DataFrame:
    """Content-hash dedup with event-time TTL (reference 300 s window).

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``): with
    the event-time column absent from the keys, plain streaming dedup never
    evicts state — duplicates would be suppressed forever and state grows
    unboundedly. The watermark-scoped variant matches the reference's
    300 s TTL dict exactly: a duplicate arriving within the TTL is dropped,
    one arriving after it is re-admitted, and state is bounded by the
    watermark delay (app/utils/kafka_utils.py:209-249).
    """
    hashed = stream.withColumn("__content_hash", F.md5(F.col(content_col))).withWatermark(
        ts_col, ttl
    )
    if stream.isStreaming:
        deduped = hashed.dropDuplicatesWithinWatermark(["__content_hash"])
    else:  # batch DataFrames don't support the watermark-scoped variant
        deduped = hashed.dropDuplicates(["__content_hash"])
    return deduped.drop("__content_hash")


def join_streams_on_key_within(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval:
    right rows match left rows with ``right_ts`` in
    ``[left_ts, left_ts + max_delay]``.

    Not exercised by the reference (its joins are all correlated lateral
    lookups, SURVEY §2.3) but part of the engine north star. Watermarks on
    BOTH sides bound the join state Spark must retain — without them a
    stream-stream join's state grows without limit; with them, rows older
    than (watermark + max_delay) are evicted. That bounded state is what
    makes this join viable on an unbounded 100-TB stream."""
    l_marked = left.withWatermark(left_ts, watermark)
    r_marked = right.withWatermark(right_ts, watermark)
    cond = (
        (l_marked[on] == r_marked[on])
        & (r_marked[right_ts] >= l_marked[left_ts])
        & (r_marked[right_ts] <= l_marked[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return l_marked.join(r_marked, cond, how).drop(r_marked[on])


def speaker_running_stats(stream: DataFrame, n_context: int = 3) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the escape
    hatch for semantics no built-in stateful op covers (SURVEY §7.3): each
    speaker carries a running message count and a rolling last-N context
    across micro-batches in explicit GroupState. Emits one row per input
    message with the state AS OF that message (context = the N messages
    before it), so downstream prompt assembly can cite per-speaker
    conversation history without a global shuffle — state lives with the
    speaker's partition.

    The reference keeps the analogous rolling context client-side
    (recent_conversation_history view + app polling); here it is engine
    state: bounded (count + N strings per speaker), checkpointed, and
    restored on restart like any Structured Streaming state.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def fn(key, pdfs, state):
        (speaker,) = key
        count, recent = state.get if state.exists else (0, [])
        recent = list(recent)
        rows = []
        # ``pdfs`` iterates Arrow CHUNKS of one group's micro-batch; rowtime
        # order only holds after sorting the WHOLE group, not each chunk —
        # materialize first (bounded by the micro-batch), stable-sort once
        whole = pd.concat(list(pdfs), ignore_index=True)
        if len(whole):
            whole = whole.sort_values("rowtime", kind="mergesort")
        for m in whole["message"]:
            count += 1
            rows.append((speaker, m, count, list(recent)))
            recent = (recent + [m])[-n_context:]
        state.update((count, recent))
        yield pd.DataFrame(rows, columns=["speaker", "message", "msg_seq", "context"])

    return stream.groupBy("speaker").applyInPandasWithState(
        fn,
        outputStructType="speaker string, message string, msg_seq long, context array<string>",
        stateStructType="count long, recent array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class RecentHistorySink:
    """foreachBatch sink maintaining the ``recent_conversation_history``
    view: a bounded latest-N table (reference view :489-505).

    Each micro-batch merges into an in-memory pandas buffer under a lock and
    keeps only the newest ``n`` rows — the driver-side state is O(n), the
    per-batch work is O(batch). Register with::

        stream.writeStream.foreachBatch(sink).start()

    With ``view_name`` set (default: the reference's view name), every batch
    re-registers the buffer as a queryable view, so OTHER SQL can select
    from it mid-stream exactly like the reference's
    ``recent_conversation_history`` table (:489-505). foreachBatch runs in a
    CLONED SparkSession, so a plain temp view registered there would be
    invisible to the driving session — the sink therefore registers a
    GLOBAL temp view (cross-session by definition), and, when the driving
    session is passed as ``spark``, a session-local view with the bare
    reference name too::

        sink = RecentHistorySink(n=6, spark=spark)
        stream.writeStream.foreachBatch(sink).start()
        spark.sql("SELECT * FROM recent_conversation_history")       # bare
        spark.sql("SELECT * FROM global_temp.recent_conversation_history")

    A batch whose id is at or below the last merged one is a replay of
    rows the buffer already holds, and is skipped. With ``state_path`` set
    (which needs ``spark``), the buffer survives a restart: after each
    batch with rows, the ≤ n buffered rows and the batch id replace the
    parquet log at ``state_path``, and the constructor seeds the buffer and
    the batch id from that log. Keep ``state_path`` inside the query's
    checkpoint directory, so ``reset_stream_state`` drops both together.
    """

    def __init__(
        self,
        n: int = 6,
        ts_col: str = "rowtime",
        view_name: str | None = "recent_conversation_history",
        spark=None,
        state_path: str | None = None,
    ) -> None:
        self.n = n
        self.ts_col = ts_col
        self.view_name = view_name
        self._spark = spark
        self._state_path = state_path
        self._lock = threading.RLock()  # __call__ reads current() under it
        self._buf = None  # pandas DataFrame
        self._schema = None
        self._batch_id = -1  # the last batch merged into the buffer
        log = None if state_path is None else read_log(spark, state_path)
        if log is not None:  # None: first start
            pdf = log.toPandas()
            self._batch_id = int(pdf.pop(_BATCH_COL).max())
            self._schema = log.drop(_BATCH_COL).schema
            self._merge(pdf)
            self._publish(spark.createDataFrame(self.current(), schema=self._schema))

    def _batch_top(self, batch_df: DataFrame) -> DataFrame:
        """Executor-side latest-n of one micro-batch.  ``orderBy(desc).
        limit(n)`` plans TakeOrderedAndProject — a per-partition bounded
        heap then an n-row merge on the driver — so a multi-million-row
        micro-batch never crosses the driver boundary (only ≤ n rows do);
        the union's top-n is always a subset of buffer ∪ batch-top-n."""
        return batch_df.orderBy(F.desc(self.ts_col)).limit(self.n)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pdf = self._batch_top(batch_df).toPandas()
        with self._lock:
            if batch_id <= self._batch_id:
                return
            self._schema = batch_df.schema
            self._merge(pdf)
            self._batch_id = batch_id
            session = self._spark or batch_df.sparkSession
            view = session.createDataFrame(self.current(), schema=self._schema)
            if self._state_path is not None and len(pdf):
                # ≤ n rows: one task writes one file, not one per slice
                log = view.coalesce(1).withColumn(_BATCH_COL, F.lit(batch_id))
                replace_log_atomically(session, self._state_path, log)
            self._publish(view)

    def _publish(self, view: DataFrame) -> None:
        if not self.view_name:
            return
        view.createOrReplaceGlobalTempView(self.view_name)
        if self._spark is not None:
            view.createOrReplaceTempView(self.view_name)

    def _merge(self, pdf) -> None:
        import pandas as pd  # noqa: PLC0415

        self._buf = pdf if self._buf is None else pd.concat([self._buf, pdf])
        self._buf = (
            self._buf.sort_values(self.ts_col, ascending=False)
            .head(self.n)
            .reset_index(drop=True)
        )

    def current(self):
        """The view contents, oldest-first (reference re-sorts ASC, :504)."""
        with self._lock:
            if self._buf is None:
                return None
            return self._buf.sort_values(self.ts_col).reset_index(drop=True)
