"""Structured Streaming layer (SURVEY.md §2.10, §3.2 streaming variant).

Maps the reference's continuous-query semantics:

- Kafka topic per stage → one streaming DataFrame per stage; optional
  per-stage materialization (``materialize_intermediates``) mirrors the
  reference's intermediate topics (generate_personalized_commands.sh:568-576)
  for inspectability.
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

from flink_sql_ai_meetingcoach_azure_spark.functions.text import assemble_coaching_prompt
from flink_sql_ai_meetingcoach_azure_spark.models.registry import ModelRegistry
from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import vector_search


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


def streaming_coaching_pipeline(
    message_stream: DataFrame,
    knowledge_index: DataFrame,
    registry: ModelRegistry,
    k: int = 3,
) -> DataFrame:
    """Streaming version of plans/coaching.py: stream-static broadcast join
    against the (batch) knowledge index; every transform is narrow, so each
    micro-batch is a single stage — same property as the reference's
    per-row continuous pipeline."""
    prospects = message_stream.filter(F.col("speaker") == "prospect").select(
        "message", "speaker"
    )
    embedded = registry.ml_predict(prospects, "openaiembed", "message", "embedding")
    # the search is a map-only mapInPandas, so it is streaming-legal as is
    with_rag = vector_search(
        embedded,
        knowledge_index,
        k=k,
        payload_cols=["document_id", "chunks"],
        output_col="rag_results",
    )
    prompt = assemble_coaching_prompt("message", "rag_results", k=k)
    with_prompt = with_rag.withColumn("__prompt", prompt)
    generated = registry.ml_predict(
        with_prompt, "coaching_response_generator", "__prompt", "coaching_response"
    )
    return generated.select(
        "message",
        F.to_json(F.col("rag_results")).alias("rag_results_string"),
        "coaching_response",
    )


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


def staged_coaching_pipeline(
    spark,
    source_stream: DataFrame | dict,
    knowledge_index: DataFrame,
    registry: ModelRegistry,
    out_root: str,
    k: int = 3,
):
    """The reference's 4 chained CTAS statements with one materialized
    intermediate per stage (generate_personalized_commands.sh:347-433: each
    stage writes its own Kafka topic; here each writes a parquet dir under
    ``out_root`` and the next stage ``readStream``s it).

    ``source_stream`` may be a DataFrame or a source-config dict
    (``sources.kafka.open_message_stream``): ``{"type": "kafka",
    "bootstrap_servers", "topic", "registry"}`` reads the reference's input
    topic with Confluent-Avro decode; ``{"type": "file", ...}`` is the
    brokerless stand-in the tests drive.

    Returns the list of StreamingQuery handles (callers stop them or
    ``processAllAvailable`` in tests). The fused single-plan variant
    (:func:`streaming_coaching_pipeline`) is the performance path; this one
    exists for the reference's per-stage inspectability — the demo's
    observability depends on the intermediate topics existing.
    """
    if isinstance(source_stream, dict):
        # config-selected source: {"type": "kafka", ...} for the reference's
        # messages_conversation topic (Confluent-Avro decoded through the
        # registry seam), {"type": "file", ...} for the brokerless stand-in
        from flink_sql_ai_meetingcoach_azure_spark.sources.kafka import (  # noqa: PLC0415
            open_message_stream,
        )

        source_stream = open_message_stream(spark, source_stream)
    root = out_root.rstrip("/")
    queries = []

    def _sink(df: DataFrame, name: str):
        q = (
            df.writeStream.format("parquet")
            .option("path", f"{root}/{name}")
            .option("checkpointLocation", f"{root}/_ckpt/{name}")
            .outputMode("append")
            .start()
        )
        queries.append(q)
        return q

    # stage a: messages_prospect = SELECT * WHERE speaker='prospect' (:347-350)
    prospects = source_stream.filter(F.col("speaker") == "prospect").select(
        "message", "speaker"
    )
    _sink(prospects, "messages_prospect")

    # stage b: + embedding via ML_PREDICT('openaiembed', message) (:355-362)
    st_a = spark.readStream.schema(prospects.schema).parquet(f"{root}/messages_prospect")
    embedded = registry.ml_predict(st_a, "openaiembed", "message", "embedding")
    _sink(embedded, "messages_prospect_embeddings")

    # stage c: + rag_results via VECTOR_SEARCH(..., k) (:367-385)
    st_b = spark.readStream.schema(embedded.schema).parquet(
        f"{root}/messages_prospect_embeddings"
    )
    with_rag = vector_search(
        st_b,
        knowledge_index,
        k=k,
        payload_cols=["document_id", "chunks"],
        output_col="rag_results",
    )
    _sink(with_rag, "messages_prospect_rag_results")

    # stage d: prompt CONCAT + generation (:412-433)
    st_c = spark.readStream.schema(with_rag.schema).parquet(
        f"{root}/messages_prospect_rag_results"
    )
    prompt = assemble_coaching_prompt("message", "rag_results", k=k)
    generated = registry.ml_predict(
        st_c.withColumn("__prompt", prompt), "coaching_response_generator",
        "__prompt", "coaching_response",
    ).select(
        "message",
        F.to_json(F.col("rag_results")).alias("rag_results_string"),
        "coaching_response",
    )
    _sink(generated, "messages_prospect_rag_llm_response")
    return queries


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
    """

    def __init__(
        self,
        n: int = 6,
        ts_col: str = "rowtime",
        view_name: str | None = "recent_conversation_history",
        spark=None,
    ) -> None:
        self.n = n
        self.ts_col = ts_col
        self.view_name = view_name
        self._spark = spark
        self._lock = threading.Lock()
        self._buf = None  # pandas DataFrame
        self._schema = None
        self._seed_overlap_pending = False

    def _batch_top(self, batch_df: DataFrame) -> DataFrame:
        """Executor-side latest-n of one micro-batch.  ``orderBy(desc).
        limit(n)`` plans TakeOrderedAndProject — a per-partition bounded
        heap then an n-row merge on the driver — so a multi-million-row
        micro-batch never crosses the driver boundary (only ≤ n rows do);
        the union's top-n is always a subset of buffer ∪ batch-top-n."""
        return batch_df.orderBy(F.desc(self.ts_col)).limit(self.n)

    def seed(self, snapshot: DataFrame) -> None:
        """Pre-populate the buffer from a materialized-topic snapshot before
        (re)starting the stream (ddl.start_continuous restart path).  Rows
        the topic committed after the view stream's last checkpoint exist in
        BOTH the snapshot and the post-restart replay; the first replayed
        micro-batch's min timestamp trims the seeded copies (see __call__),
        so legitimately duplicate topic rows still count once per occurrence
        — full-row dedup would collapse them."""
        pdf = self._batch_top(snapshot).toPandas()
        with self._lock:
            self._schema = snapshot.schema
            self._merge(pdf)
            self._seed_overlap_pending = True

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        pdf = self._batch_top(batch_df).toPandas()
        with self._lock:
            self._schema = batch_df.schema
            if self._seed_overlap_pending and len(pdf):
                # overlap trim: everything at/after the earliest replayed
                # timestamp (of the FULL batch, not its top-n) re-arrives
                # via the stream, so drop the seeded copies.  Caveat: a
                # checkpointed row sharing that exact boundary timestamp is
                # trimmed yet never replayed — ties at the boundary lose.
                boundary = batch_df.agg(F.min(self.ts_col)).collect()[0][0]
                if boundary is not None and self._buf is not None:
                    self._buf = self._buf[self._buf[self.ts_col] < boundary]
                self._seed_overlap_pending = False
            self._merge(pdf)
            if self.view_name:
                ordered = self._buf.sort_values(self.ts_col).reset_index(drop=True)
                session = self._spark or batch_df.sparkSession
                view = session.createDataFrame(ordered, schema=self._schema)
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
