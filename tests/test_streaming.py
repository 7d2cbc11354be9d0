"""Structured Streaming layer (SURVEY.md §2.10): the continuous coaching
chain's stage topics, content-hash dedup with watermark, foreachBatch
recent-history sink."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_sql_ai_meetingcoach_azure_spark.ddl import (
    run_reference_pipeline,
    run_reference_pipeline_continuous,
)
from flink_sql_ai_meetingcoach_azure_spark.sources.kafka import open_message_stream
from flink_sql_ai_meetingcoach_azure_spark.streaming.pipeline import (
    RecentHistorySink,
    dedup_stream,
    join_streams_on_key_within,
)

MSG_SCHEMA = T.StructType(
    [
        T.StructField("message", T.StringType()),
        T.StructField("speaker", T.StringType()),
        T.StructField("rowtime", T.TimestampType()),
    ]
)


def _write_batch(path, rows, n=0):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"batch_{n}.json"), "w") as f:
        for m, s, ts in rows:
            f.write(json.dumps({"message": m, "speaker": s, "rowtime": ts}) + "\n")


def test_staged_pipeline_materializes_intermediates(spark, tmp_path):
    """Every reference stage exists as an inspectable materialized topic
    (mirrors the per-stage Kafka topics, :568-576). A file-source config
    reaches the statement chain through open_message_stream, the script's
    CREATE MODELs drive the models, and the final row equals the batch
    statement chain's."""
    src = str(tmp_path / "msgs")
    out = str(tmp_path / "stages")
    _write_batch(
        src,
        [("Pricing is steep", "prospect", "2026-01-01T10:00:00"),
         ("Noted", "salesperson", "2026-01-01T10:00:01")],
    )
    knowledge = spark.createDataFrame(
        [(f"kb/doc{i}.md", f"doc{i}.md", "kb",
          " ### ".join(f"Pricing tier {i}.{j} starts at ${10 * j} per seat." for j in range(8)))
         for i in range(3)],
        ["document_id", "document_name", "document_category", "document_text"],
    )
    cfg = {"type": "file", "path": src, "schema": MSG_SCHEMA, "format": "json"}
    sess, handles = run_reference_pipeline_continuous(
        spark, knowledge, open_message_stream(spark, cfg), out, mock_dim=32
    )
    try:
        assert len(handles) == 5  # 4 stage queries + the Top-N view sink
        # each stage reads the previous stage's topic: one pass per stage
        for _ in range(4):
            for q in handles:
                q.processAllAvailable()
    finally:
        for q in handles:
            q.stop()
    assert set(sess.models) == {"openaiembed", "coaching_response_generator"}
    stages = [
        "messages_prospect",
        "messages_prospect_embeddings",
        "messages_prospect_rag_results",
        "messages_prospect_rag_llm_response",
    ]
    for s in stages:  # salesperson row filtered in the first stage
        rows = spark.read.parquet(f"{out}/{s}").collect()
        assert [r["message"] for r in rows] == ["Pricing is steep"], s
    final = spark.read.parquet(f"{out}/messages_prospect_rag_llm_response").collect()
    assert "kb/doc" in final[0]["rag_results_string"]
    assert final[0]["coaching_response"].startswith("```json")
    run_reference_pipeline(
        spark, knowledge, spark.read.schema(MSG_SCHEMA).json(src), mock_dim=32
    )
    assert spark.table("messages_prospect_rag_llm_response").collect() == final


def test_dedup_stream(spark, tmp_path):
    src = str(tmp_path / "dups")
    _write_batch(
        src,
        [
            ("same message", "prospect", "2026-01-01T10:00:00"),
            ("same message", "prospect", "2026-01-01T10:00:01"),
            ("other message", "prospect", "2026-01-01T10:00:02"),
        ],
    )
    stream = spark.readStream.schema(MSG_SCHEMA).json(src)
    deduped = dedup_stream(stream, content_col="message", ts_col="rowtime")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        msgs = sorted(r["message"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    finally:
        q.stop()
    assert msgs == ["other message", "same message"]


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """T3/T6: stop a checkpointed query, add data, restart with the same
    checkpoint — the restarted query processes only the new files, and the
    sink holds each row exactly once."""
    src = str(tmp_path / "cp_src")
    out = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ckpt")
    _write_batch(src, [("m1", "prospect", "2026-01-01T10:00:00")], n=0)

    def start():
        stream = spark.readStream.schema(MSG_SCHEMA).json(src)
        return (
            stream.select("message", "speaker")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 1

    _write_batch(src, [("m2", "prospect", "2026-01-01T10:00:05")], n=1)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    msgs = sorted(r["message"] for r in spark.read.parquet(out).collect())
    assert msgs == ["m1", "m2"]  # m1 not reprocessed, m2 picked up


def test_stream_stream_join_within_interval(spark, tmp_path):
    """Stream-stream equi-join with event-time bounds and watermarks on
    both sides (bounded state)."""
    import json as _json

    q_src = str(tmp_path / "questions")
    a_src = str(tmp_path / "answers")
    os.makedirs(q_src), os.makedirs(a_src)
    with open(os.path.join(q_src, "q.json"), "w") as f:
        f.write(_json.dumps({"conv_id": "c1", "q": "price?", "q_ts": "2026-01-01T10:00:00"}) + "\n")
        f.write(_json.dumps({"conv_id": "c2", "q": "late?", "q_ts": "2026-01-01T10:00:00"}) + "\n")
    with open(os.path.join(a_src, "a.json"), "w") as f:
        f.write(_json.dumps({"conv_id": "c1", "a": "ten", "a_ts": "2026-01-01T10:05:00"}) + "\n")
        # outside the 10-minute interval — must NOT join
        f.write(_json.dumps({"conv_id": "c2", "a": "nope", "a_ts": "2026-01-01T10:30:00"}) + "\n")

    q_schema = T.StructType([T.StructField("conv_id", T.StringType()),
                             T.StructField("q", T.StringType()),
                             T.StructField("q_ts", T.TimestampType())])
    a_schema = T.StructType([T.StructField("conv_id", T.StringType()),
                             T.StructField("a", T.StringType()),
                             T.StructField("a_ts", T.TimestampType())])
    joined = join_streams_on_key_within(
        spark.readStream.schema(q_schema).json(q_src),
        spark.readStream.schema(a_schema).json(a_src),
        on="conv_id", left_ts="q_ts", right_ts="a_ts", max_delay="10 minutes",
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT conv_id, q, a FROM ss_join").collect()
    finally:
        q.stop()
    assert [(r["conv_id"], r["a"]) for r in rows] == [("c1", "ten")]


def test_speaker_running_stats_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-speaker GroupState (count + rolling
    context) persists across micro-batches — batch 2 continues batch 1's
    sequence numbers and sees its messages as context."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.pipeline import (
        speaker_running_stats,
    )

    src = str(tmp_path / "stateful_src")
    _write_batch(src, [("m1", "prospect", "2026-01-01T10:00:00"),
                       ("m2", "prospect", "2026-01-01T10:00:01"),
                       ("x1", "salesperson", "2026-01-01T10:00:02")], n=0)
    stream = spark.readStream.schema(MSG_SCHEMA).json(src)
    out = speaker_running_stats(stream, n_context=3)
    q = (
        out.writeStream.format("memory")
        .queryName("speaker_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_stateful"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src, [("m3", "prospect", "2026-01-01T10:00:10")], n=1)
        q.processAllAvailable()
        rows = {(r["speaker"], r["message"]): r
                for r in spark.sql("SELECT * FROM speaker_stats").collect()}
    finally:
        q.stop()
    assert rows[("prospect", "m1")]["msg_seq"] == 1
    assert rows[("prospect", "m1")]["context"] == []
    assert rows[("prospect", "m2")]["msg_seq"] == 2
    assert rows[("prospect", "m2")]["context"] == ["m1"]
    assert rows[("salesperson", "x1")]["msg_seq"] == 1  # independent key state
    # batch 2: state carried over the micro-batch boundary
    assert rows[("prospect", "m3")]["msg_seq"] == 3
    assert rows[("prospect", "m3")]["context"] == ["m1", "m2"]


def test_speaker_running_stats_orders_across_arrow_chunks(spark, tmp_path):
    """A group's micro-batch arrives as MULTIPLE Arrow chunks when it
    exceeds maxRecordsPerBatch; rowtime ordering must hold across the whole
    group (sorting each chunk independently interleaves sequences)."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.pipeline import (
        speaker_running_stats,
    )

    prior = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        src = str(tmp_path / "chunked_src")
        # one speaker, 6 rows written in SHUFFLED rowtime order: with
        # 2-row Arrow chunks, per-chunk sorting would emit e.g. seq(m1)>seq(m0)
        order = [3, 0, 5, 2, 4, 1]
        _write_batch(
            src,
            [(f"m{i}", "prospect", f"2026-01-01T10:00:0{i}") for i in order],
            n=0,
        )
        stream = spark.readStream.schema(MSG_SCHEMA).json(src)
        out = speaker_running_stats(stream, n_context=2)
        q = (
            out.writeStream.format("memory")
            .queryName("chunked_stats")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_chunked"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {r["message"]: r
                    for r in spark.sql("SELECT * FROM chunked_stats").collect()}
        finally:
            q.stop()
        for i in range(6):
            assert rows[f"m{i}"]["msg_seq"] == i + 1, rows
        assert rows["m5"]["context"] == ["m3", "m4"]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prior)


def test_streaming_tumbling_window_drops_late_rows(spark, tmp_path):
    """Watermarked streaming windowed agg (T1/T2 streaming form): append
    mode emits a window once the watermark passes it, and a row arriving
    later than watermark+window is dropped from the aggregate."""
    src = str(tmp_path / "win_src")
    _write_batch(src, [("a", "prospect", "2026-01-01T10:00:05"),
                       ("b", "prospect", "2026-01-01T10:00:20")], n=0)
    stream = (
        spark.readStream.schema(MSG_SCHEMA).json(src)
        .withColumn("ts", F.to_timestamp("rowtime"))
    )
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past the first window, then send a
        # LATE row into it — must be dropped, not re-emitted
        _write_batch(src, [("late", "prospect", "2026-01-01T10:00:06"),
                           ("c", "prospect", "2026-01-01T10:01:00")], n=1)
        q.processAllAvailable()
        _write_batch(src, [("d", "prospect", "2026-01-01T10:02:00")], n=2)
        q.processAllAvailable()
        rows = {r["w_start"]: r["n"] for r in spark.sql("SELECT * FROM win_counts").collect()}
    finally:
        q.stop()
    assert rows.get("2026-01-01 10:00:00") == 1  # 'late' did NOT land here
    assert rows.get("2026-01-01 10:00:20") == 1


def test_recent_history_sink(spark, tmp_path):
    src = str(tmp_path / "hist")
    rows = [(f"m{i}", "prospect", f"2026-01-01T10:00:{i:02d}") for i in range(10)]
    _write_batch(src, rows)
    sink = RecentHistorySink(n=6, ts_col="rowtime", spark=spark)
    stream = spark.readStream.schema(MSG_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cur = sink.current()
    assert list(cur["message"]) == [f"m{i}" for i in range(4, 10)]  # latest 6, ASC
    # the reference's view is SQL-queryable by other statements (:489-505)
    via_sql = spark.sql(
        "SELECT message FROM recent_conversation_history ORDER BY rowtime"
    ).collect()
    assert [r["message"] for r in via_sql] == [f"m{i}" for i in range(4, 10)]


def test_recent_history_view_updates_mid_stream(spark, tmp_path):
    """The temp view tracks the stream: after more batches arrive, SQL over
    the view sees the new latest-N without restarting anything."""
    src = str(tmp_path / "hist2")
    _write_batch(src, [("a1", "prospect", "2026-01-01T10:00:00")], n=0)
    sink = RecentHistorySink(n=2, ts_col="rowtime", spark=spark)
    stream = spark.readStream.schema(MSG_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = [r["message"] for r in spark.sql(
            "SELECT message FROM recent_conversation_history").collect()]
        _write_batch(src, [("a2", "prospect", "2026-01-01T10:00:05"),
                           ("a3", "prospect", "2026-01-01T10:00:06")], n=1)
        q.processAllAvailable()
        second = [r["message"] for r in spark.sql(
            "SELECT message FROM recent_conversation_history ORDER BY rowtime").collect()]
    finally:
        q.stop()
    assert first == ["a1"]
    assert second == ["a2", "a3"]  # bounded at n=2, latest wins


def test_recent_history_sink_plans_take_ordered(spark):
    """Scale guard: the per-batch work must plan TakeOrderedAndProject (a
    bounded per-partition heap; ≤ n rows ever reach the driver), never a
    full-batch collect — mirror of test_plans.py's batch Top-N check."""
    sink = RecentHistorySink(n=6, ts_col="rowtime", spark=spark)
    batch = spark.range(1000).select(
        F.col("id").alias("seq"), F.timestamp_seconds(F.col("id")).alias("rowtime")
    )
    plan = sink._batch_top(batch)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_recent_history_restart_skips_replayed_batches(spark, tmp_path):
    """Restart semantics: the sink logs its buffer with the batch id after
    each batch, a new sink seeds from that log, and a replayed batch (id at
    or below the logged one) is skipped, so nothing counts twice. A row
    tying the last seeded timestamp is kept, and legitimately duplicate
    rows (same message/speaker/rowtime twice) still count twice."""
    schema = "message string, speaker string, rowtime timestamp"

    def df(*rows):
        return spark.createDataFrame(
            [(m, "p", dt.datetime(2026, 1, 1, 10, 0, s)) for m, s in rows], schema
        )

    state = str(tmp_path / "ckpt" / "view_buffer")
    sink = RecentHistorySink(n=5, spark=spark, view_name=None, state_path=state)
    assert sink.current() is None  # first start: no log yet
    sink(df(("m0", 0), ("m1", 1)), 0)
    batch1 = df(("m2", 2), ("m2", 2), ("m3", 3))
    sink(batch1, 1)
    # restart: batch 1 was logged, but the stream had not committed it
    again = RecentHistorySink(n=5, spark=spark, view_name=None, state_path=state)
    assert list(again.current()["message"]) == ["m0", "m1", "m2", "m2", "m3"]
    again(batch1, 1)  # the replay
    again(df(("m3b", 3), ("m4", 4)), 2)
    assert sorted(again.current()["message"]) == ["m2", "m2", "m3", "m3b", "m4"]


def test_reset_stream_state_replays_from_start(spark, tmp_path):
    """T6: checkpoint reset = the reference's consumer-group offset reset
    (app/scripts/kafka/reset_consumer_group.py:22-44). After reset, a
    restarted query replays the source from startingOffsets instead of
    resuming — observable as the sink receiving the backlog again."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.state import (
        is_checkpoint_dir,
        reset_stream_state,
    )

    src = str(tmp_path / "rs_src")
    ckpt = str(tmp_path / "rs_ckpt")
    _write_batch(src, [("m1", "prospect", "2026-01-01T10:00:00")], n=0)

    def run():
        """One start→drain→stop cycle; returns the messages this run saw.
        foreachBatch (unlike the memory sink) supports checkpoint
        recovery, so the resumed run replays nothing already committed."""
        seen: list[str] = []

        def collect(batch_df, batch_id):
            seen.extend(r["message"] for r in batch_df.collect())

        stream = spark.readStream.schema(MSG_SCHEMA).json(src)
        q = (
            stream.select("message")
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(seen)

    assert run() == ["m1"]
    assert is_checkpoint_dir(ckpt)
    # no reset -> resume: nothing new to process
    assert run() == []
    # reset -> replay the backlog
    assert reset_stream_state(ckpt)
    assert run() == ["m1"]
    # resetting an absent checkpoint is a no-op, not an error
    assert reset_stream_state(str(tmp_path / "nope")) is False


def test_reset_stream_state_refuses_non_checkpoint(tmp_path):
    import pytest

    from flink_sql_ai_meetingcoach_azure_spark.streaming.state import reset_stream_state

    d = tmp_path / "just_data"
    d.mkdir()
    (d / "important.txt").write_text("hi")
    with pytest.raises(ValueError):
        reset_stream_state(str(d))
    assert (d / "important.txt").exists()


def test_curation_operators_run_on_streams(spark, tmp_path):
    """The curation column layer (quality rule pack, PII redaction,
    language ID) is pure map expressions, so the SAME code curates a
    stream: documents arriving on a file stream come out filtered,
    scrubbed and tagged — the streaming ingest shape of a training-data
    pipeline."""
    import json as _json

    from flink_sql_ai_meetingcoach_azure_spark.functions.text_analysis import (
        gopher_filter_cols,
        lang_id_col,
        redact_pii_col,
    )

    src = str(tmp_path / "docsrc")
    os.makedirs(src)
    rows = [
        {"doc_id": 0, "text": "the good and long enough document with a mail to bob@example.com inside"},
        {"doc_id": 1, "text": "x y"},  # too_few_tokens -> dropped
        {"doc_id": 2, "text": "der und die das ist ein wort mehr text hier bitte"},
    ]
    with open(f"{src}/part0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    schema = "doc_id BIGINT, text STRING"
    stream = spark.readStream.schema(schema).json(src)
    passes, reasons = gopher_filter_cols("text")
    curated = (
        stream.withColumn("passes", passes)
        .withColumn("reasons", reasons)
        .filter(F.col("passes"))
        .withColumn("clean_text", redact_pii_col("text"))
        .withColumn("lang", lang_id_col("clean_text"))
    )
    q = (
        curated.writeStream.format("memory")
        .queryName("curated_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["doc_id"]: r for r in spark.table("curated_stream").collect()}
    assert set(out) == {0, 2}  # doc 1 fails the rule pack
    assert "[EMAIL]" in out[0]["clean_text"]
    assert out[0]["lang"] == "en" and out[2]["lang"] == "de"


def test_match_funnel_stream_state_across_batches(spark, tmp_path):
    """Streaming CEP funnel: GroupState carries greedy progress across
    micro-batches and the final snapshot equals the batch operator run on
    the union of all batches."""
    import json

    from flink_sql_ai_meetingcoach_azure_spark.operators.cep import (
        match_funnel,
        match_funnel_stream,
    )

    src = tmp_path / "funnel_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_type string, event_id long"
    b1 = [
        {"user_id": 1, "ts": "2026-01-01T10:00:00", "event_type": "view", "event_id": 1},
        {"user_id": 1, "ts": "2026-01-01T10:01:00", "event_type": "click", "event_id": 2},
        {"user_id": 2, "ts": "2026-01-01T10:00:30", "event_type": "view", "event_id": 3},
    ]
    b2 = [
        {"user_id": 1, "ts": "2026-01-01T10:05:00", "event_type": "purchase", "event_id": 4},
        {"user_id": 2, "ts": "2026-01-01T10:06:00", "event_type": "error", "event_id": 5},
        {"user_id": 2, "ts": "2026-01-01T10:07:00", "event_type": "click", "event_id": 6},
    ]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in b1))

    stream = spark.readStream.schema(schema).json(str(src))
    out = match_funnel_stream(
        stream, ("view", "click", "purchase"),
        id_col="event_id", within_seconds=3600,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_snap")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {r.user_id: r for r in spark.sql(
            "SELECT * FROM funnel_snap").collect()}
        assert mid[1].stages_hit == 2 and not mid[1].matched
        assert mid[2].stages_hit == 1
        (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b2))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM funnel_snap").collect()
    finally:
        q.stop()
    # final snapshot per user = the row with max stages_hit (monotone)
    final = {}
    for r in rows:
        if r.user_id not in final or r.stages_hit > final[r.user_id].stages_hit:
            final[r.user_id] = r
    batch_df = spark.createDataFrame(
        [(r["user_id"],
          __import__("datetime").datetime.fromisoformat(r["ts"]),
          r["event_type"], r["event_id"]) for r in b1 + b2],
        schema,
    )
    want = {r.user_id: r for r in match_funnel(
        batch_df, ("view", "click", "purchase"),
        id_col="event_id", within_seconds=3600,
    ).collect()}
    for uid, w in want.items():
        g = final[uid]
        assert (g.stages_hit, g.matched, g.start_ts, g.end_ts) == (
            w.stages_hit, w.matched, w.start_ts, w.end_ts
        ), uid


# ---- streaming near-dup dedup (MinHash-LSH across micro-batches) ----

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

_BASE = (
    "the committee approved the quarterly budget after a long discussion "
    "of infrastructure spending priorities and staffing allocations"
)
_DOCS = [
    (1, _BASE),
    (2, _BASE.replace("long", "heated")),  # near-dup of 1
    (3, "completely different content about gardening tips for arid climates and soil"),
    (4, _BASE.replace("quarterly", "annual")),  # near-dup of 1/2
    (5, "a fifth document on maritime navigation techniques in coastal waters today"),
]


def _write_docs(path, rows, n=0):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"docs_{n}.json"), "w") as f:
        for i, t in rows:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")


def test_streaming_neardup_equals_batch_union(spark, tmp_path):
    """Feeding N micro-batches through StreamingNearDupDedup admits
    exactly the docs batch neardup_survivors keeps over the UNION."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        neardup_survivors,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingNearDupDedup,
    )

    src = str(tmp_path / "docs")
    sink = StreamingNearDupDedup(
        str(tmp_path / "nd_state"), str(tmp_path / "nd_out")
    )
    _write_docs(src, _DOCS[:3], 0)
    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_docs(src, _DOCS[3:], 1)
        q.processAllAvailable()
    finally:
        q.stop()

    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "nd_out")).collect()
    )

    union = spark.createDataFrame(_DOCS, ["doc_id", "text"])
    pairs = lsh_candidate_pairs(
        minhash_signatures(union, "doc_id", "text", 8, 3), "doc_id", 8, 2
    )
    expected = sorted(
        r["doc_id"] for r in neardup_survivors(union, pairs, "doc_id").collect()
    )
    assert admitted == expected
    # sanity on the scenario itself: at least one near-dup was dropped
    assert set(admitted) < {1, 2, 3, 4, 5}


def test_streaming_neardup_state_replay_and_compaction(spark, tmp_path):
    """Replaying a batch is a state no-op (append-only log merges by min),
    and compaction preserves every dup decision."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingNearDupDedup,
    )

    sink = StreamingNearDupDedup(
        str(tmp_path / "st"), str(tmp_path / "out"), num_hashes=8, band_size=2
    )
    b1 = spark.createDataFrame(_DOCS[:3], ["doc_id", "text"])
    b2 = spark.createDataFrame(_DOCS[3:], ["doc_id", "text"])
    sink(b1, 0)
    merged_before = {
        (r["band"], r["bh"]): r["min_id"]
        for r in sink._read_state(spark).collect()
    }
    out_before = spark.read.parquet(str(tmp_path / "out")).count()
    sink(b1, 0)  # replay: marker short-circuits — no state or output change
    merged_after = {
        (r["band"], r["bh"]): r["min_id"]
        for r in sink._read_state(spark).collect()
    }
    assert merged_before == merged_after
    assert spark.read.parquet(str(tmp_path / "out")).count() == out_before

    sink.compact(spark)
    merged_compacted = {
        (r["band"], r["bh"]): r["min_id"]
        for r in sink._read_state(spark).collect()
    }
    assert merged_compacted == merged_before
    # after compaction the log holds exactly one row per bucket
    assert spark.read.parquet(str(tmp_path / "st")).count() == len(merged_before)

    sink(b2, 1)
    out = spark.read.parquet(str(tmp_path / "out"))
    # batch 2's near-dup of doc 1/2 (doc 4) must be dropped by STATE alone
    b2_admitted = {r["doc_id"] for r in out.filter("batch_id = 1").collect()}
    assert b2_admitted == {5}


def test_streaming_neardup_batch_job_budget(spark, tmp_path):
    """A batch with state materializes its band keys once: at most 9 Spark
    jobs for this call (15 when the empty test, the state schema and the
    bucket minima each ran their own), with the same admitted rows."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingNearDupDedup,
    )

    sink = StreamingNearDupDedup(str(tmp_path / "st"), str(tmp_path / "out"))
    sink(spark.createDataFrame(_DOCS[:3], DOC_SCHEMA), 0)
    sc = spark.sparkContext
    sc.setJobGroup("neardup_budget", "near-dup batch job budget")
    try:
        sink(spark.createDataFrame(_DOCS[3:], DOC_SCHEMA), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("neardup_budget")) <= 9
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r["doc_id"] for r in out.filter("batch_id = 1").collect()} == {5}


def test_streaming_neardup_empty_batch_writes_only_the_marker(spark, tmp_path):
    """An empty batch is detected from the band-key checkpoint's observed
    row count: it marks the batch and writes no output or state."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingNearDupDedup,
    )

    sink = StreamingNearDupDedup(str(tmp_path / "st"), str(tmp_path / "out"))
    sink(spark.createDataFrame([], DOC_SCHEMA), 0)
    assert sorted(os.listdir(tmp_path)) == ["st_batches"]
    marks = [f for f in os.listdir(tmp_path / "st_batches") if not f.startswith(".")]
    assert marks == ["0"]


# ---- continuous vector-store sink: streaming ingest into the IVF index ----


def test_streaming_ivf_ingest_probe_sees_new_vectors(spark, tmp_path):
    """Stream half the corpus into a pre-built IVF index; a full probe
    (nprobe == nlist → exact) must then equal flat search over ALL
    vectors, and a replayed batch must not duplicate index rows."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        vector_search_ivf_parquet,
        vector_search_topk_flat,
        write_ivf_index,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.vector_sink import (
        StreamingIvfIngest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    incoming = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_live")
    ivf, centroids = build_ivf_index(
        base.select("vec_id", "embedding"), nlist=4
    )
    write_ivf_index(ivf, centroids, path)

    sink = StreamingIvfIngest(path)
    half = incoming.select("vec_id", "embedding")
    n_total = emb.count()
    sink(half.filter(F.col("vec_id") % 4 == 1), 0)
    sink(half.filter(F.col("vec_id") % 4 == 3), 1)
    assert spark.read.parquet(path).count() == n_total
    # replay batch 1: marker short-circuits, no duplicate rows
    sink(half.filter(F.col("vec_id") % 4 == 3), 1)
    assert spark.read.parquet(path).count() == n_total

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    probed = {
        r["qid"]: [s["vec_id"] for s in r["search_results"]]
        for r in vector_search_ivf_parquet(
            queries, path, k=3, nprobe=4, payload_cols=["vec_id"]
        ).collect()
    }
    flat = {}
    for r in vector_search_topk_flat(
        queries, emb.select("vec_id", "embedding"), k=3, payload_cols=["vec_id"]
    ).collect():
        flat.setdefault(r["qid"], []).append(r["vec_id"])
    assert probed == flat


def test_streaming_neardup_survives_restart(spark, tmp_path):
    """Kill the query between batches; a NEW query over the same
    checkpoint + state resumes: batch-2 near-dups of batch-1 docs are
    still dropped (the band-key state lives on disk, not in the query),
    and already-committed batches are not re-emitted."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingNearDupDedup,
    )

    src = str(tmp_path / "docs")
    sink = StreamingNearDupDedup(
        str(tmp_path / "nd_state"), str(tmp_path / "nd_out")
    )

    def _run():
        stream = spark.readStream.schema(DOC_SCHEMA).json(src)
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_docs(src, _DOCS[:3], 0)
    _run()
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "nd_out")).collect()
    )
    _write_docs(src, _DOCS[3:], 1)
    _run()  # fresh query object, same checkpoint + on-disk state
    out = spark.read.parquet(str(tmp_path / "nd_out"))
    admitted = sorted(r["doc_id"] for r in out.collect())
    # batch 1's survivors appear exactly once; doc 4 (near-dup of 1/2 from
    # the PREVIOUS incarnation's batches) is dropped purely by disk state
    assert admitted.count(first[0]) == 1
    assert 4 not in admitted
    assert 5 in admitted


def test_streaming_hopping_window_overlap(spark, tmp_path):
    """Sliding (HOP) windows in streaming: a watermarked 10s/5s-slide
    windowed agg counts each event in BOTH overlapping windows, emitted
    append-mode once the watermark passes each window."""
    src = str(tmp_path / "hop_src")
    _write_batch(src, [("a", "prospect", "2026-01-01T10:00:07")], n=0)
    stream = (
        spark.readStream.schema(MSG_SCHEMA).json(src)
        .withColumn("ts", F.to_timestamp("rowtime"))
    )
    agg = (
        stream.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 seconds", "5 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hop_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hop"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src, [("flush", "prospect", "2026-01-01T10:05:00")], n=1)
        q.processAllAvailable()
        _write_batch(src, [("flush2", "prospect", "2026-01-01T10:10:00")], n=2)
        q.processAllAvailable()
        rows = {r["w_start"]: r["n"] for r in spark.sql("SELECT * FROM hop_counts").collect()}
    finally:
        q.stop()
    # the 10:00:07 event belongs to the [10:00:00) and [10:00:05) windows
    assert rows.get("2026-01-01 10:00:00") == 1
    assert rows.get("2026-01-01 10:00:05") == 1


def test_streaming_session_window_merges_and_closes(spark, tmp_path):
    """T2 streaming form of the SESSION window: events within the gap
    extend one session, a quiet period splits sessions, and append mode
    emits a session only after the watermark passes its close — late
    rows inside a closed session are dropped, not re-emitted."""
    src = str(tmp_path / "sess_src")
    # session A: two events 5 s apart (gap 10 s -> ONE session 00:05-00:20)
    _write_batch(src, [("a1", "prospect", "2026-01-01T10:00:05"),
                       ("a2", "prospect", "2026-01-01T10:00:10")], n=0)
    stream = (
        spark.readStream.schema(MSG_SCHEMA).json(src)
        .withColumn("ts", F.to_timestamp("rowtime"))
    )
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.session_window("ts", "10 seconds").alias("w"), F.col("speaker"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("string").alias("s_start"),
            F.col("w.end").cast("string").alias("s_end"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future row closes session A; late row into A must be dropped
        _write_batch(src, [("b1", "prospect", "2026-01-01T10:05:00")], n=1)
        q.processAllAvailable()
        _write_batch(src, [("late", "prospect", "2026-01-01T10:00:12"),
                           ("c1", "prospect", "2026-01-01T10:10:00")], n=2)
        q.processAllAvailable()
        rows = {
            r["s_start"]: (r["s_end"], r["n"])
            for r in spark.sql("SELECT * FROM sess_counts").collect()
        }
    finally:
        q.stop()
    # one MERGED session (both a-events), closed at last_event + gap,
    # count unchanged by the late row
    assert rows.get("2026-01-01 10:00:05") == ("2026-01-01 10:00:20", 2)
    # session B emitted once C advanced the watermark past its close
    assert rows.get("2026-01-01 10:05:00") == ("2026-01-01 10:05:10", 1)


def _write_value_batch(path, rows, n=0):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"vals_{n}.json"), "w") as f:
        for k, v in rows:
            f.write(json.dumps({"k": k, "v": v}) + "\n")


def test_streaming_aggregate_sink_maintains_rollup(spark, tmp_path):
    """The durable materialized rollup: N micro-batches of per-key values
    maintained as merge-on-read partials must equal the batch groupBy
    over the union; a REPLAYED batch is a state no-op; compaction folds
    the log to one row per key without changing the view."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    src = str(tmp_path / "agg_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [("a", 10), ("b", 1), ("a", 5)],
        [("b", 2), ("c", 100)],
        [("a", 1), ("c", 1), ("c", 2)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "agg_state"), ["k"], ["v"], spark
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "agg_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def view():
        return {
            r.k: (r.n_rows, r.sum_v) for r in sink.current().collect()
        }

    want = {"a": (3, 16), "b": (2, 3), "c": (3, 103)}
    assert view() == want

    # replay batch 0 manually — the marker must make it a no-op
    replay = spark.createDataFrame(batches[0], schema)
    sink(replay, 0)
    assert view() == want

    # compaction: one partial row per key, identical view
    sink.compact()
    log = spark.read.parquet(str(tmp_path / "agg_state" / "log"))
    assert log.count() == 3
    assert view() == want


def test_streaming_aggregate_sink_distinct_sketch(spark, tmp_path):
    """Continuously-maintained approximate COUNT(DISTINCT) per key: HLL
    registers carried as sparse per-key maps in the partial log. The
    merged estimate must (a) land within the m=1024 error band of the
    exact distinct over the union, (b) be unchanged by a replayed batch,
    and (c) be EXACTLY unchanged by compaction (register max-merge is
    lossless)."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    src = str(tmp_path / "d_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    # overlapping user-ids across batches: exact distinct is NOT the sum
    batches = [
        [("a", i) for i in range(200)] + [("b", i) for i in range(50)],
        [("a", i) for i in range(100, 300)] + [("b", i) for i in range(25, 60)],
        [("a", i) for i in range(250, 400)] + [("c", 1), ("c", 2), ("c", 1)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "d_state"), ["k"], ["v"], spark, distinct_col="v"
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "d_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def estimates():
        return {r.k: r.distinct_est for r in sink.current().collect()}

    exact = {"a": 400, "b": 60, "c": 2}
    est = estimates()
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.15, (k, n, est[k])

    # replayed batch: marker no-op, estimates identical
    sink(spark.createDataFrame(batches[0], schema), 0)
    assert estimates() == est

    # compaction folds registers losslessly: estimates EXACTLY identical
    sink.compact()
    log = spark.read.parquet(str(tmp_path / "d_state" / "log"))
    assert log.count() == 3  # one partial row per key
    assert estimates() == est


def test_streaming_aggregate_sink_null_distinct_and_schema_mismatch(spark, tmp_path):
    """(a) A key whose rows carry only NULL distinct values reads
    distinct_est = 0.0, not NULL (its register map never exists); (b) a
    sink constructed with distinct_col toggled against state written
    with the other setting fails fast with an actionable error instead
    of a confusing analysis failure or silently sketch-less old rows
    (ADVICE r5)."""
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    state = str(tmp_path / "n_state")
    sink = StreamingAggregateSink(state, ["k"], ["v"], spark, distinct_col="v")
    batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), ("b", None)], schema
    )
    sink(batch, 0)
    rows = {r.k: (r.n_rows, r.distinct_est) for r in sink.current().collect()}
    assert rows["b"] == (2, 0.0)  # all-NULL key: 0.0, never NULL
    assert rows["a"][0] == 2 and rows["a"][1] > 0

    # toggled OFF against distinct state: fail fast
    off = StreamingAggregateSink(state, ["k"], ["v"], spark)
    with _pytest.raises(ValueError, match="distinct_col"):
        off(batch, 1)

    # toggled ON against plain state: fail fast too
    plain_state = str(tmp_path / "p_state")
    plain = StreamingAggregateSink(plain_state, ["k"], ["v"], spark)
    plain(batch, 0)
    on = StreamingAggregateSink(plain_state, ["k"], ["v"], spark, distinct_col="v")
    with _pytest.raises(ValueError, match="distinct_col"):
        on.current().collect()


def test_streaming_upsert_sink_matches_batch_apply_changes(spark, tmp_path):
    """The continuously-maintained CDC upsert view must equal batch
    apply_changes over the union of all ingested batches — out-of-order
    capture and deletes included; a replayed batch is a no-op; compaction
    keeps tombstones so a stale post-compaction update cannot resurrect a
    deleted key."""
    import json as _json
    import os as _os

    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import apply_changes
    from flink_sql_ai_meetingcoach_azure_spark.streaming.cdc_sink import (
        StreamingUpsertSink,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )
    # out-of-order seqs across batches; 'b' deleted at seq 40 then a STALE
    # update (seq 35) arrives in a later batch and must stay dead
    batches = [
        [("a", 10, "U", 1), ("b", 10, "U", 2), ("c", 10, "U", 3)],
        [("a", 30, "U", 11), ("b", 40, "D", 0), ("c", 20, "U", 33)],
        [("b", 35, "U", 99), ("a", 20, "U", 5), ("d", 5, "U", 7)],
    ]
    src = str(tmp_path / "cdc_src")
    _os.makedirs(src)

    def write_batch(rows, n):
        with open(_os.path.join(src, f"b{n}.json"), "w") as f:
            for k, seq, op, val in rows:
                f.write(_json.dumps({"k": k, "seq": seq, "op": op, "val": val}) + "\n")

    write_batch(batches[0], 0)
    sink = StreamingUpsertSink(
        str(tmp_path / "cdc_state"), ["k"], ["seq"], "op", spark
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_batch(rows, i)
            q.processAllAvailable()
    finally:
        q.stop()

    def view():
        return {r.k: (r.seq, r.val) for r in sink.current().collect()}

    union = spark.createDataFrame([r for b in batches for r in b], schema)
    want = {
        r.k: (r.seq, r.val)
        for r in apply_changes(union, ["k"], ["seq"], "op").collect()
    }
    assert want == {"a": (30, 11), "c": (20, 33), "d": (5, 7)}  # b stays dead
    assert view() == want

    # replayed batch: marker no-op
    sink(spark.createDataFrame(batches[1], schema), 1)
    assert view() == want

    # compaction: one row per key INCLUDING the b-tombstone; view unchanged
    sink.compact()
    log = spark.read.parquet(str(tmp_path / "cdc_state" / "log"))
    assert log.count() == 4  # a, c, d + b's tombstone
    assert log.filter("k = 'b' AND op = 'D'").count() == 1
    assert view() == want

    # stale post-compaction update for the deleted key: still dead
    sink(spark.createDataFrame([("b", 37, "U", 123)], schema), 99)
    assert view() == want


def test_sessionize_stream_matches_batch_assignment(spark, tmp_path):
    """Continuous gap sessionization must end in exactly the per-event
    session assignment the batch one-window formulation computes over the
    union, when events arrive per-key event-time-ordered across batches
    (the operator's stated contract)."""
    import json as _json
    import os as _os

    from flink_sql_ai_meetingcoach_azure_spark.operators.cep import sessionize_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = 1_700_000_000  # seconds
    gap = 60  # 1-minute session gap

    def ev(eid, uid, sec):
        return (eid, uid, sec)

    # user 1: three sessions (gaps at 200s and 500s); user 2: one session
    # spanning a batch boundary; user 3: appears only in batch 3
    batches = [
        [ev(1, 1, 0), ev(2, 1, 30), ev(10, 2, 10)],
        [ev(3, 1, 290), ev(11, 2, 50), ev(4, 1, 300)],
        [ev(5, 1, 900), ev(12, 2, 80), ev(20, 3, 500)],
    ]
    src = str(tmp_path / "sess_src")
    _os.makedirs(src)

    def write_batch(rows, n):
        with open(_os.path.join(src, f"b{n}.json"), "w") as f:
            for eid, uid, sec in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "user_id": uid,
                            "ts": (base + sec) * 1000,  # ms epoch for JSON ts
                        }
                    )
                    + "\n"
                )

    from pyspark.sql import functions as F

    raw_schema = "event_id long, user_id long, ts long"
    write_batch(batches[0], 0)
    stream = (
        spark.readStream.schema(raw_schema)
        .json(src)
        .withColumn("ts", F.timestamp_millis(F.col("ts")))
    )
    out_dir, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    q = (
        sessionize_stream(stream, gap_seconds=gap)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_batch(rows, i)
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.event_id: (r.user_id, r.session_seq)
        for r in spark.read.parquet(out_dir).collect()
    }

    # batch formulation over the union (same shape as queries.q_sessionize)
    from pyspark.sql.window import Window

    union = spark.createDataFrame(
        [(e, u, s) for b in batches for (e, u, s) in b],
        "event_id long, user_id long, sec long",
    ).withColumn("ts", F.timestamp_seconds(F.col("sec") + base))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            > gap * 1_000_000,
            1,
        )
        .otherwise(0)
    )
    want = {
        r.event_id: (r.user_id, r.session_seq)
        for r in union.withColumn(
            "session_seq", F.sum(new_sess).over(w).cast("long")
        ).collect()
    }
    assert got == want
    assert want[1] == (1, 0) and want[3] == (1, 1) and want[5] == (1, 2)
    assert want[10] == (2, 0) and want[12] == (2, 0)  # one session across batches
    assert want[20] == (3, 0)


def test_compaction_crash_recovery_write_then_swap(spark, tmp_path):
    """Compaction must never hold the only copy of sink state in memory or
    a half-truncated directory (ADVICE r6): the folded log is written to a
    sibling temp dir first, then swapped in by rename. A crash BETWEEN the
    rename-out and rename-in (simulated here by performing just the first
    rename) leaves the full pre-compaction log recoverable — recover_log /
    any read self-heals it; a crash that leaves stale temp output is
    cleaned up."""
    import os as _os
    import shutil as _shutil

    from flink_sql_ai_meetingcoach_azure_spark.streaming.maintenance import (
        recover_log,
        replace_log_atomically,
    )

    log = str(tmp_path / "state" / "log")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    df.write.parquet(log)

    # normal path: swap replaces contents, no residue dirs
    replace_log_atomically(spark, log, spark.read.parquet(log).filter("k = 1"))
    assert [r.k for r in spark.read.parquet(log).collect()] == [1]
    assert not _os.path.exists(log + "__pre_compact")
    assert not _os.path.exists(log + "__compact_tmp")

    # simulate a crash mid-swap: log renamed out, replacement never landed
    _shutil.move(log, log + "__pre_compact")
    _os.makedirs(log + "__compact_tmp")  # stale partial temp output too
    assert not _os.path.exists(log)
    recover_log(spark, log)
    assert [r.k for r in spark.read.parquet(log).collect()] == [1]
    assert not _os.path.exists(log + "__compact_tmp")

    # the sinks' read paths self-heal the same crash shape end-to-end
    from flink_sql_ai_meetingcoach_azure_spark.streaming.cdc_sink import (
        StreamingUpsertSink,
    )

    state = str(tmp_path / "cdc_state")
    sink = StreamingUpsertSink(state, ["k"], ["seq"], "op", spark)
    spark.createDataFrame(
        [("a", 1, "U", 10)], "k string, seq long, op string, val long"
    ).write.parquet(f"{state}/log")
    _shutil.move(f"{state}/log", f"{state}/log__pre_compact")
    got = sink.current().collect()
    assert [(r.k, r.val) for r in got] == [("a", 10)]

    # ...and so does compact() of both LSM sinks
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    _shutil.move(f"{state}/log", f"{state}/log__pre_compact")
    sink.compact()
    assert [(r.k, r.val) for r in sink.current().collect()] == [("a", 10)]
    assert not _os.path.exists(f"{state}/log__pre_compact")

    agg_state = str(tmp_path / "agg_state")
    agg = StreamingAggregateSink(agg_state, ["k"], ["v"], spark)
    agg(spark.createDataFrame([("a", 1), ("a", 2)], "k string, v long"), 0)
    _shutil.move(f"{agg_state}/log", f"{agg_state}/log__pre_compact")
    agg.compact()
    assert [(r.k, r.n_rows, r.sum_v) for r in agg.current().collect()] == [
        ("a", 2, 3)
    ]
    assert not _os.path.exists(f"{agg_state}/log__pre_compact")


# ---- one replay-safe batch commit (streaming.maintenance.commit_batch) ----


class _Crash(Exception):
    pass


def _crash_after_first_call(monkeypatch, name):
    """Make ``maintenance.<name>`` do its work once, then raise — the
    process dies right after that step of ``commit_batch``."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming import maintenance

    real = getattr(maintenance, name)

    def crash(*args, **kwargs):
        real(*args, **kwargs)
        raise _Crash(name)

    monkeypatch.setattr(maintenance, name, crash)


def _commit_case(spark, kind, root, sf_dir):
    """(sink factory, two batches, the batch markers' directory, the
    parquet directories the sink appends to) for one foreachBatch sink."""
    if kind == "aggregate":
        from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
            StreamingAggregateSink,
        )

        schema = "k string, v long"
        batches = [[("a", 1), ("a", 2)], [("a", 5), ("b", 7)]]
        return (
            lambda: StreamingAggregateSink(f"{root}/agg", ["k"], ["v"], spark),
            [spark.createDataFrame(b, schema) for b in batches],
            f"{root}/agg/_batches",
            [f"{root}/agg/log"],
        )
    if kind == "upsert":
        from flink_sql_ai_meetingcoach_azure_spark.streaming.cdc_sink import (
            StreamingUpsertSink,
        )

        schema = "k string, seq long, op string, val long"
        batches = [
            [("a", 1, "U", 10), ("a", 2, "U", 11), ("b", 1, "U", 3)],
            [("b", 2, "D", 0), ("c", 1, "U", 4)],
        ]
        return (
            lambda: StreamingUpsertSink(f"{root}/cdc", ["k"], ["seq"], "op", spark),
            [spark.createDataFrame(b, schema) for b in batches],
            f"{root}/cdc/_batches",
            [f"{root}/cdc/log"],
        )
    if kind == "neardup":
        from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
            StreamingNearDupDedup,
        )

        return (
            lambda: StreamingNearDupDedup(f"{root}/nd_state", f"{root}/nd_out"),
            [
                spark.createDataFrame(b, ["doc_id", "text"])
                for b in (_DOCS[:3], _DOCS[3:])
            ],
            f"{root}/nd_state_batches",
            [f"{root}/nd_out", f"{root}/nd_state"],
        )
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        write_ivf_index,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.vector_sink import (
        StreamingIvfIngest,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    write_ivf_index(
        *build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), nlist=4),
        f"{root}/ivf",
    )
    return (
        lambda: StreamingIvfIngest(f"{root}/ivf"),
        [emb.filter(F.col("vec_id") % 4 == r) for r in (1, 3)],
        f"{root}/ivf/_batches",
        [f"{root}/ivf"],
    )


def _log_rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).drop("embedding").collect()
    )


@pytest.mark.parametrize("crash", ["staged_one", "moved_first", "appended_unmarked"])
@pytest.mark.parametrize("kind", ["aggregate", "upsert", "neardup", "ivf"])
def test_sink_crash_then_replay_equals_single_apply(
    spark, sf_dir, tmp_path, monkeypatch, kind, crash
):
    """Exactly-once survives a crash anywhere in a sink's batch commit:
    after the crash the restarted sink replays the same batch id, and
    every directory the sink appends to (aggregate partials, upsert log,
    near-dup survivors AND state, IVF index) holds the rows of ONE clean
    apply — no doubled n/sum, no duplicated survivor or index rows, no
    staging left behind.

    ``appended_unmarked`` is the crash between the last data append and
    the marker. It is injected without any hook into the commit routine
    (a plain file sits where the marker directory goes, so creating the
    marker fails), so it reproduces the same crash on a sink that appends
    straight to its log and only then marks the batch."""
    import glob as _glob

    from py4j.protocol import Py4JJavaError

    make_ref, ref_batches, _, ref_targets = _commit_case(
        spark, kind, str(tmp_path / "ref"), sf_dir
    )
    make_ref()(ref_batches[0], 0)
    want = [_log_rows(spark, p) for p in ref_targets]

    root = str(tmp_path / "crash")
    make_sink, batches, marker_dir, targets = _commit_case(spark, kind, root, sf_dir)

    if crash == "appended_unmarked":
        os.makedirs(os.path.dirname(marker_dir), exist_ok=True)
        open(marker_dir, "w").close()
        with pytest.raises(Py4JJavaError):
            make_sink()(batches[0], 0)
        os.remove(marker_dir)
    else:
        step = {"staged_one": "_stage", "moved_first": "_move"}[crash]
        _crash_after_first_call(monkeypatch, step)
        with pytest.raises(_Crash):
            make_sink()(batches[0], 0)
        monkeypatch.undo()

    make_sink()(batches[0], 0)  # restarted query replays the batch
    assert [_log_rows(spark, p) for p in targets] == want
    assert _glob.glob(f"{root}/**/*__inflight_*", recursive=True) == []
    assert os.path.exists(f"{marker_dir}/0")


@pytest.mark.parametrize("kind", ["neardup", "ivf"])
def test_replayed_commit_reads_the_same_through_spark_and_pyarrow(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """The files a batch commit moves into place are plain parquet parts:
    after a clean commit and after a crash + replay, the near-dup output
    and state and the partitioned IVF index read the same rows through
    ``spark.read.parquet``, ``pyarrow.parquet.read_table`` and a recursive
    ``*.parquet`` glob, and no staging directory is left."""
    import glob as _glob

    import pyarrow.parquet as pq

    root = str(tmp_path)
    make_sink, batches, _, targets = _commit_case(spark, kind, root, sf_dir)
    make_sink()(batches[0], 0)
    assert _glob.glob(f"{root}/**/*__inflight_*", recursive=True) == []

    _crash_after_first_call(monkeypatch, "_move")
    with pytest.raises(_Crash):
        make_sink()(batches[1], 1)
    monkeypatch.undo()
    make_sink()(batches[1], 1)

    assert _glob.glob(f"{root}/**/*__inflight_*", recursive=True) == []
    id_col = {"nd_out": "doc_id", "nd_state": "min_id", "ivf": "vec_id"}
    for path in targets:
        col = id_col[os.path.basename(path)]
        via_spark = sorted(r[0] for r in spark.read.parquet(path).select(col).collect())
        via_arrow = sorted(pq.read_table(path, columns=[col]).column(col).to_pylist())
        files = _glob.glob(f"{path}/**/*.parquet", recursive=True)
        assert via_arrow == via_spark
        assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == len(via_spark)
    if kind == "ivf":
        ids = [
            r.vec_id
            for r in spark.read.parquet(targets[0]).filter("vec_id % 2 = 1").collect()
        ]
        assert sorted(ids) == sorted(r.vec_id for b in batches for r in b.collect())


def test_streaming_watermark_admits_before_and_drops_after_boundary(spark, tmp_path):
    """SURVEY T1's lateness corner, pinned on BOTH sides of the boundary
    (VERDICT r6 #7): an out-of-order row that is late relative to arrival
    order but still within the watermark delay is ADMITTED into its
    still-open window; the same-shaped row arriving after the watermark
    passed its window is DROPPED, and the closed window is never
    re-emitted. Batch equivalence: the final append-mode output equals the
    batch windowed aggregate over exactly the admitted rows (the batch
    engine has no lateness concept — dropped rows are the one documented
    stream/batch divergence, which is why the assertion enumerates them)."""
    src = str(tmp_path / "wm_src")
    # window [10:00:00, 10:00:10); watermark delay 10s
    _write_batch(src, [("a", "prospect", "2026-01-01T10:00:05"),
                       ("head", "prospect", "2026-01-01T10:00:12")], n=0)
    stream = (
        spark.readStream.schema(MSG_SCHEMA).json(src)
        .withColumn("ts", F.to_timestamp("rowtime"))
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_boundary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark now 10:00:02 — a 10:00:03 row is OUT OF ORDER but
        # inside the delay: must be admitted into the open window
        _write_batch(src, [("admit", "prospect", "2026-01-01T10:00:03")], n=1)
        q.processAllAvailable()
        # advance the watermark far past the window, closing+emitting it
        _write_batch(src, [("adv", "prospect", "2026-01-01T10:01:00")], n=2)
        q.processAllAvailable()
        # watermark now 10:00:50 — a second 10:00:04 row is PAST the
        # boundary: dropped, and the closed window must not re-emit
        _write_batch(src, [("drop", "prospect", "2026-01-01T10:00:04"),
                           ("adv2", "prospect", "2026-01-01T10:02:00")], n=3)
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM wm_boundary").collect()
    finally:
        q.stop()
    counts = {}
    for r in out:
        counts[r["w_start"]] = counts.get(r["w_start"], 0) + 1
        assert counts[r["w_start"]] == 1, "closed window re-emitted"
    by_win = {r["w_start"]: r["n"] for r in out}
    assert by_win["2026-01-01 10:00:00"] == 2  # 'a' + admitted 'admit', NOT 'drop'
    # batch equivalence over the admitted rows (all ingested minus 'drop')
    admitted = spark.createDataFrame(
        [("a", "2026-01-01T10:00:05"), ("head", "2026-01-01T10:00:12"),
         ("admit", "2026-01-01T10:00:03"), ("adv", "2026-01-01T10:01:00"),
         ("adv2", "2026-01-01T10:02:00")],
        "message string, rowtime string",
    ).withColumn("ts", F.to_timestamp("rowtime"))
    batch = {
        r["w_start"]: r["n"]
        for r in admitted.groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("w_start"), "n")
        .collect()
    }
    # streaming emitted every CLOSED window; open ones (past the last
    # watermark) are still pending — compare on the emitted set
    for w_start, n in by_win.items():
        assert batch[w_start] == n


def test_streaming_aggregate_sink_quantile_sketch(spark, tmp_path):
    """Continuously-maintained per-key quantiles via the HDR log-bucket
    sketch carried as sparse per-key maps in the partial log. The merged
    read-out must (a) equal a one-shot HDR sketch over the union EXACTLY
    (per-bucket sum-merge is lossless), (b) bound the exact percentile
    from below within 1/32 relative error, (c) be unchanged by a
    replayed batch and by compaction, and (d) refuse a quantile_col
    toggle against existing state."""
    import math

    import pytest

    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import HDR_SUB as _HDR_SUB
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        _HDR_QS,
        StreamingAggregateSink,
    )

    src = str(tmp_path / "q_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [("a", 100 + 7 * i) for i in range(150)] + [("b", 10 + i) for i in range(40)],
        [("a", 5000 + 31 * i) for i in range(100)] + [("b", 2**20 + i) for i in range(10)],
        [("a", 3 * i + 1) for i in range(120)] + [("c", 42)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "q_state"), ["k"], ["v"], spark, quantile_col="v"
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "q_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def quants():
        return {
            (r.k, r.q_ppm): (r.est, r.cum_count, r.n_vals)
            for r in sink.current_quantiles().collect()
        }

    got = quants()
    union = {}
    for rows in batches:
        for k, v in rows:
            union.setdefault(k, []).append(v)
    for k, vals in union.items():
        vals.sort()
        for ppm, _label in _HDR_QS:
            est, _cum, n_vals = got[(k, ppm)]
            assert n_vals == len(vals)
            rank = max(1, math.ceil(ppm * len(vals) / 1_000_000))
            exact = vals[rank - 1]
            assert est <= exact, (k, ppm, est, exact)
            assert exact - est <= exact // _HDR_SUB + 1, (k, ppm, est, exact)

    # replayed batch is a no-op; compaction is exactly invariant
    sink(spark.createDataFrame(batches[0], schema), 0)
    assert quants() == got
    sink.compact()
    assert spark.read.parquet(str(tmp_path / "q_state" / "log")).count() == 3
    assert quants() == got

    # schema-mismatch guard covers quantile_col too
    off = StreamingAggregateSink(str(tmp_path / "q_state"), ["k"], ["v"], spark)
    with pytest.raises(ValueError, match="quantile_col"):
        off(spark.createDataFrame(batches[0], schema), 99)


def test_streaming_countmin_composes_from_aggregate_sink(spark, tmp_path):
    """The sketch primitives COMPOSE: a continuously-maintained Count-Min
    sketch needs no dedicated sink — key the rollup sink by the sketch
    coordinates (hash row, bucket) and the per-key counts ARE the
    counters (merge = sum, exactly the CM merge law). The maintained
    counter table after N batches must equal the one-shot batch sketch
    over the union bit-for-bit, and point estimates stay upper bounds."""
    from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
        md5_bigint_col,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import CM_D, CM_W
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    def cm_coords(df):
        return df.select(
            "term",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(r).alias("r"),
                        (md5_bigint_col("term", salt=f"cm{r}") % CM_W).alias("bucket"),
                    )
                    for r in range(CM_D)
                ])
            ).alias("rb"),
        ).select("term", "rb.r", "rb.bucket")

    src = str(tmp_path / "cm_src")
    batches = [
        [("alpha",)] * 30 + [("beta",)] * 10,
        [("alpha",)] * 20 + [("gamma",)] * 5,
        [("beta",)] * 15 + [("delta",)] * 1,
    ]
    schema = T.StructType([T.StructField("term", T.StringType())])

    import json as _json
    import os as _os

    _os.makedirs(src)

    def write_batch(rows, n):
        with open(_os.path.join(src, f"b{n}.json"), "w") as f:
            for (term,) in rows:
                f.write(_json.dumps({"term": term}) + "\n")

    write_batch(batches[0], 0)
    sink = StreamingAggregateSink(
        str(tmp_path / "cm_state"), ["r", "bucket"], [], spark
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(cm_coords(df), bid))
        .option("checkpointLocation", str(tmp_path / "cm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_batch(rows, i)
            q.processAllAvailable()
    finally:
        q.stop()

    maintained = {
        (r.r, r.bucket): r.n_rows for r in sink.current().collect()
    }
    union = spark.createDataFrame([t for b in batches for t in b], schema)
    batch_counters = {
        (r.r, r.bucket): r.cnt
        for r in cm_coords(union).groupBy("r", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert maintained == batch_counters  # bit-identical to one-shot sketch

    # point estimates from the maintained counters are upper bounds
    exact = {"alpha": 50, "beta": 25, "gamma": 5, "delta": 1}
    coords = {
        (r.term, r.r): r.bucket
        for r in cm_coords(
            spark.createDataFrame([(t,) for t in exact], schema)
        ).collect()
    }
    for term, n in exact.items():
        est = min(maintained[(r, coords[(term, r)])] for r in range(CM_D))
        assert est >= n


def test_streaming_heavy_hitters_composes_from_aggregate_sink(spark, tmp_path):
    """Continuous frequent-term tracking needs no dedicated sink: each
    micro-batch's Misra-Gries candidates (operators/heavy_hitters) gate
    which rows enter the rollup sink, so the maintained per-term counts
    are (a) bounded — ≤ k new terms per batch partition ever enter the
    log — and (b) sound: a batch can hide at most n_b/(k+1) occurrences
    of any term, so maintained ≥ true − n/(k+1) and every true >n/k
    hitter stays a candidate. The exact-verify step then recovers the
    batch operator's output bit-for-bit from the maintained candidate
    set — the same approximate-propose → exact-verify architecture as
    the batch operator itself."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.heavy_hitters import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    k = 5
    batches = [
        [("hot0",)] * 60 + [("hot1",)] * 40 + [(f"r{i}",) for i in range(50)],
        [("hot1",)] * 70 + [("hot0",)] * 30 + [(f"s{i}",) for i in range(50)],
        [("hot2",)] * 80 + [(f"t{i}",) for i in range(50)],
    ]
    schema = T.StructType([T.StructField("term", T.StringType())])

    import json as _json
    import os as _os

    src = str(tmp_path / "hh_src")
    _os.makedirs(src)

    def write_batch(rows, n):
        with open(_os.path.join(src, f"b{n}.json"), "w") as f:
            for (term,) in rows:
                f.write(_json.dumps({"term": term}) + "\n")

    sink = StreamingAggregateSink(str(tmp_path / "hh_state"), ["term"], [], spark)

    def admit_candidates(df, bid):
        cands = misra_gries_candidates(df, "term", k).distinct()
        sink(df.join(F.broadcast(cands), "term", "left_semi"), bid)

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(admit_candidates)
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            write_batch(rows, i)
            q.processAllAvailable()
    finally:
        q.stop()

    maintained = {r.term: r.n_rows for r in sink.current().collect()}
    flat = [t for b in batches for t in b]
    n = len(flat)
    exact = {}
    for (term,) in flat:
        exact[term] = exact.get(term, 0) + 1
    true_hitters = {t for t, c in exact.items() if c * k > n}

    # soundness: every true >n/k hitter is a maintained candidate, and
    # its maintained count is a lower bound within the n/(k+1) MG law
    assert true_hitters <= set(maintained)
    for t, m in maintained.items():
        assert m <= exact[t]
        assert exact[t] - m <= n // (k + 1)

    # exact verify from the maintained candidates reproduces the batch
    # operator bit-for-bit (candidates are a superset, the recount and
    # threshold kill the rest)
    union = spark.createDataFrame(flat, schema)
    cands_df = spark.createDataFrame([(t,) for t in maintained], schema)
    verified = (
        union.join(F.broadcast(cands_df), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(union.agg(F.count(F.lit(1)).alias("n"))))
        .filter(F.col("cnt") * k > F.col("n"))
        .select("term", "cnt", "n")
        .orderBy(F.desc("cnt"), F.asc("term"))
        .collect()
    )
    want = heavy_hitters_exact(union.repartition(8), "term", k).collect()
    assert [tuple(r) for r in verified] == [tuple(r) for r in want]


def test_streaming_aggregate_sink_exact_bitmap_distinct(spark, tmp_path):
    """Continuously-maintained EXACT COUNT(DISTINCT) per key via 64-bit
    bitmap words (the error-free sibling of the HLL registers): the
    merged count must EQUAL the exact distinct over the union of every
    batch, survive a replayed batch unchanged, and be exactly invariant
    under compaction (per-word bit_or is lossless)."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    src = str(tmp_path / "bd_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    # overlapping ids across batches: exact distinct is NOT the sum; word
    # boundaries crossed (ids span several 64-blocks)
    batches = [
        [("a", i) for i in range(200)] + [("b", i) for i in range(50)],
        [("a", i) for i in range(100, 300)] + [("b", i) for i in range(25, 60)],
        [("a", i) for i in range(250, 400)] + [("c", 1), ("c", 2), ("c", 1)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "bd_state"), ["k"], ["v"], spark, exact_distinct_col="v"
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "bd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def counts():
        return {r.k: r.distinct_exact for r in sink.current().collect()}

    exact = {"a": 400, "b": 60, "c": 2}
    assert counts() == exact

    # replayed batch: marker no-op, counts identical
    sink(spark.createDataFrame(batches[0], schema), 0)
    assert counts() == exact

    # compaction folds bitmap words losslessly: counts EXACTLY identical
    sink.compact()
    log = spark.read.parquet(str(tmp_path / "bd_state" / "log"))
    assert log.count() == 3  # one partial row per key
    assert counts() == exact

    # schema mismatch fails fast (same contract as distinct_col)
    import pytest as _pytest

    off = StreamingAggregateSink(str(tmp_path / "bd_state"), ["k"], ["v"], spark)
    with _pytest.raises(ValueError, match="exact_distinct_col"):
        off(spark.createDataFrame(batches[0], schema), 99)


def test_streaming_aggregate_sink_kmv(spark, tmp_path):
    """Continuously-maintained KMV set sketch per key (VERDICT r8 #8 —
    the last sketch without a streaming form): the merged k-min array
    must be BIT-IDENTICAL to a one-shot sketch over the union of every
    batch (k-min of per-batch k-mins IS k-min of the union), the
    estimate must be EXACT whenever the sketch is not full, the
    estimator must land near truth when it is, and the whole state must
    survive replay and compaction unchanged."""
    from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import (
        md5_bigint_col,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import KMV_K as _KMV_K
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    src = str(tmp_path / "kmv_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    # 'a' exceeds k=256 distinct (estimator path, overlapping batches);
    # 'b' and 'c' stay under (exact path); duplicates everywhere
    batches = [
        [("a", i) for i in range(400)] + [("b", i) for i in range(50)],
        [("a", i) for i in range(200, 600)] + [("b", i) for i in range(25, 60)],
        [("a", i) for i in range(550, 700)] + [("c", 1), ("c", 2), ("c", 1)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "kmv_state"), ["k"], ["v"], spark, kmv_col="v"
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def state():
        return {
            r.k: (tuple(r.kmv_sketch), r.n_sketch, r.distinct_kmv_est)
            for r in sink.current_kmv().collect()
        }

    got = state()
    # one-shot sketch over the union, same hash layout
    union = spark.createDataFrame(
        sorted(set(batches[0]) | set(batches[1]) | set(batches[2])), schema
    )
    oneshot = {}
    for key in ("a", "b", "c"):
        hs = sorted(
            r["__h"]
            for r in union.filter(F.col("k") == key)
            .select(md5_bigint_col(F.col("v").cast("string")).alias("__h"))
            .distinct()
            .collect()
        )[:_KMV_K]
        oneshot[key] = tuple(hs)
    for key in ("a", "b", "c"):
        assert got[key][0] == oneshot[key], key  # bit-identical sketch
    # exact path: sketch not full => estimate IS the distinct count
    assert got["b"][1:] == (60, 60)
    assert got["c"][1:] == (2, 2)
    # estimator path: 'a' has 700 distinct; k=256 KMV std ~ n/sqrt(k-2)
    assert got["a"][1] == _KMV_K
    assert 500 <= got["a"][2] <= 900, got["a"][2]

    sink(spark.createDataFrame(batches[0], schema), 0)  # replay no-op
    assert state() == got
    sink.compact()
    assert spark.read.parquet(str(tmp_path / "kmv_state" / "log")).count() == 3
    assert state() == got

    # schema mismatch fails fast, both directions
    import pytest as _pytest

    off = StreamingAggregateSink(str(tmp_path / "kmv_state"), ["k"], ["v"], spark)
    with _pytest.raises(ValueError, match="kmv_col"):
        off(spark.createDataFrame(batches[0], schema), 99)
    plain_state = str(tmp_path / "kmv_plain")
    plain = StreamingAggregateSink(plain_state, ["k"], ["v"], spark)
    plain(spark.createDataFrame(batches[0], schema), 0)
    on = StreamingAggregateSink(plain_state, ["k"], ["v"], spark, kmv_col="v")
    with _pytest.raises(ValueError, match="kmv_col"):
        on(spark.createDataFrame(batches[1], schema), 1)


def test_streaming_aggregate_sink_min_max(spark, tmp_path):
    """min/max are idempotent-combinable: the maintained per-key range
    must equal the batch groupBy over the union of all batches, survive
    replay, and be exactly invariant under compaction."""
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    src = str(tmp_path / "mm_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [("a", 7), ("a", 3), ("b", 100)],
        [("a", 12), ("b", -5), ("b", 40)],
        [("a", 1), ("c", 0)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "mm_state"), ["k"], ["v"], spark,
        min_cols=["v"], max_cols=["v"],
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "mm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def state():
        return {
            r.k: (r.n_rows, r.sum_v, r.min_v, r.max_v)
            for r in sink.current().collect()
        }

    want = {"a": (4, 23, 1, 12), "b": (3, 135, -5, 100), "c": (1, 0, 0, 0)}
    assert state() == want
    sink(spark.createDataFrame(batches[0], schema), 0)  # replay no-op
    assert state() == want
    sink.compact()
    assert spark.read.parquet(str(tmp_path / "mm_state" / "log")).count() == 3
    assert state() == want


def test_streaming_aggregate_sink_min_max_schema_mismatch(spark, tmp_path):
    """min_cols/max_cols get the same fail-fast contract as the sketch
    columns (ADVICE r7): a sink reconfigured with different min/max
    columns against an existing log raises the actionable ValueError up
    front, in BOTH directions (configured-but-missing and
    logged-but-dropped), instead of a later AnalysisException or a
    silent state drop."""
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batch = spark.createDataFrame([("a", 1), ("b", 2)], schema)
    state = str(tmp_path / "mm_chk_state")
    StreamingAggregateSink(
        state, ["k"], ["v"], spark, min_cols=["v"], max_cols=["v"]
    )(batch, 0)

    # dropped max_cols against min+max state: fail fast
    dropped = StreamingAggregateSink(state, ["k"], ["v"], spark, min_cols=["v"])
    with _pytest.raises(ValueError, match="min_cols/max_cols"):
        dropped(batch, 1)

    # added min_cols against plain state: fail fast too
    plain_state = str(tmp_path / "mm_chk_plain")
    StreamingAggregateSink(plain_state, ["k"], ["v"], spark)(batch, 0)
    added = StreamingAggregateSink(
        plain_state, ["k"], ["v"], spark, min_cols=["v"]
    )
    with _pytest.raises(ValueError, match="min_cols"):
        added(batch, 1)

    # sum_cols get the same contract: a dropped sum column would lose its
    # partials at the next compaction, an added one fail at read time
    dropped_sum = StreamingAggregateSink(
        state, ["k"], [], spark, min_cols=["v"], max_cols=["v"]
    )
    with _pytest.raises(ValueError, match="sum_cols"):
        dropped_sum(batch, 1)
    no_sum_state = str(tmp_path / "mm_chk_no_sum")
    StreamingAggregateSink(no_sum_state, ["k"], [], spark)(batch, 0)
    added_sum = StreamingAggregateSink(no_sum_state, ["k"], ["v"], spark)
    with _pytest.raises(ValueError, match="sum_cols"):
        added_sum.current().collect()

    # compact() runs the check before it rewrites the log: a mismatched
    # sink raises and leaves the log's columns and rows as they were
    def log_state():
        log = spark.read.parquet(f"{state}/log")
        return log.columns, sorted(repr(r) for r in log.collect())

    before = log_state()
    with _pytest.raises(ValueError, match="min_cols/max_cols"):
        dropped.compact()
    with _pytest.raises(ValueError, match="sum_cols"):
        dropped_sum.compact()
    assert log_state() == before

    # unchanged config: replay/restart is a no-op, never a false alarm
    again = StreamingAggregateSink(
        state, ["k"], ["v"], spark, min_cols=["v"], max_cols=["v"]
    )
    again(batch, 0)
    assert {r.k for r in again.current().collect()} == {"a", "b"}


def test_streaming_aggregate_sink_readouts_equal_batch_sketches(spark, tmp_path):
    """The rollup and the batch registry entries build one sketch layout:
    over sf0.001's documents fed in three batches, a (source, n_chars)
    rollup's current_quantiles() equals q_group_quantiles on the
    quantiles both report, and a (lang, term) rollup's distinct_est
    equals q_hll_vocab's hll_est."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col
    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES, _prep, _t
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        _HDR_QS,
        StreamingAggregateSink,
    )

    _prep(spark)
    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    terms = docs.select("doc_id", "lang", F.explode(tokens_col("text")).alias("term"))
    quant = StreamingAggregateSink(
        str(tmp_path / "hdr"), ["source"], [], spark, quantile_col="n_chars"
    )
    hll = StreamingAggregateSink(
        str(tmp_path / "hll"), ["lang"], [], spark, distinct_col="term"
    )
    for i in range(3):
        quant(docs.filter(F.col("doc_id") % 3 == i), i)
        hll(terms.filter(F.col("doc_id") % 3 == i), i)

    ppms = {ppm for ppm, _label in _HDR_QS}
    got = {
        (r.source, r.q_ppm): (r.est, r.cum_count, r.n_vals)
        for r in quant.current_quantiles().collect()
    }
    want = {
        (r.source, r.q_ppm): (r.est_chars, r.cum_count, r.n_vals)
        for r in QUERIES["group_quantiles"].fn(spark, sf).collect()
        if r.q_ppm in ppms
    }
    assert want and got == want

    est = {r.lang: r.distinct_est for r in hll.current().collect()}
    batch = {r.lang: r.hll_est for r in QUERIES["hll_vocab"].fn(spark, sf).collect()}
    assert batch and est == batch


def test_streaming_aggregate_sink_sumsq_variance(spark, tmp_path):
    """Σc² partials merge by addition (same abelian group as the sums),
    so the continuously-maintained variance equals q_group_moments'
    exact-integer algebra over the union of all batches, survives
    replay, and is invariant under compaction; sumsq without the
    matching sum is rejected up front; the fail-fast schema contract
    covers __sumsq_ in both directions."""
    import pytest as _pytest

    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    with _pytest.raises(ValueError, match="must also be in sum_cols"):
        StreamingAggregateSink(
            str(tmp_path / "never"), ["k"], [], spark, sumsq_cols=["v"]
        )

    src = str(tmp_path / "sq_src")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    batches = [
        [("a", 7), ("a", 3), ("b", 100)],
        [("a", 12), ("b", -5), ("b", 40)],
        [("a", 2), ("c", 6)],
    ]
    _write_value_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "sq_state"), ["k"], ["v"], spark, sumsq_cols=["v"]
    )
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sq_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_value_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    def state():
        return {
            r.k: (r.n_rows, r.sum_v, r.sumsq_v, r.var_milli_v)
            for r in sink.current().collect()
        }

    def moments(vals):
        n, s, ss = len(vals), sum(vals), sum(v * v for v in vals)
        num, den = n * ss - s * s, n * n
        return (n, s, ss, (num // den) * 1000 + ((num % den) * 1000) // den)

    want = {
        "a": moments([7, 3, 12, 2]),
        "b": moments([100, -5, 40]),
        "c": moments([6]),
    }
    assert state() == want
    assert want["c"][3] == 0  # single value: zero variance
    sink(spark.createDataFrame(batches[0], schema), 0)  # replay no-op
    assert state() == want
    sink.compact()
    assert state() == want

    # fail-fast both directions against the existing log
    with _pytest.raises(ValueError, match="sumsq"):
        StreamingAggregateSink(  # dropped sumsq against sumsq state
            str(tmp_path / "sq_state"), ["k"], ["v"], spark
        )._check_log_schema()
    plain_state = str(tmp_path / "sq_plain")
    StreamingAggregateSink(plain_state, ["k"], ["v"], spark)(
        spark.createDataFrame(batches[0], schema), 0
    )
    with _pytest.raises(ValueError, match="sumsq"):
        StreamingAggregateSink(  # added sumsq against plain state
            plain_state, ["k"], ["v"], spark, sumsq_cols=["v"]
        )._check_log_schema()


def _write_event_batch(path, rows, n=0):
    """rows: (event_id, iso_ts, user_id, event_type)"""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"ev_{n}.json"), "w") as f:
        for eid, ts, uid, et in rows:
            f.write(json.dumps({"event_id": eid, "ts": ts, "user_id": uid,
                                "event_type": et}) + "\n")


_EV_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
])


def test_streaming_rate_anomaly_and_cumulative_distinct_readouts(spark, tmp_path):
    """Continuous forms of q_event_rate_anomaly and q_cumulative_distinct
    (VERDICT r9 #6): the read-outs over the maintained rollups must equal
    the batch queries over the union of every micro-batch, and — like
    every other partial — survive a replayed batch and compaction
    unchanged. The sinks are keyed on DERIVED bucket columns (hour_us /
    day) computed inside the foreachBatch wrapper, so the parquet state
    never stores raw timestamps."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_cumulative_distinct,
        q_event_rate_anomaly,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
        cumulative_distinct_readout,
        rate_anomaly_readout,
    )

    # hour 0 has a 'view' burst (anomalous: 8 in one hour vs 12 total over
    # 4 hours => 8*4 > 3*12); user 1 touches view on day 0, purchase on
    # day 1, nothing new on day 2 (active day still emits)
    batches = [
        [(i, "2024-01-01T00:00:05", 1, "view") for i in range(8)]
        + [(100, "2024-01-01T01:00:00", 1, "purchase")],
        [(101, "2024-01-01T02:00:00", 2, "view"),
         (102, "2024-01-01T03:00:00", 2, "view"),
         (103, "2024-01-02T00:00:00", 1, "purchase"),
         (104, "2024-01-02T01:00:00", 1, "view")],
        [(105, "2024-01-03T00:00:00", 1, "view"),
         (106, "2024-01-03T00:00:00", 2, "click")],
    ]
    src = str(tmp_path / "ev_src")
    _write_event_batch(src, batches[0], n=0)
    rate_sink = StreamingAggregateSink(
        str(tmp_path / "rate_state"), ["event_type", "hour_us"], [], spark
    )
    cd_sink = StreamingAggregateSink(
        str(tmp_path / "cd_state"), ["user_id", "day", "event_type"], [], spark
    )

    def _both(df, batch_id):
        keyed = df.select(
            "user_id",
            "event_type",
            (F.unix_micros("ts") - F.unix_micros("ts") % 3_600_000_000).alias("hour_us"),
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("bigint").alias("day"),
        )
        rate_sink(keyed, batch_id)
        cd_sink(keyed, batch_id)

    stream = spark.readStream.schema(_EV_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(_both)
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_event_batch(src, rows, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    # batch oracle: the same events as one parquet table
    union_dir = str(tmp_path / "union")
    all_rows = [r for b in batches for r in b]
    (
        spark.createDataFrame(all_rows, "event_id bigint, ts string, user_id bigint, event_type string")
        .select("event_id", F.to_timestamp("ts").alias("ts"), "user_id",
                "event_type", F.lit(0.0).alias("value"), F.lit("").alias("props"))
        .write.mode("overwrite").parquet(f"{union_dir}/events.parquet")
    )
    want_rate = [tuple(r) for r in q_event_rate_anomaly(spark, union_dir).collect()]
    want_cd = [tuple(r) for r in q_cumulative_distinct(spark, union_dir).collect()]

    def got_rate():
        return [tuple(r) for r in rate_anomaly_readout(rate_sink.current()).collect()]

    def got_cd():
        return [tuple(r) for r in
                cumulative_distinct_readout(cd_sink.current()).collect()]

    assert got_rate() == want_rate
    assert got_cd() == want_cd
    # the burst hour is actually flagged, and only it
    flagged = [r for r in want_rate if r[3] == 1]
    assert len(flagged) == 1 and flagged[0][0] == "view" and flagged[0][2] == 8
    # user 1 sees both its types on day one; the two later active days
    # still emit with 0 new types and the running count carries at 2
    u1 = [r for r in want_cd if r[0] == 1]
    assert [r[2] for r in u1] == [2, 0, 0]
    assert [r[3] for r in u1] == [2, 2, 2]

    # replay + compaction invariance, both sinks
    first_keyed = (
        spark.createDataFrame(batches[0], "event_id bigint, ts string, user_id bigint, event_type string")
        .select("user_id", "event_type",
                (F.unix_micros(F.to_timestamp("ts"))
                 - F.unix_micros(F.to_timestamp("ts")) % 3_600_000_000).alias("hour_us"),
                F.datediff(F.to_date(F.to_timestamp("ts")),
                           F.lit("1970-01-01").cast("date")).cast("bigint").alias("day"))
    )
    rate_sink(first_keyed, 0)
    cd_sink(first_keyed, 0)
    assert got_rate() == want_rate and got_cd() == want_cd
    rate_sink.compact()
    cd_sink.compact()
    assert got_rate() == want_rate and got_cd() == want_cd


def test_streaming_gram_matrix_composes_from_aggregate_sink(spark, tmp_path):
    """Continuously-maintained PCA statistics: gram_matrix's per-(i,j)
    sums are plain addition-mergeable, so keying the rollup sink by the
    cell coordinates maintains the exact covariance accumulator with no
    new sink code — the same composition law as streaming Count-Min.
    The merged state must equal the batch q_gram_matrix over the union
    and survive replay/compaction."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_gram_matrix
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    dim = 3
    batches = [
        [(0, [1.0, 0.5, -0.25]), (1, [0.0, 2.0, 1.0])],
        [(2, [-1.0, 0.25, 0.5])],
        [(3, [0.125, -2.0, 1.5]), (4, [0.75, 0.0, -1.0])],
    ]
    schema = "vec_id bigint, embedding array<float>"
    src = str(tmp_path / "gm_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(rows, n):
        with open(os.path.join(src, f"b_{n}.json"), "w") as f:
            for vid, v in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")

    sink = StreamingAggregateSink(
        str(tmp_path / "gm_state"), ["i", "j"], ["xy", "xi", "xj"], spark
    )

    def keyed(df):
        q = F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        )
        return (
            df.select(q.alias("v"))
            .select(F.posexplode("v").alias("i", "xi"), F.col("v"))
            .select("i", "xi", F.posexplode("v").alias("j", "xj"))
            .filter(F.col("j") >= F.col("i"))
            .withColumn("xy", F.col("xi") * F.col("xj"))
        )

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "gm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for n, rows in enumerate(batches[1:], start=1):
            write_batch(rows, n)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "gm_union")
    all_rows = [(vid, v, 0) for b in batches for vid, v in b]
    spark.createDataFrame(
        all_rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{union_dir}/embeddings.parquet")
    want = {
        (r.i, r.j): (r.n, r.sum_xy, r.cov_num)
        for r in q_gram_matrix(spark, union_dir).collect()
    }

    def got():
        return {
            (r.i, r.j): (
                r.n_rows,
                r.sum_xy,
                r.n_rows * r.sum_xy - r.sum_xi * r.sum_xj,
            )
            for r in sink.current().collect()
        }

    assert got() == want and len(want) == dim * (dim + 1) // 2
    sink(keyed(spark.createDataFrame(batches[0], schema)), 0)  # replay no-op
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_vocab_coverage_composes_from_aggregate_sink(spark, tmp_path):
    """Continuously-maintained tokenizer-design table: per-term counts
    are plain count partials, so a rollup sink keyed by the token
    maintains the exact term-frequency state and vocab_coverage_readout
    derives the SAME coverage curve the batch sweep computes over the
    union of everything ingested — and survives replay and compaction."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_vocab_coverage_sweep,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
        vocab_coverage_readout,
    )

    batches = [
        [(0, "the quick brown fox the quick"), (1, "lazy dog the end")],
        [(2, "quick quick fox fox fox jumps")],
        [(3, "the the the dog runs far away now")],
    ]
    ns = [2, 4, 8]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "vc_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(rows, n):
        with open(os.path.join(src, f"b_{n}.json"), "w") as f:
            for did, txt in rows:
                f.write(json.dumps({"doc_id": did, "text": txt}) + "\n")

    sink = StreamingAggregateSink(
        str(tmp_path / "vc_state"), ["term"], [], spark
    )

    def keyed(df):
        return df.select(F.explode(tokens_col("text")).alias("term"))

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "vc_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for n, rows in enumerate(batches[1:], start=1):
            write_batch(rows, n)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "vc_union")
    all_rows = [
        (did, txt, "en", "s0", len(txt))
        for b in batches
        for did, txt in b
    ]
    spark.createDataFrame(
        all_rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{union_dir}/documents.parquet")

    import flink_sql_ai_meetingcoach_azure_spark.queries as qmod

    orig_ns = qmod.VOCAB_SWEEP_NS
    qmod.VOCAB_SWEEP_NS = ns
    try:
        want = [tuple(r) for r in q_vocab_coverage_sweep(spark, union_dir).collect()]
    finally:
        qmod.VOCAB_SWEEP_NS = orig_ns

    def got():
        return [
            tuple(r)
            for r in vocab_coverage_readout(sink.current(), vocab_ns=ns).collect()
        ]

    assert got() == want
    # replay of an already-marked batch is a no-op
    first_keyed = keyed(
        spark.createDataFrame(batches[0], schema)
    )
    sink(first_keyed, 0)
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_media_profile_composes_from_aggregate_sink(spark, tmp_path):
    """Continuously-maintained mixed-media inventory: media_profile's
    per-format count/byte/dimension sums are plain addition partials, so
    a rollup sink keyed by media_format maintains the exact inventory of
    everything ingested — no new sink code, the same composition law as
    streaming Count-Min/gram_matrix. Merged state must equal the batch
    q_media_profile over the union and survive replay/compaction (NULL
    dimension sums surface as 0-with-n_dims=0 in the additive state)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        sniff_media,
    )
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        _media_payload_sql,
        q_media_profile,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
    )

    batches = [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9, 10, 11]]
    schema = "doc_id bigint, text string"
    src = str(tmp_path / "mp_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(ids, n):
        with open(os.path.join(src, f"b_{n}.json"), "w") as f:
            for did in ids:
                f.write(json.dumps({"doc_id": did, "text": f"doc {did} text"}) + "\n")

    sink = StreamingAggregateSink(
        str(tmp_path / "mp_state"),
        ["media_format"],
        ["n_bytes", "has_dims", "w", "h"],
        spark,
    )

    def keyed(df):
        payload = F.expr(_media_payload_sql("div", "encode(text, 'utf-8')"))
        sn = sniff_media(df.select("doc_id", payload.alias("payload")))
        return sn.select(
            "media_format",
            F.length("payload").cast("bigint").alias("n_bytes"),
            F.col("width").isNotNull().cast("bigint").alias("has_dims"),
            F.coalesce("width", F.lit(0)).alias("w"),
            F.coalesce("height", F.lit(0)).alias("h"),
        )

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "mp_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for n, ids in enumerate(batches[1:], start=1):
            write_batch(ids, n)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "mp_union")
    all_rows = [
        (did, f"doc {did} text", "en", "s", 12)
        for b in batches
        for did in b
    ]
    spark.createDataFrame(
        all_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{union_dir}/documents.parquet")
    want = {
        r.media_format: (
            r.n_docs,
            r.total_bytes,
            r.n_dims,
            r.sum_width or 0,
            r.sum_height or 0,
        )
        for r in q_media_profile(spark, union_dir).collect()
    }

    def got():
        return {
            r.media_format: (
                r.n_rows,
                r.sum_n_bytes,
                r.sum_has_dims,
                r.sum_w,
                r.sum_h,
            )
            for r in sink.current().collect()
        }

    assert got() == want
    assert set(want) == {"png", "jpeg", "gif", "bmp", "wav", "unknown"}
    # doc 5 is top-down (height -29), doc 11 bottom-up (+59): signed sum
    assert want["bmp"][2:] == (2, 9 + 15, -29 + 59)
    sink(
        keyed(
            spark.createDataFrame(
                [(d, f"doc {d} text") for d in batches[0]], schema
            )
        ),
        0,
    )  # replay no-op
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_ks_drift_composes_from_aggregate_sink(spark, tmp_path):
    """Continuously-maintained KS drift monitor (r11, VERDICT r10 #6):
    per-(value, half) counts are plain count partials, so a rollup sink
    keyed by [v, half] maintains the exact bucket state and
    ks_drift_readout derives the SAME exact-integer statistic the batch
    q_ks_drift computes over the union of everything ingested — via the
    shared operators.drift.ks_from_counts core — and survives replay
    and compaction."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_ks_drift
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
        ks_drift_readout,
    )

    # (doc_id, n_chars) pairs; half = doc_id % 2, value = n_chars —
    # deliberately skewed so the two halves genuinely differ
    batches = [
        [(0, 10), (1, 40), (2, 10), (3, 50)],
        [(4, 20), (5, 60), (6, 20)],
        [(7, 55), (8, 10), (9, 45), (10, 30)],
    ]
    schema = "doc_id bigint, n_chars bigint"
    src = str(tmp_path / "ks_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(rows, n):
        with open(os.path.join(src, f"b_{n}.json"), "w") as f:
            for did, nc in rows:
                f.write(json.dumps({"doc_id": did, "n_chars": nc}) + "\n")

    sink = StreamingAggregateSink(
        str(tmp_path / "ks_state"), ["v", "half"], [], spark
    )

    def keyed(df):
        return df.select(
            F.col("n_chars").cast("bigint").alias("v"),
            (F.col("doc_id") % 2).cast("int").alias("half"),
        )

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "ks_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for n, rows in enumerate(batches[1:], start=1):
            write_batch(rows, n)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "ks_union")
    all_rows = [
        (did, "x" * nc, "en", "s0", nc) for b in batches for did, nc in b
    ]
    spark.createDataFrame(
        all_rows,
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{union_dir}/documents.parquet")
    want = [tuple(r) for r in q_ks_drift(spark, union_dir).collect()]

    def got():
        return [tuple(r) for r in ks_drift_readout(sink.current()).collect()]

    assert got() == want
    assert want[0][3] > 0  # the skewed halves produce a non-trivial D
    # replay of an already-marked batch is a no-op
    sink(keyed(spark.createDataFrame(batches[0], schema)), 0)
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_cusum_composes_from_aggregate_sink(spark, tmp_path):
    """Continuous CUSUM changepoint (r11 — the third live drift monitor,
    after rate-anomaly and KS): the readout over the maintained
    per-(type, hour) rollup must equal batch q_cusum_changepoint over
    the union of every micro-batch — via the shared
    operators.drift.cusum_from_counts core — and survive replay and
    compaction. The rate genuinely SHIFTS mid-series so the argmax is
    non-trivial."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        q_cusum_changepoint,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
        cusum_readout,
    )

    # 'view': 1/hour for hours 0-2, then 5/hour for hours 3-5 (clean
    # level shift at hour 2→3); 'click': flat 2/hour
    rows, eid = [], 0
    for h in range(6):
        n_view = 1 if h < 3 else 5
        for _ in range(n_view):
            rows.append((eid, f"2024-01-01T{h:02d}:10:00", 1, "view")); eid += 1
        for _ in range(2):
            rows.append((eid, f"2024-01-01T{h:02d}:20:00", 2, "click")); eid += 1
    batches = [rows[:8], rows[8:15], rows[15:]]
    src = str(tmp_path / "cu_src")
    _write_event_batch(src, batches[0], n=0)
    sink = StreamingAggregateSink(
        str(tmp_path / "cu_state"), ["event_type", "hour_idx"], [], spark
    )

    def keyed(df):
        return df.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour_idx"),
        )

    stream = spark.readStream.schema(_EV_SCHEMA).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "cu_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, b in enumerate(batches[1:], start=1):
            _write_event_batch(src, b, n=i)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "cu_union")
    all_rows = [r for b in batches for r in b]
    (
        spark.createDataFrame(
            all_rows,
            "event_id bigint, ts string, user_id bigint, event_type string",
        )
        .select("event_id", F.to_timestamp("ts").alias("ts"), "user_id",
                "event_type", F.lit(0.0).alias("value"),
                F.lit("").alias("props"))
        .write.mode("overwrite").parquet(f"{union_dir}/events.parquet")
    )
    want = [tuple(r) for r in q_cusum_changepoint(spark, union_dir).collect()]

    def got():
        return [tuple(r) for r in cusum_readout(sink.current()).collect()]

    assert got() == want
    # the view changepoint lands at the last pre-shift hour (hour 2):
    # S_h = H·run − h·T is maximal in magnitude right before the jump
    view = [r for r in want if r[0] == "view"][0]
    assert view[3] % 24 == 2 and view[4] > 0
    # replay + compaction invariance
    sink(keyed(spark.createDataFrame(
        batches[0],
        "event_id bigint, ts string, user_id bigint, event_type string",
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id",
             "event_type")), 0)
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_top_terms_composes_from_aggregate_sink(spark, tmp_path):
    """Continuously-maintained per-language top-k vocabulary (r11):
    (lang, term) counts are plain count partials, so the rollup sink
    maintains the exact state and top_terms_readout derives batch
    q_top_terms' table over the union of everything ingested — and
    survives replay and compaction."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import tokens_col
    from flink_sql_ai_meetingcoach_azure_spark.queries import q_top_terms
    from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (
        StreamingAggregateSink,
        top_terms_readout,
    )

    batches = [
        [(0, "en", "the quick fox the fox"), (1, "de", "der der die das")],
        [(2, "en", "quick quick dog jumps over the dog")],
        [(3, "de", "die katze und der hund und die maus")],
    ]
    schema = "doc_id bigint, lang string, text string"
    src = str(tmp_path / "tt_src")
    os.makedirs(src, exist_ok=True)

    def write_batch(rows, n):
        with open(os.path.join(src, f"b_{n}.json"), "w") as f:
            for did, lang, txt in rows:
                f.write(json.dumps(
                    {"doc_id": did, "lang": lang, "text": txt}) + "\n")

    sink = StreamingAggregateSink(
        str(tmp_path / "tt_state"), ["lang", "term"], [], spark
    )

    def keyed(df):
        return df.select(
            "lang", F.explode(tokens_col("text")).alias("term")
        )

    write_batch(batches[0], 0)
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: sink(keyed(df), bid))
        .option("checkpointLocation", str(tmp_path / "tt_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for n, rows in enumerate(batches[1:], start=1):
            write_batch(rows, n)
            q.processAllAvailable()
    finally:
        q.stop()

    union_dir = str(tmp_path / "tt_union")
    all_rows = [
        (did, txt, lang, "s0", len(txt))
        for b in batches
        for did, lang, txt in b
    ]
    spark.createDataFrame(
        all_rows,
        "doc_id bigint, text string, lang string, source string, n_chars int",
    ).write.mode("overwrite").parquet(f"{union_dir}/documents.parquet")
    want = [tuple(r) for r in q_top_terms(spark, union_dir).collect()]

    def got():
        return [tuple(r) for r in top_terms_readout(sink.current()).collect()]

    assert got() == want
    # cross-batch accumulation is visible ('the' spans batches 0 and 2)
    # and the (count DESC, term ASC) tie pin holds: quick=3 ties the=3,
    # 'quick' sorts first
    en = [(r[1], r[2]) for r in want if r[0] == "en"]
    assert en[0] == ("quick", 3) and en[1] == ("the", 3)
    # replay + compaction invariance
    sink(keyed(spark.createDataFrame(
        [(d, l, t) for d, l, t in batches[0]], schema)), 0)
    assert got() == want
    sink.compact()
    assert got() == want


def test_streaming_ivf_ingest_maintains_hamming_signatures(spark, tmp_path):
    """VERDICT r11 #5: with signature_dim set, the vector sink maintains
    the 2x32-bit sign-bit signature words alongside centroid_id, so a
    vector ingested MID-STREAM is retrievable via the Hamming prefilter
    over the INDEX-STORED words (no recompute at query time)."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.quantize import (
        sign_signature_exprs,
    )
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (
        build_ivf_index,
        write_ivf_index,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.vector_sink import (
        StreamingIvfIngest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exprs = sign_signature_exprs("embedding", 64, 2)
    base = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id",
        "embedding",
        *[F.expr(e).alias(f"sig{i}") for i, e in enumerate(exprs)],
    )
    path = str(tmp_path / "ivf_ham")
    ivf, centroids = build_ivf_index(base, nlist=4)
    write_ivf_index(ivf, centroids, path)

    sink = StreamingIvfIngest(path, signature_dim=64)
    incoming = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    sink(incoming, 0)

    idx = spark.read.parquet(path)
    assert {"sig0", "sig1"} <= set(idx.columns)
    assert idx.count() == emb.count()
    # every row — pre-built and mid-stream — carries a complete sketch
    assert idx.filter("sig0 IS NULL OR sig1 IS NULL").count() == 0
    # the stored signature of a mid-stream vector equals the projection
    # of its float vector (the sink computed it, not the reader)
    target = 7  # odd => arrived via the stream
    [want] = (
        emb.filter(F.col("vec_id") == target)
        .select(*[F.expr(e).alias(f"sig{i}") for i, e in enumerate(exprs)])
        .collect()
    )
    [got] = idx.filter(F.col("vec_id") == target).select(
        "sig0", "sig1"
    ).collect()
    assert (got["sig0"], got["sig1"]) == (want["sig0"], want["sig1"])
    # Hamming prefilter over the STORED words: querying with the target's
    # own signature must surface it at distance 0 inside the M=32 pool
    pool = (
        idx.withColumn(
            "hamming",
            F.expr(
                f"bit_count(sig0 ^ {got['sig0']}L) +"
                f" bit_count(sig1 ^ {got['sig1']}L)"
            ),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(32)
        .collect()
    )
    by_id = {r["vec_id"]: r["hamming"] for r in pool}
    assert by_id.get(target) == 0


def test_streaming_image_neardup_composes_and_replays(spark, tmp_path):
    """Continuous IMAGE near-dup (r12, confirm rule r13): the dHash
    band-bucket sink must (a) equal the batch rule over the union of
    all batches — band-byte co-bucket is only a PREFILTER, the drop
    needs exact hamming <= 7 (ADVICE r12: unconfirmed byte matches
    saturate at a few hundred images) — (b) drop a batch-2
    brightness-shifted copy of a batch-1 image by STATE alone, (c)
    ADMIT a crafted image that shares a band byte with an earlier id
    but sits 56 bits away, and (d) replay as a no-op."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        dhash_signatures,
        encode_png,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingImageNearDup,
    )

    rng = np.random.RandomState(5)

    def png(img):
        return bytearray(encode_png(img, 2, [r % 5 for r in range(len(img))]))

    base_a = rng.randint(10, 240, (16, 18, 3)).astype(np.uint8)
    base_c = rng.randint(10, 240, (16, 18, 3)).astype(np.uint8)
    shift = lambda im, d: np.clip(  # noqa: E731
        im.astype(np.int64) + d, 0, 255
    ).astype(np.uint8)
    imgs = {
        1: base_a,
        2: base_c,
        3: shift(base_a, 4),   # near-dup of 1 (identical signature)
        4: shift(base_c, 3),   # near-dup of 2
        5: rng.randint(10, 240, (16, 18, 3)).astype(np.uint8),
    }
    b1 = spark.createDataFrame(
        [(i, png(imgs[i])) for i in (1, 2)], "doc_id long, payload binary"
    )
    b2 = spark.createDataFrame(
        [(i, png(imgs[i])) for i in (3, 4, 5)], "doc_id long, payload binary"
    )
    sink = StreamingImageNearDup(
        str(tmp_path / "img_state"), str(tmp_path / "img_out")
    )
    sink(b1, 0)
    sink(b2, 1)

    # batch 3: image 6 crafted so its dHash row 0 equals image 1's
    # band-0 byte while rows 1-7 are COMPLEMENTED — a band-bucket hit
    # at hamming 56. The pre-r13 unconfirmed-byte rule false-drops it;
    # the confirmed rule must admit it.
    s1_sig = {
        r.doc_id: (r.sig0, r.sig1)
        for r in dhash_signatures(b1, id_col="doc_id").collect()
    }[1]
    bits1 = [
        ((s1_sig[0] if k < 32 else s1_sig[1]) >> (k % 32)) & 1
        for k in range(64)
    ]
    img6 = np.zeros((8, 9, 3), np.uint8)
    for i in range(8):
        v = 100
        row = [v]
        for j in range(8):
            want = bits1[8 * i + j] if i == 0 else 1 - bits1[8 * i + j]
            v = v + 10 if want else v - 10
            row.append(v)
        img6[i, :, :] = np.array(row, np.uint8)[:, None]
    b3 = spark.createDataFrame(
        [(6, png(img6))], "doc_id long, payload binary"
    )
    sink(b3, 2)

    out = spark.read.parquet(str(tmp_path / "img_out"))
    # batch expectation over the UNION: drop any image sharing a band
    # byte with a smaller id AND within hamming 7 of it (the
    # _sig_band_pairs prefilter+confirm rule)
    all_imgs = b1.unionByName(b2).unionByName(b3)
    sigs = {
        r.doc_id: (r.sig0, r.sig1)
        for r in dhash_signatures(all_imgs, id_col="doc_id").collect()
    }

    def bands(s0, s1):
        w = [s0, s0, s0, s0, s1, s1, s1, s1]
        return [(b, (w[b] >> (8 * (b % 4))) & 255) for b in range(8)]

    def ham(a, b):
        return bin((a[0] ^ b[0]) | ((a[1] ^ b[1]) << 32)).count("1")

    expect = set()
    for i in sorted(sigs):
        drop = any(
            set(bands(*sigs[i])) & set(bands(*sigs[j]))
            and ham(sigs[i], sigs[j]) <= 7
            for j in sigs
            if j < i
        )
        if not drop:
            expect.add(i)
    got = {r.doc_id for r in out.collect()}
    assert got == expect
    assert {1, 2} <= got and 3 not in got and 4 not in got
    # cross-batch came from state (3 and 4 had no smaller id IN batch 2)
    b2_admitted = {r.doc_id for r in out.filter("batch_id = 1").collect()}
    assert 5 in b2_admitted and not {3, 4} & b2_admitted
    # the crafted band-collision-at-hamming-56 image was ADMITTED: the
    # byte bucket alone no longer drops
    assert set(bands(*sigs[6])) & set(bands(*sigs[1]))
    assert ham(sigs[6], sigs[1]) == 56
    assert 6 in got
    # replay: marker short-circuits, no duplicate output rows
    n = out.count()
    sink(b2, 1)
    assert spark.read.parquet(str(tmp_path / "img_out")).count() == n


def test_streaming_audio_neardup_composes_and_replays(spark, tmp_path):
    """Continuous AUDIO near-dup (r13): the sign-of-delta fingerprint
    through the band-prefilter + exact-Hamming-confirm state sink — a
    mid-stream gain-offset copy of a batch-1 clip is dropped by STATE
    alone (gain invariance is the fingerprint's defining property), a
    genuinely different clip is admitted, and a replayed batch is a
    no-op."""
    import io
    import struct
    import wave

    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingAudioNearDup,
    )

    def clip(direction_bits, gain=0):
        s = np.concatenate([[0], np.cumsum(direction_bits)])
        c = np.arange(65)
        v = 12 * (2 * s - c) + gain
        samples = np.repeat(v, 2).astype(int)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(
                b"".join(struct.pack("<h", int(x)) for x in samples)
            )
        return bytearray(buf.getvalue())

    k = np.arange(1, 65)
    d_a = (k * 11 % 5) % 2
    d_b = np.where((k * 3) % 2 == 0, 1 - d_a, d_a)  # ~half flipped
    d_c = 1 - d_a  # all 64 bits flipped
    b1 = spark.createDataFrame(
        [(1, clip(d_a)), (2, clip(d_b))], "doc_id long, payload binary"
    )
    b2 = spark.createDataFrame(
        [(3, clip(d_a, gain=4)), (4, clip(d_c))],
        "doc_id long, payload binary",
    )
    sink = StreamingAudioNearDup(
        str(tmp_path / "aud_state"), str(tmp_path / "aud_out")
    )
    sink(b1, 0)
    sink(b2, 1)
    out = spark.read.parquet(str(tmp_path / "aud_out"))
    got = {r.doc_id for r in out.collect()}
    # 3 is a hamming-0 gain copy of 1 -> dropped cross-batch by state;
    # 2 (~32 bits away) and 4 (64 bits away) are admitted
    assert got == {1, 2, 4}
    b2_admitted = {r.doc_id for r in out.filter("batch_id = 1").collect()}
    assert b2_admitted == {4}
    # replay: marker short-circuits, no duplicate output rows
    n = out.count()
    sink(b2, 1)
    assert spark.read.parquet(str(tmp_path / "aud_out")).count() == n
    # compaction preserves decisions: a post-compact batch replaying a
    # known clip is still dropped
    sink.compact(spark)
    b3 = spark.createDataFrame(
        [(5, clip(d_a, gain=8)), (6, clip(d_b, gain=-4))],
        "doc_id long, payload binary",
    )
    sink(b3, 2)
    out2 = spark.read.parquet(str(tmp_path / "aud_out"))
    assert {r.doc_id for r in out2.collect()} == {1, 2, 4}


def test_streaming_video_neardup_drops_duplicate_clip(spark, tmp_path):
    """Continuous VIDEO near-dup (r13): clip signatures through the
    band-prefilter + exact-Hamming-confirm sink — a batch-2
    brightness-shifted copy of a batch-1 clip is dropped by STATE
    alone; a different clip is admitted; replay is a no-op. Completes
    the streaming modality quartet (text/image/audio/video)."""
    import numpy as np

    from flink_sql_ai_meetingcoach_azure_spark.operators.multimodal import (
        encode_apng,
    )
    from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (
        StreamingVideoNearDup,
    )

    def frame(bits, bright=0):
        eff = np.asarray(bits, dtype=np.int64).reshape(8, 8)
        s = np.concatenate(
            [np.zeros((8, 1), dtype=np.int64), np.cumsum(eff, axis=1)], axis=1
        )
        j = np.arange(9)
        g = 110 + 2 * np.arange(8)[:, None] + 12 * (2 * s - j[None, :]) + bright
        gp = np.repeat(np.repeat(g, 2, axis=0), 2, axis=1)
        return np.stack([gp, gp + 1, gp + 2], axis=2).astype(np.uint8)

    rng = np.random.RandomState(21)
    base = rng.randint(0, 2, 64)
    far = 1 - base
    clip = lambda bits, br=0: bytearray(  # noqa: E731
        encode_apng([frame(bits, br), frame(bits, br), frame(bits, br)])
    )
    b1 = spark.createDataFrame(
        [(1, clip(base))], "doc_id long, payload binary"
    )
    b2 = spark.createDataFrame(
        [(2, clip(base, 4)), (3, clip(far))], "doc_id long, payload binary"
    )
    sink = StreamingVideoNearDup(
        str(tmp_path / "vid_state"), str(tmp_path / "vid_out")
    )
    sink(b1, 0)
    sink(b2, 1)
    out = spark.read.parquet(str(tmp_path / "vid_out"))
    assert {r.doc_id for r in out.collect()} == {1, 3}
    n = out.count()
    sink(b2, 1)  # replay: marker short-circuits
    assert spark.read.parquet(str(tmp_path / "vid_out")).count() == n
