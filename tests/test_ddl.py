"""SQL DDL surface (ddl.py): the reference's statement forms.

The reference's whole user interface is the SQL script in
terraform/generate_personalized_commands.sh; these tests feed those
statement SHAPES (same clauses, same qualifiers, same functions) through
FlinkStatementSession and pin (a) each rewrite in isolation and (b) the
verbatim end-to-end pipeline BYTE-EQUAL to the programmatic
plans/coaching.py path on the same sources."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_sql_ai_meetingcoach_azure_spark.ddl import (
    FlinkStatementSession,
    flink_type_to_spark,
    normalize_identifiers,
    rewrite_select,
    run_reference_pipeline,
    split_statements,
    strip_comments,
)
from flink_sql_ai_meetingcoach_azure_spark.models.providers import MockProvider
from flink_sql_ai_meetingcoach_azure_spark.models.registry import ModelRegistry


def _registry(dim: int = 64) -> ModelRegistry:
    reg = ModelRegistry()
    p = MockProvider(dim=dim)
    reg.register_embedding("openaiembed", p)
    reg.register_text_generation("coaching_response_generator", p)
    return reg


# ---------------------------------------------------------------------------
# pure string-level units (no Spark)


def test_split_and_comments_are_quote_aware():
    stmts = split_statements("a; b 'x;y'; c")
    assert stmts == ["a", "b 'x;y'", "c"]
    out = strip_comments("SELECT '--keep', x -- drop; this\nFROM t")
    assert "'--keep'" in out and "drop" not in out


def test_normalize_identifiers():
    s = "SELECT $rowtime FROM `env-1`.`clu-2`.messages_conversation WHERE a = '`$rowtime`'"
    out = normalize_identifiers(s)
    assert out == "SELECT rowtime FROM messages_conversation WHERE a = '`$rowtime`'"


def test_rewrite_unnest_to_lateral_view():
    out = rewrite_select(
        "SELECT document_id, chunks FROM knowledge CROSS JOIN UNNEST("
        "ML_CHARACTER_TEXT_SPLITTER(document_text, 200, 20, '###', false, false, true,"
        " 'START')) AS t(chunks)",
        _registry(),
    )
    assert "LATERAL VIEW explode(ML_CHARACTER_TEXT_SPLITTER(" in out
    assert ") t AS chunks" in out
    assert "UNNEST" not in out


def test_rewrite_ml_predict_bare_and_aliased():
    reg = _registry()
    out = rewrite_select(
        "SELECT message, embedding FROM m, LATERAL TABLE(ML_PREDICT('openaiembed',"
        " message))",
        reg,
    )
    assert "ml_embed('openaiembed', message) AS embedding" in out
    assert "LATERAL TABLE" not in out
    out = rewrite_select(
        "SELECT qr.message, pred.coaching_response FROM qr, LATERAL TABLE(ml_predict("
        "'coaching_response_generator', CONCAT('x: ', qr.message))) AS pred",
        reg,
    )
    assert (
        "ml_generate('coaching_response_generator', CONCAT('x: ', qr.message))"
        " AS coaching_response" in out
    )


def test_rewrite_subscript_array_row():
    out = rewrite_select(
        "SELECT ARRAY[CAST(ROW(vs.search_results[1].document_id,"
        " vs.search_results[1].chunks) AS ROW<document_id STRING, chunks STRING>)] AS r"
        " FROM x",
        _registry(),
    )
    assert "array(named_struct('document_id', element_at(vs.search_results, 1)" in out
    assert "[1]" not in out and "ARRAY[" not in out


def test_flink_types():
    assert flink_type_to_spark("ARRAY<FLOAT>") == T.ArrayType(T.FloatType())
    assert flink_type_to_spark("TIMESTAMP(3)") == T.TimestampType()
    assert flink_type_to_spark("ROW<a STRING, b ARRAY<INT>>") == T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.ArrayType(T.IntegerType())),
        ]
    )
    # beyond the reference's usage (SURVEY §1.2: design so MAP slots in)
    assert flink_type_to_spark("MAP<STRING, ARRAY<INT>>") == T.MapType(
        T.StringType(), T.ArrayType(T.IntegerType())
    )
    assert flink_type_to_spark("DECIMAL(12, 2)") == T.DecimalType(12, 2)


def test_complex_cast_rewrite_is_type_decided_and_silent(spark, caplog):
    """CAST(<complex> AS STRING) renders JSON, CAST(<atomic> AS STRING)
    stays a plain cast — decided by inspecting the argument's resolved
    type, and the decision logs NOTHING at ERROR level (the old
    try/except probe dumped an analyzer stack per atomic cast site;
    VERDICT r5 #5). The probe loggers are client-side Python loggers, so
    caplog sees any leak."""
    import logging

    sess = FlinkStatementSession(spark)
    sess.execute(
        "CREATE TABLE `e`.`c`.cast_mix (uid BIGINT, tags ARRAY<STRING>)"
    )
    sess.execute("INSERT INTO `e`.`c`.cast_mix VALUES (7, ARRAY['a', 'b'])")
    with caplog.at_level(logging.ERROR):
        rows = sess.execute(
            "SELECT CAST(uid AS STRING) AS uid_s, CAST(tags AS STRING) AS tags_s"
            " FROM cast_mix"
        ).collect()
    assert [r for r in caplog.records if r.levelno >= logging.ERROR] == []
    assert rows[0]["uid_s"] == "7"  # atomic: plain cast
    assert rows[0]["tags_s"] == '["a","b"]'  # complex: JSON rendering


def test_nested_complex_cast_falls_back_to_json_rendering(spark, caplog):
    """A complex CAST(x AS STRING) NESTED inside a larger expression (e.g.
    concat(CAST(arr AS STRING), '!')) breaks the named_struct type probe —
    the wrapper struct fails the enclosing expression's typing — so the
    site must fall back to the to_json acceptance check and KEEP the
    documented JSON rendering (ADVICE r6: the probe-only path silently
    reverted nested shapes to Spark's native rendering). Nested atomic
    casts stay plain, and the decision still logs nothing at ERROR."""
    import logging

    sess = FlinkStatementSession(spark)
    sess.execute(
        "CREATE TABLE `e`.`c`.cast_nested (uid BIGINT, tags ARRAY<STRING>)"
    )
    sess.execute("INSERT INTO `e`.`c`.cast_nested VALUES (7, ARRAY['a', 'b'])")
    with caplog.at_level(logging.ERROR):
        rows = sess.execute(
            "SELECT concat(CAST(tags AS STRING), '!') AS nested_c,"
            " concat(CAST(uid AS STRING), '!') AS nested_a"
            " FROM cast_nested"
        ).collect()
    assert [r for r in caplog.records if r.levelno >= logging.ERROR] == []
    assert rows[0]["nested_c"] == '["a","b"]!'  # complex: JSON even nested
    assert rows[0]["nested_a"] == "7!"  # atomic: plain cast


def test_decimal_round_trips_through_create_insert_ctas(spark):
    """DECIMAL(p,s) end to end: a declared money column survives CREATE
    TABLE + INSERT VALUES with exact scale, CTAS arithmetic widens
    precision the SQL-standard way (no float drift), and an explicit
    CAST(... AS DECIMAL(p,s)) lands on the requested type — the
    integer-cents-vs-decimal boundary where money users arrive first
    (SURVEY §1.2 slot-in)."""
    from decimal import Decimal

    sess = FlinkStatementSession(spark)
    sess.execute(
        "CREATE TABLE `e`.`c`.orders_money "
        "(order_id INT NOT NULL, price DECIMAL(12, 2), qty INT)"
    )
    assert dict(spark.table("orders_money").dtypes)["price"] == "decimal(12,2)"
    sess.execute(
        "INSERT INTO `e`.`c`.orders_money VALUES "
        "(1, 19.99, 3), (2, 0.10, 7), (3, 1200.50, 1)"
    )
    sess.execute("""
CREATE TABLE `e`.`c`.order_totals AS
SELECT order_id,
       CAST(price * qty AS DECIMAL(14, 2)) AS line_total,
       CAST(price * qty * 100 AS BIGINT) AS line_total_cents
FROM `e`.`c`.orders_money
""")
    totals = spark.table("order_totals")
    assert dict(totals.dtypes)["line_total"] == "decimal(14,2)"
    got = {r["order_id"]: (r["line_total"], r["line_total_cents"])
           for r in totals.collect()}
    # 0.10 * 7 is exactly 0.70 in decimal; a float path would drift
    assert got == {1: (Decimal("59.97"), 5997),
                   2: (Decimal("0.70"), 70),
                   3: (Decimal("1200.50"), 120050)}
    # aggregate keeps decimal typing (Spark widens precision by +10)
    total = spark.sql("SELECT SUM(line_total) AS s FROM order_totals").collect()[0]["s"]
    assert total == Decimal("1261.17")
    # refresh replays the journaled CTAS over the VALUES base losslessly
    sess.refresh()
    assert spark.table("order_totals").count() == 3


# string-literal safety properties: whatever a literal contains — statement
# separators, comment markers, qualifiers, subscripts, $rowtime — the
# rewriter must pass it through untouched

_literal_texts = __import__("hypothesis").strategies.text(
    alphabet=list("abc;-`$[]()<>,.' \n"), min_size=0, max_size=40
)


@__import__("hypothesis").given(t=_literal_texts)
@__import__("hypothesis").settings(max_examples=200, deadline=None)
def test_literals_survive_every_rewrite(t):
    lit = "'" + t.replace("'", "''") + "'"
    sql = f"SELECT a[1], {lit} AS x FROM `e`.`c`.t WHERE b = {lit}"
    out = rewrite_select(sql, _registry())
    assert out.count(lit) == 2
    assert "element_at(a, 1)" in out
    assert split_statements(sql) == [sql]  # ';' inside the literal never splits


# ---------------------------------------------------------------------------
# statement execution


def test_create_table_insert_values_and_alter(spark):
    sess = FlinkStatementSession(spark)
    sess.execute("""
CREATE TABLE `e`.`c`.knowledge (
  document_id STRING,
  document_name STRING,
  document_category STRING,
  document_text STRING
) WITH ('kafka.consumer.isolation-level' = 'read-uncommitted')""")
    # reference Step 10.1 test-data insert (:528-536)
    sess.execute("""
INSERT INTO `e`.`c`.knowledge VALUES (
  'sample/test_document.md', 'Test Document', 'sample',
  'This is a sample document for testing the RAG pipeline.')""")
    rows = spark.table("knowledge").collect()
    assert len(rows) == 1
    assert rows[0]["document_id"] == "sample/test_document.md"
    # Kafka-backed by default (no explicit connector, like Confluent Flink)
    assert sess.tables["knowledge"].connector == "kafka"
    sess.execute("ALTER TABLE `e`.`c`.knowledge SET ('scan.startup.mode' = 'latest-offset')")
    assert sess.tables["knowledge"].options["scan.startup.mode"] == "latest-offset"


def test_create_model_parses_multiline_prompt_with_parens(spark):
    sess = FlinkStatementSession(spark)
    sess.execute("""
CREATE MODEL coaching_response_generator
INPUT (prompt STRING)
OUTPUT (coaching_response STRING)
WITH(
  'provider' = 'azureopenai',
  'task' = 'text_generation',
  'azureopenai.system_prompt' = 'You are a coach.
 - sources: An array with 3 objects (one for each document)
 - don''t break on quotes; or semicolons'
)""")
    spec = sess.models["coaching_response_generator"]
    assert spec.output_col == "coaching_response"
    assert "(one for each document)" in spec.options["azureopenai.system_prompt"]
    assert "don't break" in spec.options["azureopenai.system_prompt"]
    assert sess.registry.get("coaching_response_generator").task == "text_generation"


def test_create_model_reregisters_only_the_model_functions(spark):
    """CREATE MODEL re-registers ml_embed / ml_generate (they pickle the
    registry as it was at registration), and nothing else."""
    sess = FlinkStatementSession(spark, mock_dim=8)
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS sketch_hash60")
    sess.execute("""
CREATE MODEL emb8 INPUT (input STRING) OUTPUT (embedding ARRAY<FLOAT>)
WITH ('provider' = 'azureopenai', 'task' = 'embedding')""")
    assert not spark.catalog.functionExists("sketch_hash60")
    (row,) = spark.sql("SELECT ml_embed('emb8', 'hello') AS e").collect()
    assert row["e"] == pytest.approx(MockProvider(dim=8).embed(["hello"])[0], rel=1e-6)
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS sketch_hash60")
    FlinkStatementSession(spark)  # restores the full function set


def test_create_model_with_azure_factory(spark):
    """provider_factory wires CREATE MODEL options to the live provider
    class (no HTTP here — construction only)."""
    from flink_sql_ai_meetingcoach_azure_spark.models.providers import (
        AzureOpenAIProvider,
        azure_provider_factory,
    )

    sess = FlinkStatementSession(spark, provider_factory=azure_provider_factory)
    sess.execute("""
CREATE MODEL coaching_response_generator
INPUT (prompt STRING)
OUTPUT (coaching_response STRING)
WITH(
  'provider' = 'azureopenai',
  'task' = 'text_generation',
  'azureopenai.connection' = 'gpt-4-connection',
  'azureopenai.model_version' = 'gpt-4',
  'azureopenai.system_prompt' = 'You are an expert sales coach AI.'
)""")
    p = sess.registry.get("coaching_response_generator").provider
    assert isinstance(p, AzureOpenAIProvider)
    assert p.chat_deployment == "gpt-4"
    assert p.system_prompt == "You are an expert sales coach AI."


def test_refresh_insert_select_exactly_once(spark):
    """refresh() recreates INSERT-SELECT targets as (pre-insert base ∪
    selects) — Flink's continuous INSERT processes each input row exactly
    once (the reference's knowledge_embeddings_chunked ingest,
    generate_personalized_commands.sh:315-335), so a replayed insert must
    never re-append rows the target already holds."""
    sess = FlinkStatementSession(spark)
    sess.execute("CREATE TABLE `e`.`c`.knowledge (document_id STRING, document_text STRING)")
    sess.execute("INSERT INTO `e`.`c`.knowledge VALUES ('d1', 'alpha')")
    sess.execute("CREATE TABLE `e`.`c`.sink (document_id STRING, document_text STRING)")
    sess.execute(
        "INSERT INTO `e`.`c`.sink SELECT document_id, document_text FROM `e`.`c`.knowledge"
    )
    sess.execute("CREATE TABLE `e`.`c`.downstream AS SELECT document_id FROM `e`.`c`.sink")
    assert spark.table("sink").count() == 1
    sess.refresh()
    assert spark.table("sink").count() == 1  # no-op refresh is a no-op
    sess.refresh()
    assert spark.table("sink").count() == 1
    sess.execute("INSERT INTO `e`.`c`.knowledge VALUES ('d2', 'beta')")
    sess.refresh()
    # new source row picked up exactly once, through the whole chain
    assert spark.table("sink").count() == 2
    assert spark.table("downstream").count() == 2
    # literal rows landing in the target AFTER the journaled insert must
    # survive refresh (they join the replay base)
    sess.execute("INSERT INTO `e`.`c`.sink VALUES ('lit', 'x')")
    sess.refresh()
    assert spark.table("sink").count() == 3
    assert spark.table("downstream").count() == 3


def test_start_continuous_runs_journaled_ctas_as_streaming_stages(spark, tmp_path):
    """Statement-level parity with Confluent Flink's execution model: every
    journaled CTAS becomes a STANDING streaming query with its own
    materialized stage topic (parquet dir), chained stages re-read the
    previous stage's topic as a stream, and the reference's global Top-N
    monitoring view (:489-505) is maintained continuously by the
    RecentHistorySink translation under the same view name."""
    sess = FlinkStatementSession(spark)
    src_dir = str(tmp_path / "src")
    seed = spark.createDataFrame(
        [(f"m{i}", "purchase" if i % 2 else "view", i) for i in range(10)],
        "message string, speaker string, seq long",
    ).withColumn("rowtime", F.timestamp_seconds(F.col("seq") + 1_700_000_000))
    seed.write.parquet(src_dir)
    stream = spark.readStream.schema(seed.schema).parquet(src_dir)
    sess.register_streaming_source("messages_conversation", stream)
    sess.execute_script("""
CREATE TABLE `e`.`c`.messages_prospect AS
SELECT message, speaker, rowtime FROM `e`.`c`.messages_conversation
WHERE speaker = 'purchase';

CREATE TABLE `e`.`c`.prospect_upper AS
SELECT upper(message) AS msg, rowtime FROM `e`.`c`.messages_prospect;

CREATE VIEW `e`.`c`.recent_conversation_history AS
WITH ranked_messages AS (
  SELECT message, speaker, $rowtime,
    ROW_NUMBER() OVER (ORDER BY $rowtime DESC) AS msg_rank
  FROM `e`.`c`.messages_prospect
)
SELECT message, speaker, $rowtime FROM ranked_messages WHERE msg_rank <= 3;
""")
    out = str(tmp_path / "stages")
    handles = sess.start_continuous(out)
    try:
        assert len(handles) == 3  # 2 stage queries + the Top-N sink
        for _ in range(2):  # chained stages: let outputs propagate downstream
            for q in handles:
                q.processAllAvailable()
        routed = spark.read.parquet(f"{out}/messages_prospect")
        assert routed.count() == 5
        assert set(r["speaker"] for r in routed.collect()) == {"purchase"}
        upper = spark.read.parquet(f"{out}/prospect_upper")
        assert {r["msg"] for r in upper.collect()} == {"M1", "M3", "M5", "M7", "M9"}
        hist = spark.table("recent_conversation_history").collect()
        assert [r["message"] for r in hist] == ["m5", "m7", "m9"]  # latest-3, ASC
    finally:
        for q in handles:
            q.stop()


def test_continuous_topn_view_requires_desc(spark, tmp_path):
    """An ASC global Top-N (oldest-n) must NOT be maintained by the
    RecentHistorySink (which always keeps max-ts rows) — the translation
    declines and the view stays virtual (ADVICE r4)."""
    sess = FlinkStatementSession(spark)
    src_dir = str(tmp_path / "src")
    seed = spark.createDataFrame(
        [(f"m{i}", "p", i) for i in range(4)], "message string, speaker string, seq long"
    ).withColumn("rowtime", F.timestamp_seconds(F.col("seq") + 1_700_000_000))
    seed.write.parquet(src_dir)
    sess.register_streaming_source(
        "src_msgs", spark.readStream.schema(seed.schema).parquet(src_dir)
    )
    asc = ("SELECT message, rowtime FROM "
           "(SELECT message, rowtime FROM src_msgs ORDER BY rowtime ASC LIMIT 2) AS r")
    assert sess._continuous_topn_view("v_asc", asc, str(tmp_path / "o1")) is None
    bare = ("SELECT message, rowtime FROM "
            "(SELECT message, rowtime FROM src_msgs ORDER BY rowtime LIMIT 2) AS r")
    assert sess._continuous_topn_view("v_bare", bare, str(tmp_path / "o2")) is None
    desc = ("SELECT message, rowtime FROM "
            "(SELECT message, rowtime FROM src_msgs ORDER BY rowtime DESC LIMIT 2) AS r")
    q = sess._continuous_topn_view("v_desc", desc, str(tmp_path / "o3"))
    assert q is not None
    try:
        q.processAllAvailable()
        assert [r["message"] for r in spark.table("v_desc").collect()] == ["m2", "m3"]
    finally:
        q.stop()


def test_ctas_refresh_picks_up_new_inserts(spark):
    sess = FlinkStatementSession(spark)
    sess.execute("CREATE TABLE `e`.`c`.src (message STRING NOT NULL, speaker STRING)")
    sess.execute("INSERT INTO `e`.`c`.src VALUES ('m1', 'prospect')")
    sess.execute(
        "CREATE TABLE `e`.`c`.routed AS SELECT * FROM `e`.`c`.src WHERE speaker = 'prospect'"
    )
    assert spark.table("routed").count() == 1
    sess.execute("INSERT INTO `e`.`c`.src VALUES ('m2', 'prospect')")
    assert spark.table("routed").count() == 1  # snapshot semantics
    sess.refresh()  # batch-style equivalent of Flink's continuous CTAS
    assert spark.table("routed").count() == 2


def test_source_config_maps_table_options_to_kafka(spark):
    """DDL catalog → streaming seam: a Kafka-backed CREATE TABLE yields the
    open_message_stream config with the reference's consumer options mapped
    (isolation level, startup mode → startingOffsets)."""
    from flink_sql_ai_meetingcoach_azure_spark.sources.kafka import (
        KafkaSourceConfig,
        build_kafka_options,
    )

    sess = FlinkStatementSession(spark)
    sess.execute("""
CREATE TABLE `e`.`c`.messages_conversation (message STRING NOT NULL, speaker STRING)
WITH ('kafka.consumer.isolation-level' = 'read-uncommitted')""")
    sess.execute(
        "ALTER TABLE `e`.`c`.messages_conversation SET ('scan.startup.mode' = 'earliest-offset')"
    )
    cfg = sess.source_config("messages_conversation", "broker:9092")
    assert cfg["type"] == "kafka"
    assert cfg["topic"] == "messages_conversation"
    assert cfg["starting_offsets"] == "earliest"
    assert cfg["extra"] == {"kafka.isolation.level": "read_uncommitted"}
    opts = build_kafka_options(
        KafkaSourceConfig(
            bootstrap_servers=cfg["bootstrap_servers"],
            topic=cfg["topic"],
            starting_offsets=cfg["starting_offsets"],
            extra=cfg["extra"],
        )
    )
    assert opts["subscribe"] == "messages_conversation"
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.isolation.level"] == "read_uncommitted"
    # non-kafka connectors refuse
    sess.execute(
        "CREATE TABLE `e`.`c`.km (document_id STRING) WITH ('connector' = 'mongodb')"
    )
    with pytest.raises(ValueError):
        sess.source_config("km", "broker:9092")


def test_start_streaming_pipeline_from_ddl_session(spark, tmp_path):
    """A DDL session drives the CONTINUOUS chain (the reference's execution
    model) from a file-source stand-in: the source config reaches the
    session as a stream through open_message_stream, the script's CREATE
    MODELs supply the models, start_continuous writes one parquet dir per
    stage, and the final stage carries the coaching output."""
    import json as _json
    import os

    from flink_sql_ai_meetingcoach_azure_spark.ddl import reference_pipeline_script
    from flink_sql_ai_meetingcoach_azure_spark.sources.kafka import open_message_stream

    src = str(tmp_path / "msgs")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for m, s in [("need pricing text body 2", "prospect"), ("hi", "salesperson")]:
            f.write(
                _json.dumps(
                    {"message": m, "speaker": s, "rowtime": "2026-01-01T10:00:00"}
                )
                + "\n"
            )
    schema = T.StructType(
        [
            T.StructField("message", T.StringType()),
            T.StructField("speaker", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )
    docs = spark.createDataFrame(
        [(f"d{i}.md", f"doc {i}", f"c{i}", f"text body {i} " * 30) for i in range(4)],
        ["document_id", "document_name", "document_category", "document_text"],
    )

    sess = FlinkStatementSession(spark, mock_dim=32)
    sess.register_source("knowledge", docs)
    sess.register_streaming_source(
        "messages_conversation",
        open_message_stream(
            spark, {"type": "file", "path": src, "schema": schema, "format": "json"}
        ),
    )
    sess.execute_script(reference_pipeline_script())
    assert set(sess.models) == {"openaiembed", "coaching_response_generator"}
    queries = sess.start_continuous(str(tmp_path / "stages"))
    try:
        for _ in range(4):  # one pass per chained stage
            for q in queries:
                q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    final = spark.read.parquet(str(tmp_path / "stages" / "messages_prospect_rag_llm_response"))
    rows = final.collect()
    assert [r["message"] for r in rows] == ["need pricing text body 2"]
    assert rows[0]["coaching_response"]


def test_show_describe_explain(spark):
    sess = FlinkStatementSession(spark)
    sess.execute("CREATE TABLE `e`.`c`.k (document_id STRING, document_text STRING)")
    sess.execute("""
CREATE MODEL openaiembed INPUT (input STRING) OUTPUT (embedding ARRAY<FLOAT>)
WITH ('provider' = 'azureopenai', 'task' = 'embedding')""")
    tables = {r["table_name"]: r for r in sess.execute("SHOW TABLES").collect()}
    assert tables["k"]["connector"] == "kafka"
    models = {r["model_name"]: r for r in sess.execute("SHOW MODELS").collect()}
    assert models["openaiembed"]["task"] == "embedding"
    desc = sess.execute("DESCRIBE `e`.`c`.k").collect()
    assert {r["col_name"] for r in desc} >= {"document_id", "document_text"}
    plan = "\n".join(
        r["plan"]
        for r in sess.execute(
            "EXPLAIN SELECT document_id, x2 FROM `e`.`c`.k "
            "CROSS JOIN UNNEST(ML_CHARACTER_TEXT_SPLITTER(document_text, 200, 20, "
            "'###', false, false, true, 'START')) AS t(x2)"
        ).collect()
    )
    assert "Generate explode" in plan or "explode" in plan


@pytest.fixture(scope="module")
def ref_pipeline(spark):
    docs = spark.createDataFrame(
        [
            (
                f"cat{i % 3}/doc{i}.md",
                f"doc{i}.md",
                f"cat{i % 3}",
                " ".join(f"w{i}t{j} tok{(i * j) % 17}" for j in range(120)),
            )
            for i in range(8)
        ],
        ["document_id", "document_name", "document_category", "document_text"],
    )
    msgs = spark.createDataFrame(
        [
            ("hello pricing w3t5 tok4", "prospect", "2026-01-01T10:00:00"),
            ("ignore me", "salesperson", "2026-01-01T10:00:01"),
            ("competitor w5t2 tok9 question", "prospect", "2026-01-01T10:00:02"),
        ],
        ["message", "speaker", "rowtime"],
    ).withColumn("rowtime", F.to_timestamp("rowtime"))
    sess = run_reference_pipeline(spark, docs, msgs, mock_dim=64)
    return sess, docs, msgs


def test_reference_script_end_to_end(spark, ref_pipeline):
    sess, docs, msgs = ref_pipeline
    out = spark.table("messages_prospect_rag_llm_response")
    assert out.columns == ["message", "rag_results_string", "coaching_response"]
    rows = out.collect()
    assert {r["message"] for r in rows} == {
        "hello pricing w3t5 tok4",
        "competitor w5t2 tok9 question",
    }  # salesperson routed out (stage 6.1)
    # monitoring view (stage 8.1) is SQL-queryable and ASC-ordered
    hist = spark.sql("SELECT message FROM recent_conversation_history").collect()
    assert len(hist) == 3
    # chunked+embedded knowledge flowed through both topics (stage 5.1)
    assert spark.table("knowledge_mongodb").count() == spark.table(
        "knowledge_embeddings_chunked"
    ).count()
    assert sess.tables["knowledge_mongodb"].connector == "mongodb"


def test_reference_script_matches_programmatic_pipeline(spark, ref_pipeline):
    """The DDL statement chain and plans/coaching.py produce BYTE-EQUAL
    (message, rag_results_string, coaching_response) rows on the same
    sources — the 'same query surface' guarantee."""
    from flink_sql_ai_meetingcoach_azure_spark.plans.coaching import coaching_pipeline

    sess, docs, msgs = ref_pipeline
    ddl_rows = {r["message"]: r for r in spark.table("messages_prospect_rag_llm_response").collect()}
    prog = coaching_pipeline(msgs, spark.table("knowledge_mongodb"), _registry(64), k=3).collect()
    assert len(prog) == len(ddl_rows) == 2
    for r in prog:
        d = ddl_rows[r["message"]]
        assert d["rag_results_string"] == r["rag_results_string"]
        assert d["coaching_response"] == r["coaching_response"]


def test_ddl_chunker_matches_python_chunker(spark, ref_pipeline):
    """Stage 5.1's SQL ML_CHARACTER_TEXT_SPLITTER equals the Python
    chunk_text on every document (same 8 reference parameters)."""
    from flink_sql_ai_meetingcoach_azure_spark.functions.chunking import chunk_text

    sess, docs, msgs = ref_pipeline
    got = {
        (r["document_id"], r["chunks"])
        for r in spark.table("knowledge_embeddings_chunked")
        .select("document_id", "chunks")
        .collect()
    }
    want = set()
    for d in docs.collect():
        for c in chunk_text(d["document_text"], 200, 20, "###", False, False, True, "START"):
            want.add((d["document_id"], c))
    assert got == want


def test_reference_script_runs_continuously(spark, tmp_path):
    """The WHOLE reference script under Flink's actual execution model:
    messages stream in, all four CTAS stages run as standing queries with
    per-stage topics, the VECTOR_SEARCH lateral takes the streaming-legal
    GEMM path, the monitoring view updates continuously — and the final
    stage topic's rows are BYTE-EQUAL to the batch statement chain's."""
    from flink_sql_ai_meetingcoach_azure_spark.ddl import (
        run_reference_pipeline_continuous,
    )

    docs = spark.createDataFrame(
        [
            (
                f"cat{i % 3}/doc{i}.md",
                f"doc{i}.md",
                f"cat{i % 3}",
                " ".join(f"w{i}t{j} tok{(i * j) % 17}" for j in range(120)),
            )
            for i in range(8)
        ],
        ["document_id", "document_name", "document_category", "document_text"],
    )
    msgs = spark.createDataFrame(
        [
            ("hello pricing w3t5 tok4", "prospect", "2026-01-01T10:00:00"),
            ("ignore me", "salesperson", "2026-01-01T10:00:01"),
            ("competitor w5t2 tok9 question", "prospect", "2026-01-01T10:00:02"),
        ],
        ["message", "speaker", "rowtime"],
    ).withColumn("rowtime", F.to_timestamp("rowtime"))
    src_dir = str(tmp_path / "msgs_topic")
    msgs.write.parquet(src_dir)
    stream = spark.readStream.schema(msgs.schema).parquet(src_dir)

    out = str(tmp_path / "stages")
    sess, handles = run_reference_pipeline_continuous(
        spark, docs, stream, out, mock_dim=64
    )
    try:
        for _ in range(4):  # 4 chained stages: let each output propagate
            for q in handles:
                q.processAllAvailable()
        final = spark.read.parquet(f"{out}/messages_prospect_rag_llm_response")
        cont_rows = {r["message"]: r for r in final.collect()}
        assert set(cont_rows) == {
            "hello pricing w3t5 tok4",
            "competitor w5t2 tok9 question",
        }
        # continuous output == batch statement-chain output, byte for byte
        batch_sess = run_reference_pipeline(spark, docs, msgs, mock_dim=64)
        for r in spark.table("messages_prospect_rag_llm_response").collect():
            c = cont_rows[r["message"]]
            assert c["rag_results_string"] == r["rag_results_string"]
            assert c["coaching_response"] == r["coaching_response"]
        # the monitoring view updated continuously (latest-6 of 3 messages)
        hist = spark.sql(
            "SELECT message FROM global_temp.recent_conversation_history"
        ).collect()
        assert len(hist) == 3
    finally:
        for q in handles:
            q.stop()


def test_reference_script_view_survives_restart(spark, tmp_path):
    """The verbatim script's monitoring view reads the SOURCE stream
    (messages_conversation), not a stage topic. Across a stop and a
    restart over the same out_root, its latest-6 holds the rows from both
    sides of the restart."""
    from flink_sql_ai_meetingcoach_azure_spark.ddl import (
        run_reference_pipeline_continuous,
    )

    docs = spark.createDataFrame(
        [(f"kb/doc{i}.md", f"doc{i}.md", "kb", f"pricing tier {i} ### seats " * 20)
         for i in range(3)],
        ["document_id", "document_name", "document_category", "document_text"],
    )
    src_dir = str(tmp_path / "msgs_topic")
    out = str(tmp_path / "stages")
    schema = "message string, speaker string, rowtime timestamp"

    def publish(lo, hi):
        spark.createDataFrame(
            [(f"m{i}", "prospect" if i % 2 else "salesperson", i) for i in range(lo, hi)],
            "message string, speaker string, seq long",
        ).select(
            "message", "speaker",
            F.timestamp_seconds(F.col("seq") + 1_700_000_000).alias("rowtime"),
        ).write.mode("append").parquet(src_dir)

    def run():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        _, handles = run_reference_pipeline_continuous(spark, docs, stream, out, mock_dim=32)
        try:
            for _ in range(4):
                for q in handles:
                    q.processAllAvailable()
        finally:
            for q in handles:
                q.stop()
        return [r["message"] for r in spark.table("recent_conversation_history").collect()]

    publish(0, 4)
    assert run() == ["m0", "m1", "m2", "m3"]
    publish(4, 6)
    assert run() == [f"m{i}" for i in range(6)]
    final = spark.read.parquet(f"{out}/messages_prospect_rag_llm_response")
    assert sorted(r["message"] for r in final.collect()) == ["m1", "m3", "m5"]


def test_start_continuous_streaming_insert_select_and_virtual_view(spark, tmp_path):
    """The two start_continuous paths the CTAS test doesn't hit: a
    journaled INSERT-SELECT over a streaming source becomes its own
    standing stage query, and a non-Top-N view over a streaming parent
    stays virtual but composes into downstream consumers."""
    sess = FlinkStatementSession(spark)
    src_dir = str(tmp_path / "src")
    seed = spark.createDataFrame(
        [(f"m{i}", "prospect" if i % 2 else "bot") for i in range(8)],
        "message string, speaker string",
    )
    seed.write.parquet(src_dir)
    sess.register_streaming_source(
        "msgs", spark.readStream.schema(seed.schema).parquet(src_dir)
    )
    sess.execute_script("""
CREATE TABLE routed (message STRING, speaker STRING);

INSERT INTO routed SELECT message, speaker FROM msgs WHERE speaker = 'prospect';

CREATE VIEW shouty AS SELECT upper(message) AS msg FROM routed;

CREATE TABLE shouty_sink AS SELECT msg FROM shouty;
""")
    out = str(tmp_path / "stages")
    handles = sess.start_continuous(out)
    try:
        assert len(handles) == 2  # the INSERT stage + the CTAS over the view
        for _ in range(2):
            for q in handles:
                q.processAllAvailable()
        routed = spark.read.parquet(f"{out}/routed")
        assert routed.count() == 4
        sink = spark.read.parquet(f"{out}/shouty_sink")
        assert {r["msg"] for r in sink.collect()} == {"M1", "M3", "M5", "M7"}
    finally:
        for q in handles:
            q.stop()


def test_start_continuous_restart_is_exactly_once(spark, tmp_path):
    """Stop-and-restart semantics (the reference's statements survive
    restarts via Flink checkpoints): a second start_continuous over the same
    out_root resumes every stage from its checkpoint — pre-restart source
    rows are NOT reprocessed into the stage topics — and the Top-N view
    keeps its pre-restart history (re-seeded from its own buffer log in its
    checkpoint)."""
    sess = FlinkStatementSession(spark)
    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "stages")

    def rows(lo, hi):
        df = spark.createDataFrame(
            [(f"m{i}", "prospect", i) for i in range(lo, hi)],
            "message string, speaker string, seq long",
        )
        return df.withColumn("rowtime", F.timestamp_seconds(F.col("seq") + 1_700_000_000)).drop("seq")

    rows(0, 4).write.mode("append").parquet(src_dir)
    schema = "message string, speaker string, rowtime timestamp"
    sess.register_streaming_source(
        "messages_conversation", spark.readStream.schema(schema).parquet(src_dir)
    )
    sess.execute_script("""
CREATE TABLE routed AS
SELECT message, speaker, rowtime FROM messages_conversation WHERE speaker = 'prospect';

CREATE VIEW recent_conversation_history AS
WITH ranked AS (
  SELECT message, speaker, rowtime,
    ROW_NUMBER() OVER (ORDER BY rowtime DESC) AS rk
  FROM routed
)
SELECT message, speaker, rowtime FROM ranked WHERE rk <= 3;
""")
    h1 = sess.start_continuous(out)
    for _ in range(2):
        for q in h1:
            q.processAllAvailable()
    for q in h1:
        q.stop()
    assert spark.read.parquet(f"{out}/routed").count() == 4

    # new source rows land while "down"; restart resumes from checkpoints
    rows(4, 6).write.mode("append").parquet(src_dir)
    h2 = sess.start_continuous(out)
    try:
        for _ in range(2):
            for q in h2:
                q.processAllAvailable()
        routed = spark.read.parquet(f"{out}/routed")
        msgs = [r["message"] for r in routed.collect()]
        assert sorted(msgs) == [f"m{i}" for i in range(6)]  # exactly once
        assert len(msgs) == len(set(msgs))
        # view: latest-3 spans the restart (m5, m4 new; m3 pre-restart)
        hist = [r["message"] for r in spark.table("recent_conversation_history").collect()]
        assert hist == ["m3", "m4", "m5"]
    finally:
        for q in h2:
            q.stop()
