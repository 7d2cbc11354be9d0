"""The real-time coaching pipeline — the reference's headline query
(SURVEY.md §3.2), expressed as one incremental Spark plan.

Reference stages (4 chained CTAS statements, one intermediate Kafka topic
each — terraform/generate_personalized_commands.sh:347-433):

  a. messages_prospect            = SELECT * WHERE speaker='prospect'
  b. messages_prospect_embeddings = ... ML_PREDICT('openaiembed', message)
  c. messages_prospect_rag_results= ... VECTOR_SEARCH(knowledge_mongodb, 3,
                                        DESCRIPTOR(embedding), qe.embedding)
                                        + rebuild rag_results stripping the
                                        embedding field (:372-376)
  d. messages_prospect_rag_llm_response = prompt CONCAT + ml_predict(
                                        'coaching_response_generator', ...)

Here stages a–d fuse into a single narrow plan (filter → embed UDF →
broadcast vector search → prompt concat → generate UDF): shuffle-free except
the per-query top-k, which is broadcast-side (SURVEY §4.3.4). The continuous
chain, one standing query and topic per stage, runs the reference's own
statements (``ddl.run_reference_pipeline_continuous``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_sql_ai_meetingcoach_azure_spark.functions.text import assemble_coaching_prompt
from flink_sql_ai_meetingcoach_azure_spark.models.registry import ModelRegistry
from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import embed_and_search_numpy


def filter_prospect(messages: DataFrame) -> DataFrame:
    """Stage a (reference :347-350)."""
    return messages.filter(F.col("speaker") == "prospect")


def coaching_pipeline(
    messages: DataFrame,
    knowledge_index: DataFrame,
    registry: ModelRegistry,
    k: int = 3,
    embed_model: str = "openaiembed",
    gen_model: str = "coaching_response_generator",
    exact_retrieval: bool = False,
) -> DataFrame:
    """messages(message, speaker, ...) + index(document_id, chunks,
    embedding) -> (message, rag_results_string, coaching_response)
    matching the reference output schema (kafka_utils.py:362-374).

    Stages b+c run fused: ONE mapInPandas stage embeds the batch (provider
    call) and ranks it against the broadcast index with the shared top-k
    kernel — half the Python worker stages of embed-then-search (see
    :func:`embed_and_search_numpy`). ``exact_retrieval`` selects its
    SQL-oracle ranking (raw dot, 6 dp)."""
    # a. route prospect messages only — pushed below everything expensive
    prospects = filter_prospect(messages).select("message", "speaker")

    # b+c. embed + retrieve top-k; the payload strips embeddings
    # (reference :372-376)
    with_rag = embed_and_search_numpy(
        prospects,
        knowledge_index,
        registry.get(embed_model).provider,
        k=k,
        text_col="message",
        index_col="embedding",
        payload_cols=["document_id", "chunks"],
        embed_col="embedding",
        output_col="rag_results",
        exact=exact_retrieval,
    )

    # d. prompt assembly + generation
    prompt = assemble_coaching_prompt("message", "rag_results", k=k)
    with_prompt = with_rag.withColumn("__prompt", prompt)
    generated = registry.ml_predict(
        with_prompt, gen_model, "__prompt", "coaching_response"
    )
    return generated.select(
        "message",
        F.to_json(F.col("rag_results")).alias("rag_results_string"),
        "coaching_response",
    )
