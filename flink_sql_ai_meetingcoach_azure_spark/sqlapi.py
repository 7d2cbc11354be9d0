"""SQL-facing surface: register the engine's functions with ``spark.udf``
so the reference's Flink SQL statements port ~1:1 into ``spark.sql``.

Reference statement shapes covered (terraform/generate_personalized_commands.sh):

- ``ML_CHARACTER_TEXT_SPLITTER(text, 200, 20, '###', false, false, true,
  'START')`` (:322-327) → ``ml_character_text_splitter(...)`` — same 8
  positional parameters;
- ``LATERAL TABLE(ML_PREDICT('openaiembed', chunks))`` (:332-335) →
  ``ml_embed('openaiembed', chunks)`` (1-in-1-out lateral joins collapse to
  scalar calls in Spark SQL);
- ``LATERAL TABLE(ml_predict('coaching_response_generator', prompt))``
  (:417-432) → ``ml_generate('coaching_response_generator', prompt)``;
- ``VECTOR_SEARCH(tbl, k, DESCRIPTOR(col), q)`` (:379-384) is a
  table-valued operator → :func:`register_vector_search_view` materializes
  the equivalent join as a temp view (Spark SQL has no user-defined TVFs
  that take tables as arguments).

Model dispatch: Flink passes the model name as a SQL literal; here the
registered functions capture the :class:`ModelRegistry` and dispatch on the
first argument. Registration pickles the registry as it is then, so a model
added later (``registry.register_*``) is callable from SQL after
:func:`register_model_sql` runs again, as ``CREATE MODEL`` does.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_sql_ai_meetingcoach_azure_spark.functions.chunking import chunk_text
from flink_sql_ai_meetingcoach_azure_spark.models.registry import ModelRegistry
from flink_sql_ai_meetingcoach_azure_spark.operators import sketches as sk
from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import vector_search


def register_engine_sql(spark: SparkSession, registry: ModelRegistry) -> None:
    """Register the engine's SQL functions on this session."""

    @F.udf(T.ArrayType(T.StringType()))
    def ml_character_text_splitter(
        text, chunk_size, chunk_overlap, separator, is_regex, trim, keep_separator, position
    ):
        return chunk_text(
            text,
            int(chunk_size),
            int(chunk_overlap),
            separator,
            bool(is_regex),
            bool(trim),
            bool(keep_separator),
            position,
        )

    spark.udf.register("ml_character_text_splitter", ml_character_text_splitter)
    register_model_sql(spark, registry)
    register_sketch_sql(spark)


def register_model_sql(spark: SparkSession, registry: ModelRegistry) -> None:
    """Register the model-dispatching inference functions ``ml_embed`` and
    ``ml_generate``: Arrow-batched, grouped by model name within each batch
    so providers still see amortized batches. Registration pickles
    ``registry`` as it is now, so call this again after adding a model."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def ml_embed(model: pd.Series, text: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(text), dtype=object)
        for name in model.unique():
            mask = model == name
            provider = registry.get(name).provider
            out[mask] = pd.Series(
                provider.embed(text[mask].tolist()), index=text[mask].index
            )
        return out

    spark.udf.register("ml_embed", ml_embed.asNondeterministic())

    @F.pandas_udf(T.StringType())
    def ml_generate(model: pd.Series, prompt: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(prompt), dtype=object)
        for name in model.unique():
            mask = model == name
            provider = registry.get(name).provider
            out[mask] = pd.Series(
                provider.generate(prompt[mask].tolist()), index=prompt[mask].index
            )
        return out

    spark.udf.register("ml_generate", ml_generate.asNondeterministic())


def register_sketch_sql(spark: SparkSession) -> None:
    """SQL surface for the sketch family: the Count-Min / HyperLogLog /
    KMV / HDR / bitmap building blocks as Spark SQL *scalar functions*
    (``CREATE FUNCTION ... RETURN <expr>`` — pure Catalyst expressions,
    codegen'd and constant-foldable, never a Python UDF). Each body is
    the layout's template from ``operators/sketches.py``, the one the
    registry entries and the rollup sink build with, so a SQL user
    composes the same sketches:

    - ``sketch_hash60(s)`` — the 60-bit md5 BIGINT hash every sketch
      derives from;
    - ``cm_bucket(s, r)`` — Count-Min bucket for hash row r;
    - ``hll_bucket(s)`` / ``hll_rho(s)`` — HLL register coordinates;
    - ``hll_estimate(nonzero, s_nonzero)`` — the estimate from the two
      exact-BIGINT register aggregates (with the small-range correction);
    - ``kmv_est_ppm(kmv_inter, u_n)`` — KMV Jaccard ppm, zero-guarded;
    - ``hdr_bucket(v)`` / ``hdr_lo(bucket)`` — HDR bucket of a positive
      BIGINT and the bucket's exact-integer lower bound;
    - ``bitmap_word(id)`` / ``bitmap_bit(id)`` — exact-distinct bitmap
      coordinates: ``SELECT k, sum(bit_count(w)) FROM (SELECT k,
      bitmap_word(id) wi, bit_or(bitmap_bit(id)) w ... GROUP BY k, wi)
      GROUP BY k``.
    """
    h = sk.HASH60.format(s="s")
    fns = {
        "sketch_hash60(s STRING) RETURNS BIGINT": h,
        "cm_bucket(s STRING, r INT) RETURNS BIGINT": sk.CM_BUCKET.format(s="s", r="r"),
        "hll_bucket(s STRING) RETURNS BIGINT": sk.HLL_BUCKET.format(h=h),
        "hll_rho(s STRING) RETURNS BIGINT": sk.HLL_RHO.format(h=h),
        "hll_estimate(nonzero BIGINT, s_nonzero BIGINT) RETURNS DOUBLE": (
            sk.HLL_ESTIMATE.format(nonzero="nonzero", s_nonzero="s_nonzero")
        ),
        "kmv_est_ppm(kmv_inter BIGINT, u_n BIGINT) RETURNS BIGINT": (
            sk.JACCARD_PPM.format(inter="kmv_inter", union="u_n")
        ),
        "hdr_bucket(v BIGINT) RETURNS BIGINT": sk.HDR_BUCKET.format(v="v"),
        "hdr_lo(bucket BIGINT) RETURNS BIGINT": sk.HDR_LO.format(b="bucket"),
        "bitmap_word(id BIGINT) RETURNS BIGINT": sk.BITMAP_WORD.format(id="id"),
        "bitmap_bit(id BIGINT) RETURNS BIGINT": sk.BITMAP_BIT.format(id="id"),
    }
    for sig, body in fns.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {sig} RETURN {body}")


def register_vector_search_view(
    spark: SparkSession,
    view_name: str,
    query_table: str,
    index_table: str,
    k: int = 3,
    query_col: str = "embedding",
    index_col: str = "embedding",
    payload_cols: list[str] | None = None,
    output_col: str = "search_results",
) -> None:
    """``LATERAL TABLE(VECTOR_SEARCH(index, k, DESCRIPTOR(col), q.col))`` as
    a named view over registered tables — subsequent SQL selects from it."""
    out = vector_search(
        spark.table(query_table),
        spark.table(index_table),
        k=k,
        query_col=query_col,
        index_col=index_col,
        payload_cols=payload_cols,
        output_col=output_col,
    )
    out.createOrReplaceTempView(view_name)
