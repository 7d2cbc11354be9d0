"""SQL surface: the reference's Flink SQL statements ported ~1:1 into
spark.sql (generate_personalized_commands.sh:315-433 shapes)."""

from __future__ import annotations

import json

from flink_sql_ai_meetingcoach_azure_spark.models import default_registry
from flink_sql_ai_meetingcoach_azure_spark.sqlapi import (
    register_engine_sql,
    register_vector_search_view,
)


def test_chunk_embed_ingest_statement(spark):
    """The chunk+embed ingest CTAS (:315-335) as one SQL statement."""
    reg = default_registry(dim=16)
    register_engine_sql(spark, reg)
    spark.createDataFrame(
        [("doc/a.md", "Alpha section ### beta section ### gamma section")],
        ["document_id", "document_text"],
    ).createOrReplaceTempView("knowledge")
    out = spark.sql("""
        SELECT document_id, chunks, ml_embed('openaiembed', chunks) AS embedding
        FROM (
          SELECT document_id,
                 explode(ml_character_text_splitter(
                   document_text, 200, 20, '###', false, false, true, 'START')) AS chunks
          FROM knowledge
        )
    """).collect()
    assert len(out) >= 1
    assert all(len(r["embedding"]) == 16 for r in out)


def test_full_coaching_statement_chain(spark):
    """Stages a, b, d of the coaching chain (:347-433) in SQL; stage c via
    the vector-search view."""
    reg = default_registry(dim=16)
    register_engine_sql(spark, reg)
    spark.createDataFrame(
        [("Pricing seems high", "prospect"), ("Noted!", "salesperson")],
        ["message", "speaker"],
    ).createOrReplaceTempView("messages_conversation")
    # stage a (:347-350)
    spark.sql(
        "SELECT * FROM messages_conversation WHERE speaker = 'prospect'"
    ).createOrReplaceTempView("messages_prospect")
    # stage b (:355-362)
    spark.sql("""
        SELECT message, speaker, ml_embed('openaiembed', message) AS embedding
        FROM messages_prospect
    """).createOrReplaceTempView("messages_prospect_embeddings")
    # knowledge index
    spark.createDataFrame(
        [("kb/pricing.md", "Pricing reframing ### value first")],
        ["document_id", "chunks"],
    ).createOrReplaceTempView("_raw_kb")
    spark.sql("""
        SELECT document_id, chunks, ml_embed('openaiembed', chunks) AS embedding
        FROM _raw_kb
    """).createOrReplaceTempView("knowledge_embeddings")
    # stage c (:367-385): VECTOR_SEARCH as a view
    register_vector_search_view(
        spark, "messages_prospect_rag_results",
        "messages_prospect_embeddings", "knowledge_embeddings",
        k=1, payload_cols=["document_id", "chunks"], output_col="rag_results",
    )
    # stage d (:412-433): prompt CONCAT + generation
    rows = spark.sql("""
        SELECT message,
               CAST(to_json(rag_results) AS STRING) AS rag_results_string,
               ml_generate('coaching_response_generator',
                 CONCAT('## PROSPECT MESSAGE: ', message,
                        '\\n\\n## RAG DOCUMENTS:\\nDocument 1: ',
                        rag_results[0].document_id, '\\n', rag_results[0].chunks)
               ) AS coaching_response
        FROM messages_prospect_rag_results
    """).collect()
    assert len(rows) == 1
    assert "kb/pricing.md" in rows[0]["rag_results_string"]
    payload = json.loads(
        rows[0]["coaching_response"].replace("```json", "").replace("```", "")
    )
    assert payload["sources"][0]["document_id"] == "kb/pricing.md"


def test_model_dispatch_two_models_one_column(spark):
    """The dispatching UDF handles mixed model names in one batch."""
    reg = default_registry(dim=8)
    register_engine_sql(spark, reg)
    spark.createDataFrame(
        [("openaiembed", "a"), ("openaiembed", "b")], ["m", "t"]
    ).createOrReplaceTempView("mix")
    out = spark.sql("SELECT ml_embed(m, t) AS e FROM mix").collect()
    assert all(len(r["e"]) == 8 for r in out)


def test_sketch_functions_through_sql(spark):
    """The sketch family through pure SQL (VERDICT r5 #8): compose an HLL
    vocabulary estimate per language with the registered scalar functions
    and match q_hll_vocab's register state AND estimate exactly; spot-check
    cm_bucket against the Count-Min entry's hashing and kmv_est_ppm's
    zero guard."""
    from flink_sql_ai_meetingcoach_azure_spark.models import default_registry
    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES, _prep

    register_engine_sql(spark, default_registry(dim=16))
    _prep(spark)
    sf = "/root/testdata/sf0.001"
    spark.read.parquet(f"{sf}/documents.parquet").createOrReplaceTempView("docs_sql")

    got = {
        r.lang: (r.nonzero_buckets, r.s_nonzero, r.hll_est)
        for r in spark.sql("""
            WITH terms AS (
              SELECT DISTINCT lang, term
              FROM docs_sql
              LATERAL VIEW explode(filter(split(lower(text), '\\\\s+'),
                                          t -> length(t) > 0)) AS term
            ),
            regs AS (
              SELECT lang, hll_bucket(term) AS bucket, max(hll_rho(term)) AS rho
              FROM terms GROUP BY lang, hll_bucket(term)
            ),
            per AS (
              SELECT lang, count(*) AS nonzero_buckets,
                     sum(shiftleft(1L, 51 - rho)) AS s_nonzero
              FROM regs GROUP BY lang
            )
            SELECT lang, nonzero_buckets, s_nonzero,
                   hll_estimate(nonzero_buckets, s_nonzero) AS hll_est
            FROM per
        """).collect()
    }
    want = {
        r.lang: (r.nonzero_buckets, r.s_scaled, r.hll_est)
        for r in QUERIES["hll_vocab"].fn(spark, sf).collect()
    }
    assert set(got) == set(want)
    for lang, (nz, s_nz, est) in got.items():
        w_nz, w_s_scaled, w_est = want[lang]
        assert nz == w_nz
        # s_scaled = s_nonzero + (m - nonzero) * 2^51 (the zero-bucket fill)
        assert s_nz + (1024 - nz) * (1 << 51) == w_s_scaled
        assert est == w_est, (lang, est, w_est)

    # cm_bucket mirrors md5_bigint_col(term, salt='cm{r}') % 512
    row = spark.sql(
        "SELECT cm_bucket('pricing', 2) AS b, sketch_hash60('pricing') AS h"
    ).collect()[0]
    from flink_sql_ai_meetingcoach_azure_spark.functions.hashing import md5_bigint_col
    from pyspark.sql import functions as F

    exp = spark.range(1).select(
        (md5_bigint_col(F.lit("pricing"), salt="cm2") % 512).alias("b"),
        md5_bigint_col(F.lit("pricing")).alias("h"),
    ).collect()[0]
    assert (row.b, row.h) == (exp.b, exp.h)

    # kmv: ppm estimate + zero guard
    kmv = spark.sql(
        "SELECT kmv_est_ppm(32L, 256L) AS a, kmv_est_ppm(0L, 0L) AS z"
    ).collect()[0]
    assert kmv.a == 125000 and kmv.z == 0


def test_hdr_sketch_functions_through_sql(spark):
    """hdr_bucket / hdr_lo (the SQL surface of the HDR quantile sketch)
    must agree with the DataFrame entry's bucket assignment and bucket
    lower bounds — a SQL user composing the sketch by hand gets the same
    integers."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.sketches import HDR_SUB
    from flink_sql_ai_meetingcoach_azure_spark.queries import _prep, _t
    from flink_sql_ai_meetingcoach_azure_spark.sqlapi import register_sketch_sql

    _prep(spark)
    register_sketch_sql(spark)
    sf = "/root/testdata/sf0.001"
    _t(spark, sf, "lineitem").createOrReplaceTempView("li_hdr")
    got = spark.sql(
        """
        WITH vals AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
                      FROM li_hdr
                      WHERE CAST(round(l_extendedprice*100) AS BIGINT) >= 1),
        b AS (SELECT hdr_bucket(v) AS bucket_id FROM vals)
        SELECT bucket_id, count(*) AS cnt, min(hdr_lo(bucket_id)) AS lo
        FROM b GROUP BY bucket_id
        """
    ).collect()
    # mirror with the entry's inline arithmetic
    want = {
        (r.bucket_id): (r.cnt, r.lo)
        for r in spark.sql(
            f"""
            WITH vals AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
                          FROM li_hdr
                          WHERE CAST(round(l_extendedprice*100) AS BIGINT) >= 1),
            eb AS (SELECT v, length(bin(v)) - 1 AS e FROM vals),
            sb AS (SELECT e, v * {HDR_SUB} div shiftleft(1L, e) - {HDR_SUB} AS sub
                   FROM eb)
            SELECT e * {HDR_SUB} + sub AS bucket_id, count(*) AS cnt,
                   min(({HDR_SUB} + sub) * shiftleft(1L, e) div {HDR_SUB}) AS lo
            FROM sb GROUP BY e * {HDR_SUB} + sub
            """
        ).collect()
    }
    assert len(got) > 0
    for r in got:
        assert want[r.bucket_id] == (r.cnt, r.lo)
    # every value's bucket lower bound is <= the value (sanity of hdr_lo)
    bad = spark.sql(
        """
        SELECT count(*) AS n FROM (
          SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v FROM li_hdr
        ) WHERE v >= 1 AND hdr_lo(hdr_bucket(v)) > v
        """
    ).collect()[0].n
    assert bad == 0


def test_bitmap_distinct_functions_through_sql(spark):
    """bitmap_word / bitmap_bit (the SQL surface of the exact-distinct
    bitmap) composed by hand in SQL must reproduce COUNT(DISTINCT)
    exactly — same layout as queries.q_bitmap_distinct and the rollup
    sink's exact_distinct_col state."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import _prep, _t
    from flink_sql_ai_meetingcoach_azure_spark.sqlapi import register_sketch_sql

    _prep(spark)
    register_sketch_sql(spark)
    sf = "/root/testdata/sf0.001"
    ev = _t(spark, sf, "events")
    ev.createOrReplaceTempView("ev_bmp")
    got = {
        r.event_type: r.n
        for r in spark.sql(
            """
            SELECT event_type, CAST(sum(bit_count(w)) AS BIGINT) AS n FROM (
              SELECT event_type, bitmap_word(user_id) AS wi,
                     bit_or(bitmap_bit(user_id)) AS w
              FROM ev_bmp GROUP BY event_type, bitmap_word(user_id)
            ) GROUP BY event_type
            """
        ).collect()
    }
    want = {
        r.event_type: r.n
        for r in spark.sql(
            "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n "
            "FROM ev_bmp GROUP BY event_type"
        ).collect()
    }
    assert got == want and got
