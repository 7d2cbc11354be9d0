"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship RAG coaching pipeline (the reference's
headline query, SURVEY.md §3.2) on sf0.001. ``queries()`` /``oracle_sql()``
expose one entry per implemented operator from SURVEY.md §2 — implemented in
flink_sql_ai_meetingcoach_azure_spark/queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Round 9 (VERDICT r8 #7): the flagship is now the HASH-VERIFIED
    coaching chain ``rag_pipeline_verified`` — same three-column output
    schema (message, rag_results_string, coaching_response) as the
    rows-only ``rag_pipeline`` it replaced (retired r11), but every stage (embed →
    top-3 retrieval → prompt CONCAT → generation) is value-checked
    against a pure-SQL oracle, so the smoke check carries value
    verification instead of only row-count."""
    return QUERIES["rag_pipeline_verified"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query. As of r11 EVERY registry entry is
    oracle-backed — the mock model providers have closed SQL forms, so
    even the ML_PREDICT / VECTOR_SEARCH chains are value-verified."""
    return {name: spec.sql for name, spec in QUERIES.items()}
