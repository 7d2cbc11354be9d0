"""Statement-level SQL surface: accept the reference's Flink SQL DDL.

The reference's ENTIRE user interface is SQL statements typed into a Flink
workspace (terraform/generate_personalized_commands.sh): ``CREATE MODEL``
(:215-259), ``CREATE TABLE ... WITH (connector options)`` (:269-305),
``INSERT INTO ... SELECT`` (:313-334), ``CREATE TABLE ... AS SELECT``
(:345-433), ``CREATE VIEW`` (:489-505), ``ALTER TABLE ... SET`` (:514-521)
and ``INSERT INTO ... VALUES`` (:528-545). :class:`FlinkStatementSession`
executes those statement FORMS against the Spark engine, so a user can paste
the reference's script and run it here.

Translation strategy (thin, shape-directed — not a general Flink parser):

- catalog qualifiers ``\\`env\\`.\\`cluster\\`.name`` collapse to the bare
  ``name`` registered as a Spark temp view; ``$rowtime`` (Flink's system
  column) maps to a ``rowtime`` column on the source;
- ``CREATE MODEL name INPUT(..) OUTPUT(col T) WITH('task'=..)`` registers
  the model in a :class:`~..models.registry.ModelRegistry` via a pluggable
  ``provider_factory`` (default: the deterministic mock);
- ``CREATE TABLE name (schema) WITH (options)`` maps Flink column types to
  Spark types and registers an empty table (or a caller-provided source via
  ``register_source`` — the brokerless stand-in for the Kafka-backed
  tables; options are recorded on the :class:`TableSpec`, and a
  ``connector``-less table is Kafka-backed by default as on Confluent);
- SELECT bodies are rewritten Flink → Spark SQL:
  ``CROSS JOIN UNNEST(f(..)) AS t(c)`` → ``LATERAL VIEW explode(f(..)) t AS
  c``; ``LATERAL TABLE(ML_PREDICT('m', e))`` → the scalar ``ml_embed`` /
  ``ml_generate`` call (sqlapi.py) aliased to the model's declared OUTPUT
  column; ``LATERAL TABLE(VECTOR_SEARCH(idx, k, DESCRIPTOR(c), q.e))`` →
  the :func:`~..operators.vector_search.vector_search` operator
  materialized as a scoped temp view; 1-based subscripts ``a[1]`` →
  ``element_at(a, 1)``; ``ARRAY[..]`` → ``array(..)``; ``CAST(ROW(..) AS
  ROW<n T, ..>)`` → ``named_struct('n', ..)``; ``CAST(x AS STRING)`` on a
  complex type → ``to_json(x)`` (Flink's textual rendering of
  ``ARRAY<ROW>`` is engine-specific; JSON is this engine's documented
  rendering, SURVEY.md §7.4.4).

Batch-vs-stream semantics: each CTAS/VIEW materializes a SNAPSHOT plan over
its sources (Flink's are continuous). The statement journal + :meth:`refresh`
re-runs the derived statements after new ``INSERT``\\ s — the batch-style
equivalent of the reference's always-running pipeline; the continuous form
lives in streaming/pipeline.py.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from flink_sql_ai_meetingcoach_azure_spark.models.registry import ModelRegistry
from flink_sql_ai_meetingcoach_azure_spark.sqlapi import register_engine_sql, register_model_sql

__all__ = [
    "FlinkStatementSession",
    "TableSpec",
    "split_statements",
    "strip_comments",
    "normalize_identifiers",
    "rewrite_select",
    "flink_type_to_spark",
]


# ---------------------------------------------------------------------------
# lexical helpers — every scan is quote-aware ('' is the escape, SQL-style)


def _mask(s: str) -> str:
    """Same-length copy with string-literal CONTENTS replaced by \\x00 so
    regex/scans never match inside literals (quotes themselves survive)."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        if s[i] == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        out[i] = out[i + 1] = "\x00"
                        i += 2
                        continue
                    break
                out[i] = "\x00"
                i += 1
        i += 1
    return "".join(out)


def _scan(s: str, open_idx: int, open_ch: str = "(", close_ch: str = ")") -> int:
    """Index of the bracket matching ``s[open_idx]``, skipping literals."""
    masked = _mask(s)
    depth = 0
    for i in range(open_idx, len(s)):
        c = masked[i]
        if c == open_ch:
            depth += 1
        elif c == close_ch:
            depth -= 1
            if depth == 0:
                return i
    raise ValueError(f"unbalanced {open_ch!r} at {open_idx} in {s[open_idx:open_idx+60]!r}")


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split at top-level separators (outside (), [], <> and literals)."""
    masked = _mask(s)
    parts, depth, start = [], 0, 0
    for i, c in enumerate(masked):
        if c in "([<":
            depth += 1
        elif c in ")]>":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in (x.strip() for x in parts) if p]


def strip_comments(sql: str) -> str:
    """Drop ``--`` line comments (quote-aware; the reference embeds one
    inside a CTAS body, generate_personalized_commands.sh:366)."""
    masked = _mask(sql)
    out, i, n = [], 0, len(sql)
    while i < n:
        if masked[i] == "-" and i + 1 < n and masked[i + 1] == "-":
            j = sql.find("\n", i)
            i = n if j < 0 else j
            continue
        out.append(sql[i])
        i += 1
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level ``;``."""
    masked = _mask(script)
    stmts, start = [], 0
    for i, c in enumerate(masked):
        if c == ";":
            stmts.append(script[start:i])
            start = i + 1
    stmts.append(script[start:])
    return [s for s in (x.strip() for x in stmts) if s]


def normalize_identifiers(sql: str) -> str:
    """``\\`env\\`.\\`cluster\\`.name`` → ``name``; bare backtick quotes
    dropped; ``$rowtime`` → ``rowtime`` — all outside string literals."""
    masked = _mask(sql)
    # dotted backticked qualifier prefixes vanish entirely
    spans = [m.span() for m in re.finditer(r"(?:`[^`\x00]*`\s*\.\s*)+", masked)]
    out, prev = [], 0
    for a, b in spans:
        out.append(sql[prev:a])
        prev = b
    out.append(sql[prev:])
    sql = "".join(out)
    masked = _mask(sql)
    sql = "".join(c for c, m in zip(sql, masked) if m != "`")
    masked = _mask(sql)
    out, i = [], 0
    while i < len(sql):
        if masked[i] == "$" and masked[i : i + 8] == "$rowtime":
            out.append("rowtime")
            i += 8
            continue
        out.append(sql[i])
        i += 1
    return "".join(out)


def _parse_quoted_options(s: str) -> dict[str, str]:
    """Parse ``'k' = 'v', ...`` (Flink WITH-clause body; '' unescapes)."""
    toks: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if s[i] == "'":
            buf, i = [], i + 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        buf.append("'")
                        i += 2
                        continue
                    break
                buf.append(s[i])
                i += 1
            toks.append("".join(buf))
            i += 1
        else:
            i += 1
    if len(toks) % 2:
        raise ValueError(f"odd option tokens in WITH clause: {toks[:6]}...")
    return {toks[i]: toks[i + 1] for i in range(0, len(toks), 2)}


# ---------------------------------------------------------------------------
# type mapping (Flink DDL types → Spark types)


def flink_type_to_spark(t: str) -> T.DataType:
    s = t.strip()
    u = s.upper()
    if u.startswith("ARRAY"):
        lt = _scan(s, s.index("<"), "<", ">")
        return T.ArrayType(flink_type_to_spark(s[s.index("<") + 1 : lt]))
    if u.startswith("ROW"):
        lt = _scan(s, s.index("<"), "<", ">")
        fields = []
        for f in _split_top(s[s.index("<") + 1 : lt]):
            name, _, ftype = f.strip().partition(" ")
            fields.append(T.StructField(name, flink_type_to_spark(ftype)))
        return T.StructType(fields)
    if u.startswith("MAP"):
        lt = _scan(s, s.index("<"), "<", ">")
        kv = _split_top(s[s.index("<") + 1 : lt])
        if len(kv) != 2:
            raise ValueError(f"MAP type needs exactly key, value: {t!r}")
        return T.MapType(flink_type_to_spark(kv[0]), flink_type_to_spark(kv[1]))
    if u.startswith("DECIMAL") or u.startswith("NUMERIC"):
        m = re.match(r"\w+\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)", s)
        return T.DecimalType(int(m.group(1)), int(m.group(2) or 0)) if m else T.DecimalType()
    base = re.sub(r"\s*\(.*", "", u)  # VARCHAR(n), TIMESTAMP(3) → bare name
    simple = {
        "STRING": T.StringType(),
        "VARCHAR": T.StringType(),
        "CHAR": T.StringType(),
        "BOOLEAN": T.BooleanType(),
        "TINYINT": T.ByteType(),
        "SMALLINT": T.ShortType(),
        "INT": T.IntegerType(),
        "INTEGER": T.IntegerType(),
        "BIGINT": T.LongType(),
        "FLOAT": T.FloatType(),
        "DOUBLE": T.DoubleType(),
        "BYTES": T.BinaryType(),
        "VARBINARY": T.BinaryType(),
        "DATE": T.DateType(),
        "TIMESTAMP": T.TimestampType(),
        "TIMESTAMP_LTZ": T.TimestampType(),
    }
    if base in simple:
        return simple[base]
    raise ValueError(f"unsupported Flink type {t!r}")


def _parse_columns(body: str) -> T.StructType:
    fields = []
    for col in _split_top(body):
        m = re.match(r"(\w+)\s+(.*?)(\s+NOT\s+NULL)?$", col.strip(), re.S | re.I)
        fields.append(
            T.StructField(m.group(1), flink_type_to_spark(m.group(2)), m.group(3) is None)
        )
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# SELECT-body rewrites (pure string → string, model-aware where needed)


def _rewrite_unnest(sql: str) -> str:
    """``CROSS JOIN UNNEST(expr) AS t(c)`` → ``LATERAL VIEW explode(expr) t
    AS c`` (reference :323-328). explode keeps the join colocated — no
    shuffle, exactly Flink's correlated-unnest semantics for 1→N."""
    pat = re.compile(r"CROSS\s+JOIN\s+UNNEST\s*\(", re.I)
    while True:
        m = pat.search(_mask(sql))
        if not m:
            return sql
        open_i = m.end() - 1
        close_i = _scan(sql, open_i)
        inner = sql[open_i + 1 : close_i]
        tail = sql[close_i + 1 :]
        m2 = re.match(r"\s*AS\s+(\w+)\s*\(\s*(\w+)\s*\)", tail, re.I)
        if not m2:
            raise ValueError("UNNEST must be followed by AS t(col)")
        repl = f"LATERAL VIEW explode({inner}) {m2.group(1)} AS {m2.group(2)}"
        sql = sql[: m.start()] + repl + tail[m2.end() :]


def _rewrite_ml_predict(sql: str, registry: ModelRegistry) -> str:
    """``, LATERAL TABLE(ML_PREDICT('m', expr)) [AS p]`` drops out of FROM
    and the single reference to the model's OUTPUT column (``p.out`` or bare
    ``out``, reference :332-335, :360-361, :417-432) becomes the scalar
    ``ml_embed``/``ml_generate`` call — Flink's 1-in-1-out lateral is a
    column append, which in Spark is just an expression."""
    pat = re.compile(r",\s*LATERAL\s+TABLE\s*\(\s*ML_PREDICT\s*\(\s*'([^']+)'\s*,", re.I)
    while True:
        masked = _mask(sql)
        m = pat.search(masked)
        if not m:
            return sql
        model = sql[m.start(1) : m.end(1)]
        mp_open = masked.rindex("(", m.start(), m.end(1))  # ML_PREDICT's paren
        mp_close = _scan(sql, mp_open)
        expr = sql[m.end() : mp_close].strip()
        m3 = re.match(r"\s*\)", sql[mp_close + 1 :])
        if not m3:
            raise ValueError("malformed LATERAL TABLE(ML_PREDICT(..))")
        lt_end = mp_close + 1 + m3.end()
        m4 = re.match(r"\s+AS\s+(\w+)", sql[lt_end:], re.I)
        alias = m4.group(1) if m4 else None
        entry = registry.get(model)
        fn = "ml_embed" if entry.task == "embedding" else "ml_generate"
        call = f"{fn}('{model}', {expr})"
        sql = sql[: m.start()] + sql[lt_end + (m4.end() if m4 else 0) :]
        ref = (
            rf"\b{alias}\s*\.\s*{entry.output_col}\b"
            if alias
            else rf"\b{entry.output_col}\b"
        )
        mref = re.search(rf"{ref}(\s+AS\s+(\w+))?", _mask(sql), re.I)
        if not mref:
            raise ValueError(
                f"model output column {entry.output_col!r} not referenced in statement"
            )
        out_name = mref.group(2) or entry.output_col
        sql = sql[: mref.start()] + f"{call} AS {out_name}" + sql[mref.end() :]


def _rewrite_subscripts(sql: str) -> str:
    """1-based ``a[i]`` → ``element_at(a, i)`` (F2; Spark's ``[]`` is
    0-based, Flink's and element_at are 1-based)."""
    pat = re.compile(r"([A-Za-z_][\w.]*)\s*\[\s*(\d+)\s*\]")
    while True:
        m = pat.search(_mask(sql))
        if not m:
            return sql
        sql = sql[: m.start()] + f"element_at({m.group(1)}, {m.group(2)})" + sql[m.end() :]


def _rewrite_array_ctor(sql: str) -> str:
    """``ARRAY[a, b]`` → ``array(a, b)`` (F5)."""
    pat = re.compile(r"\bARRAY\s*\[", re.I)
    while True:
        masked = _mask(sql)
        m = pat.search(masked)
        if not m:
            return sql
        open_i = masked.index("[", m.start())
        close_i = _scan(sql, open_i, "[", "]")
        sql = sql[: m.start()] + "array(" + sql[open_i + 1 : close_i] + ")" + sql[close_i + 1 :]


def _rewrite_cast_row(sql: str) -> str:
    """``CAST(ROW(a, b) AS ROW<x T, y T>)`` → ``named_struct('x', a, 'y',
    b)`` (F4, reference :372-376). Field types are carried by the argument
    expressions (the reference casts STRING fields from STRING columns)."""
    pat = re.compile(r"\bCAST\s*\(\s*ROW\s*\(", re.I)
    while True:
        masked = _mask(sql)
        m = pat.search(masked)
        if not m:
            return sql
        row_open = m.end() - 1
        row_close = _scan(sql, row_open)
        m2 = re.match(r"\s*AS\s+ROW\s*<", sql[row_close + 1 :], re.I)
        if not m2:
            raise ValueError("CAST(ROW(..)) must target ROW<..>")
        angle_open = row_close + 1 + m2.end() - 1
        angle_close = _scan(sql, angle_open, "<", ">")
        m3 = re.match(r"\s*\)", sql[angle_close + 1 :])
        if not m3:
            raise ValueError("malformed CAST(ROW(..) AS ROW<..>)")
        args = _split_top(sql[row_open + 1 : row_close])
        names = [f.strip().split()[0] for f in _split_top(sql[angle_open + 1 : angle_close])]
        if len(args) != len(names):
            raise ValueError("ROW arity mismatch with ROW<..> field list")
        repl = "named_struct(" + ", ".join(f"'{n}', {a}" for n, a in zip(names, args)) + ")"
        sql = sql[: m.start()] + repl + sql[angle_close + 1 + m3.end() :]


def rewrite_select(sql: str, registry: ModelRegistry) -> str:
    """All pure-string Flink→Spark rewrites, in dependency order.
    (VECTOR_SEARCH laterals need DataFrames — handled by the session.)"""
    sql = normalize_identifiers(strip_comments(sql))
    sql = _rewrite_global_topn(sql)
    sql = _rewrite_unnest(sql)
    sql = _rewrite_ml_predict(sql, registry)
    sql = _rewrite_subscripts(sql)
    sql = _rewrite_array_ctor(sql)
    sql = _rewrite_cast_row(sql)
    return sql


def _rewrite_global_topn(sql: str) -> str:
    """Flink's global Top-N idiom (reference :489-505) — a rank CTE plus
    ``WHERE rank <= n`` where the rank column is NOT projected — is exactly
    ``ORDER BY … LIMIT n``. Spark plans the rewritten form as
    TakeOrderedAndProject (each task keeps an n-row heap; no shuffle of the
    full input), where the literal window form plans an unpartitioned
    WindowExec — a single-partition global sort that dies at 100-TB scale.
    (Catalyst does push the rank filter down to a TakeOrderedAndProject
    below the window, but the empty-spec window node itself survives; this
    rewrite removes it outright.) Conservative: only the exact
    one-CTE/plain-scan shape rewrites; anything richer keeps the window."""
    masked = _mask(sql)
    m = re.match(r"\s*WITH\s+(\w+)\s+AS\s*\(", masked, re.I)
    if not m:
        return sql
    cte = m.group(1)
    open_i = m.end() - 1
    close_i = _scan(sql, open_i)
    body, outer = sql[open_i + 1 : close_i], sql[close_i + 1 :]
    mo = re.match(
        rf"\s*SELECT\s+(.*?)\s+FROM\s+{cte}\s+WHERE\s+(\w+)\s*<=\s*(\d+)\s*$",
        outer,
        re.I | re.S,
    )
    if not mo:
        return sql
    outer_cols, rk, n = mo.group(1), mo.group(2), int(mo.group(3))
    if "*" in outer_cols or re.search(rf"\b{re.escape(rk)}\b", outer_cols, re.I):
        # a `*` projection would surface the rank column too — rewriting
        # would silently drop it from the output schema
        return sql  # rank projected: the window column is genuinely needed
    mb = re.search(r"ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(", body, re.I)
    if not mb:
        return sql
    over_close = _scan(body, mb.end() - 1)
    m_ord = re.match(r"\s*ORDER\s+BY\s+(.+)$", body[mb.end() : over_close], re.I | re.S)
    if not m_ord:
        return sql  # PARTITION BY present → per-key rank, already scale-safe
    order_by = m_ord.group(1).strip()
    m_as = re.match(rf"\s*AS\s+{re.escape(rk)}\b", body[over_close + 1 :], re.I)
    if not m_as:
        return sql
    head = body[: mb.start()].rstrip()
    m_sel = re.match(r"\s*SELECT\s+(.*)$", head, re.I | re.S)
    if not m_sel or not m_sel.group(1).rstrip().endswith(","):
        return sql  # rank not the last select-list item — bail
    select_cols = m_sel.group(1).rstrip().rstrip(",")
    m_from = re.match(r"\s*FROM\s+(.+)$", body[over_close + 1 + m_as.end() :], re.I | re.S)
    if not m_from:
        return sql
    src = m_from.group(1).strip()
    if re.search(r"\b(WHERE|GROUP\s+BY|ORDER\s+BY|LIMIT|JOIN|UNION|SELECT)\b", src, re.I):
        return sql
    return (
        f"SELECT {outer_cols} FROM "
        f"(SELECT {select_cols} FROM {src} ORDER BY {order_by} LIMIT {n}) AS {cte}"
    )


_CAST_PROBE = "__cast_probe"


@contextmanager
def _quiet_analysis():
    """Silence PySpark's client-side ERROR-level query-context loggers
    (plain ``logging.Logger``s named SQLQueryContextLogger /
    DataFrameQueryContextLogger, see pyspark.errors.exceptions.base
    ``_log_exception``) while running analysis PROBES — a probe that fails
    analysis is control flow (the site keeps its plain cast), not an
    error, and a duplicate stack trace in the logs misleads anyone reading
    them (VERDICT r5 #5). User queries outside this scope keep full error
    logging."""
    import logging  # noqa: PLC0415

    loggers = [
        logging.getLogger(n)
        for n in ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    ]
    prev = [lg.disabled for lg in loggers]
    for lg in loggers:
        lg.disabled = True
    try:
        yield
    finally:
        for lg, was in zip(loggers, prev):
            lg.disabled = was


def _cast_sites(sql: str) -> list[tuple[str, str]]:
    """Per ``CAST(x AS STRING)`` site, a pair of variants: the ``to_json(x)``
    rewrite (Flink renders ARRAY<ROW> text; this engine renders JSON,
    SURVEY.md §7.4.4) and a type-probe variant replacing the site with
    ``named_struct('__cast_probe', x)`` — always well-typed for a top-level
    select item, so the argument's RESOLVED type can be read from the
    probe's schema instead of try/except-ing the analyzer (which logged
    ERROR stacks on every atomic cast; VERDICT r5 #5)."""
    out = []
    masked = _mask(sql)
    for m in re.finditer(r"\bCAST\s*\(", masked, re.I):
        open_i = m.end() - 1
        close_i = _scan(sql, open_i)
        inner = sql[open_i + 1 : close_i]
        m2 = re.search(r"\s+AS\s+STRING\s*$", inner, re.I)
        if m2:
            arg = inner[: m2.start()]
            out.append(
                (
                    sql[: m.start()] + f"to_json({arg})" + sql[close_i + 1 :],
                    sql[: m.start()]
                    + f"named_struct('{_CAST_PROBE}', {arg})"
                    + sql[close_i + 1 :],
                )
            )
    return out


# ---------------------------------------------------------------------------
# the session


@dataclass
class TableSpec:
    name: str
    schema: T.StructType | None
    options: dict[str, str] = field(default_factory=dict)
    kind: str = "table"  # 'table' | 'ctas' | 'view' | 'source'

    @property
    def connector(self) -> str:
        # Confluent-Flink tables without an explicit connector are Kafka
        # topics (reference :269-288 declares none)
        return self.options.get("connector", "kafka")


@dataclass
class ModelSpec:
    name: str
    input_schema: T.StructType
    output_col: str
    output_type: T.DataType
    options: dict[str, str]


class FlinkStatementSession:
    """Executes the reference's SQL statement forms on Spark.

    ``provider_factory(name, options) -> provider`` chooses the model
    backend per CREATE MODEL (default: the deterministic
    :class:`~..models.providers.MockProvider`; pass a factory returning
    :class:`~..models.providers.AzureOpenAIProvider` for live inference).
    """

    def __init__(
        self,
        spark: SparkSession,
        registry: ModelRegistry | None = None,
        provider_factory=None,
        mock_dim: int = 1536,
    ) -> None:
        self.spark = spark
        self.registry = registry or ModelRegistry()
        self.tables: dict[str, TableSpec] = {}
        self.models: dict[str, ModelSpec] = {}
        self.journal: list[str] = []  # derived (CTAS/VIEW/INSERT-SELECT) statements
        # per INSERT-SELECT target: the table content BEFORE its first
        # journaled insert — refresh() restores this so replay recreates
        # (base ∪ selects) instead of appending onto already-inserted rows
        self.insert_bases: dict[str, DataFrame | None] = {}
        self._provider_factory = provider_factory or self._default_provider
        self._mock_dim = mock_dim
        register_engine_sql(spark, self.registry)

    def _default_provider(self, name: str, options: dict[str, str]):
        from flink_sql_ai_meetingcoach_azure_spark.models.providers import (  # noqa: PLC0415
            MockProvider,
        )

        return MockProvider(dim=self._mock_dim)

    # -- sources ------------------------------------------------------------

    def register_source(self, name: str, df: DataFrame) -> None:
        """Bind a table name to an existing DataFrame — the brokerless
        stand-in for the reference's Kafka-topic-backed tables."""
        df.createOrReplaceTempView(name)
        self.tables[name] = TableSpec(name, df.schema, {}, kind="source")

    def register_streaming_source(self, name: str, stream: DataFrame) -> None:
        """Bind a table name to a STREAMING DataFrame — the reference's
        Kafka-backed CREATE TABLE shape. Statements executed over it compose
        lazily (CTAS/VIEW registration never runs an action);
        :meth:`start_continuous` then turns the journaled chain into standing
        queries, Flink's every-statement-is-continuous model."""
        stream.createOrReplaceTempView(name)
        self.tables[name] = TableSpec(name, stream.schema, {}, kind="streaming_source")

    def source_config(
        self, name: str, bootstrap_servers: str, registry=None, **overrides
    ) -> dict:
        """A ``sources.kafka.open_message_stream`` config dict for a
        Kafka-backed table declared via CREATE TABLE — topic = table name
        (Confluent Flink's table↔topic identity), Flink ``scan.startup.mode``
        → ``startingOffsets``, consumer isolation level passed through as a
        ``kafka.``-prefixed option. This is the seam between the DDL catalog
        and the continuous chain when a real broker exists::

            stream = open_message_stream(spark, sess.source_config(
                "messages_conversation", "broker:9092", registry=schema_registry))
            run_reference_pipeline_continuous(spark, knowledge_df, stream, out_root)
        """
        spec = self.tables[name]
        if spec.connector != "kafka":
            raise ValueError(f"table {name!r} uses connector {spec.connector!r}, not kafka")
        mode = spec.options.get("scan.startup.mode", "latest-offset")
        cfg: dict = {
            "type": "kafka",
            "topic": name,
            "bootstrap_servers": bootstrap_servers,
            "starting_offsets": "earliest" if "earliest" in mode else "latest",
        }
        iso = spec.options.get("kafka.consumer.isolation-level")
        if iso:
            cfg["extra"] = {"kafka.isolation.level": iso.replace("-", "_")}
        if registry is not None:
            cfg["registry"] = registry
        cfg.update(overrides)
        return cfg

    # -- execution ----------------------------------------------------------

    def execute_script(self, script: str) -> list[DataFrame | None]:
        # comments go first: a ';' inside a '--' comment must not split
        return [self.execute(s) for s in split_statements(strip_comments(script))]

    def execute(self, sql: str) -> DataFrame | None:
        stmt = normalize_identifiers(strip_comments(sql)).strip()
        head = re.match(
            r"(CREATE\s+MODEL|CREATE\s+TABLE|CREATE\s+(?:OR\s+REPLACE\s+)?VIEW"
            r"|INSERT\s+INTO|ALTER\s+TABLE|SELECT|WITH|SHOW\s+TABLES|SHOW\s+MODELS"
            r"|DESCRIBE|EXPLAIN)\b",
            stmt,
            re.I,
        )
        if not head:
            raise ValueError(f"unsupported statement: {stmt[:80]!r}")
        kind = re.sub(r"\s+", " ", head.group(1).upper())
        if kind == "SHOW TABLES":
            return self.spark.createDataFrame(
                [(t.name, t.kind, t.connector) for t in self.tables.values()]
                or [("", "", "")],
                "table_name string, kind string, connector string",
            ).filter("table_name != ''")
        if kind == "SHOW MODELS":
            return self.spark.createDataFrame(
                [
                    (m.name, self.registry.get(m.name).task, m.output_col)
                    for m in self.models.values()
                ]
                or [("", "", "")],
                "model_name string, task string, output_col string",
            ).filter("model_name != ''")
        if kind == "DESCRIBE":
            target = re.match(r"DESCRIBE\s+(\w+)", stmt, re.I).group(1)
            return self.spark.sql(f"DESCRIBE {target}")
        if kind == "EXPLAIN":
            body = re.match(r"EXPLAIN\s+(.*)$", stmt, re.I | re.S).group(1)
            rewritten = self._materialize_vector_search(
                rewrite_select(body, self.registry)
            )
            return self.spark.sql(f"EXPLAIN {rewritten}")
        if kind == "CREATE MODEL":
            return self._create_model(stmt)
        if kind == "CREATE TABLE":
            return self._create_table(stmt, sql)
        if kind.endswith("VIEW"):
            return self._create_view(stmt, sql)
        if kind == "INSERT INTO":
            return self._insert(stmt, sql)
        if kind == "ALTER TABLE":
            return self._alter(stmt)
        return self._run_select(sql)  # SELECT / WITH

    # -- statement handlers --------------------------------------------------

    def _create_model(self, stmt: str) -> None:
        m = re.match(r"CREATE\s+MODEL\s+(\w+)\s+INPUT\s*\(", stmt, re.I)
        if not m:
            raise ValueError("malformed CREATE MODEL")
        name = m.group(1)
        in_close = _scan(stmt, m.end() - 1)
        m2 = re.match(r"\s*OUTPUT\s*\(", stmt[in_close + 1 :], re.I)
        out_open = in_close + 1 + m2.end() - 1
        out_close = _scan(stmt, out_open)
        m3 = re.match(r"\s*WITH\s*\(", stmt[out_close + 1 :], re.I)
        with_open = out_close + 1 + m3.end() - 1
        with_close = _scan(stmt, with_open)
        options = _parse_quoted_options(stmt[with_open + 1 : with_close])
        input_schema = _parse_columns(stmt[m.end() : in_close])
        out_field = _parse_columns(stmt[out_open + 1 : out_close])[0]
        provider = self._provider_factory(name, options)
        task = options.get("task", "embedding")
        if task == "embedding":
            self.registry.register_embedding(name, provider, output_col=out_field.name)
        elif task == "text_generation":
            self.registry.register_text_generation(name, provider, output_col=out_field.name)
        else:
            raise ValueError(f"unsupported model task {task!r}")
        self.models[name] = ModelSpec(
            name, input_schema, out_field.name, out_field.dataType, options
        )
        # re-register the model functions: spark.udf.register pickles the
        # registry SNAPSHOT into the Python-worker closure, so models added
        # after registration would be missing worker-side otherwise
        register_model_sql(self.spark, self.registry)

    def _create_table(self, stmt: str, raw: str) -> DataFrame | None:
        m = re.match(r"CREATE\s+TABLE\s+(\w+)\s*(.)", stmt, re.I | re.S)
        name, nxt = m.group(1), m.group(2)
        if nxt == "(":
            open_i = m.end() - 1
            close_i = _scan(stmt, open_i)
            schema = _parse_columns(stmt[open_i + 1 : close_i])
            m2 = re.match(r"\s*WITH\s*\(", stmt[close_i + 1 :], re.I)
            options = {}
            if m2:
                w_open = close_i + 1 + m2.end() - 1
                options = _parse_quoted_options(stmt[w_open + 1 : _scan(stmt, w_open)])
            prior = self.tables.get(name)
            if prior is not None and prior.kind in ("source", "streaming_source"):
                prior.options.update(options)  # keep the bound stand-in data
                return None
            self.tables[name] = TableSpec(name, schema, options)
            self.spark.createDataFrame([], schema).createOrReplaceTempView(name)
            return None
        # CTAS
        m3 = re.match(r"CREATE\s+TABLE\s+(\w+)\s+AS\s+(.*)$", stmt, re.I | re.S)
        if not m3:
            raise ValueError(f"malformed CREATE TABLE: {stmt[:80]!r}")
        df = self._run_select(m3.group(2))
        df.createOrReplaceTempView(name)
        self.tables[name] = TableSpec(name, df.schema, {}, kind="ctas")
        self.journal.append(raw)
        return df

    def _create_view(self, stmt: str, raw: str) -> DataFrame:
        m = re.match(r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$", stmt, re.I | re.S)
        df = self._run_select(m.group(2))
        df.createOrReplaceTempView(m.group(1))
        self.tables[m.group(1)] = TableSpec(m.group(1), df.schema, {}, kind="view")
        self.journal.append(raw)
        return df

    def _insert(self, stmt: str, raw: str) -> None:
        m = re.match(r"INSERT\s+INTO\s+(\w+)\s+(.*)$", stmt, re.I | re.S)
        name, body = m.group(1), m.group(2).strip()
        if re.match(r"VALUES\b", body, re.I):
            spec = self.tables.get(name)
            if spec is None or spec.schema is None:
                raise ValueError(f"INSERT VALUES into unknown table {name!r}")
            # Flink literal rows may use the ARRAY[..] constructor (F5) —
            # same rewrite the SELECT path applies
            body = _rewrite_array_ctor(body)
            cols = ", ".join(f.name for f in spec.schema.fields)
            casts = ", ".join(
                f"CAST({f.name} AS {f.dataType.simpleString()}) AS {f.name}"
                for f in spec.schema.fields
            )
            new = self.spark.sql(f"SELECT {casts} FROM {body} AS __v({cols})")
        else:
            new = self._run_select(body)
        is_values = bool(re.match(r"VALUES\b", body, re.I))
        # only a table THIS session declared/registered is an insert base: a
        # same-named temp view left by another statement session must not be
        # silently absorbed (the reference's externally-created insert
        # targets are empty topic shells, :313 note)
        exists = name in self.tables and self.spark.catalog.tableExists(name)
        if not is_values and name not in self.insert_bases:
            # DataFrames resolve the view eagerly, so this snapshots the
            # pre-insert PLAN (not the post-union view) for refresh()
            self.insert_bases[name] = self.spark.table(name) if exists else None
        elif is_values and name in self.insert_bases:
            # literal rows landing after a journaled insert belong to the
            # replay base, or refresh() would silently drop them
            prior = self.insert_bases[name]
            self.insert_bases[name] = new if prior is None else prior.unionByName(new)
        if exists:
            prior = self.spark.table(name)
            if new.isStreaming and not prior.isStreaming:
                # a STREAMING insert into a declared (empty-batch) table:
                # the table's content IS the stream of inserted rows —
                # union with the batch shell is both illegal and empty
                merged = new
            else:
                merged = prior.unionByName(new)
        else:  # reference inserts into Terraform-created tables (:313 note)
            merged = new
            self.tables.setdefault(name, TableSpec(name, new.schema, {}, kind="ctas"))
        merged.createOrReplaceTempView(name)
        if not is_values:
            self.journal.append(raw)

    def _alter(self, stmt: str) -> None:
        m = re.match(r"ALTER\s+TABLE\s+(\w+)\s+SET\s*\(", stmt, re.I)
        if not m:
            raise ValueError(f"unsupported ALTER TABLE form: {stmt[:80]!r}")
        close_i = _scan(stmt, m.end() - 1)
        opts = _parse_quoted_options(stmt[m.end() : close_i])
        self.tables.setdefault(m.group(1), TableSpec(m.group(1), None)).options.update(opts)

    def refresh(self) -> None:
        """Re-run every derived statement in order — the batch equivalent of
        the reference's continuously-running CTAS chain picking up new
        inserts (each input row processed exactly once, as Flink's
        continuous INSERT does).

        INSERT-SELECT targets are first restored to their pre-insert base so
        the replay RECREATES each target as (base ∪ selects); replaying as
        append-onto-current would re-add rows already present and double the
        table on every refresh."""
        for name, base in self.insert_bases.items():
            if base is None:
                self.spark.catalog.dropTempView(name)
            else:
                base.createOrReplaceTempView(name)
        journal, self.journal = self.journal, []
        for stmt in journal:
            self.execute(stmt)

    def start_continuous(self, out_root: str) -> list:
        """Flink's execution model for the whole statement surface: every
        journaled CTAS / INSERT-SELECT whose plan reads a streaming source
        becomes a STANDING query materializing a per-stage parquet "topic"
        under ``out_root/<table>`` (one intermediate topic per statement,
        generate_personalized_commands.sh:347-433,568-576), and downstream
        statements re-read that topic as a stream — so each stage is an
        independently-checkpointed job exactly like the reference's chained
        continuous statements.

        Static subtrees (e.g. the knowledge chunk+embed ingest over a batch
        corpus) were already materialized by the batch ``execute`` and are
        left as-is; ``refresh()`` remains their batch re-run. A VIEW whose
        streaming plan needs a global sort+limit — the reference's
        recent-history monitoring view (:489-505) — cannot run as a
        streaming query (Spark disallows unpartitioned sorts on streams), so
        it is maintained under the same view name by a foreachBatch
        :class:`~..streaming.pipeline.RecentHistorySink`, the engine's
        documented translation (SURVEY §7.4.1). Other streaming views stay
        virtual (they compose into their consumers' plans).

        RESTARTABLE: calling this again with the same ``out_root`` (a new
        process, or after stopping the handles) resumes every stage from its
        checkpoint — already-committed source files are not reprocessed, so
        stage topics stay exactly-once across restarts. The Top-N view keeps
        its pre-restart history whatever its parent (a stage topic or the
        source stream): its sink logs the ≤ n buffered rows and the batch id
        inside the view's checkpoint after every batch, and re-seeds from
        that log on start.

        Returns the started StreamingQuery handles; callers stop them or
        ``processAllAvailable()`` in tests.
        """
        root = out_root.rstrip("/")
        handles = []
        for raw in list(self.journal):
            stmt = normalize_identifiers(strip_comments(raw)).strip()
            m = re.match(r"CREATE\s+TABLE\s+(\w+)\s+AS\s+(.*)$", stmt, re.I | re.S) or re.match(
                r"INSERT\s+INTO\s+(\w+)\s+((?:SELECT|WITH)\b.*)$", stmt, re.I | re.S
            )
            m_view = (
                None
                if m
                else re.match(
                    r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$",
                    stmt,
                    re.I | re.S,
                )
            )
            if not m and not m_view:
                continue
            name, body = (m or m_view).group(1), (m or m_view).group(2)
            if m_view:
                topn_q = self._continuous_topn_view(name, body, root)
                if topn_q is not None:
                    handles.append(topn_q)
                    continue
            df = self._run_select(body)
            if not df.isStreaming:
                continue  # static subtree: batch execute already materialized it
            if m_view:
                df.createOrReplaceTempView(name)
                continue
            q = (
                df.writeStream.format("parquet")
                .option("path", f"{root}/{name}")
                .option("checkpointLocation", f"{root}/_ckpt/{name}")
                .outputMode("append")
                .start()
            )
            handles.append(q)
            # downstream statements re-read the materialized stage topic
            self.spark.readStream.schema(df.schema).parquet(
                f"{root}/{name}"
            ).createOrReplaceTempView(name)
        return handles

    def _continuous_topn_view(self, name: str, body: str, root: str):
        """The reference's global Top-N monitoring view over a STREAMING
        parent → a started RecentHistorySink query registering ``name``;
        None when the view is not that shape (or the parent is batch)."""
        sql = rewrite_select(body, self.registry)
        m = re.match(
            r"\s*SELECT\s+(.*?)\s+FROM\s+\(SELECT\s+(.*?)\s+FROM\s+(\w+)\s+"
            r"ORDER\s+BY\s+(.*?)\s+LIMIT\s+(\d+)\)\s+AS\s+\w+\s*$",
            sql,
            re.I | re.S,
        )
        if not m:
            return None
        outer_cols, inner_cols, src = m.group(1), m.group(2), m.group(3)
        try:
            parent = self.spark.table(src)
        except Exception:  # noqa: BLE001 — unknown parent: not our shape
            return None
        if not parent.isStreaming:
            return None
        from flink_sql_ai_meetingcoach_azure_spark.streaming.pipeline import (  # noqa: PLC0415
            RecentHistorySink,
        )

        # the maintained view always keeps latest-n (max-ts) rows, so only a
        # DESC global Top-N maps onto it — an ASC shape (oldest-n) must stay
        # a virtual view rather than silently get inverted semantics
        order_head = re.split(r",", m.group(4).strip())[0].split()
        if len(order_head) < 2 or order_head[1].upper() != "DESC":
            return None
        ts_col = order_head[0]
        # build the sink input through SQL (never split select lists on raw
        # commas — expression columns contain them) and apply the OUTER
        # projection so the maintained view's schema matches the statement's
        try:
            sink_input = self.spark.sql(
                f"SELECT {outer_cols} FROM (SELECT {inner_cols} FROM {src}) __topn_src"
            )
        except Exception:  # noqa: BLE001 — unexpected shape: stay virtual
            return None
        if ts_col not in sink_input.columns:
            return None  # can't maintain latest-n without the order column
        ckpt = f"{root}/_ckpt/__view_{name}"
        sink = RecentHistorySink(
            n=int(m.group(5)), ts_col=ts_col, view_name=name, spark=self.spark,
            state_path=f"{ckpt}/view_buffer",
        )
        return (
            sink_input.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # -- SELECT execution ----------------------------------------------------

    def _run_select(self, sql: str) -> DataFrame:
        sql = rewrite_select(sql, self.registry)
        sql = self._materialize_vector_search(sql)
        # Flink's CAST(<complex> AS STRING) rendering is engine-specific;
        # this engine's documented rendering is JSON (SURVEY.md §7.4.4).
        # Decide each cast site by the RESOLVED type of its argument (read
        # from a named_struct probe's schema) — rewrite to to_json for
        # struct/array/map/variant, keep the plain cast for atomics. No
        # analyzer exception fires on the happy path, so nothing hits the
        # ERROR-level SQLQueryContextLogger.
        changed = True
        with _quiet_analysis():
            while changed:
                changed = False
                for tj_variant, probe_variant in _cast_sites(sql):
                    if self._cast_arg_is_complex(probe_variant, tj_variant):
                        sql = tj_variant
                        changed = True
                        break
        return self.spark.sql(sql)

    def _cast_arg_is_complex(self, probe_sql: str, tj_sql: str) -> bool:
        """Analyze the probe variant (schema only — nothing executes) and
        look for the marker struct<__cast_probe: T> among the top-level
        output fields; T complex → rewrite the site. When the probe itself
        fails analysis — a cast NESTED inside a larger typed expression,
        e.g. concat(CAST(arr AS STRING), '!'), where the struct wrapper
        breaks the enclosing expression's typing — fall back to the
        acceptance check: analyze the to_json variant, which resolves iff
        the argument is struct/array/map/variant (to_json rejects atomics),
        so nested complex casts keep the documented JSON rendering instead
        of silently reverting to Spark's native one (ADVICE r6)."""
        try:
            schema = self.spark.sql(probe_sql).schema
        except Exception:  # noqa: BLE001 — nested site: acceptance-check to_json
            try:
                self.spark.sql(tj_sql).schema  # noqa: B018 — analysis only
            except Exception:  # noqa: BLE001 — atomic arg: keep the plain cast
                return False
            return True
        complex_types = (T.StructType, T.ArrayType, T.MapType, T.VariantType)
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.StructType) and [x.name for x in dt.fields] == [
                _CAST_PROBE
            ]:
                return isinstance(dt.fields[0].dataType, complex_types)
        return False

    def _materialize_vector_search(self, sql: str) -> str:
        """``FROM q [AS] qe, LATERAL TABLE(VECTOR_SEARCH(idx, k,
        DESCRIPTOR(c), qe.e)) AS vs`` (reference :377-384) → run the
        broadcast vector-search operator, publish it as a scoped temp view,
        and point the FROM at it. ``vs.search_results`` re-qualifies onto
        the view, which carries every query column plus the results array."""
        from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
            vector_search,
        )

        pat = re.compile(
            r"FROM\s+(\w+)(?:\s+AS)?\s+(\w+)\s*,\s*LATERAL\s+TABLE\s*\(\s*VECTOR_SEARCH\s*\(",
            re.I,
        )
        while True:
            masked = _mask(sql)
            m = pat.search(masked)
            if not m:
                return sql
            q_table, q_alias = m.group(1), m.group(2)
            vs_open = m.end() - 1
            vs_close = _scan(sql, vs_open)
            args = _split_top(sql[vs_open + 1 : vs_close])
            if len(args) != 4:
                raise ValueError(f"VECTOR_SEARCH expects 4 args, got {len(args)}")
            index_table, k_s, desc, q_expr = args
            md = re.match(r"DESCRIPTOR\s*\(\s*(\w+)\s*\)", desc, re.I)
            index_col = md.group(1)
            q_col = re.sub(rf"^{q_alias}\s*\.\s*", "", q_expr.strip())
            m2 = re.match(r"\s*\)", sql[vs_close + 1 :])
            lt_end = vs_close + 1 + m2.end()
            m3 = re.match(r"\s+AS\s+(\w+)", sql[lt_end:], re.I)
            if not m3:
                raise ValueError("LATERAL TABLE(VECTOR_SEARCH(..)) needs AS <alias>")
            vs_alias = m3.group(1)
            idx_df = self.spark.table(index_table)
            q_df = self.spark.table(q_table)
            # one search body for batch and streaming query sides alike (a
            # map-only mapInPandas is streaming-legal). round_sim=6 pins
            # the engine's ranking to a 6-dp cosine: the same determinism
            # pin ddl_ctas_topn adds over the reference's bare ORDER BY —
            # which rows make the k cut then no longer depends on float
            # summation order, so the statement chain is value-reproducible
            # (ddl_reference_pipeline's oracle).
            out = vector_search(
                q_df,
                idx_df,
                k=int(k_s),
                query_col=q_col,
                index_col=index_col,
                payload_cols=[c for c in idx_df.columns if c != index_col],
                round_sim=6,
            )
            view = f"__vs_{q_table}__{index_table}"
            out.createOrReplaceTempView(view)
            sql = sql[: m.start()] + f"FROM {view} {q_alias}" + sql[lt_end + m3.end() :]
            sql = re.sub(rf"\b{vs_alias}\s*\.\s*", f"{q_alias}.", sql)


# ---------------------------------------------------------------------------
# the reference's pipeline, statement for statement


#: the catalog qualifier the reference's generated script uses
#: (``\`$ENVIRONMENT_NAME\`.\`$KAFKA_CLUSTER_NAME\`.``) with demo values.
Q = "`demo-env`.`demo-cluster`."


def reference_pipeline_script() -> str:
    """The reference's SQL pipeline VERBATIM in statement shape
    (terraform/generate_personalized_commands.sh — line cites inline),
    against sources ``knowledge(document_id, document_name,
    document_category, document_text)`` and ``messages_conversation(message,
    speaker, rowtime)``. One extra statement stands in for the
    Kafka→MongoDB sink connector (the reference moves
    ``knowledge_embeddings_chunked`` into the ``knowledge_mongodb`` search
    table out-of-band; here it is an explicit INSERT ... SELECT)."""
    return f"""
-- :215-223  Step 3.1 embedding model
CREATE MODEL openaiembed
INPUT (input STRING)
OUTPUT (embedding ARRAY<FLOAT>)
WITH(
  'azureopenai.connection' = 'azure-openai-embedding-connection',
  'azureopenai.input_format' = 'OPENAI-EMBED',
  'provider' = 'azureopenai',
  'task' = 'embedding'
);

-- :229-259  Step 3.2 generation model (system prompt abridged; parser
-- handles the full multi-line text with parentheses and quotes)
CREATE MODEL coaching_response_generator
INPUT (prompt STRING)
OUTPUT (coaching_response STRING)
WITH(
  'provider' = 'azureopenai',
  'task' = 'text_generation',
  'azureopenai.connection' = 'gpt-4-connection',
  'azureopenai.model_version' = 'gpt-4',
  'azureopenai.system_prompt' = 'You are an expert sales coach AI. Provide actionable sales guidance formatted as JSON.

## OUTPUT REQUIREMENTS:
1. Create a JSON response with these fields:
  - suggested_response: A concise, actionable talking point (75 words max)
  - sources: An array with 3 objects (one for each document)
2. Ensure your response is valid JSON that can be automatically parsed.'
);

-- :269-277  Step 4.1 knowledge table (Kafka-backed; no explicit connector)
CREATE TABLE {Q}knowledge (
  document_id STRING,
  document_name STRING,
  document_category STRING,
  document_text STRING
) WITH (
  'kafka.consumer.isolation-level' = 'read-uncommitted'
);

-- :281-288  Step 4.2 conversation table
CREATE TABLE {Q}messages_conversation (
  message STRING NOT NULL,
  speaker STRING
) WITH (
  'kafka.consumer.isolation-level' = 'read-uncommitted'
);

-- :292-305  Step 4.3 vector-search table
CREATE TABLE {Q}knowledge_mongodb (
  document_id STRING,
  chunks STRING,
  embedding ARRAY<FLOAT>
) WITH (
  'connector' = 'mongodb',
  'mongodb.connection' = 'mongodb-connection',
  'mongodb.database' = 'meetingcoach',
  'mongodb.collection' = 'knowledge',
  'mongodb.index' = 'vector_index',
  'mongodb.embedding_column' = 'embedding',
  'mongodb.numCandidates' = '150'
);

-- :313-334  Step 5.1 chunk + embed the knowledge base
INSERT INTO {Q}knowledge_embeddings_chunked
WITH chunked_texts AS (
  SELECT
    document_id,
    document_text,
    chunks
  FROM {Q}knowledge
  CROSS JOIN UNNEST(
    ML_CHARACTER_TEXT_SPLITTER(
      document_text, 200, 20, '###', false, false, true, 'START'
    )
  ) AS t(chunks)
)
SELECT
  document_id,
  chunks,
  embedding AS embedding
FROM chunked_texts,
LATERAL TABLE(
  ML_PREDICT('openaiembed', chunks)
);

-- stand-in for the Kafka->MongoDB sink connector (out-of-band in the
-- reference): the chunked+embedded topic becomes the search table
INSERT INTO {Q}knowledge_mongodb
SELECT document_id, chunks, embedding FROM {Q}knowledge_embeddings_chunked;

-- :345-349  Step 6.1 route prospect messages
CREATE TABLE {Q}messages_prospect AS
SELECT * FROM {Q}messages_conversation
WHERE speaker = 'prospect';

-- :353-361  Step 6.2 embed prospect messages
CREATE TABLE {Q}messages_prospect_embeddings AS
SELECT
  message,
  speaker,
  embedding
FROM {Q}messages_prospect,
LATERAL TABLE(ML_PREDICT('openaiembed', message));

-- :365-384  Step 6.3 top-3 retrieval, embeddings stripped from the payload
CREATE TABLE {Q}messages_prospect_rag_results AS
SELECT
    qe.message,
    qe.speaker,
    -- Transform the array with named fields to exclude embeddings
    ARRAY[
        CAST(ROW(vs.search_results[1].document_id, vs.search_results[1].chunks) AS ROW<document_id STRING, chunks STRING>),
        CAST(ROW(vs.search_results[2].document_id, vs.search_results[2].chunks) AS ROW<document_id STRING, chunks STRING>),
        CAST(ROW(vs.search_results[3].document_id, vs.search_results[3].chunks) AS ROW<document_id STRING, chunks STRING>)
    ] AS rag_results
FROM
    {Q}messages_prospect_embeddings AS qe,
    LATERAL TABLE(VECTOR_SEARCH(
        {Q}knowledge_mongodb,
        3,
        DESCRIPTOR(embedding),
        qe.embedding
    )) AS vs;

-- :408-433  Step 7.1 prompt assembly + generation
CREATE TABLE {Q}messages_prospect_rag_llm_response AS
SELECT
    qr.message,
    CAST(qr.rag_results AS STRING) AS rag_results_string,
    pred.coaching_response
FROM {Q}messages_prospect_rag_results qr,
LATERAL TABLE(
    ml_predict(
        'coaching_response_generator',
        CONCAT(
            '## PROSPECT MESSAGE: ', qr.message,
            '\\n\\n## RAG DOCUMENTS:\\n',
            'Document 1: ', qr.rag_results[1].document_id, '\\n',
            qr.rag_results[1].chunks, '\\n\\n',
            'Document 2: ', qr.rag_results[2].document_id, '\\n',
            qr.rag_results[2].chunks, '\\n\\n',
            'Document 3: ', qr.rag_results[3].document_id, '\\n',
            qr.rag_results[3].chunks
        )
    )
) AS pred;

-- :489-505  Step 8.1 recent-history monitoring view ($rowtime system col)
CREATE VIEW {Q}recent_conversation_history AS
WITH ranked_messages AS (
  SELECT
    message,
    speaker,
    $rowtime,
    ROW_NUMBER() OVER (ORDER BY $rowtime DESC) AS msg_rank
  FROM {Q}messages_conversation
)
SELECT
  message,
  speaker,
  $rowtime
FROM ranked_messages
WHERE msg_rank <= 6;

-- :514-521  Step 9.1 isolation levels
ALTER TABLE {Q}knowledge SET ('kafka.consumer.isolation-level' = 'read-uncommitted');
ALTER TABLE {Q}messages_prospect SET ('kafka.consumer.isolation-level' = 'read-uncommitted');
"""


def run_reference_pipeline(
    spark: SparkSession,
    knowledge_df: DataFrame,
    messages_df: DataFrame,
    mock_dim: int = 256,
    provider_factory=None,
) -> FlinkStatementSession:
    """Execute the verbatim reference pipeline against bound sources.
    ``knowledge_df`` needs (document_id, document_name, document_category,
    document_text); ``messages_df`` (message, speaker, rowtime). Returns the
    session — the final table is ``messages_prospect_rag_llm_response``."""
    sess = FlinkStatementSession(
        spark, mock_dim=mock_dim, provider_factory=provider_factory
    )
    sess.register_source("knowledge", knowledge_df)
    sess.register_source("messages_conversation", messages_df)
    sess.execute_script(reference_pipeline_script())
    return sess


def run_reference_pipeline_continuous(
    spark: SparkSession,
    knowledge_df: DataFrame,
    messages_stream: DataFrame,
    out_root: str,
    mock_dim: int = 256,
    provider_factory=None,
) -> tuple[FlinkStatementSession, list]:
    """The verbatim reference pipeline under its ACTUAL execution model:
    ``messages_conversation`` is a stream, and every downstream CTAS runs as
    a standing per-stage query (:meth:`FlinkStatementSession.start_continuous`)
    writing its own stage topic under ``out_root`` — statement-level parity
    with the reference's chained continuous statements (one Kafka topic per
    stage, generate_personalized_commands.sh:347-433,568-576). The knowledge
    chunk+embed ingest stays a one-shot batch materialization, exactly like
    the reference's INSERT (:313-334) feeding the continuously-served search
    table. Returns (session, StreamingQuery handles); the final stage topic
    is ``out_root/messages_prospect_rag_llm_response`` and the monitoring
    view ``recent_conversation_history`` updates continuously."""
    sess = FlinkStatementSession(
        spark, mock_dim=mock_dim, provider_factory=provider_factory
    )
    sess.register_source("knowledge", knowledge_df)
    sess.register_streaming_source("messages_conversation", messages_stream)
    sess.execute_script(reference_pipeline_script())
    return sess, sess.start_continuous(out_root)
