"""``coach``: the reference's continuous RAG chain, driven open loop.

The chain is ``ddl.run_reference_pipeline_continuous`` over a file-stream
``messages_conversation``: route → embed → search → generate standing
queries (one parquet topic each) plus the recent-history view sink.

Phases:

- steady: the generator thread publishes one file every ``FILE_PERIOD_S``
  (``STEADY_RATE`` msgs/s, half of them ``prospect``), each message stamped
  with its due time. Latency runs from the due time to the commit of the
  final-stage file holding the message's response.
- burst: ``BURSTS`` times, a backlog of ``BURST_FILES`` files is published at
  once and drained; the median drain rate is the chain's capacity.

Outputs are checked: every prospect message has exactly one response, and a
seeded sample of them equals the batch ``ddl.run_reference_pipeline`` result
on the same messages (retrieval compared by similarity score, so a differing
chunk choice at an equal-score tie counts as ``tie_mismatches``, not as a
failure).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import progress_phases

KNOWLEDGE_DOCS = 600
MOCK_DIM = 256
STEADY_RATE = 500  # msgs/s
FILE_PERIOD_S = 0.25
BURSTS = 2
BURST_FILE_ROWS = 375
MAX_FILES_PER_TRIGGER = 8
BURST_FILES = 2 * MAX_FILES_PER_TRIGGER  # two route triggers per burst
CHECK_SAMPLE = 8  # prospect messages re-run through the batch pipeline

#: standing queries in start order (ddl.start_continuous walks the journal)
STAGES = ["route", "embed", "search", "generate", "history"]
STAGE_TABLES = {
    "route": "messages_prospect",
    "embed": "messages_prospect_embeddings",
    "search": "messages_prospect_rag_results",
    "generate": "messages_prospect_rag_llm_response",
}
MSG_SCHEMA = pa.schema(
    [("message", pa.string()), ("speaker", pa.string()),
     ("rowtime", pa.timestamp("us", tz="UTC"))]
)
SPARK_MSG_SCHEMA = "message string, speaker string, rowtime timestamp"


def knowledge_table(rng: np.random.Generator) -> pa.Table:
    docs = gen.documents(rng, KNOWLEDGE_DOCS)
    ids = docs.column("doc_id").to_numpy()
    src = docs.column("source").to_pylist()
    return pa.table(
        {
            "document_id": [f"{s}/{i}" for s, i in zip(src, ids)],
            "document_name": [str(i) for i in ids],
            "document_category": src,
            "document_text": docs.column("text"),
        }
    )


class Messages:
    """Seeded conversation messages; ``m<seq>`` prefixes make each one
    identifiable in every stage topic."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.next_seq = 0
        self.prospect: dict[int, str] = {}  # seq -> text

    def batch(self, n: int, due_s: float) -> pa.Table:
        seqs = range(self.next_seq, self.next_seq + n)
        self.next_seq += n
        lens = self.rng.integers(4, 16, n)
        words = self.rng.integers(0, len(gen.VOCAB), int(lens.sum()))
        is_p = self.rng.random(n) < 0.5
        texts, pos = [], 0
        for s, ln, p in zip(seqs, lens, is_p):
            texts.append(f"m{s} " + " ".join(gen.VOCAB[w] for w in words[pos : pos + ln]))
            pos += ln
            if p:
                self.prospect[s] = texts[-1]
        due_us = int(due_s * 1e6)
        return pa.table(
            [texts, np.where(is_p, "prospect", "rep"),
             pa.array([due_us] * n, pa.int64()).cast(pa.timestamp("us", tz="UTC"))],
            schema=MSG_SCHEMA,
        )


def seq_of(message: str) -> int:
    return int(message.split(" ", 1)[0][1:])


# ---------------------------------------------------------------------------
# stage topics


def commit_times(stage_dir: str) -> dict[str, tuple[float, int]]:
    """Output file name → (commit time, batch id), from the first
    ``_spark_metadata`` log that lists it; ``N.compact`` logs re-list old
    files and are read only for files no earlier log listed."""
    logs = []
    for path in glob.glob(os.path.join(stage_dir, "_spark_metadata", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        logs.append((int(base.split(".")[0]), path))
    out: dict[str, tuple[float, int]] = {}
    for batch, path in sorted(logs):
        mtime = os.stat(path).st_mtime
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                name = os.path.basename(json.loads(line)["path"])
                out.setdefault(name, (mtime, batch))
    return out


def read_topic(stage_dir: str, columns: list[str]):
    """Yield (commit time, batch id, table) per committed output file."""
    for name, (t, batch) in commit_times(stage_dir).items():
        yield t, batch, pq.read_table(os.path.join(stage_dir, name), columns=columns)


# ---------------------------------------------------------------------------


class Generator(threading.Thread):
    """Publishes the steady phase's files on schedule and records how late
    each publication ran."""

    def __init__(self, msgs: Messages, src: str, clock: gen.MonotoneClock,
                 start_s: float, n_files: int) -> None:
        super().__init__(daemon=True)
        self.msgs, self.src, self.clock = msgs, src, clock
        self.start_s, self.n_files = start_s, n_files
        self.due: dict[int, float] = {}
        self.max_lag_s = 0.0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            per_file = int(STEADY_RATE * FILE_PERIOD_S)
            for i in range(self.n_files):
                due = self.start_s + i * FILE_PERIOD_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                first = self.msgs.next_seq
                table = self.msgs.batch(per_file, due)
                gen.write_table(table, os.path.join(self.src, f"steady-{i:06d}.parquet"),
                                self.clock.next_ns())
                now = time.time()
                self.max_lag_s = max(self.max_lag_s, now - due)
                for s in range(first, first + per_file):
                    self.due[s] = due
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e


def publish(msgs: Messages, clock: gen.MonotoneClock, stage_dir: str, src: str,
            prefix: str, n_files: int) -> tuple[float, range]:
    """Stage ``n_files`` message files, then move them into the stream's
    directory at once; returns the publication time and their messages."""
    first = msgs.next_seq
    names = [f"{prefix}-{i:06d}.parquet" for i in range(n_files)]
    for name in names:
        gen.write_table(msgs.batch(BURST_FILE_ROWS, 0.0), f"{stage_dir}/{name}")
    t = time.time()
    for name in names:
        mt = clock.next_ns()
        os.utime(f"{stage_dir}/{name}", ns=(mt, mt))
        os.replace(f"{stage_dir}/{name}", f"{src}/{name}")
    return t, range(first, msgs.next_seq)


def drain(handles) -> None:
    for q in handles:  # chain order: each upstream is already drained
        q.processAllAvailable()


def stop_quietly(handles) -> None:
    for q in handles:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 — stop racing a trigger
            pass


def run(spark, ctx) -> dict:
    from flink_sql_ai_meetingcoach_azure_spark.ddl import (  # noqa: PLC0415
        run_reference_pipeline_continuous,
    )

    rng = np.random.default_rng(ctx.seed)
    tmp = ctx.tmp
    src, out_root = f"{tmp}/coach/src", f"{tmp}/coach/stages"
    stage_dir = f"{tmp}/coach/staging"
    os.makedirs(src)
    os.makedirs(stage_dir)
    gen.write_table(knowledge_table(rng), f"{tmp}/coach/knowledge.parquet")
    knowledge = spark.read.parquet(f"{tmp}/coach/knowledge.parquet")
    msgs = Messages(rng)
    clock = gen.MonotoneClock()

    stream = (
        spark.readStream.schema(SPARK_MSG_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(src)
    )
    t0 = time.time()
    with ctx.spans.span("coach.setup", spark=spark):
        sess, handles = run_reference_pipeline_continuous(
            spark, knowledge, stream, out_root, mock_dim=MOCK_DIM
        )
        # serving = every stage has answered once: a warm-up file through
        # the chain compiles each stage's code paths before measurement
        _, warm_seqs = publish(msgs, clock, stage_dir, src, "warmup", 1)
        drain(handles)
    setup_s = time.time() - t0
    ctx.log(f"setup {setup_s:.2f}s")
    if len(handles) != len(STAGES):
        raise RuntimeError(f"expected {len(STAGES)} standing queries, got {len(handles)}")
    g = Generator(msgs, src, clock, time.time() + 0.5,
                  max(1, round(ctx.seconds / FILE_PERIOD_S)))
    try:
        with ctx.spans.span("coach.steady"):
            g.start()
            g.join()
            if g.error is not None:
                raise g.error
            drain(handles)
        ctx.log("steady drained")
        steady_batches = [_last_batch(q) for q in handles]

        bursts = []  # (publication time, seqs)
        for b in range(BURSTS):
            with ctx.spans.span("coach.burst", request=f"burst-{b}"):
                bursts.append(publish(msgs, clock, stage_dir, src, f"burst{b}", BURST_FILES))
                drain(handles)
        progress = [list(q.recentProgress) for q in handles]
        ctx.log(f"{len(bursts)} bursts drained")
    finally:
        stop_quietly(handles)

    # ---- outputs
    seen: dict[int, int] = {}
    emitted: dict[int, float] = {}
    rows: dict[int, tuple[str, str]] = {}
    final = read_topic(f"{out_root}/{STAGE_TABLES['generate']}",
                       ["message", "rag_results_string", "coaching_response"])
    for t, _batch, table in final:
        for m, rag, resp in zip(*(table.column(c).to_pylist() for c in table.column_names)):
            s = seq_of(m)
            seen[s] = seen.get(s, 0) + 1
            emitted[s] = t
            rows[s] = (rag, resp)

    steady_p = [s for s in g.due if s in msgs.prospect]
    burst_p = [s for _, seqs in bursts for s in seqs if s in msgs.prospect]
    expected = set(steady_p) | set(burst_p) | {s for s in warm_seqs if s in msgs.prospect}
    bad = {s for s in expected if seen.get(s) != 1}
    bad |= {s for s in seen if s not in expected}
    rates = []
    for t_burst, seqs in bursts:
        end = max(emitted.get(s, 0.0) for s in seqs if s in msgs.prospect)
        rates.append(len(seqs) / (end - t_burst))
    ctx.log("burst rates " + " ".join(f"{r:.1f}" for r in rates))
    metrics = {"throughput_per_s": float(np.median(rates))}
    layers: dict[str, float] = {}
    metrics["peak_rss_mb"] = ctx.rss.peak_mb  # before the checks and trace-only work
    lat = [emitted[s] - g.due[s] for s in steady_p if s in emitted]
    # the traced run repeats the untraced run's inputs, whose sample
    # the untraced run already re-ran through the batch pipeline
    ties, sample_bad = (0, set()) if ctx.trace else check_sample(
        spark, knowledge, msgs, rng, rows, steady_p + burst_p)
    bad |= sample_bad
    ctx.log("outputs checked")
    metrics.update({"setup_s": setup_s, "latency_p50_s": float(np.percentile(lat, 50))})
    layers.update({
        "coach.p90_latency_s": float(np.percentile(lat, 90)),
        "coach.p99_latency_s": float(np.percentile(lat, 99)),
        "coach.gen_lag_max_s": g.max_lag_s,
        "coach.tie_mismatches": ties,
        "coach.steady_samples": len(lat),
    })
    if ctx.trace:
        published = {s: t for t, seqs in bursts for s in seqs}
        layers.update(stage_layers(out_root, progress, steady_batches, published))
        layers.update(kernel_layers(spark, ctx, sess.registry, knowledge,
                                    sorted(glob.glob(f"{src}/burst0-*.parquet"))))
    return {"attempted": len(expected), "failed": len(bad), "metrics": metrics,
            "layers": layers}


def _last_batch(q) -> int:
    return max((p["batchId"] for p in q.recentProgress), default=-1)


def _start_s(progress: dict) -> float:
    from datetime import datetime  # noqa: PLC0415

    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def stage_layers(out_root, progress, steady_batches, published) -> dict[str, float]:
    """Per stage: trigger phases over the steady phase's data triggers; per-row
    work and the time rows wait in the upstream topic over the bursts'.
    ``published`` maps a burst message to its publication time."""
    out: dict[str, float] = {}
    upstream = published  # seq -> commit time in the previous topic
    for stage, prog, last in zip(STAGES, progress, steady_batches):
        steady = [p for p in prog if p["batchId"] <= last]
        burst = [p for p in prog if p["batchId"] > last and p["numInputRows"] > 0]
        ph = progress_phases(steady)
        for k in ("trigger_ms", "offset_log_ms", "source_list_ms", "planning_ms"):
            out[f"coach.{stage}.{k}"] = ph[k]
        rows = sum(p["numInputRows"] for p in burst)
        add = sum(p["durationMs"].get("addBatch", 0) for p in burst)
        out[f"coach.{stage}.add_batch_ms_per_krow"] = 1000.0 * add / rows if rows else 0.0
        if stage not in STAGE_TABLES:
            continue
        starts = {p["batchId"]: _start_s(p) for p in burst}
        waits, here = [], {}
        for t, batch, table in read_topic(f"{out_root}/{STAGE_TABLES[stage]}", ["message"]):
            for m in table.column("message").to_pylist():
                s = seq_of(m)
                here[s] = t
                if batch in starts:
                    waits.append(starts[batch] - upstream[s])
        out[f"coach.{stage}.wait_ms"] = 1000.0 * float(np.mean(waits)) if waits else 0.0
        upstream = here
    return out


def kernel_layers(spark, ctx, registry, knowledge, burst_files) -> dict[str, float]:
    """Each layer the chain calls, timed alone on the burst's messages."""
    from flink_sql_ai_meetingcoach_azure_spark.operators.vector_search import (  # noqa: PLC0415
        vector_search,
    )
    from flink_sql_ai_meetingcoach_azure_spark.plans.ingest import (  # noqa: PLC0415
        build_knowledge_index,
    )

    def timed(name, df) -> float:
        with ctx.spans.span(name, spark=spark):
            t = time.time()
            df.write.format("noop").mode("overwrite").save()
            return time.time() - t

    msgs = spark.read.parquet(*burst_files).select("message").localCheckpoint()
    n = msgs.count()
    with ctx.spans.span("plans.ingest.build_knowledge_index", spark=spark):
        t = time.time()
        index = build_knowledge_index(knowledge, registry).localCheckpoint()
        build_s = time.time() - t
    out = {
        "plans.ingest.build_s": build_s,
        "models.embed_rows_per_s": n / timed(
            "models.embed", registry.ml_predict(msgs, "openaiembed", "message")),
        "models.generate_rows_per_s": n / timed(
            "models.generate",
            registry.ml_predict(msgs, "coaching_response_generator", "message")),
    }
    queries = registry.ml_predict(msgs, "openaiembed", "message").localCheckpoint()
    out["operators.vector_search.queries_per_s"] = n / timed(
        "operators.vector_search",
        vector_search(queries, index, k=3, method="numpy", round_sim=6))
    return out


# ---------------------------------------------------------------------------
# correctness


def _sims(message: str, chunks: list[str]) -> np.ndarray:
    """Sorted 6-dp cosine similarities of ``chunks`` to ``message`` under the
    chain's embedding model."""
    from flink_sql_ai_meetingcoach_azure_spark.models.providers import (  # noqa: PLC0415
        mock_embedding,
    )

    q = np.asarray(mock_embedding(message, MOCK_DIM), dtype=np.float32)
    c = np.asarray([mock_embedding(x, MOCK_DIM) for x in chunks], dtype=np.float32)
    return np.sort(np.round(c.astype(np.float64) @ q.astype(np.float64), 6))


def check_sample(spark, knowledge, msgs, rng, rows, prospects) -> tuple[int, set]:
    """Re-run a seeded sample of prospect messages through the batch
    pipeline; returns (tie mismatches, failing seqs)."""
    from flink_sql_ai_meetingcoach_azure_spark.ddl import (  # noqa: PLC0415
        run_reference_pipeline,
    )

    pick = sorted(int(s) for s in rng.choice(sorted(prospects), CHECK_SAMPLE, replace=False))
    sample = spark.createDataFrame(
        [(msgs.prospect[s], "prospect", None) for s in pick], SPARK_MSG_SCHEMA
    )
    run_reference_pipeline(spark, knowledge, sample, mock_dim=MOCK_DIM)
    ref = {
        seq_of(r["message"]): (r["rag_results_string"], r["coaching_response"])
        for r in spark.table("messages_prospect_rag_llm_response").collect()
    }
    ties, failing = 0, set()
    for s in pick:
        got, want = rows.get(s), ref.get(s)
        if got is None or want is None:
            failing.add(s)
            continue
        if got == want:
            continue
        gs, ws = (_sims(msgs.prospect[s], [d["chunks"] for d in json.loads(x[0])])
                  for x in (got, want))
        if len(gs) == len(ws) and np.allclose(gs, ws, atol=1e-5):
            ties += 1
        else:
            failing.add(s)
    return ties, failing
