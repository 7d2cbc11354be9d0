"""The ``curate`` family of the ``analytics`` mix: a document backlog drained
through the streaming near-dup sink.

Generated documents (random texts plus a seeded share of one-word-edit
near-duplicates of earlier documents) are published once, in id order, one
file per micro-batch. Each request drains the whole backlog through a fresh
``streaming.neardup.StreamingNearDupDedup`` ``foreachBatch`` sink (own state
log, output and checkpoint). This is the streaming layer's write-heavy use:
state-log appends, marker files and a merge-on-read of the growing state
every batch, with no model call and no vector search. The admitted ids must
equal the batch bucket-minimum rule over the same documents.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import progress_phases

DOCS = 1200
BATCH_DOCS = 600
NEAR_DUP_SHARE = 0.10
NUM_HASHES, BAND_SIZE, SHINGLE_N = 8, 2, 3  # the sink's defaults
SCHEMA = "doc_id bigint, text string"


def band_keys(df):
    from flink_sql_ai_meetingcoach_azure_spark.operators.dedup import (  # noqa: PLC0415
        lsh_band_keys,
        minhash_signatures,
    )

    return lsh_band_keys(
        minhash_signatures(df, "doc_id", "text", NUM_HASHES, SHINGLE_N),
        "doc_id", NUM_HASHES, BAND_SIZE,
    )


class NearDupDrain:
    """The published backlog and the drains run over it."""

    def __init__(self, rng: np.random.Generator, root: str) -> None:
        self.root, self.src = root, f"{root}/src"
        os.makedirs(self.src)
        docs = gen.curation_documents(rng, DOCS, NEAR_DUP_SHARE)
        clock = gen.MonotoneClock()
        for i in range(0, DOCS, BATCH_DOCS):
            gen.write_table(docs.slice(i, BATCH_DOCS), f"{self.src}/docs-{i:08d}.parquet",
                            clock.next_ns())
        self.drains: list[dict] = []  # per drain: data-trigger progress, seconds, state dir

    def start(self, spark, spans):
        """Start a drain on a fresh sink; returns the query and its directory."""
        from flink_sql_ai_meetingcoach_azure_spark.streaming.neardup import (  # noqa: PLC0415
            StreamingNearDupDedup,
        )

        d = f"{self.root}/drain-{len(self.drains)}"
        sink = StreamingNearDupDedup(f"{d}/state", f"{d}/out")

        def traced_sink(batch_df, batch_id):
            with spans.span("curate.sink_call", request=f"batch-{batch_id}",
                            spark=batch_df.sparkSession):
                sink(batch_df, batch_id)

        q = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(self.src)
            .writeStream.foreachBatch(traced_sink if spans.enabled else sink)
            .option("checkpointLocation", f"{d}/ckpt")
            .start()
        )
        return q, d

    def finish(self, q, d: str, t0: float):
        """Drain to the end; returns the admitted rows as pandas."""
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        self.drains.append({"progress": progress, "seconds": time.time() - t0,
                            "state": f"{d}/state"})
        return pq.read_table(f"{d}/out", columns=["doc_id"]).to_pandas()

    def expected(self, spark) -> set[int]:
        """Ids the batch rule admits: minhash → band keys → a doc is dropped
        iff some bucket it lands in holds a smaller id."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        docs = spark.read.parquet(self.src)
        keys = band_keys(docs)
        bucket_min = keys.groupBy("band", "bh").agg(F.min("doc_id").alias("m"))
        dups = keys.join(bucket_min, ["band", "bh"]).filter(F.col("m") < F.col("doc_id"))
        admitted = docs.select("doc_id").join(dups.select("doc_id"), "doc_id", "left_anti")
        return {r[0] for r in admitted.collect()}

    def layers(self, timed: list[dict]) -> dict[str, float]:
        """Drain rate, batch durations and trigger overhead over the timed
        drains; state-log size after the last one."""
        batches = [p for d in timed for p in d["progress"]]
        ph = progress_phases(batches)
        state = glob.glob(f"{timed[-1]['state']}/**/*.parquet", recursive=True)
        return {
            "curate.docs_per_s": float(np.median([DOCS / d["seconds"] for d in timed])),
            "curate.batch_p50_s": float(np.median(
                [p["durationMs"]["triggerExecution"] for p in batches])) / 1000.0,
            "curate.first_batch_ms": float(np.median(
                [d["progress"][0]["durationMs"]["triggerExecution"] for d in timed])),
            "curate.trigger_overhead_ms": ph["trigger_ms"] - ph["add_batch_ms"],
            "curate.state_files": len(state),
            "curate.state_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in state),
            "curate.state_bytes": sum(os.path.getsize(f) for f in state),
        }

    def signatures_ms(self, spark, spans) -> float:
        """``minhash_signatures`` + ``lsh_band_keys`` timed alone per batch."""
        out = []
        for path in sorted(glob.glob(f"{self.src}/*.parquet")):
            with spans.span("curate.signatures", spark=spark):
                t = time.time()
                band_keys(spark.read.parquet(path)).write.format("noop").mode("overwrite").save()
                out.append((time.time() - t) * 1000.0)
        return float(np.median(out))


def fold_sink_calls(spans, jobs) -> dict[str, float]:
    """Per sink call of the timed drains: duration, Spark jobs, time outside
    them and shuffle bytes, from the spans and the event log."""
    calls = [
        x
        for r in spans.records
        if r["name"].startswith("analytics.") and r["request"]
        and not r["request"].startswith("0:")
        for x in spans.subtree(r["id"])
        if x["name"] == "curate.sink_call"
    ]
    dur = [r["end"] - r["start"] for r in calls]
    per = [jobs.get(f"span-{r['id']}", {}) for r in calls]
    return {
        "curate.sink_call_ms": 1000.0 * float(np.median(dur)),
        "curate.jobs_per_batch": float(np.mean([j.get("jobs", 0) for j in per])),
        "curate.outside_jobs_ms_per_batch": 1000.0 * float(
            np.mean([d - j.get("in_jobs_s", 0.0) for d, j in zip(dur, per)])),
        "curate.shuffle_bytes_per_batch": float(
            np.mean([j.get("shuffle_bytes", 0) for j in per])),
    }
