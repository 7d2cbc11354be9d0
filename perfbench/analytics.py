"""``analytics``: one closed-loop client over a request mix.

Each registry request is ``queries.QUERIES[name].fn(spark, sf_dir)`` fully
materialized (``toPandas``); the ``curate`` request drains a document
backlog through the streaming near-dup sink (``curate.py``). There is no
think time. A pass runs every request of ``FAMILIES`` once, in a seeded
order. The first pass is set-up: it warms the JIT, the page cache and the
Python workers. The run's seconds buy the number of timed passes that
follow (two for ten seconds); latency and throughput are medians over
those passes.

Every request's result digest must equal the digest of the set-up pass's
result for it, and that result is checked once per run: a registry entry's
against its DuckDB ``oracle_sql()`` with the comparison
``tools/check_correctness.py`` uses, the sink's against the batch
bucket-minimum rule.
"""

from __future__ import annotations

import hashlib
import time
from statistics import median

import numpy as np

import gen
from curate import NearDupDrain, fold_sink_calls

SF = 0.01
SINK = "neardup_sink"
#: one family per ROADMAP direction, each bypassing the others' layers:
#: schema resolution outside jobs (relational), the exact top-k kernel
#: (retrieval), eager graph rounds inside the query function (dedup) and the
#: sinks' replay-safe state log (curate)
FAMILIES = {
    "relational": ["tpch_q1"],
    "retrieval": ["knn_classify"],
    "dedup": ["bfs_hops"],
    "curate": [SINK],
}
FAMILY_OF = {n: f for f, names in FAMILIES.items() for n in names}
#: the run makes ``seconds / SECONDS_PER_PASS`` timed passes (at least
#: one); a pass takes 7-15 s on a 4-vCPU host, and two passes averaged the
#: host's speed changes enough where one did not
SECONDS_PER_PASS = 5.0
JOB_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
            "shuffle_bytes", "spill_bytes")


def _digest(pdf) -> str:
    from tools.check_correctness import norm_rows  # noqa: PLC0415

    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in norm_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def oracle_failures(sf_dir: str, results: dict) -> set[str]:
    """Registry entries whose set-up result differs from the DuckDB oracle."""
    import duckdb  # noqa: PLC0415

    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES  # noqa: PLC0415
    from flink_sql_ai_meetingcoach_azure_spark.sources.tables import TABLES  # noqa: PLC0415
    from tools.check_correctness import dtype_classes, norm_rows  # noqa: PLC0415

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = set()
    for name, s_pdf in results.items():
        d_pdf = con.sql(QUERIES[name].sql).df()
        s_cls, d_cls = dtype_classes(s_pdf), dtype_classes(d_pdf)
        if (
            sorted(s_pdf.columns) != sorted(d_pdf.columns)
            or len(s_pdf) != len(d_pdf)
            or any({s_cls[c], d_cls[c]} == {"int", "float"} for c in s_pdf.columns)
            or norm_rows(s_pdf) != norm_rows(d_pdf)
        ):
            bad.add(name)
    con.close()
    return bad


def run(spark, ctx) -> dict:
    from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES  # noqa: PLC0415

    rng = np.random.default_rng(ctx.seed)
    sf_dir = f"{ctx.tmp}/analytics/sf"
    gen.write_tables(rng, SF, sf_dir)
    drain = NearDupDrain(rng, f"{ctx.tmp}/analytics/curate")
    names = list(FAMILY_OF)

    def request(name: str, pass_no: int):
        with ctx.spans.span(f"analytics.{name}", request=f"{pass_no}:{name}", spark=spark):
            t = time.time()
            with ctx.spans.span(f"analytics.{name}.build", spark=spark):
                if name == SINK:
                    q, d = drain.start(spark, ctx.spans)
                else:
                    df = QUERIES[name].fn(spark, sf_dir)
            pdf = drain.finish(q, d, t) if name == SINK else df.toPandas()
            return time.time() - t, pdf

    # set-up pass
    t0 = time.time()
    ref_pdf = {name: request(name, 0)[1] for name in rng.permutation(names)}
    setup_s = time.time() - t0
    ctx.log(f"warm-up pass {setup_s:.2f}s")
    ref_digest = {name: _digest(pdf) for name, pdf in ref_pdf.items()}
    sink_pdf = ref_pdf.pop(SINK)
    bad = oracle_failures(sf_dir, ref_pdf)
    if set(sink_pdf["doc_id"]) != drain.expected(spark) or sink_pdf["doc_id"].duplicated().any():
        bad.add(SINK)
    del ref_pdf, sink_pdf
    ctx.log(f"outputs checked: {sorted(bad) or 'all equal'}")

    # timed passes
    passes: list[dict[str, float]] = []
    failed = attempted = 0
    for _ in range(max(1, round(ctx.seconds / SECONDS_PER_PASS))):
        lat = {}
        for name in rng.permutation(names):
            dt, pdf = request(name, len(passes) + 1)
            lat[name] = dt
            attempted += 1
            failed += int(name in bad or _digest(pdf) != ref_digest[name])
        passes.append(lat)
    pass_s = [sum(p.values()) for p in passes]
    peak_rss_mb = ctx.rss.peak_mb
    ctx.log(f"{len(passes)} timed passes: " + " ".join(f"{t:.2f}s" for t in pass_s))

    layers = {
        f"analytics.{f}_s": median([sum(p[n] for n in FAMILIES[f]) for p in passes])
        for f in FAMILIES
    }
    layers.update(drain.layers(drain.drains[1:]))
    if ctx.trace:
        layers["curate.signatures_ms"] = drain.signatures_ms(spark, ctx.spans)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            # the mix's request types differ up to 8x in latency, so a median
            # over single requests sits between two types' extreme samples;
            # the median over passes of a pass's mean request latency does not
            "latency_p50_s": median(pass_s) / len(names),
            "throughput_per_s": len(names) / median(pass_s),
            "peak_rss_mb": peak_rss_mb,
        },
        "layers": layers,
    }


def fold_trace(spans, jobs) -> dict[str, float]:
    """Per family, summed over its requests in a timed pass and medianed over
    passes: time inside the request's build (``fn``, or starting the sink's
    stream), after it (execute), outside Spark jobs, and the jobs' counts
    and executor totals; a request's jobs include those of its child spans
    (the sink calls)."""
    per: dict[tuple[int, str], dict[str, float]] = {}
    for r in spans.records:
        if not r["name"].startswith("analytics.") or r["request"] is None:
            continue
        pass_no, name = r["request"].split(":", 1)
        if pass_no == "0":
            continue
        tree = spans.subtree(r["id"])
        build = next(c for c in tree if c["name"].endswith(".build"))
        groups = [jobs.get(f"span-{x['id']}", {}) for x in tree]
        dur, bdur = r["end"] - r["start"], build["end"] - build["start"]
        acc = per.setdefault((int(pass_no), FAMILY_OF[name]), dict.fromkeys(
            ("build_s", "execute_s", "outside_jobs_s", *JOB_KEYS), 0.0))
        acc["build_s"] += bdur
        acc["execute_s"] += dur - bdur
        acc["outside_jobs_s"] += dur - sum(g.get("in_jobs_s", 0.0) for g in groups)
        for k in JOB_KEYS:
            acc[k] += sum(g.get(k, 0) for g in groups)
    out: dict[str, list[float]] = {}
    for (_, fam), acc in per.items():
        for k, v in acc.items():
            out.setdefault(f"analytics.{fam}.{k}", []).append(v)
    return {k: median(v) for k, v in out.items()} | fold_sink_calls(spans, jobs)
