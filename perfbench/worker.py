"""One benchmark process: start Spark, run one workload, write its result.

Started by ``run.py`` with stdout and stderr sent to a log file, so Spark's
own output never reaches the benchmark's stdout. Usage::

    python3 perfbench/worker.py --workload coach --seed 1 --seconds 10 \
        --trace 0 --tmp <scratch dir> --out <result.json>
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import RssSampler, Spans, fold_event_log, start_spark  # noqa: E402


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    tmp: str
    spans: Spans
    t0: float
    rss: RssSampler

    def log(self, msg: str) -> None:
        """Progress note for the worker's log file."""
        print(f"[perfbench {time.time() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    module = importlib.import_module(a.workload)
    t_start = time.time()
    with RssSampler() as rss:
        ctx = Context(a.seed, a.seconds, bool(a.trace), a.tmp,
                      Spans(bool(a.trace)), t_start, rss)
        spark = start_spark(a.tmp, ctx.trace)
        session_s = time.time() - t_start
        ctx.log("session started")
        try:
            res = module.run(spark, ctx)
        finally:
            ctx.log("workload done")
            spark.stop()
            ctx.log("session stopped")
    res["metrics"].setdefault("peak_rss_mb", rss.peak_mb)
    res.setdefault("layers", {})["session_start_s"] = session_s
    if ctx.trace:
        jobs = fold_event_log(os.path.join(a.tmp, "eventlog"))
        if hasattr(module, "fold_trace"):
            res["layers"].update(module.fold_trace(ctx.spans, jobs))
        for r in ctx.spans.records:
            r["self_s"] = ctx.spans.self_time(r["id"])
            r.update(jobs.get(f"span-{r['id']}", {}))
        res["spans"] = ctx.spans.records
    with open(a.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
