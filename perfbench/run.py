"""Benchmark entry point.

    python3 perfbench/run.py --workload {coach,analytics} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each workload runs in a worker process
(``worker.py``) whose stdout and stderr go to ``.perfbench/logs/``, so this
process prints only the metric lines (``name value unit``) and, last, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` reports its per-layer metrics: it runs the workload once
untraced and once traced (Spark event log, job groups, spans).
``trace_overhead.<metric>`` is the traced run's value over the untraced
run's, minus one. Per-layer metrics of another workload's layers read 0.

The worker's scratch space (Spark local dirs, checkpoints, warehouse, stage
topics, generated inputs) lives under ``.perfbench/tmp`` and is removed at
exit; results and span files stay under ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_sql_ai_meetingcoach_azure_spark"
WORKLOADS = ("coach", "analytics")
PR_SET_CHILD_SUBREAPER = 36
DEADLINE_S = 172.0  # the whole command must end within 180 s
#: per-layer metric prefixes each workload fills; the rest read 0
OWNED = {
    "coach": ("coach.", "models.", "operators.", "plans."),
    "analytics": ("analytics.", "curate."),
}


def host_env(tmp: str) -> dict[str, str]:
    """Worker environment: the package importable from any directory (the
    Python workers included), parallelism and driver heap sized to the
    host, every scratch location under ``tmp``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 1024**2
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": f"{max(2, min(4, int(total_gb / 4)))}g",
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": tmp,
            # every JVM (the launcher too): temp files in the run's scratch
            # directory, no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return env


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for path in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def kill_descendants(timeout_s: float = 15.0) -> None:
    """SIGKILL every process this one started, directly or not, and reap
    them. As a child subreaper (``prctl(PR_SET_CHILD_SUBREAPER)``) this
    process inherits orphans, such as Python workers whose JVM exited, so
    none escapes."""
    end = time.time() + timeout_s
    while True:
        kids = _descendants(os.getpid())
        for pid in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not kids:
            return
        if time.time() > end:
            raise RuntimeError(f"processes {kids} did not end")
        time.sleep(0.05)


def run_worker(args: list[str], tmp: str, log_path: str, deadline: float) -> dict:
    """Run one worker to completion (or kill it at ``deadline``) and return
    its result; every process it started is gone when this returns."""
    wtmp = tempfile.mkdtemp(dir=tmp)
    out = os.path.join(wtmp, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args, "--tmp", wtmp, "--out", out]
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=wtmp, env=host_env(wtmp), stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            kill_descendants()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker {' '.join(args)} failed ({code}); see {log_path}")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a terminated run still stops its worker: SystemExit unwinds through
    # run_worker's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    for d in ("tmp", "logs", "results"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = os.path.join(base, "logs", f"{tag}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    tmp = tempfile.mkdtemp(prefix=f"{tag}-", dir=os.path.join(base, "tmp"))
    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    try:
        untraced = run_worker([*common, "--trace", "0"], tmp, log_path, deadline)
        runs = [untraced]
        if a.trace:
            traced = run_worker([*common, "--trace", "1"], tmp, log_path, deadline)
            runs.append(traced)
            values = {**traced["layers"], **untraced["layers"]}
            for m in spec["end_to_end"]:
                values[f"trace_overhead.{m['name']}"] = (
                    traced["metrics"][m["name"]] / untraced["metrics"][m["name"]] - 1.0
                )
            wanted = spec["per_layer"]
            spans_path = os.path.join(base, "results", f"{tag}.spans.json")
            with open(spans_path, "w") as f:
                json.dump(traced.get("spans", []), f)
        else:
            values = dict(untraced["metrics"])
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            v = float(values[name])
        elif a.trace and not name.startswith(OWNED[a.workload] + ("trace_overhead.",)):
            v = 0.0
        else:
            raise RuntimeError(f"workload {a.workload} did not measure {name}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump({**result, "runs": [{k: v for k, v in r.items() if k != "spans"}
                                      for r in runs]}, f)
    for name, m in metrics.items():
        print(f"{name} {m['value']!r} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
