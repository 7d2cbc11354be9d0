"""Shared plumbing for the benchmark worker: the Spark session, memory
sampling, spans, streaming progress phases and the event-log fold."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


def start_spark(tmp: str, trace: bool):
    """The engine's own session factory, with the benchmark's scratch
    locations, a fixed-size heap and, when tracing, an uncompressed event
    log."""
    from flink_sql_ai_meetingcoach_azure_spark import get_spark  # noqa: PLC0415

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed, pre-touched driver heap: resident memory does not depend
        # on how far the collector happened to grow the heap in this run
        "spark.driver.defaultJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# memory


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(OSError), open(path) as f:
            out.extend(int(c) for c in f.read().split())
    return out


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak summed resident memory of this process's descendants: the
    driver JVM and the Python workers it forks."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        """The JVM's resident set plus its Python descendants' proportional
        sets: pyspark's workers are forked from one daemon and share most
        pages with it, so resident sets would count those pages once per
        worker. Other descendants are skipped: a command the JVM is spawning
        shares the JVM's memory until it execs."""
        total = 0
        for jvm in _children(os.getpid()):
            total += _proc_kb(f"/proc/{jvm}/status", "VmRSS:")
            todo = _children(jvm)
            while todo:
                pid = todo.pop()
                todo.extend(_children(pid))
                if _is_python(pid):
                    total += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans


class Spans:
    """In-memory spans (name, start, end, parent, request id), written out
    by the caller at exit. Disabled instances record nothing and cost one
    branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, spark=None):
        """Time the block; with ``spark`` the block also runs under a Spark
        job group named after the span, so the event log attributes its
        jobs to it."""
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.records)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "request": request,
                   "start": time.time(), "end": None}
            self.records.append(rec)
            self._stack.append(sid)
        if spark is not None:
            spark.sparkContext.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            if spark is not None:
                spark.sparkContext.setJobGroup(
                    f"span-{parent}" if parent is not None else "", ""
                )
            with self._lock:
                self._stack.pop()

    def subtree(self, sid: int) -> list[dict]:
        """Span ``sid`` and every span below it."""
        out, todo = [], [self.records[sid]]
        while todo:
            rec = todo.pop()
            out.append(rec)
            todo.extend(r for r in self.records if r["parent"] == rec["id"])
        return out

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it that child spans cover."""
        rec = self.records[sid]
        kids = [(r["start"], r["end"]) for r in self.records if r["parent"] == sid]
        return rec["end"] - rec["start"] - union_length(kids)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# streaming progress


def phase_ms(progress: dict, *phases: str) -> float:
    d = progress.get("durationMs") or {}
    return float(sum(d.get(p, 0) for p in phases))


def progress_phases(progresses: list[dict]) -> dict[str, float]:
    """Mean trigger phases over the data-carrying triggers of one stream."""
    rows = [p for p in progresses if p.get("numInputRows", 0) > 0]
    if not rows:
        return {"trigger_ms": 0.0, "offset_log_ms": 0.0, "source_list_ms": 0.0,
                "planning_ms": 0.0, "add_batch_ms": 0.0, "rows": 0}
    n = len(rows)
    return {
        "trigger_ms": sum(phase_ms(p, "triggerExecution") for p in rows) / n,
        "offset_log_ms": sum(phase_ms(p, "walCommit", "commitOffsets") for p in rows) / n,
        "source_list_ms": sum(phase_ms(p, "latestOffset", "getBatch") for p in rows) / n,
        "planning_ms": sum(phase_ms(p, "queryPlanning") for p in rows) / n,
        "add_batch_ms": sum(phase_ms(p, "addBatch") for p in rows) / n,
        "rows": sum(p["numInputRows"] for p in rows),
    }


# ---------------------------------------------------------------------------
# event log


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group (the span ids set by :meth:`Spans.span`): jobs,
    stages, tasks, executor CPU and run seconds, shuffle and spill bytes,
    and the group's seconds inside jobs (union of job intervals)."""
    group_of_job: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
            "executor_run_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
            "in_jobs_s": 0.0, "_iv": []})

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    group_of_job[jid] = g
                    job_iv[jid] = [ev["Submission Time"] / 1000.0, None]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    acc(g)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_iv:
                        job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None:
                        a = acc(group_of_job[jid])
                        a["stages"] += 1
                        a["tasks"] += info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid is None or not m:
                        continue
                    a = acc(group_of_job[jid])
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                        "Memory Bytes Spilled", 0)
    for jid, (s, e) in job_iv.items():
        if e is not None:
            out[group_of_job[jid]]["_iv"].append((s, e))
    for a in out.values():
        a["in_jobs_s"] = union_length(a.pop("_iv"))
    return out
