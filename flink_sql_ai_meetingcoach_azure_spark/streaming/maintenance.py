"""Crash-safe batch commit and log compaction shared by the foreachBatch
sinks.

Every sink commits a micro-batch through :func:`commit_batch` and reads its
log through :func:`read_log`; ``compact()`` replaces a log through
:func:`replace_log_atomically`.

The naive compaction — ``folded.localCheckpoint(); folded.write.mode(
"overwrite").parquet(log)`` — holds the ONLY copy of the state in executor
memory (localCheckpoint is not fault-tolerant) while the overwrite first
truncates the directory: a driver/executor failure in that window loses
the entire sink state irrecoverably. The safe shape is write-then-swap:

1. write the folded log to a sibling temp dir (``<log>__compact_tmp``);
2. rename ``<log>`` -> ``<log>__pre_compact`` (atomic dir rename on HDFS/
   local; one object-store LIST+COPY otherwise);
3. rename the temp dir -> ``<log>``;
4. delete ``<log>__pre_compact``.

A crash before (3) leaves the full pre-compaction log recoverable at
``<log>__pre_compact`` (step 0 of the next compact() restores it); a crash
after (3) leaves the already-complete compacted log live. At no point is
the only copy of the state in memory or a half-deleted directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_TMP_SUFFIX = "__compact_tmp"
_OLD_SUFFIX = "__pre_compact"
_INFLIGHT = "__inflight_"


def _fs_path(spark: SparkSession, p: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def recover_log(spark: SparkSession, log_path: str) -> None:
    """Roll back an interrupted compaction: if a previous run crashed
    between steps (2) and (3), ``log_path`` is missing and the
    ``__pre_compact`` sibling holds the authoritative pre-compaction
    state — rename it back. Stale temp output from any crash is removed
    unconditionally."""
    log_path = log_path.rstrip("/")
    fs, log = _fs_path(spark, log_path)
    _, old = _fs_path(spark, f"{log_path}{_OLD_SUFFIX}")
    _, tmp = _fs_path(spark, f"{log_path}{_TMP_SUFFIX}")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    if fs.exists(old):
        if not fs.exists(log):
            fs.rename(old, log)  # crashed mid-swap: restore
        else:
            fs.delete(old, True)  # crashed after swap: drop the stale copy


def read_log(
    spark: SparkSession, log_path: str, schema: str | None = None
) -> DataFrame | None:
    """The parquet log at ``log_path`` after self-healing an interrupted
    compaction, or None before the first batch is committed. A sink that
    declares its log's ``schema`` skips the schema-inference job."""
    recover_log(spark, log_path)
    fs, log = _fs_path(spark, log_path.rstrip("/"))
    if not fs.exists(log):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(log_path)


def replace_log_atomically(
    spark: SparkSession, log_path: str, folded: DataFrame
) -> None:
    """Replace the parquet directory at ``log_path`` with ``folded`` via
    write-then-swap. ``folded`` may read FROM the live log — it is fully
    materialized into the temp directory before the live directory is
    touched."""
    log_path = log_path.rstrip("/")
    recover_log(spark, log_path)
    fs, log = _fs_path(spark, log_path)
    _, old = _fs_path(spark, f"{log_path}{_OLD_SUFFIX}")
    _, tmp = _fs_path(spark, f"{log_path}{_TMP_SUFFIX}")
    folded.write.mode("overwrite").parquet(f"{log_path}{_TMP_SUFFIX}")
    if fs.exists(log):
        fs.rename(log, old)
    fs.rename(tmp, log)
    if fs.exists(old):
        fs.delete(old, True)


def _stage(df: DataFrame, path: str, partition_cols: list[str] | None) -> None:
    df.write.mode("overwrite").partitionBy(*(partition_cols or [])).parquet(path)


def _data_files(fs, root, rel: str = ""):
    """(path, path relative to ``root``) of every data file under
    ``root``; ``_SUCCESS`` and hidden checksum files are skipped."""
    for st in fs.listStatus(root):
        path = st.getPath()
        name = path.getName()
        if name.startswith(("_", ".")):
            continue
        if st.isDirectory():
            yield from _data_files(fs, path, f"{rel}{name}/")
        else:
            yield path, f"{rel}{name}"


def _move(fs, src, dst) -> None:
    fs.mkdirs(dst.getParent())  # e.g. a new centroid_id=c partition
    if not fs.rename(src, dst):
        raise OSError(f"could not move {src} to {dst}")


def commit_batch(
    spark: SparkSession,
    marker_path: str,
    writes: list[tuple[DataFrame, str, list[str] | None]],
) -> None:
    """Append each ``(df, path, partition_cols)`` of one micro-batch to its
    parquet directory exactly once, however often the batch is replayed
    and wherever a previous attempt crashed. The marker's file name is the
    batch id; an empty ``writes`` only marks the batch.

    1. Marker present: the batch is a replay — delete leftover staging
       and return.
    2. Stage: write each target whose staging is not finished (no
       ``_SUCCESS``) to the sibling ``<path>__inflight_<id>``. A sibling is
       invisible to readers of ``<path>`` and to a compaction swapping it.
    3. Roll forward: move every staged data file to the same relative path
       under ``<path>``, creating partition directories as needed.
    4. Create the marker, then delete the staging directories.

    Crash cases, each replaying to the state of a single apply: during (2)
    the unfinished staging is rewritten — no live directory has changed
    yet, so the rewrite sees the same state; during (3) the finished
    staging is not rewritten and only the files not yet moved are moved;
    between (3) and (4) nothing is left to move, so the replay only marks;
    after the marker, the replay only deletes the staging."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path  # one class lookup per commit
    conf = spark._jsc.hadoopConfiguration()
    marker = hpath(marker_path)
    fs = marker.getFileSystem(conf)
    batch = marker_path.rstrip("/").rsplit("/", 1)[-1]
    targets = []  # (df, partition cols, filesystem, staging dir, target dir)
    for df, path, cols in writes:
        dst = hpath(path.rstrip("/"))
        stage = hpath(f"{path.rstrip('/')}{_INFLIGHT}{batch}")
        targets.append((df, cols, dst.getFileSystem(conf), stage, dst))
    if not fs.exists(marker):
        for df, cols, tfs, stage, _ in targets:
            if not tfs.exists(hpath(stage, "_SUCCESS")):
                _stage(df, stage.toString(), cols)
        for _, _, tfs, stage, dst in targets:
            for src, rel in _data_files(tfs, stage):
                _move(tfs, src, hpath(dst, rel))
        fs.createNewFile(marker)
    for _, _, tfs, stage, _ in targets:
        tfs.delete(stage, True)
