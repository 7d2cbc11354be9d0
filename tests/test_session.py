"""Session factory + cluster sizing profile."""

from __future__ import annotations

import contextlib
import glob
import os
import threading

import pytest

from flink_sql_ai_meetingcoach_azure_spark.session import cluster_scale_conf


def test_cluster_scale_conf_sizing_rules():
    c = cluster_scale_conf(target_tb=100.0, executors=1000, executor_cores=4)
    # shuffle tasks sized for ~160MB of post-pruning shuffle input each
    n = int(c["spark.sql.shuffle.partitions"])
    assert n >= 2 * 1000 * 4  # never below 2 waves of total cores
    assert n * 160 * 1024**2 >= 100 * (1024**4) / 4  # covers the shuffle bytes
    # a tiny job never drops below two waves of the cluster's cores
    tiny = cluster_scale_conf(target_tb=0.001, executors=10, executor_cores=4)
    assert int(tiny["spark.sql.shuffle.partitions"]) == 2 * 10 * 4
    # AQE + skew handling always on; broadcasts capped, not disabled
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert int(c["spark.sql.autoBroadcastJoinThreshold"]) == 64 * 1024**2


def test_cluster_scale_conf_applies_to_a_session():
    """The dict must be pure session-level conf Spark accepts (keys that
    need cluster infrastructure are still settable; nothing typo'd)."""
    from flink_sql_ai_meetingcoach_azure_spark.session import get_spark

    conf = cluster_scale_conf(target_tb=0.01, executors=2, executor_cores=2)
    # executor/state-store keys are cluster-runtime; the SQL ones must apply
    sql_keys = {k: v for k, v in conf.items() if k.startswith("spark.sql.")
                and "stateStore" not in k}
    spark = get_spark("scale-conf-test")
    # the JVM session is a singleton shared with other test modules —
    # restore exact prior values, never unset-to-default
    prev = {}
    for k in sql_keys:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — key unset before
            prev[k] = None
    try:
        for k, v in sql_keys.items():
            spark.conf.set(k, v)
            assert spark.conf.get(k) == v
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """A Python worker unpickling a UDF that calls a package function must
    import the package even when the Spark application starts outside the
    repository (workers inherit its working directory, not its sys.path)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    code = f"""
import sys
sys.path.insert(0, {str(repo)!r})
from flink_sql_ai_meetingcoach_azure_spark import get_spark
from flink_sql_ai_meetingcoach_azure_spark.models.providers import mock_embedding

def dims(batches):
    for pdf in batches:
        yield pdf.assign(d=[len(mock_embedding(str(i), 4)) for i in pdf["id"]])

spark = get_spark("worker-path", master="local[1]")
print("DIMS", sorted({{r.d for r in spark.range(3).mapInPandas(dims, "id long, d int").collect()}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "DIMS [4]" in out.stdout, out.stderr[-3000:]


def test_python_tasks_do_not_reread_unchanged_zip_archives(spark):
    """Workers start from the engine's daemon: ``importlib.invalidate_caches``
    (called by ``pyspark.worker`` before every task) re-reads no central
    directory of an unchanged ``pyspark.zip`` or py4j zip."""

    def rereads(batches):
        import importlib
        import zipimport

        import pandas as pd

        read, calls = zipimport._read_directory, []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(rereads, "n int").collect()
    assert [r.n for r in rows] == [0]


def test_stat_checked_zip_cache_rereads_only_a_changed_archive(tmp_path):
    """An unchanged archive keeps its directory object across
    ``importlib.invalidate_caches()``; a module appended to the archive in
    place is importable after the next one."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from flink_sql_ai_meetingcoach_azure_spark.worker_daemon import (
        invalidate_if_changed,
    )

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_first.py", "X = 1\n")
    stock = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zipcache_first").X == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zipcache_second.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("zipcache_second").Y == 2
    finally:
        zipimport.zipimporter.invalidate_caches = stock
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zipcache_first", "zipcache_second"):
            sys.modules.pop(name, None)


def test_a_failing_udf_surfaces_and_the_next_job_runs(spark):
    """A UDF error under the engine's daemon reaches the driver as a
    ``PythonException``, and the daemon serves the next job's workers."""
    from pyspark.errors import PythonException

    def boom(batches):
        for _ in batches:
            raise ValueError("boom")
        yield from ()

    def ok(batches):
        yield from batches

    with pytest.raises(PythonException, match="boom"):
        spark.range(4, numPartitions=2).mapInPandas(boom, "id long").collect()
    rows = spark.range(4, numPartitions=2).mapInPandas(ok, "id long").collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]


def _jvm_children(pid: int) -> set[str]:
    out = set()
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(OSError), open(path) as f:
            out.update(f.read().split())
    return out


def _reaped_child_ticks(pid: int) -> int:
    """CPU ticks of the children ``pid`` has waited for (cutime + cstime)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _modes(root: str) -> dict[str, int]:
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[os.path.relpath(path, root)] = os.stat(path).st_mode & 0o7777
    return out


def test_local_files_are_written_without_a_child_process(spark, tmp_path):
    """The session's ``file://`` filesystem sets modes and reads links
    in-process: FileSystem and FileContext creates, FileContext renames and
    mkdirs start no child process of the JVM, and leave the same modes and
    ``.crc`` files as Hadoop's stock classes; ``getFileLinkStatus`` answers
    as the stock one for a file, a directory and a symlink, with and
    without the ``file:`` scheme."""
    n = 10
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    hfs = jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    uri = jvm.java.net.URI("file:///")
    faces = {
        "nio": (hfs.FileSystem.get(uri, conf), hfs.FileContext.getFileContext(uri, conf)),
        "stock": (hfs.FileSystem.newInstance(uri, stock_conf),
                  hfs.FileContext.getFileContext(uri, stock_conf)),
    }
    flags = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
    opts = gateway.new_array(hfs.Options.CreateOpts, 1)
    opts[0] = hfs.Options.CreateOpts.createParent()
    no_rename_opts = gateway.new_array(hfs.Options.Rename, 0)

    def write_tree(side):
        fs, fc = faces[side]
        root = f"file://{tmp_path}/{side}"
        for i in range(n):
            out = fs.create(hfs.Path(f"{root}/fs/part-{i}"), True)
            out.write(120)
            out.close()
            out = fc.create(hfs.Path(f"{root}/fc/tmp-{i}"), flags, opts)
            out.write(120)
            out.close()
            fc.rename(hfs.Path(f"{root}/fc/tmp-{i}"), hfs.Path(f"{root}/fc/log-{i}"),
                      no_rename_opts)
        fs.mkdirs(hfs.Path(f"{root}/dirs/fs/a"))
        fc.mkdir(hfs.Path(f"{root}/dirs/fc/a"),
                 hfs.permission.FsPermission.getDirDefault(), True)

    write_tree("stock")
    pid = jvm.java.lang.ProcessHandle.current().pid()
    before, seen, done = _jvm_children(pid), set(), threading.Event()

    def watch():
        while not done.is_set():
            seen.update(_jvm_children(pid))

    watcher = threading.Thread(target=watch)
    ticks = _reaped_child_ticks(pid)
    watcher.start()
    try:
        write_tree("nio")
    finally:
        done.set()
        watcher.join()
    assert (len(seen - before), _reaped_child_ticks(pid) - ticks) == (0, 0)

    nio, stock = _modes(str(tmp_path / "nio")), _modes(str(tmp_path / "stock"))
    assert nio == stock
    assert {"fs/.part-0.crc", "fc/.log-0.crc"} <= set(nio)
    umask = os.umask(0o22)
    os.umask(umask)
    if umask == 0o22:
        assert {m for k, m in nio.items() if "part-" in k or "log-" in k} == {0o644}
        assert {m for k, m in nio.items() if k.startswith("dirs")} == {0o755}

    (tmp_path / "file").write_text("x")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    for name in ("file", "dir", "link"):
        for path in (f"file://{tmp_path}/{name}", f"{tmp_path}/{name}"):
            got, want = (
                (face[0].getFileLinkStatus(hfs.Path(path)).toString(),
                 face[1].getFileLinkStatus(hfs.Path(path)).toString())
                for face in (faces["nio"], faces["stock"])
            )
            assert got == want, path
    faces["stock"][0].close()


def test_get_spark_in_a_jvm_launched_without_the_filesystem(tmp_path):
    """``get_spark`` after a plain ``SparkSession.builder`` session, whose
    JVM lacks ``NioLocalFileSystem``, sets no ``fs.*.impl`` key and local
    parquet writes and reads, also in a session started after a stop."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    code = f"""
import sys
sys.path.insert(0, {str(repo)!r})
from pyspark.sql import SparkSession
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
from flink_sql_ai_meetingcoach_azure_spark import get_spark
for i in range(2):
    spark = get_spark("joined", master="local[1]")
    out = {str(tmp_path)!r} + f"/t{{i}}"
    spark.range(5).write.parquet(out)
    conf = spark._jsc.hadoopConfiguration()
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(spark._jvm.java.net.URI("file:///"), conf)
    print("RUN", spark.read.parquet(out).count(), conf.get("fs.file.impl"),
          spark.conf.get("spark.hadoop.fs.file.impl", None),
          "Nio" in fs.getClass().getName())
    spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    runs = [line for line in out.stdout.splitlines() if line.startswith("RUN")]
    assert runs == ["RUN 5 None None False"] * 2, out.stderr[-3000:]


def test_without_javac_the_stock_filesystem_is_kept(tmp_path, monkeypatch):
    """No cached classes and no ``javac``: no class directory, one warning."""
    import warnings

    from flink_sql_ai_meetingcoach_azure_spark import session

    monkeypatch.setattr(session, "NIO_FS_CACHE", str(tmp_path / "cache"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    session.nio_fs_classes.cache_clear()
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert session.nio_fs_classes() is None
            assert session.nio_fs_classes() is None
        assert [w.category for w in caught] == [RuntimeWarning]
    finally:
        session.nio_fs_classes.cache_clear()
