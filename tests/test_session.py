"""Session factory + cluster sizing profile."""

from __future__ import annotations

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
