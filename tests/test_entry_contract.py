"""Driver-contract shape of __spark_entry__: the gate the driver actually
calls. Cheap insurance that a refactor never breaks the entry surface."""

from __future__ import annotations

import inspect
import os
import sys


def test_entry_contract_shape():
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 70
    assert set(oracles) <= set(qs)  # every oracle belongs to a query
    assert len(oracles) >= 68
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(v, str) and v.strip() for v in oracles.values())
    # every registry entry is oracle-backed as of r11: the last rows-only
    # entry (rag_pipeline — nondeterministic limit() knowledge base) was
    # retired in favour of its hash-verified twins rag_pipeline_verified
    # and rag_pipeline_bulk (VERDICT r10 #8). Additions to the rows-only
    # set must be conscious decisions, not accidents.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set(), rows_only
    # the driver checks the FIRST 50 entries; since r12 the window
    # membership lives in queries._WINDOW_R13 and is DERIVED from the
    # CORRECTNESS_r*.json ledger — the rotation rules are enforced
    # against the ledger itself in test_window_rotation_matches_ledger
    # below (VERDICT r11 #8: computed, not hand-claimed).
    assert all(oracles.get(n) for n in list(qs)[:50])  # window is 100% oracle-backed


def test_window_rotation_matches_ledger():
    """The r10 stale-claim bug class, made impossible (VERDICT r11 #8):
    the window claims are re-derived from the CORRECTNESS_r*.json
    evidence ledger on each pytest run —
      1. the registry order actually starts with _WINDOW_R13;
      2. the ledger covers exactly the registry's entries;
      3. every never-externally-checked entry is IN the window (new
         work cannot re-open the external-evidence ledger);
      4. every out-of-window entry has external green evidence at or
         above the rotation floor (r13 rotated every r06-evidence
         entry into the window — the tail floor is r08)."""
    sys.path.insert(0, "/root/repo")
    sys.path.insert(0, "/root/repo/tools")
    import __spark_entry__ as e
    from evidence_ledger import latest_evidence

    from flink_sql_ai_meetingcoach_azure_spark.queries import _WINDOW_R13

    qs = list(e.queries())
    window, tail = qs[:50], qs[50:]
    assert window == _WINDOW_R13
    led = latest_evidence()
    assert set(led) == set(qs)
    never = {n for n, r in led.items() if r is None}
    assert never <= set(window), never - set(window)
    TAIL_EVIDENCE_FLOOR = 8  # raise on each future rotation
    tail_rounds = {n: led[n] for n in tail}
    assert all(r is not None and r >= TAIL_EVIDENCE_FLOOR
               for r in tail_rounds.values()), {
        n: r for n, r in tail_rounds.items()
        if r is None or r < TAIL_EVIDENCE_FLOOR
    }


def test_out_of_window_oracles_stay_green(spark):
    """The driver never verifies entries past #50, so the subsumption claims
    for the out-of-window oracle-backed entries could silently drift — run
    the full gate (rows + schema + dtype drift + values vs DuckDB) for
    exactly those entries at sf0.001 on every pytest run (ADVICE r4)."""
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e
    from tools.check_correctness import check_entries

    qs, oracles = e.queries(), e.oracle_sql()
    tail_oracle_backed = [n for n in list(qs)[50:] if n in oracles]
    assert tail_oracle_backed  # the set exists by construction
    failures = check_entries(spark, "/root/testdata/sf0.001", tail_oracle_backed)
    assert not failures, failures


def test_registry_follows_the_naming_rule():
    """The registry is derived, not hand-kept: entry <name> is the function
    q_<name> paired with SQL_<NAME> or _sql_<name>(), and _SHARED_ORACLE
    names the route / codec siblings that reuse a base entry's oracle. A
    misnamed function or oracle fails here instead of silently dropping
    out of the registry or out of its pair."""
    from flink_sql_ai_meetingcoach_azure_spark import queries as q

    fns = {k[2:]: v for k, v in vars(q).items()
           if k.startswith("q_") and inspect.isfunction(v)}
    assert list(q.QUERIES) == q._WINDOW_R13 + [
        n for n in fns if n not in q._WINDOW_R13]
    consts = {k[4:].lower() for k in vars(q) if k.startswith("SQL_")}
    builders = {k[5:] for k, v in vars(q).items()
                if k.startswith("_sql_") and inspect.isfunction(v)}
    assert not consts & builders, consts & builders
    own = set(fns) - set(q._SHARED_ORACLE)
    # every oracle belongs to the entry with its name, and every entry
    # but the siblings has one; the siblings' bases are among them
    assert consts | builders == own, (consts | builders) ^ own
    assert set(q._SHARED_ORACLE) <= set(fns)
    assert set(q._SHARED_ORACLE.values()) <= own
    for n, spec in q.QUERIES.items():
        assert spec.fn.__wrapped__ is fns[n]


def test_registry_prepares_an_unconfigured_session(spark, sf_dir):
    """A caller may hand in a session without get_spark's settings. The
    registry's wrapper runs _prep before every entry, so the entry still
    reads events.ts as UTC timestamps under AQE."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    conf = spark.conf
    try:
        conf.set("spark.sql.session.timeZone", "America/New_York")
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        e.queries()["filter_route"](spark, sf_dir)
        assert conf.get("spark.sql.session.timeZone") == "UTC"
        assert conf.get("spark.sql.adaptive.enabled") == "true"
        assert conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        conf.set("spark.sql.session.timeZone", "UTC")
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_cached_index_builds_once_per_key_until_cleared(spark):
    """bench.py times ann_ivf_topk's cold build by clearing _IVF_CACHE and
    its steady-state probe by calling again: a hit must not rebuild, each
    tag is its own index, and a clear forces the next call to rebuild."""
    import hashlib

    from pyspark import SparkFiles

    from flink_sql_ai_meetingcoach_azure_spark.queries import _IVF_CACHE, _cached_index

    sf_dir = "/data/sf0.001"
    built = []
    saved = dict(_IVF_CACHE)
    try:
        p1 = _cached_index(spark, sf_dir, "ivf_idx", built.append)
        sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        assert p1 == f"{SparkFiles.getRootDirectory()}/ivf_idx_{sf_tag}/index"
        assert _cached_index(spark, sf_dir, "ivf_idx", built.append) == p1
        assert built == [p1]
        p2 = _cached_index(spark, sf_dir, "ivfpq_idx", built.append)
        assert p2 != p1 and built == [p1, p2]
        _IVF_CACHE.clear()
        assert _cached_index(spark, sf_dir, "ivf_idx", built.append) == p1
        assert built == [p1, p2, p1]
    finally:
        _IVF_CACHE.clear()
        _IVF_CACHE.update(saved)


def test_cached_index_is_deleted_when_the_session_stops(tmp_path):
    """An index built through _cached_index lives in the application's
    temp directory, so stopping the session deletes it: a run of many
    sessions leaves no index directories behind."""
    import subprocess
    from pathlib import Path

    script = (
        "import os\n"
        "from flink_sql_ai_meetingcoach_azure_spark import get_spark\n"
        "from flink_sql_ai_meetingcoach_azure_spark.queries import _cached_index\n"
        "s = get_spark('index-leak', master='local[1]')\n"
        "p = _cached_index(s, '/data/sf', 'ivf_idx',\n"
        "                  lambda path: s.range(3).write.parquet(path))\n"
        "assert os.path.isdir(p), p\n"
        "s.stop()\n"
        "print('exists' if os.path.exists(p) else 'gone', p)\n"
    )
    repo = Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[0] == "gone", out.stdout


def test_table_reads_with_a_cached_schema_equal_plain_reads(spark, sf_dir):
    """_t infers a table's schema on its first read and declares it on
    the next: both give the schema and rows of spark.read.parquet for all
    10 tables, events also through _events."""
    from flink_sql_ai_meetingcoach_azure_spark.queries import (
        _SCHEMA_CACHE,
        _events,
        _prep,
        _t,
    )
    from flink_sql_ai_meetingcoach_azure_spark.sources.tables import TABLES

    def rows(df):
        return sorted(map(repr, df.collect()))

    _prep(spark)
    saved = dict(_SCHEMA_CACHE)
    try:
        _SCHEMA_CACHE.clear()
        inferred_events = _events(spark, sf_dir)
        for name in TABLES:
            plain = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            first, cached = _t(spark, sf_dir, name), _t(spark, sf_dir, name)
            assert first.schema == cached.schema == plain.schema, name
            assert rows(cached) == rows(plain), name
        assert len(_SCHEMA_CACHE) == len(TABLES)
        events = _events(spark, sf_dir)
        assert events.schema == inferred_events.schema
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert rows(events) == rows(inferred_events)
    finally:
        _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE.update(saved)


def test_table_schema_is_inferred_again_after_a_rewrite(spark, tmp_path):
    """The cache key holds the file's mtime and size, so a table rewritten
    with another schema (and size) is read with its new schema."""
    import time

    from flink_sql_ai_meetingcoach_azure_spark.queries import _SCHEMA_CACHE, _t

    path = tmp_path / "region.parquet"
    spark.range(3).toPandas().to_parquet(path)
    saved = dict(_SCHEMA_CACHE)
    try:
        assert _t(spark, str(tmp_path), "region").columns == ["id"]
        assert _t(spark, str(tmp_path), "region").columns == ["id"]
        time.sleep(0.01)
        spark.range(3).selectExpr("id", "id * 2 AS twice").toPandas().to_parquet(path)
        again = _t(spark, str(tmp_path), "region")
        assert again.columns == ["id", "twice"]
        assert sorted(r.twice for r in again.collect()) == [0, 2, 4]
    finally:
        _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE.update(saved)
