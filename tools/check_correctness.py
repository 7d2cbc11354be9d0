"""Local mirror of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row count + sorted-column names + order-insensitive values.

Both sides are fetched through the SAME pandas bridge the driver uses
(``DataFrame.toPandas()`` / ``DuckDBPyRelation.df()``) and compared
dtype-sensitively: an oracle whose aggregate comes back HUGEINT/DECIMAL
crosses the bridge as float64 while Spark returns int64, and the driver's
hasher then sees "93859.0" vs "93859".  The old ``%.9g``-only mirror
normalized that away and passed entries the driver failed (rounds 2 and 4).
Now an int-vs-float dtype-kind mismatch on any shared column is a hard
failure even when the normalized values agree.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from flink_sql_ai_meetingcoach_azure_spark import get_spark  # noqa: E402
from flink_sql_ai_meetingcoach_azure_spark.queries import QUERIES  # noqa: E402
from flink_sql_ai_meetingcoach_azure_spark.sources.tables import TABLES  # noqa: E402

# numpy dtype.kind -> coarse class used for the drift check
_KIND_CLASS = {
    "i": "int", "u": "int",
    "f": "float",
    "b": "bool",
    "M": "ts", "m": "td",
    "O": "obj", "S": "obj", "U": "obj",
}


def dtype_classes(pdf: pd.DataFrame) -> dict[str, str]:
    return {c: _KIND_CLASS.get(pdf[c].dtype.kind, "obj") for c in pdf.columns}


def norm_cell(v):
    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        fv = float(v)
        return "nan" if math.isnan(fv) else f"{fv:.9g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


_UNHASHABLE = (list, tuple, dict, np.ndarray)


def unhashable_cols(pdf: pd.DataFrame) -> list[str]:
    """Columns whose cells the DRIVER's canonicalizer cannot hash.

    The driver sorts raw pandas cells (``sort_values`` -> ``factorize``)
    before hashing; list/ndarray/dict/Row cells raise
    ``TypeError: unhashable type`` there (r10's only red row,
    ``context_windows``).  The old mirror stringified such cells first
    (``norm_cell``) and so was MORE permissive than the driver — the
    same gate-fidelity class as the r4/r5 dtype drift.  Any entry whose
    final output carries such a column must scalar-encode it
    (``array_join`` / ``to_json``) on BOTH engine and oracle sides.
    """
    bad = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind != "O":
            continue
        if col.map(
            lambda v: isinstance(v, _UNHASHABLE) or hasattr(v, "asDict")
        ).any():
            bad.append(c)
    return bad


def norm_rows(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def check_entries(spark, sf_dir: str, only=()) -> list[str]:
    """Run the gate for the named entries (all when empty); returns the
    failing entry names.  Callable from pytest with a shared session."""
    only = set(only)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            s_pdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        uh = unhashable_cols(s_pdf)
        if uh:
            print(f"FAIL {name}: driver-unhashable cells (list/ndarray/struct) "
                  f"in columns {uh} — scalar-encode them on both sides")
            failures.append(name)
            continue
        if spec.sql is None:
            ok = len(s_pdf) > 0
            print(f"{'ok  ' if ok else 'FAIL'} {name}: rows-only, {len(s_pdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            if not ok:
                failures.append(name)
            continue
        try:
            d_pdf = con.sql(spec.sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        if sorted(s_pdf.columns) != sorted(d_pdf.columns):
            print(f"FAIL {name}: columns spark={sorted(s_pdf.columns)} "
                  f"duck={sorted(d_pdf.columns)}")
            failures.append(name)
            continue
        if len(s_pdf) != len(d_pdf):
            print(f"FAIL {name}: rowcount spark={len(s_pdf)} duck={len(d_pdf)}")
            failures.append(name)
            continue
        # dtype-kind drift check: int-vs-float on the pandas bridge is exactly
        # what breaks the driver's value hash (uncast HUGEINT / DECIMAL oracle)
        s_cls, d_cls = dtype_classes(s_pdf), dtype_classes(d_pdf)
        drift = [
            (c, s_cls[c], d_cls[c])
            for c in s_pdf.columns
            if {s_cls[c], d_cls[c]} == {"int", "float"}
        ]
        if drift:
            print(f"FAIL {name}: pandas-bridge dtype drift (driver hash would "
                  f"mismatch): {drift}")
            failures.append(name)
            continue
        soft = [
            (c, s_cls[c], d_cls[c]) for c in s_pdf.columns if s_cls[c] != d_cls[c]
        ]
        if soft:
            print(f"warn {name}: dtype class differs (non-numeric): {soft}")
        ns, nd = norm_rows(s_pdf), norm_rows(d_pdf)
        if ns != nd:
            diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {diff}")
            failures.append(name)
            continue
        print(f"ok   {name}: {len(s_pdf)} rows match ({time.time()-t0:.1f}s)")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    unknown = [n for n in sys.argv[2:] if n not in QUERIES]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 1
    spark = get_spark("correctness-check")
    failures = check_entries(spark, sf_dir, sys.argv[2:])
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
