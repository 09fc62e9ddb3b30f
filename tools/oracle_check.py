"""Local emulation of the driver's correctness gate: run every
queries() entry and compare with its oracle_sql() via DuckDB.

Usage:
    python tools/oracle_check.py            # all queries at sf0.001
    SF_DIR=/root/testdata/sf0.01 python tools/oracle_check.py
    python tools/oracle_check.py w4_detect_stops m2_stop_medians
    python tools/oracle_check.py c3 m3b     # id = name up to its first "_"
    python tools/oracle_check.py --uses operators.clustering --uses api

``--uses MODULE`` (repeatable) selects the gates whose builder source
(``inspect.getsource``) names that module, e.g. the gates a change to
``operators/clustering.py`` touches. The scan covers the
``__spark_entry__`` helpers a builder calls, transitively (the
home/work gates reach ``operators.homework`` only through
``_home_df`` and ``_work_df``). Names and ``--uses`` combine
with AND. Exits 1 when any selected gate reports SPARK_ERROR,
ORACLE_ERROR or MISMATCH, 2 when nothing is selected.
"""
import argparse
import inspect
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("gates", nargs="*", help="gate names or ids (default: all)")
ap.add_argument(
    "--uses", action="append", default=[], metavar="MODULE",
    help="only gates whose builder source names MODULE (repeatable)",
)
args = ap.parse_args()

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from polaroam_spark import get_spark

spark = get_spark(master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/{t}.parquet')"
    )

sqls = entry_mod.oracle_sql()


def _names(code):
    """Global names ``code`` and the functions nested in it load."""
    names = set(code.co_names)
    for c in code.co_consts:
        if inspect.iscode(c):
            names |= _names(c)
    return names


def _source(fn) -> str:
    """Source of ``fn`` and of every ``__spark_entry__`` function it
    calls, transitively."""
    seen, todo, srcs = set(), [fn], []
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        srcs.append(inspect.getsource(f))
        for n in _names(f.__code__):
            g = getattr(entry_mod, n, None)
            if inspect.isfunction(g) and g.__module__ == entry_mod.__name__:
                todo.append(g)
    return "\n".join(srcs)


def _selected(name: str, fn) -> bool:
    if args.gates and not any(
        g in (name, name.split("_")[0]) for g in args.gates
    ):
        return False
    if args.uses:
        src = _source(fn)
        return any(
            re.search(rf"\b{re.escape(m)}\b", src) for m in args.uses
        )
    return True


qs = {n: fn for n, fn in entry_mod.queries().items() if _selected(n, fn)}
if not qs:
    print("no gate selected", file=sys.stderr)
    sys.exit(2)

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), ignore_index=True)

results = {}
for name, fn in qs.items():
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR).toPandas()
    except Exception:
        results[name] = ("SPARK_ERROR", traceback.format_exc(limit=3))
        print(f"{name}: SPARK_ERROR")
        continue
    if name not in sqls:
        results[name] = ("ROWS_ONLY", len(sdf))
        print(f"{name}: ROWS_ONLY rows={len(sdf)} ({time.time()-t0:.1f}s)")
        continue
    try:
        odf = con.execute(sqls[name]).fetchdf()
    except Exception:
        results[name] = ("ORACLE_ERROR", traceback.format_exc(limit=3))
        print(f"{name}: ORACLE_ERROR")
        continue
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"cols {scols} vs {ocols}")
    else:
        # Driver's hash stringifies rendered values, so an integer sum
        # that DuckDB widens to HUGEINT (-> float64 in pandas, '3.0')
        # hash-mismatches Spark's BIGINT ('3') even when values agree.
        # Flag any int-vs-float dtype-kind split per column.
        for c in scols:
            sk = sdf[c].dtype.kind
            ok = odf[c].dtype.kind
            if {sk, ok} == {"i", "f"} or {sk, ok} == {"u", "f"}:
                problems.append(
                    f"dtype-kind col {c}: spark {sdf[c].dtype} vs oracle "
                    f"{odf[c].dtype} (HUGEINT render trap — CAST oracle expr)"
                )
    if not problems:
        a, b = norm(sdf), norm(odf)
        try:
            pd.testing.assert_frame_equal(
                a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
            )
        except AssertionError as e:
            problems.append(str(e).split("\n")[0][:200])
            diff = (a != b)
            bad_cols = [c for c in a.columns if diff[c].any()] if len(a)==len(b) else []
            if bad_cols:
                c = bad_cols[0]
                mask = a[c] != b[c]
                problems.append(
                    f"col {c}: {a[c][mask].head(3).tolist()} vs {b[c][mask].head(3).tolist()}"
                )
    status = "OK" if not problems else "MISMATCH: " + "; ".join(problems)
    results[name] = (status, len(sdf))
    print(f"{name}: {status} rows={len(sdf)} ({time.time()-t0:.1f}s)")

n_ok = sum(1 for s, _ in results.values() if s == "OK")
n_rows_only = sum(1 for s, _ in results.values() if s == "ROWS_ONLY")
print(f"\n=== {n_ok} OK, {n_rows_only} rows-only, "
      f"{len(results) - n_ok - n_rows_only} problems / {len(results)} total ===")
sys.exit(1 if n_ok + n_rows_only < len(results) else 0)
