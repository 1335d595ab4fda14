#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare (exactly) with the engine
result parquet dumped by graft.Verify. Queries are checked in parallel,
one process per CPU (each with its own DuckDB connection); the report is
printed in query-name order.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [name,name,...]
"""
import json, sys, glob, os
from concurrent.futures import ProcessPoolExecutor
import duckdb
import pandas as pd
import numpy as np
import pyarrow.parquet as pq


def read_engine(f):
    # timestamp_as_object keeps timestamps as python datetimes instead of
    # datetime64[ns]: pandas ns-conversion WRAPS out-of-range values
    # (9999-12-31 -> 1816-03-29) on BOTH engine and oracle sides, which
    # masked the i11 INT96 write bug locally while the driver (which
    # hashes stringified values) failed it. Never let ns-wrap touch the
    # compare.
    meta = pq.read_metadata(f)
    # engine-wide event-horizon guard: no dumped file may carry INT96
    # timestamps — arrow converts INT96 to int64 NANOS, which wraps
    # far-future sentinels before any value compare can see them
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        if col.physical_type == "INT96":
            raise AssertionError(
                f"{f}: column '{col.name}' is INT96 — engine parquet "
                "must be INT64 TIMESTAMP_MICROS (Catalog.sessionConfs)")
        # tz guard (round-9 blind spot): an isAdjustedToUTC=true footer
        # reads back as datetime64[us, UTC] in the driver's pandas while
        # the DuckDB oracle is tz-naive — schema+hash fail at the driver
        # even though timestamp_as_object below drops the tzinfo and
        # values look equal locally. The local mirror must fail exactly
        # when the driver fails: every dumped timestamp must be NTZ
        # (Catalog.dumpNormalize casts TimestampType → TimestampNTZType
        # at the Verify dump boundary).
        lt = col.logical_type
        if lt.type == "TIMESTAMP" and "isAdjustedToUTC=true" in str(lt):
            raise AssertionError(
                f"{f}: column '{col.name}' is UTC-adjusted TIMESTAMP — "
                "engine dumps must be tz-naive (Catalog.dumpNormalize)")
    return pq.read_table(f).to_pandas(timestamp_as_object=True)


def fetch_oracle(con, sql):
    return con.execute(sql).fetch_arrow_table().to_pandas(
        timestamp_as_object=True)

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

_con = None  # this worker's DuckDB connection


def _connect(sf_dir):
    global _con
    _con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            _con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def check_one(item):
    """One query's verdict: (ok, report line)."""
    name, sql, out_dir = item
    try:
        exp = fetch_oracle(_con, sql)
    except Exception as e:
        return False, f"FAIL {name}: oracle SQL error: {e}"
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return False, f"FAIL {name}: no engine output"
    try:
        got = pd.concat([read_engine(f) for f in sorted(files)])
    except AssertionError as e:
        return False, f"FAIL {name}: {e}"
    if sorted(got.columns) != sorted(exp.columns):
        return False, f"FAIL {name}: columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    g, e = norm(got), norm(exp)
    if len(g) != len(e):
        return False, f"FAIL {name}: rows {len(g)} vs {len(e)}"
    bad_cols = []
    # the driver hashes STRINGIFIED values, so an int64 engine column
    # vs a float64 oracle column (e.g. DuckDB HUGEINT -> float) is a
    # hash mismatch even when numerically equal — flag kind drift.
    # int64-vs-uint64 (and bool-vs-object-bool) stringify identically,
    # so the driver's hash would match — treat those kinds as compatible
    def kinds_compatible(a, b):
        if a == b:
            return True
        pair = {a, b}
        return pair <= {"i", "u"} or pair <= {"b", "O"}
    kind_bad = [(c, g[c].dtype.kind, e[c].dtype.kind) for c in g.columns
                if not kinds_compatible(g[c].dtype.kind, e[c].dtype.kind)]
    if kind_bad:
        return False, f"FAIL {name}: dtype-kind drift (engine vs oracle) {kind_bad}"
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        eq = (pd.isna(gv) & pd.isna(ev)) | (gv == ev)
        if not eq.all():
            i = int(np.argmin(eq))
            bad_cols.append((c, gv[i], ev[i]))
    if bad_cols:
        return False, f"FAIL {name}: value mismatch {bad_cols[:3]}"
    return True, f"ok   {name} ({len(g)} rows)"


def main(sf_dir, out_dir, only=None):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:
        keep = set(only.split(","))
        oracle = {k: v for k, v in oracle.items() if k in keep}
    items = [(name, sql, out_dir) for name, sql in sorted(oracle.items())]
    n_ok = n_bad = 0
    with ProcessPoolExecutor(max_workers=os.cpu_count() or 1,
                             initializer=_connect, initargs=(sf_dir,)) as pool:
        for ok, line in pool.map(check_one, items):
            print(line, flush=True)
            n_ok += ok
            n_bad += not ok
    print(f"== {n_ok} ok, {n_bad} fail")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
