#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query in <verifyOutDir>/oracle_sql.json: run the oracle SQL in
DuckDB (with each testdata table registered as a view), load the Spark
result parquet, sort columns by name and rows by all columns, and compare
VALUES REPRESENTATION-SENSITIVELY (repr of each cell).

Why repr: the driver reads Spark's parquet via pyarrow (a DECIMAL column
surfaces as `decimal.Decimal` objects) but the oracle via DuckDB's `.df()`
(the same column surfaces as float64) and then hashes values — so equal
numbers in different representations hash differently. The round-2 local
checker stringified through pandas' own coercion and masked exactly that
failure mode on 16 queries. repr() distinguishes Decimal('1.000000') from
1.0 and is bit-exact for float64 (shortest round-trip), reproducing the
driver's sensitivity.

The replays run in a pool of one worker process per available cpu, each
with its own DuckDB connection and the same views; results print in
query-name order as they complete.
"""
import glob
import json
import multiprocessing
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # repr-encode each cell FIRST (representation-sensitive), then sort:
    # sorting mixed Decimal/float object columns is fine either way, but
    # repr before sort keeps the comparison independent of dtype quirks.
    # DataFrame.map only exists in pandas >= 2.1; older pandas spells it
    # applymap — guard so the gate doesn't depend on an unpinned version.
    s = df.map(repr) if hasattr(df, "map") else df.applymap(repr)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    return s


def read_spark(out_dir: str, name: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet under {out_dir}/{name}")
    return pq.read_table(files[0] if len(files) == 1 else files).to_pandas()


def selftest_decimal_double(con) -> None:
    """Pin the decimal→double oracle rule (round-3 advice).

    DuckDB's direct decimal→double casts unscaled→double then divides by
    10^scale (double rounding): 1 ulp off Java/Spark's correctly-rounded
    BigDecimal.doubleValue once the unscaled value exceeds 2^53. The
    VARCHAR route (CAST(CAST(x AS VARCHAR) AS DOUBLE)) parses correctly
    rounded, so every decimal→double in SparkEntry.oracleSql uses it.
    Python's float() is correctly rounded too, so it stands in for Java.
    """
    v = "9007199254.740993"  # unscaled 9007199254740993 = 2^53 + 1 at scale 6
    via = con.execute(
        f"SELECT CAST(CAST(CAST('{v}' AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)"
    ).fetchone()[0]
    assert via == float(v), (
        f"VARCHAR-routed decimal->double must be correctly rounded: "
        f"{via.hex()} != {float(v).hex()}")
    direct = con.execute(
        f"SELECT CAST(CAST('{v}' AS DECIMAL(38,6)) AS DOUBLE)").fetchone()[0]
    if direct == float(v):
        print("note: DuckDB direct decimal->double is now correctly rounded; "
              "the VARCHAR route in oracle SQL is still correct, just redundant")


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


_con = None
_out_dir = None


def init_worker(sf_dir: str, out_dir: str) -> None:
    global _con, _out_dir
    # no progress bar: a worker's bar would interleave with the result lines
    _con = duckdb.connect()
    _con.execute("SET enable_progress_bar = false")
    register_views(_con, sf_dir)
    _out_dir = out_dir


def check(item):
    """Replay one oracle query; returns (its output lines, passed)."""
    name, sql = item
    try:
        got = read_spark(_out_dir, name)
        want = _con.execute(sql).df()
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            return [f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}"], False
        if len(g) != len(w):
            return [f"FAIL {name}: rows {len(g)} vs {len(w)}"], False
        if not g.equals(w):
            diff = (g != w).any(axis=1)
            idx = diff[diff].index[:3]
            lines = [f"FAIL {name}: value mismatch at rows {list(idx)}"]
            for i in idx:
                lines.append(f"  spark: {g.loc[i].to_dict()}")
                lines.append(f"  duck : {w.loc[i].to_dict()}")
            return lines, False
        return [f"PASS {name} ({len(g)} rows)"], True
    except Exception as e:  # noqa: BLE001
        return [f"ERROR {name}: {type(e).__name__}: {e}"], False


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    selftest_decimal_double(duckdb.connect())
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # spawn, not fork: a forked child would inherit the parent's DuckDB
    # and Arrow thread state
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(os.sched_getaffinity(0)), init_worker,
                  (sf_dir, out_dir)) as pool:
        for lines, ok in pool.imap(check, sorted(oracle.items())):
            print("\n".join(lines), flush=True)
            if ok:
                n_pass += 1
            else:
                n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
