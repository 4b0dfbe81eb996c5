"""Local emulation of the driver's correctness gate: run every
__spark_entry__ queries() entry at a given SF dir and compare with its
oracle_sql() twin in DuckDB (row count, column set, sorted values).

`tests/test_contract.py` runs the same comparison at sf0.001 in tier-1
through `oracle_views`, `normalize` and `mismatches`; this script is the
CLI for the other scale factors.

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of `sf_dir`,
    the names `oracle_sql()` reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == bool:
            df[c] = df[c].astype("boolean")
        elif str(df[c].dtype) in ("int64", "int32", "Int64", "Int32"):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """How the Spark result `got` differs from the oracle's `exp`, as
    one message per difference; empty when they agree."""
    g, e = normalize(got), normalize(exp)
    status = []
    if len(g) != len(e):
        status.append(f"rowcount {len(g)} != {len(e)}")
    if list(g.columns) != list(e.columns):
        status.append(f"cols {list(g.columns)} != {list(e.columns)}")
    if status:
        return status
    for c in g.columns:
        gv, ev = g[c], e[c]
        # The driver's hash is exact on rendered values, so an
        # int64-vs-float64 dtype slip (e.g. DuckDB HUGEINT sums) fails
        # there even when values coincide.  Mirror that: mixed int/float
        # dtypes are a FAIL, not a coercion.
        if gv.dtype.kind in "iu" and ev.dtype.kind == "f":
            status.append(
                f"col {c} dtype int-vs-float ({gv.dtype} vs "
                f"{ev.dtype}) — driver hash would diverge"
            )
            continue
        if gv.dtype.kind == "f" and ev.dtype.kind in "iu":
            status.append(
                f"col {c} dtype float-vs-int ({gv.dtype} vs "
                f"{ev.dtype}) — driver hash would diverge"
            )
            continue
        try:
            if gv.dtype.kind == "f" or ev.dtype.kind == "f":
                ok = np.allclose(
                    gv.fillna(np.nan), ev.fillna(np.nan), equal_nan=True, atol=0
                )
            else:
                ok = gv.equals(ev)
        except Exception:
            ok = False
        if not ok:
            diff = (gv != ev) & ~(gv.isna() & ev.isna())
            idx = diff[diff].index[:3]
            status.append(f"col {c} mismatch e.g. {[(gv[i], ev[i]) for i in idx]}")
    return status


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from smos_spark.session import get_spark

    spark = get_spark()
    con = oracle_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        status = mismatches(got, exp)
        if status:
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(status))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(got)} rows ({dt:.1f}s)")
    print("entry():", entrymod.entry(spark).count(), "rows")
    return n_fail


if __name__ == "__main__":
    sys.exit(main())
