"""Local harness mimicking the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at a given
sf_dir, compare row counts + order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from xoverrr_spark.intermediates import scope
from xoverrr_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object and len(s) and isinstance(s.iloc[0], (list, np.ndarray)):
            pdf[c] = s.map(lambda v: tuple(v))
        elif str(s.dtype).startswith("datetime"):
            pdf[c] = s.astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = norm_frame(a), norm_frame(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(float).to_numpy()
            bv = bv.astype(float).to_numpy()
            if not np.allclose(av, bv, rtol=0, atol=0, equal_nan=True):
                exact = np.sum(av != bv)
                mx = np.nanmax(np.abs(av - bv)) if len(av) else 0
                return False, f"col {c}: {exact} float mismatches, max |d|={mx:.3e}"
        else:
            if not (av.astype(str).to_numpy() == bv.astype(str).to_numpy()).all():
                bad = (av.astype(str).to_numpy() != bv.astype(str).to_numpy())
                i = int(np.argmax(bad))
                return False, f"col {c}: {bad.sum()} mismatches, e.g. row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r}"
    return True, "ok"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # one scope per query: 109 queries share one session
            with scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            fails.append(name)
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        try:
            ddf = con.execute(os_[name]).df()
        except Exception as e:
            fails.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            continue
        ok, msg = compare(sdf, ddf)
        status = "ok   " if ok else "FAIL "
        if not ok:
            fails.append(name)
        print(f"{status}{name}: {len(sdf)} rows, {time.time()-t0:.1f}s  {msg}")
    print(f"\n{len(fails)} failures: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
