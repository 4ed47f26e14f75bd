"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count + sorted-column value hash. Usage:

    python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pubscience_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(
                col.dropna().iloc[0] if len(col.dropna()) else None, float):
            df[c] = col.astype(float)
        if str(col.dtype).startswith("datetime64"):
            df[c] = col.astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    """Dtype-STRICT hash: int64 vs float64 (e.g. DuckDB HUGEINT sums) must
    mismatch here, because the driver's serialization is dtype-sensitive —
    round-1 proved a lenient local hash hides driver-red type artifacts."""
    df = canon(df)
    kinds = ",".join(df[c].dtype.kind for c in df.columns)
    blob = (kinds + "\n"
            + df.to_csv(index=False, float_format="%.12g")).encode()
    return hashlib.md5(blob).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            sdf = df.toPandas()
            from pubscience_spark.operators.dedup import unpersist_input
            unpersist_input(df)   # drop any per-run persist handle
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check)")
            if len(sdf) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        odf = con.execute(sql).fetchdf()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(f"{status}  {name}: spark={len(sdf)} oracle={len(odf)} "
              f"cols={'=' if ok_cols else sorted(sdf.columns)} "
              f"hash={'=' if ok_hash else 'MISMATCH'}")
        if status == "FAIL":
            failures += 1
            if ok_rows and ok_cols:
                a, b = canon(sdf), canon(odf)
                neq = (a.astype(str) != b.astype(str)).any(axis=1)
                print("  spark:", a[neq].head(3).to_dict("records"))
                print("  oracle:", b[neq].head(3).to_dict("records"))
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
