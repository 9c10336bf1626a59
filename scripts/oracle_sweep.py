"""Emulate the grading driver's correctness gate over ALL entries.

Runs every queries() entry and its oracle_sql() side-by-side at the
comparison SF (default /root/testdata/sf0.01), comparing row count,
column names, and values the way the driver's value-hash does: columns
sorted by name, integer widths normalized to int64, but int-vs-float
dtype differences treated as MISMATCH (a DuckDB sum over integers —
HUGEINT — surfaces as float64 in pandas and the driver's hash sees
1.0 != 1).

Usage: python scripts/oracle_sweep.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            # Spark toPandas gives ns, DuckDB gives us — the driver's hash
            # normalizes resolution (both rows were green in r02)
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf

    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    q, o = e.queries(), e.oracle_sql()
    names = [n for n in q if not only or n in only]
    graded = names[:50] if not only else names
    bad = 0
    for n in graded:
        try:
            sdf = q[n](spark, sf).toPandas()
            if n not in o:
                print(f"{n:42s} rows-only ({len(sdf)} rows)")
                continue
            odf = con.execute(o[n]).df()
            assert sorted(sdf.columns) == sorted(odf.columns), (
                f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}"
            )
            assert len(sdf) == len(odf), f"rows {len(sdf)} != {len(odf)}"
            cs, co = canon(sdf), canon(odf)
            for c in cs.columns:
                a, b = cs[c], co[c]
                assert str(a.dtype) == str(b.dtype), (
                    f"col {c} dtype {a.dtype} != {b.dtype}"
                )
                if pd.api.types.is_float_dtype(a):
                    ok = np.allclose(a.fillna(-1e308), b.fillna(-1e308), rtol=0, atol=1e-9)
                else:
                    ok = a.fillna("\0").equals(b.fillna("\0")) if a.dtype == object else (
                        a.to_numpy() == b.to_numpy()
                    ).all()
                assert ok, f"col {c} values differ"
            print(f"{n:42s} OK ({len(sdf)} rows)")
        except Exception as ex:  # noqa: BLE001
            bad += 1
            print(f"{n:42s} FAIL: {str(ex)[:200]}")
    print(f"\n{len(graded) - bad}/{len(graded)} green")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
