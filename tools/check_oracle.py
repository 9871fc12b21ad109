"""Local harness mirroring the driver's DuckDB-oracle comparison:
runs each queries()[name] on Spark and oracle_sql()[name] on DuckDB at the
given sf dir, compares row counts and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        vals = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v):
                    v = None
                else:
                    v = round(v, 6)
            elif hasattr(v, "item"):
                v = v.item()
            vals.append(v)
        rows.append(tuple(vals))
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from lakehouse_ingestion_spark.session import get_spark, SparkConfig

    spark = get_spark(SparkConfig(shuffle_partitions=16))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERROR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            if len(sdf) == 0:
                failures.append(name)
                print(f"[FAIL rows-only] {name}: 0 rows (must be > 0)")
            else:
                print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"[DUCK-ERROR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        s_rows = canon(sdf)
        o_rows = canon(odf)
        ok_vals = s_rows == o_rows
        # The driver's hash is dtype-exact (DuckDB HUGEINT broke 3 rows in
        # round 1), so flag any per-column pandas dtype divergence too.
        ok_dtypes = ok_cols and all(
            str(sdf[c].dtype) == str(odf[c].dtype) for c in sdf.columns
        )
        status = "OK" if (ok_rows and ok_cols and ok_vals and ok_dtypes) else "MISMATCH"
        print(f"[{status}] {name}: spark={len(sdf)} duck={len(odf)} cols_ok={ok_cols}")
        if ok_cols and not ok_dtypes:
            for c in sdf.columns:
                if str(sdf[c].dtype) != str(odf[c].dtype):
                    print(f"   dtype {c}: spark={sdf[c].dtype} duck={odf[c].dtype}")
        if status == "MISMATCH":
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols: {sorted(sdf.columns)}")
                print(f"   duck  cols: {sorted(odf.columns)}")
            else:
                diffs = 0
                for a, b in zip(s_rows, o_rows):
                    if a != b and diffs < 3:
                        print(f"   spark: {a}\n   duck : {b}")
                        diffs += 1
                if len(s_rows) != len(o_rows):
                    print(f"   row count differs: {len(s_rows)} vs {len(o_rows)}")
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
