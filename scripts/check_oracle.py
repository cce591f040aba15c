"""Run every queries() entry vs its oracle_sql() on DuckDB, mirroring the
driver's comparison: row count, schema width, and order-insensitive
value-hash (columns sorted by name, floats rounded)."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd

import __spark_entry__ as entry
from nail_parquet_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.Series:
    df = df.reindex(sorted(df.columns), axis=1)
    parts = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(6)
        parts.append(s.astype(str))
    joined = parts[0]
    for p in parts[1:]:
        joined = joined + "\x01" + p
    return joined.sort_values(ignore_index=True)


def main():
    import json
    import os

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    spark = get_spark("oracle-check")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    ok = fail = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {str(e)[:200]}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"{type(e).__name__}: {str(e)[:200]}"}
            fail += 1
            continue
        if name not in oracles:
            print(f"rowsonly {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            report[name] = {"rows_only": True, "spark_rows": len(sdf), "err": None}
            ok += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle raised {type(e).__name__}: {str(e)[:200]}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"oracle: {type(e).__name__}: {str(e)[:200]}"}
            fail += 1
            continue
        problems = []
        rows_match = len(sdf) == len(odf)
        schema_match = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
        hash_match = False
        if not rows_match:
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if not schema_match:
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            hash_match = bool(cs.equals(co))
            if not hash_match:
                diff = (cs != co).sum()
                ex = [(a, b) for a, b in zip(cs, co) if a != b][:2]
                problems.append(f"values differ in {diff}/{len(cs)} rows, e.g. {ex}")
        report[name] = {"rows_match": rows_match, "schema_match": schema_match,
                        "hash_match": hash_match, "spark_rows": len(sdf),
                        "oracle_rows": len(odf), "err": None}
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail")
    out_json = os.environ.get("ORACLE_JSON")
    if out_json:
        with open(out_json, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {out_json}")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
