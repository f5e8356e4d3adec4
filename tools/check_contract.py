"""Local mimic of the driver's correctness harness: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on the
same sf dir, compare row count + column names + order-insensitive
values.  Usage: python tools/check_contract.py [sf_dir] [query ...]"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb


def canon(df, float_dp=6):
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{round(v, float_dp):.{float_dp}f}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return cols, sorted(out)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from snorkel_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = E.queries()
    oq = E.oracle_sql()
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:200]}")
            fails.append(name)
            continue
        if name not in oq:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oq[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            fails.append(name)
            continue
        sc, sv = canon(sdf)
        dc, dv = canon(ddf)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            fails.append(name)
        elif len(sv) != len(dv):
            print(f"FAIL {name}: rows {len(sv)} vs {len(dv)}")
            fails.append(name)
        elif sv != dv:
            diff = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs at {diff}:")
            for i in diff:
                print("  spark :", sv[i])
                print("  duckdb:", dv[i])
            fails.append(name)
        else:
            print(f"OK   {name}: {len(sv)} rows [{time.time()-t0:.1f}s]")
    print("FAILURES:", fails if fails else "none")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
