#!/usr/bin/env python3
"""Local oracle check mirroring the driver: run Verify output vs DuckDB.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    # driver testdata ships single parquet FILES; Spark-written corpora
    # (e.g. the AmplifyCorpus ×k directories) are part-file DIRECTORIES
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
fails = 0
# every Spark output directory must have its oracle: an entry that went
# missing would otherwise drop that query from the check silently
for name in sorted(os.listdir(outdir)):
    if os.path.isdir(os.path.join(outdir, name)) and name not in oracle:
        print(f"FAIL {name}: no oracle entry"); fails += 1
for name, sql in sorted(oracle.items()):
    spark_dir = os.path.join(outdir, name)
    if not os.path.isdir(spark_dir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        duck = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue
    try:
        spark = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: spark read error {e}"); fails += 1; continue
    def norm(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, (list, tuple)) or (hasattr(v, 'ndim') and getattr(v, 'ndim') >= 1):
            return str([norm(x) for x in v])
        return v
    for df in (duck, spark):
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(norm)
    dc, sc = sorted(duck.columns), sorted(spark.columns)
    if dc != sc:
        print(f"FAIL {name}: columns duck={dc} spark={sc}"); fails += 1; continue
    d = duck[dc].sort_values(dc, ignore_index=True)
    s = spark[sc].sort_values(sc, ignore_index=True)
    if len(d) != len(s):
        print(f"FAIL {name}: rows duck={len(d)} spark={len(s)}"); fails += 1; continue
    # exact value compare (driver hashes values)
    mismatch = []
    for c in dc:
        if d[c].dtype != s[c].dtype:
            try:
                s[c] = s[c].astype(d[c].dtype)
            except Exception:
                mismatch.append((c, "dtype", str(d[c].dtype), str(s[c].dtype)))
                continue
        neq = (d[c].astype(str) != s[c].astype(str))
        if neq.any():
            i = neq.idxmax()
            mismatch.append((c, int(neq.sum()), d[c][i], s[c][i]))
    if mismatch:
        print(f"FAIL {name}: value mismatches {mismatch[:3]} ({len(d)} rows)")
        fails += 1
    else:
        print(f"OK   {name} ({len(d)} rows)")
print(f"ALL OK ({len(oracle)} queries)" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
