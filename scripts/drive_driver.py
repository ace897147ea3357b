"""Simulate the driver: plain SparkSession, entry() smoke, per-key oracle compare at sf0.01."""
import json, math, os, sys, time
from pyspark.sql import SparkSession
import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as m

# Driver-like session: NO tuning applied here; the package must self-tune.
spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
         .config("spark.ui.enabled", "false").getOrCreate())

t0 = time.time()
df = m.entry(spark)
rows = df.collect()
print(f"ENTRY: {len(rows)} rows in {time.time()-t0:.1f}s schema={df.columns}")
print("  sample:", rows[0])

SF = os.environ.get("DRIVE_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)): return "∅"
    if isinstance(v, float):
        if math.isinf(v): return repr(v)
        return f"{v:.1f}" if v == int(v) and abs(v) < 1e15 else repr(v)
    return str(v)

qs, os_ = m.queries(), m.oracle_sql()
# optional: argv[1:] = substrings; only keys containing one are checked
keys = sorted(qs)
if len(sys.argv) > 1:
    keys = [k for k in keys if any(pat in k for pat in sys.argv[1:])]
fails = []
for key in keys:
    t0 = time.time()
    try:
        sdf = qs[key](spark, SF).toPandas()
        if key in os_:
            odf = con.execute(os_[key]).fetchdf()
            ok_cols = sorted(sdf.columns) == sorted(odf.columns)
            ok_rows = len(sdf) == len(odf)
            ok_vals = True
            if ok_cols and ok_rows:
                cols = sorted(sdf.columns)
                a = sdf[cols].map(canon).sort_values(by=cols, kind="mergesort").reset_index(drop=True)
                b = odf[cols].map(canon).sort_values(by=cols, kind="mergesort").reset_index(drop=True)
                # value compare, dtype-insensitive: empty frames from
                # toPandas vs fetchdf carry different dtypes but equal
                # (zero) canonical values — a value-hash treats them equal
                ok_vals = a.values.tolist() == b.values.tolist()
            status = "MATCH" if (ok_cols and ok_rows and ok_vals) else f"MISMATCH cols={ok_cols} rows={ok_rows} vals={ok_vals}"
        else:
            status = f"rows-only n={len(sdf)}"
        print(f"{key:24s} {status:20s} {len(sdf):7d} rows  {time.time()-t0:5.1f}s")
        if "MISMATCH" in status: fails.append(key)
    except Exception as e:
        print(f"{key:24s} ERROR {type(e).__name__}: {str(e)[:120]}")
        fails.append(key)
print("FAILS:", fails or "none")
spark.stop()
