"""Row-level Spark-vs-oracle diff for one registry key.

    DRIVE_SF=/tmp/sf_edge python scripts/diff_key.py q_sessionize [max_rows]

Prints the first N differing canonical rows from each side (after the
same sort/canon the driver compare applies) — the fastest way to see
WHICH edge input diverges.
"""
import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as m

KEY = sys.argv[1]
MAXROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 12
SF = os.environ.get("DRIVE_SF", "/root/testdata/sf0.01")

spark = (
    SparkSession.builder.master("local[8]")
    .appName("diff-key")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if math.isinf(v):
            return repr(v)
        return f"{v:.1f}" if v == int(v) and abs(v) < 1e15 else repr(v)
    return str(v)


sdf = m.queries()[KEY](spark, SF).toPandas()
odf = con.execute(m.oracle_sql()[KEY]).fetchdf()
cols = sorted(sdf.columns)
print(f"spark {len(sdf)} rows / oracle {len(odf)} rows, cols={cols}")
a = sdf[cols].map(canon).sort_values(by=cols, kind="mergesort").reset_index(drop=True)
b = odf[cols].map(canon).sort_values(by=cols, kind="mergesort").reset_index(drop=True)
sa = set(map(tuple, a.itertuples(index=False)))
sb = set(map(tuple, b.itertuples(index=False)))
print(f"\n-- spark-only rows ({len(sa - sb)}):")
for r in sorted(sa - sb)[:MAXROWS]:
    print("  ", r)
print(f"\n-- oracle-only rows ({len(sb - sa)}):")
for r in sorted(sb - sa)[:MAXROWS]:
    print("  ", r)
spark.stop()
