"""Ad-hoc parity check for a subset of queries at a chosen SF.

Usage: python scripts/check_queries.py [sf_dir] name1 name2 ...
Mirrors driver_sim's canonicalization exactly (column-sorted value hash).
"""
import os
import sys

sys.path.insert(0, "/root/repo")
import duckdb
from pyspark.sql import SparkSession

from cudf_spark.queries import REGISTRY
from tests.conftest import vhash

args = sys.argv[1:]
sf = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
names = args or sorted(REGISTRY)

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )


bad = 0
for name in names:
    q = REGISTRY[name]
    sdf = q.build(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        print(f"  rows-only({len(srows)}) {name}")
        continue
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    h1, h2 = vhash(sdf.columns, srows), vhash(dcols, drows)
    ok = h1 == h2 and len(srows) == len(drows) and sorted(sdf.columns) == sorted(dcols)
    print(f"  {'MATCH' if ok else 'MISMATCH':9s} {name} rows={len(srows)}/{len(drows)}")
    if not ok:
        bad += 1
        if sorted(sdf.columns) != sorted(dcols):
            print(f"    cols spark={sorted(sdf.columns)} duck={sorted(dcols)}")
        else:
            order = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
            s_norm = sorted([tuple(str(r[i]) for i in order) for r in srows])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            d_norm = sorted([tuple(str(r[i]) for i in dorder) for r in drows])
            for a, b in zip(s_norm[:2000], d_norm[:2000]):
                if a != b:
                    print(f"    spark={a}\n    duck ={b}")
                    break
print(f"DONE bad={bad}")
sys.exit(1 if bad else 0)
