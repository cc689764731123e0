"""Driver-style dress rehearsal: the closest local mimic of the driver's
correctness gate. Loads __spark_entry__ by file path (as the driver does),
builds a VANILLA SparkSession (no engine config — catches any hidden
dependency on our tuned session), runs every queries() entry at sf0.01, and
compares to oracle_sql() via DuckDB with order-insensitive value comparison
(tools/check_oracle.normalize).

Usage: python tools/dress_rehearsal.py   (expect: "0 failures / <all> queries")
"""
import importlib.util, sys
from pathlib import Path
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
spec = importlib.util.spec_from_file_location('__spark_entry__', str(ROOT / '__spark_entry__.py'))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
import duckdb
from tools.check_oracle import normalize

SF = "/root/testdata/sf0.01"
spark = SparkSession.builder.master("local[8]").config("spark.ui.enabled", "false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, os_ = mod.queries(), mod.oracle_sql()
entry_rows = mod.entry(spark).collect()
print(f"entry: {len(entry_rows)} rows")
fails = 0
for name, fn in qs.items():
    try:
        sdf = fn(spark, SF).toPandas()
        if name not in os_:
            print(f"ROWSONLY {name}: {len(sdf)}"); continue
        ddf = con.sql(os_[name]).df()
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        s, d = normalize(sdf), normalize(ddf)
        if ok_cols and s == d:
            pass
        else:
            fails += 1
            print(f"FAIL {name}: cols_ok={ok_cols} rows {len(s)} vs {len(d)}")
    except Exception as e:
        fails += 1
        print(f"ERROR {name}: {type(e).__name__}: {e}")
print(f"{fails} failures / {len(qs)} queries")
