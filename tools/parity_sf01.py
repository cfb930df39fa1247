# Hash-compares every oracle key against DuckDB at sf0.1 (tuned local[16]
# session). Usage: python tools/parity_sf01.py — exits 1 when any key is BAD.
import sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[16]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "24g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from hive_2_spark.parity import compare, duckdb_connect
q, o = e.queries(), e.oracle_sql()
con = duckdb_connect("/root/testdata/sf0.1")
bad = 0
# No skips: mega-blocks route through MinHash banding (llm/dedup.py), so
# the former quadratic keys check at sf0.1 in seconds too.
for key in sorted(o):
    try:
        p = compare(q[key](spark, "/root/testdata/sf0.1"), con, o[key])
    except Exception as ex:
        p = [f"EXC {str(ex)[:150]}"]
    if p:
        bad += 1
        print(key, "MISMATCH:", "; ".join(p[:2]))
print("BAD:", bad)
sys.exit(1 if bad else 0)
