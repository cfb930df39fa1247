# Simulates the driver: fresh process, its own SparkSession, calls the
# public contract (entry / queries / oracle_sql) and hash-compares vs DuckDB
# at sf0.01 (the real t2 scale) or at any other fixture directory.
# Usage: python tools/driver_sim.py [--sf-dir DIR] [--json OUT.json]
# DIR defaults to /root/testdata/sf0.01; --sf-dir /root/testdata/sf0.1 is
# the larger sweep. The JSON report mirrors the driver's
# CORRECTNESS_r{N}.json shape (per-key status and wall_sec). A key that
# raises counts as BAD with its error recorded; the sweep carries on with
# the next key. Exits 1 when any key is BAD.
import json
import secrets
import subprocess
import sys
import time
import traceback
from pathlib import Path
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
_json_out = None
if "--json" in sys.argv:
    _json_out = sys.argv[sys.argv.index("--json") + 1]
SF_DIR = "/root/testdata/sf0.01"
if "--sf-dir" in sys.argv:
    SF_DIR = sys.argv[sys.argv.index("--sf-dir") + 1]
# Freshness stamp: every emitted artifact carries the commit it was run
# against, a wall-clock timestamp, and a random nonce so two runs are never
# byte-identical (guards against stale-copy artifacts).
_stamp = {
    "commit": subprocess.run(
        ["git", "-C", str(REPO), "rev-parse", "HEAD"],
        capture_output=True, text=True).stdout.strip(),
    "timestamp_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    "nonce": secrets.token_hex(8),
}
_t0 = time.time()
from pyspark.sql import SparkSession
# 8g heap: the default 1g runs out of memory at sf0.1 (dedup_minhash_lsh)
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
df = e.entry(spark)
rows = df.collect()
print("entry rows:", len(rows))
print("entry first row:", rows[0])
q, o = e.queries(), e.oracle_sql()
print("queries:", len(q), "oracles:", len(o))
from hive_2_spark.parity import compare, duckdb_connect
con = duckdb_connect(SF_DIR)
bad = 0
report = {}


def check(key: str) -> dict:
    """One key's report entry; raises whatever the key raises."""
    if key not in o:
        # Mirror the driver's canonicalizer, not just count(): it collects
        # to pandas and sort_values over ALL columns, which crashes on
        # list/dict/ndarray cells (the CORRECTNESS_r03 media_features err).
        out = q[key](spark, SF_DIR).toPandas()
        try:
            out.sort_values(list(out.columns))
        except Exception as exc:  # unhashable column type etc.
            return {"check": "rows_only", "rows": len(out), "ok": False,
                    "problems": [f"canon: {type(exc).__name__}: {exc}"]}
        return {"check": "rows_only", "rows": len(out), "ok": True}
    problems = compare(q[key](spark, SF_DIR), con, o[key])
    return {"check": "oracle_hash", "ok": not problems, "problems": problems}


for key in sorted(q):
    # Each key is isolated: one raising key is reported BAD with its
    # error and the sweep goes on to the next.
    t = time.time()
    try:
        r = check(key)
    except Exception as exc:
        traceback.print_exc()
        r = {"check": "oracle_hash" if key in o else "rows_only", "ok": False,
             "error": f"{type(exc).__name__}: {exc}"}
    r["wall_sec"] = round(time.time() - t, 2)
    report[key] = r
    bad += not r["ok"]
    if "error" in r:
        status = "ERROR: " + r["error"]
    elif r["check"] == "rows_only":
        status = (f"ROWS-ONLY count={r['rows']}" if r["ok"]
                  else "ROWS-ONLY CANON-FAIL: " + r["problems"][0])
    else:
        status = "OK" if r["ok"] else "MISMATCH: " + "; ".join(r["problems"])
    print(f"{key}: {status}")
print("BAD:", bad)
if _json_out:
    with open(_json_out, "w") as f:
        json.dump({"sf_dir": SF_DIR, "n_queries": len(q), "n_oracles": len(o),
                   "n_bad": bad, "stamp": _stamp,
                   "wall_sec": round(time.time() - _t0, 1),
                   "keys": report}, f, indent=1)
    print("wrote", _json_out)
sys.exit(1 if bad else 0)
