"""Capture .explain("formatted") for named registry keys into plans/<round>/.

Usage: python tools/capture_plans.py before|after key1 key2 ...
The output round dir defaults to r15; override with $SPARK_GRAFT_PLANS_ROUND.
Runs under the same tuned session + shuffle-partition setting bench.py
uses, so the captured plan is the bench plan shape.
"""
import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

suffix = sys.argv[1]
keys = sys.argv[2:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from hive_2_spark.session import get_spark  # noqa: E402
from hive_2_spark import registry  # noqa: E402
from hive_2_spark.engine import formatted_plan  # noqa: E402

spark = get_spark("hive_2_spark_plans")
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.shuffle.partitions", "8")

out_dir = Path(REPO) / "plans" / os.environ.get(
    "SPARK_GRAFT_PLANS_ROUND", "r15"
)
out_dir.mkdir(parents=True, exist_ok=True)
qmap = registry.all_queries()
for key in keys:
    df = qmap[key](spark, sf_dir)
    plan = formatted_plan(df)
    (out_dir / f"{key}_{suffix}.txt").write_text(plan)
    print(key, "->", f"{out_dir.relative_to(REPO)}/{key}_{suffix}.txt",
          len(plan), "chars")
spark.stop()
