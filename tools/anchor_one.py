"""Re-anchor ONE bench query under the BASELINE.md protocol: run this
script five times (independent processes); each prints settle +
min-of-3 cache-cold at sf0.1; take the per-query median of the five.
Usage: python tools/anchor_one.py <query_name>
"""

import os
import sys
import time

# the checkout this script lives in, so an A/B run from a clone of
# another commit times that clone's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from hadoop_20_warehouse_spark.registry import QUERIES  # noqa: E402
import hadoop_20_warehouse_spark.inventory  # noqa: E402,F401
import hadoop_20_warehouse_spark.inventory_llm  # noqa: E402,F401
import bench  # noqa: E402 - bench-local timed variants (sampled decodes)

name = sys.argv[1]
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
fn = bench.BENCH_QUERIES.get(name) or QUERIES[name]


def force(df):
    df.write.format("noop").mode("overwrite").save()


force(fn(spark, "/root/testdata/sf0.001"))  # warm
force(fn(spark, "/root/testdata/sf0.1"))  # settle
best = float("inf")
for _ in range(3):
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    force(fn(spark, "/root/testdata/sf0.1"))
    best = min(best, time.perf_counter() - t0)
print(f"ANCHOR {name} {best:.3f}", flush=True)
