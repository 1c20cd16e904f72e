"""Does a write run slower after 1-task gets than after 8-task gets?

One local[4] session, interleaved cycles: 5 gets (the default lookup
plan, or readPartitions=8, which is the old scan plan), then one
13-item put on a 150k-item, 8-segment table; the put is timed.

    python3 plans/lookup_plan/write_after_gets.py
"""
import os, sys, time, random, statistics, shutil, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
from pyspark.sql import functions as F
from spark_dynamodb_spark.session import get_spark
from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo
spark = get_spark("wag", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
store = tempfile.mkdtemp()
n = 150_000
df = spark.range(1, n + 1).select(F.col("id").alias("pk"), (F.col("id") * 7).alias("a"),
     (F.col("id") / 3.0).alias("b"), F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"))
keyed_store.create_table(spark, df, "kv", "pk", store_dir=store, n_segments=8)
rng = random.Random(7)
res = {"lookup": [], "scan8": []}
def cycle(mode):
    for _ in range(5):
        k = rng.randint(1, n)
        opts = {} if mode == "lookup" else {"readPartitions": 8}
        read_dynamo(spark, "kv", storeDir=store, **opts).filter(F.col("pk") == k).collect()
        time.sleep(0.25)
    rows = [(rng.randint(1, n), rng.randint(0, 1 << 30), 1.0, "x") for _ in range(13)]
    w = spark.createDataFrame(rows, "pk long, a long, b double, s string")
    t0 = time.perf_counter()
    write_dynamo(w, "kv", storeDir=store)
    return time.perf_counter() - t0
cycle("lookup"); cycle("scan8")  # warm-up
for i in range(12):
    for mode in (("lookup", "scan8") if i % 2 == 0 else ("scan8", "lookup")):
        res[mode].append(cycle(mode))
for m, xs in res.items():
    q = statistics.quantiles(xs, n=4)
    print(m, "put after 5 gets: median %.3f s  IQR [%.3f, %.3f]" % (q[1], q[0], q[2]), " ".join("%.2f" % x for x in xs))
spark.stop()
shutil.rmtree(store, ignore_errors=True)
