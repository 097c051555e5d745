"""Simulate the driver: vanilla session, entry() smoke, queries vs oracle at sf0.01."""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

# vanilla driver-style session: NO hedera_spark tuned confs — except
# driver memory: this sim sweeps the FULL registry (316 queries as of
# r4) in one session where the round driver grades 50, and local mode
# shares one heap between driver and executors; at the default 1g the
# cumulative session state OOMs around query ~90 regardless of which
# query runs there (reproduced on r2-green pagerank_anchors)
spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim")
         .config("spark.driver.memory", "4g")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

df = e.entry(spark)
rows = df.collect()
print(f"ENTRY OK: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")

import duckdb
con = duckdb.connect()
args = sys.argv[1:]
only = None
if "--only" in args:
    i = args.index("--only")
    only = set(args[i + 1].split(","))
    args = args[:i] + args[i + 2:]
SF = args[0] if args else "/root/testdata/sf0.01"
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

from hedera_spark.session import reset_session_state
from tests.oracle_compare import assert_frames_match
qs, os_ = e.queries(), e.oracle_sql()
ok, fail = 0, 0
for name, fn in sorted(qs.items()):
    if only is not None and name not in only:
        continue
    try:
        # local mode shares ONE heap between driver and executors: frames
        # persisted by iterative operators (kcore/pagerank/kmeans return
        # cached lineage) accumulate across a 150+-query sweep and OOM the
        # session around the 90th query — drop them, and the trained
        # models, between queries, same as bench.py's isolation
        reset_session_state(spark)
        spdf = fn(spark, SF).toPandas()
        if name in os_:
            opdf = con.execute(os_[name]).df()
            assert_frames_match(spdf, opdf, name)
            print(f"MATCH  {name}: {len(spdf)} rows")
        else:
            assert len(spdf) > 0
            print(f"ROWSONLY {name}: {len(spdf)} rows")
        ok += 1
    except Exception as ex:
        fail += 1
        print(f"FAIL   {name}: {str(ex)[:300]}")
print(f"RESULT: {ok} ok, {fail} fail")
