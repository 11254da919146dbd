#!/usr/bin/env python
"""Runtime Bloom-filter validation for the q9/q18 join shapes (round 11,
guide §3.2, VERDICT r10 task #5).

At fixture SFs these 5-table joins broadcast their dimension sides, so
the optimizer's runtime Bloom filter (default-on in Spark 4,
`spark.sql.optimizer.runtime.bloomFilter.enabled`) has nothing to do —
injection additionally requires the application-side scan to look
≥ 10 GiB (`...applicationSideScanSizeThreshold`), which no fixture
reaches. This experiment simulates the 100 TB regime where the
dimension no longer broadcasts and the fact-side scan is huge:

- `autoBroadcastJoinThreshold = -1` (dimension joins become SMJ/SHJ,
  as they will at scale),
- `applicationSideScanSizeThreshold = 0` and a matching
  `creationSideThreshold` so injection is decided by shape, not by the
  fixture's absolute sizes.

It then times each query bloom-ON vs bloom-OFF under those same forced
conditions (fresh sessions per config — runtime-filter injection and
join planning must not leak between runs) and records whether
`might_contain` actually appears in the optimized plan.

Usage: python bloom_experiment.py <repo> <sf_dir> <runs> [query ...]
Prints one JSON line per (query, mode).
"""
import json
import sys
import time

repo, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4:] or ["q9_profit_by_nation_year", "q18_large_volume_customers"]
sys.path.insert(0, repo)


def run_mode(bloom_on: bool) -> dict:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # fresh JVM confs per mode where possible; runtime SQL confs are
    # enough for the optimizer flags below (all runtime-settable)
    from lime_etl_spark.registry import REGISTRY
    from lime_etl_spark.session import TIMING_JAVA_OPTIONS, get_spark

    spark = get_spark(
        f"bloom-{'on' if bloom_on else 'off'}",
        extra_conf={
            "spark.driver.extraJavaOptions": TIMING_JAVA_OPTIONS,
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": str(bloom_on).lower(),
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()
    out = {}
    for name in names:
        q = REGISTRY[name]
        df = q.spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        n_bloom = plan.count("might_contain")
        spark.sparkContext.setJobDescription(f"bloom:{name}:cold")
        df.write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"bloom:{name}:warm{i}")
            t0 = time.perf_counter()
            q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "might_contain": n_bloom,
            "min": min(samples),
            "all": samples,
        }
        print(
            f"# bloom={bloom_on} {name}: might_contain={n_bloom} "
            f"min {min(samples)} all {samples}",
            file=sys.stderr,
            flush=True,
        )
    spark.stop()
    return out


result = {
    "repo": repo,
    "sf_dir": sf_dir,
    "forced": "no-broadcast joins; injection thresholds opened",
    "bloom_off": run_mode(False),
    "bloom_on": run_mode(True),
}
print(json.dumps(result))
