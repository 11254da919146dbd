#!/usr/bin/env python
"""Isolated min-of-N noop-sink timing for selected registry queries.

The round-10 A/B harness behind BENCH_r10_dedup_ab.json: run it once
against this repo and once against a git worktree of another commit
(back-to-back, same host) to compare plan changes under identical
conditions. The <repo> argument is prepended to sys.path, so the same
file times ANY checkout.

Usage: python ab_time.py <repo> <sf_dir> <runs> <name1> [name2 ...]
Prints one JSON line: {"repo":..., "sf_dir":..., "queries": {name: {"min":..,"all":[..]}}}
Warm protocol: 1 untimed cold run (plan compile + JIT), then <runs> timed
fresh-plan runs, min reported (same estimator as bench.py).
"""
import json
import sys
import time

repo, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4:]
sys.path.insert(0, repo)

from lime_etl_spark.registry import REGISTRY  # noqa: E402
from lime_etl_spark.session import TIMING_JAVA_OPTIONS, get_spark  # noqa: E402

spark = get_spark("ab-time", extra_conf={"spark.driver.extraJavaOptions": TIMING_JAVA_OPTIONS})
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode("overwrite").save()

out = {}
for name in names:
    q = REGISTRY[name]
    spark.sparkContext.setJobDescription(f"ab:{name}:cold")
    q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    samples = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"ab:{name}:warm{i}")
        t0 = time.perf_counter()
        q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
    out[name] = {"min": min(samples), "all": samples}
    print(f"# {name}: min {min(samples)} all {samples}", file=sys.stderr, flush=True)
print(json.dumps({"repo": repo, "sf_dir": sf_dir, "queries": out}))
spark.stop()
