#!/usr/bin/env python
"""Exec-only min-of-N A/B timing for registry queries (round 11).

Same protocol as bench.py's exec-only metric: build the DataFrame once,
run it once untimed (plan compile + codegen JIT), then time <runs>
re-executions of the ALREADY-BUILT plan — isolating the data path from
Catalyst plan-compile, which dominates fresh-plan warm time at fixture
SFs (~90%, bench.py note) and is fixed overhead at 100 TB. Use next to
ab_time.py (fresh-plan warm) to attribute a fixture-SF delta to compile
vs execution.

Usage: python ab_exec.py <repo> <sf_dir> <runs> <name1> [name2 ...]
"""
import json
import sys
import time

repo, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4:]
sys.path.insert(0, repo)

from lime_etl_spark.registry import REGISTRY  # noqa: E402
from lime_etl_spark.session import TIMING_JAVA_OPTIONS, get_spark  # noqa: E402

spark = get_spark(
    "ab-exec", extra_conf={"spark.driver.extraJavaOptions": TIMING_JAVA_OPTIONS}
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode(
    "overwrite"
).save()

out = {}
for name in names:
    q = REGISTRY[name]
    if q.eager_plan:
        # construction executes jobs; a built-plan re-run times only the
        # final projection (bench.py exec_metric note) — skip honestly
        out[name] = {"min": None, "all": [], "note": "eager_plan"}
        continue
    built = q.spark_fn(spark, sf_dir)
    spark.sparkContext.setJobDescription(f"abx:{name}:compile")
    built.write.format("noop").mode("overwrite").save()
    samples = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"abx:{name}:exec{i}")
        t0 = time.perf_counter()
        built.write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
    out[name] = {"min": min(samples), "all": samples}
    print(f"# {name}: min {min(samples)} all {samples}", file=sys.stderr, flush=True)
print(json.dumps({"repo": repo, "sf_dir": sf_dir, "exec_only": True, "queries": out}))
spark.stop()
