#!/usr/bin/env python
"""Hot-bucket micro-bench for minhash_lsh_candidates (round 11).

Adversarial fixture: n identical documents ⇒ every doc shares every
band key, so each of the 4 band buckets holds all n ids and the pair
stream is 4·n(n−1)/2 rows before the trailing distinct. Under the
round-10 shape each bucket's pairs were exploded (and partially
deduped) inside ONE task — parallelism 4 regardless of cores. The
round-11 positional slice cells spread each bucket over
S(S+1)/2 cells (S = ceil(n/cap)), so the same pair volume runs wide.

Usage: python lsh_skew_bench.py <repo> <n_docs> <runs> [cap]
Prints one JSON line with min/all wall seconds of a noop-sink run and
the resulting pair count (must equal n(n−1)/2 on every checkout).
"""
import json
import sys
import time

repo, n_docs, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
cap = int(sys.argv[4]) if len(sys.argv) > 4 else None
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from lime_etl_spark.ops import dedup  # noqa: E402
from lime_etl_spark.session import TIMING_JAVA_OPTIONS, get_spark  # noqa: E402

spark = get_spark(
    "lsh-skew-bench",
    extra_conf={
        "spark.driver.extraJavaOptions": TIMING_JAVA_OPTIONS,
        # the point of this bench is the per-task distribution (is one
        # task doing the whole bucket's k^2 emission?) — enable the UI
        # so the REST API can report max task duration per stage
        "spark.ui.enabled": "true",
    },
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id) s").write.format("noop").mode(
    "overwrite"
).save()

docs = spark.range(n_docs).select(
    F.col("id").alias("doc_id"),
    F.lit(
        "identical boilerplate document text shared by every row to "
        "force one maximally hot band bucket"
    ).alias("text"),
)


def build():
    kwargs = {} if cap is None else {"hot_bucket_cap": cap}
    return dedup.minhash_lsh_candidates(docs, **kwargs)


n_pairs = build().count()
assert n_pairs == n_docs * (n_docs - 1) // 2, n_pairs
samples = []
for i in range(runs):
    spark.sparkContext.setJobDescription(f"lsh-skew:{i}")
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    samples.append(round(time.perf_counter() - t0, 3))
def straggler_stages(top: int = 3) -> list:
    """Top stages by MAX task duration (ms) from the local UI REST API —
    the single-task-ceiling metric: under the round-10 shape one task
    per hot band bucket carries the whole k(k-1)/2 emission."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = json.loads(
            urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages", timeout=10).read()
        )
        out = []
        for st in stages:
            if st.get("status") != "COMPLETE" or not st.get("numCompleteTasks"):
                continue
            sid, att = st["stageId"], st["attemptId"]
            q = json.loads(
                urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app}/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
                    timeout=10,
                ).read()
            )
            out.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "median_task_ms": int(q["duration"][0]),
                    "max_task_ms": int(q["duration"][1]),
                }
            )
        out.sort(key=lambda r: -r["max_task_ms"])
        return out[:top]
    except Exception as ex:  # REST drift must not kill the bench
        return [{"error": str(ex)[:120]}]


print(
    json.dumps(
        {
            "repo": repo,
            "n_docs": n_docs,
            "cap": cap,
            "n_pairs": n_pairs,
            "min": min(samples),
            "all": samples,
            "straggler_stages": straggler_stages(),
        }
    )
)
spark.stop()
