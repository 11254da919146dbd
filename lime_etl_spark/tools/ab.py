#!/usr/bin/env python
"""A/B timing and plan dumps of registry queries, for any checkout.

Run it once against this repo and once against a checkout of another
commit (back-to-back, same host) to compare plan changes under
identical conditions. The <repo> argument is prepended to sys.path, so
the same file times ANY checkout; run it as a script, not with -m.

Usage:
    python ab.py warm    <repo> <sf_dir> <runs> <name1> [name2 ...]
    python ab.py exec    <repo> <sf_dir> <runs> <name1> [name2 ...]
    python ab.py explain <repo> <sf_dir> <out_dir> <suffix> <name1> [name2 ...]

- ``warm`` (fresh-plan warm, bench.py's estimator): 1 untimed cold run
  (plan compile + JIT), then <runs> timed runs that each build a fresh
  plan. Prints one JSON line:
  ``{"repo", "sf_dir", "queries": {name: {"min", "all"}}}``.
- ``exec`` (exec-only, bench.py's exec-only metric): build the
  DataFrame once, run it once untimed, then time <runs> re-executions
  of the ALREADY-BUILT plan — the data path without Catalyst plan
  compile, which dominates fresh-plan warm time at fixture SFs. Prints
  the same line plus ``"exec_only": true``. A query whose construction
  executes jobs (``eager_plan``) would time only its final projection,
  so it is skipped with ``{"min": null, "all": [], "note": "eager_plan"}``.
- ``explain``: writes ``.explain("formatted")`` of each query to
  ``<out_dir>/<name>_<suffix>.txt`` — the protocol behind the
  ``plans/r{N}/*_{before,after}.txt`` deliverables.

Timings go to a noop sink; per-query progress goes to stderr.
"""
import json
import os
import sys
import time


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label: str, runs: int, plan) -> dict:
    samples = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{label}{i}")
        t0 = time.perf_counter()
        _noop(plan())
        samples.append(round(time.perf_counter() - t0, 3))
    return {"min": min(samples), "all": samples}


def main(argv: list[str]) -> None:
    mode, repo, sf_dir = argv[:3]
    if mode not in ("warm", "exec", "explain"):
        raise SystemExit(f"unknown mode {mode!r}: use warm, exec or explain")
    sys.path.insert(0, repo)

    import lime_etl_spark
    from lime_etl_spark.registry import REGISTRY
    from lime_etl_spark.session import TIMING_JAVA_OPTIONS, get_spark

    if not os.path.realpath(lime_etl_spark.__file__).startswith(
        os.path.realpath(repo) + os.sep
    ):
        raise SystemExit(f"lime_etl_spark was not imported from {repo}; run ab.py as a script")
    app = {"warm": "ab-time", "exec": "ab-exec", "explain": "plan-dump"}[mode]
    spark = get_spark(app, extra_conf={"spark.driver.extraJavaOptions": TIMING_JAVA_OPTIONS})
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "explain":
        out_dir, suffix, names = argv[3], argv[4], argv[5:]
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = REGISTRY[name].spark_fn(spark, sf_dir)
            text = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(text)
            print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
        spark.stop()
        return

    runs, names = int(argv[3]), argv[4:]
    _noop(spark.range(1_000_000).selectExpr("sum(id) s"))  # JVM warm-up
    out = {}
    for name in names:
        q = REGISTRY[name]
        if mode == "warm":
            spark.sparkContext.setJobDescription(f"ab:{name}:cold")
            _noop(q.spark_fn(spark, sf_dir))
            out[name] = _timed(spark, f"ab:{name}:warm", runs, lambda: q.spark_fn(spark, sf_dir))
        elif q.eager_plan:
            out[name] = {"min": None, "all": [], "note": "eager_plan"}
            continue
        else:
            built = q.spark_fn(spark, sf_dir)
            spark.sparkContext.setJobDescription(f"abx:{name}:compile")
            _noop(built)
            out[name] = _timed(spark, f"abx:{name}:exec", runs, lambda: built)
        print(f"# {name}: min {out[name]['min']} all {out[name]['all']}", file=sys.stderr, flush=True)
    head = {"repo": repo, "sf_dir": sf_dir} | ({"exec_only": True} if mode == "exec" else {})
    print(json.dumps(head | {"queries": out}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
