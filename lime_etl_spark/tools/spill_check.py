"""Spill-path verification: same results under memory pressure.

At 100 TB, sort/hash-agg/join spill is the steady state — but a roomy
test heap means the spill code paths (UnsafeExternalSorter,
ExternalAppendOnlyUnsafeRowArray, shuffle spill merges) never execute.
This tool runs a query set twice in SEPARATE JVMs — once with the
default large heap, once with a deliberately small one — verifies the
results are value-identical via a distributed order-independent
checksum, and records how many bytes actually spilled (from the Spark
status REST API) so "we verified under spill" is an observation, not
an assumption.

Why a checksum and not collect(): the interesting spill queries emit
millions of rows at rehearsal SFs (e.g. LSH candidate pairs); hauling
them to the driver would itself be an anti-pattern. The checksum is a
sum of per-row xxhash64 over canonicalized columns (doubles rounded to
6dp to absorb accumulation-order noise, arrays JSON-ified) — order-
independent, computed executor-side, O(1) driver memory.

CLI::

    python -m lime_etl_spark.tools.spill_check --sf-dir /tmp/sf10 \
        --queries q1_pricing_summary window_customer_spend \
        --small-mem 4g --out /tmp/spill_check.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import urllib.request

PHASE_ENV = "LIME_SPILL_PHASE_OUT"


def content_checksum(df):
    """Order-independent distributed checksum of a DataFrame's values:
    sum over rows of xxhash64(canonicalized columns). Doubles/floats
    round to 6dp first — a spill changes merge order, and the queries
    already define their outputs to that precision.

    Boundary caveat: a value whose true result sits within float noise
    of a .xxxxx5 rounding boundary can round differently between the
    two runs (accumulation order shifts the last ulp across the
    boundary), producing a spurious mismatch on a correct query.
    Acceptable for a diagnostic tool — a rare single-query mismatch
    should be re-run before being treated as a correctness failure."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            # + 0.0 canonicalizes -0.0: a sum landing at ±1e-7 across
            # the two runs must round to the SAME string (review
            # finding — '0.0' vs '-0.0' hash differently)
            c = F.round(c.cast("double"), 6) + F.lit(0.0)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            # arrays of floats get the same element-wise rounding
            # before serialization — aggregated vectors (centroids)
            # reorder under spill too (review finding)
            c = F.to_json(
                F.transform(c, lambda x: F.round(x.cast("double"), 6) + F.lit(0.0))
            )
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\x00null")))
    hashed = df.select(F.xxhash64(*cols).alias("h"))
    row = hashed.agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return str(row["s"]), int(row["n"])


def _spill_totals(spark) -> dict[str, int]:
    """Cumulative spill bytes across all completed stages, via the
    status REST API (the UI must be enabled in this session)."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return {
        "memoryBytesSpilled": sum(s.get("memoryBytesSpilled", 0) for s in stages),
        "diskBytesSpilled": sum(s.get("diskBytesSpilled", 0) for s in stages),
    }


def run_phase(
    sf_dir: str,
    queries: list[str],
    out_path: str,
    master: str | None = None,
    executor_mem: str | None = None,
) -> None:
    """Child-process body: run each query once, checksum it, snapshot
    cumulative spill before/after so each query's own spill is the
    delta. Heap size comes from SPARK_GRAFT_DRIVER_MEM (read by the
    session factory), which is why this runs in a fresh JVM. With
    ``master`` (local-cluster[...]) + ``executor_mem``, the memory
    pressure lands on real EXECUTOR processes — spill through the
    cross-process shuffle path, the closest single-host approximation
    of a memory-constrained cluster."""
    from lime_etl_spark.registry import REGISTRY
    from lime_etl_spark.session import DEFAULT_LOCAL_DRIVER_MEM, get_spark

    extra = {"spark.ui.enabled": "true"}
    if master:
        from lime_etl_spark.ops.util import package_root

        extra["spark.executorEnv.PYTHONPATH"] = package_root()
        extra["spark.executor.memory"] = executor_mem or "2g"
        extra["spark.driver.memory"] = DEFAULT_LOCAL_DRIVER_MEM
    spark = get_spark("spill-check", master=master, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    before = _spill_totals(spark)
    for name in queries:
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        digest, rows = content_checksum(df)
        after = _spill_totals(spark)
        results[name] = {
            "checksum": digest,
            "rows": rows,
            "memoryBytesSpilled": after["memoryBytesSpilled"] - before["memoryBytesSpilled"],
            "diskBytesSpilled": after["diskBytesSpilled"] - before["diskBytesSpilled"],
        }
        print(f"# {name}: rows={rows} spill_disk={results[name]['diskBytesSpilled']}", flush=True)
        before = after
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump({"driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"), "queries": results}, fh)
    spark.stop()


def _spawn(
    sf_dir: str,
    queries: list[str],
    mem: str,
    out_path: str,
    master: str | None = None,
    executor_mem: str | None = None,
) -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=mem, **{PHASE_ENV: out_path})
    cmd = [
        sys.executable, "-m", "lime_etl_spark.tools.spill_check",
        "--phase", "--sf-dir", sf_dir, "--queries", *queries,
    ]
    if master:
        cmd += ["--master", master]
    if executor_mem:
        cmd += ["--executor-mem", executor_mem]
    subprocess.run(cmd, check=True, env=env)
    with open(out_path, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--small-mem", default="4g")
    ap.add_argument("--big-mem", default=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--master", default=None,
        help="e.g. local-cluster[4,4,3072]: spill inside real executor processes",
    )
    ap.add_argument(
        "--small-executor-mem", default=None,
        help="executor heap for the CONSTRAINED run (cluster mode only)",
    )
    ap.add_argument("--big-executor-mem", default=None)
    ap.add_argument("--executor-mem", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--phase", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.phase:
        run_phase(
            args.sf_dir, args.queries, os.environ[PHASE_ENV],
            master=args.master, executor_mem=args.executor_mem,
        )
        return
    if args.master:
        # the two phases must actually differ in EXECUTOR memory in
        # cluster mode (that's where the pressure lands) — without
        # explicit values both would get run_phase's 2g default and
        # the "roomy baseline" would spill too (review finding)
        args.big_executor_mem = args.big_executor_mem or "6g"
        args.small_executor_mem = args.small_executor_mem or "2g"
    import tempfile

    fd_b, big_path = tempfile.mkstemp(prefix="lime_spill_big_", suffix=".json")
    fd_s, small_path = tempfile.mkstemp(prefix="lime_spill_small_", suffix=".json")
    os.close(fd_b)
    os.close(fd_s)
    big = _spawn(
        args.sf_dir, args.queries, args.big_mem, big_path,
        master=args.master, executor_mem=args.big_executor_mem,
    )
    small = _spawn(
        args.sf_dir, args.queries, args.small_mem, small_path,
        master=args.master, executor_mem=args.small_executor_mem,
    )
    report = {"sf_dir": args.sf_dir, "big_mem": args.big_mem, "small_mem": args.small_mem,
              "master": args.master, "small_executor_mem": args.small_executor_mem,
              "big_executor_mem": args.big_executor_mem, "queries": {}}
    ok = True
    for name in args.queries:
        b, s = big["queries"][name], small["queries"][name]
        match = b["checksum"] == s["checksum"] and b["rows"] == s["rows"]
        ok &= match
        report["queries"][name] = {
            "match": match,
            "rows": b["rows"],
            "small_heap_diskBytesSpilled": s["diskBytesSpilled"],
            "small_heap_memoryBytesSpilled": s["memoryBytesSpilled"],
            "big_heap_diskBytesSpilled": b["diskBytesSpilled"],
        }
    report["all_match"] = ok
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            fh.write(line + "\n")
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
