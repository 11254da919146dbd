"""Per-batch cost of the re-delivery guard vs state size (round-9).

VERDICT r8 task #4's done-bar: "soak line showing per-batch cost flat
with state 10× larger". This isolates the GUARD's per-batch marginal
cost — the thing the round-9 amortization changed — from the
maintainers' other per-batch work (the band-index/member reads are
O(state) by design of candidate generation and unchanged this round).

Protocol, per (mode, state size):

1. seed a decisions dir with ``n_state`` decided ids across 8
   ingest_batch partitions (plain parquet, same layout the sinks
   write);
2. run ``n_batches`` guarded batches: anti-join a fresh 500-row batch
   against the decided ids (auto/bloom: DecisionIdGuard.filter_prior;
   disk: the round-8 full read), force execution with a count, then
   record the batch's ids into the guard — i.e. exactly the guard work
   process_batch does, nothing else. ``auto`` runs with its calibration
   forced to 0 s, so it flips to the exact broadcast phase on the first
   batch: the soak measures the phase auto flips to, while the ``disk``
   line measures the phase it starts in;
3. report per-batch wall times; the flatness line is the mean of the
   steady batches (first batch excluded — it pays the one-time
   snapshot read the amortization exists to amortize).

    python -m lime_etl_spark.tools.guard_soak --out SOAK_guard_scale.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F


def _seed_state(spark, path: str, n_state: int) -> None:
    (
        spark.range(n_state)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(False).alias("is_dup"),
            F.lit(None).cast("bigint").alias("dup_of"),
            F.lit(None).cast("double").alias("best_jaccard"),
            (F.col("id") % 8).alias("ingest_batch"),
        )
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def _run(spark, mode: str, n_state: int, n_batches: int) -> dict:
    from lime_etl_spark.streaming.dedup import _DECISIONS_SCHEMA
    from lime_etl_spark.streaming.state import (
        DecisionIdGuard,
        read_state_or_empty,
    )

    work = tempfile.mkdtemp(prefix=f"guard_soak_{mode}_{n_state}_")
    decisions = os.path.join(work, "decisions")
    _seed_state(spark, decisions, n_state)
    # disk: no guard object, the round-8 read below; any other name
    # that is not a guard mode raises in the constructor
    guard = (
        None if mode == "disk" else DecisionIdGuard(decisions, "doc_id", mode=mode)
    )
    if guard is not None and mode == "auto":
        guard._fixed_cost = 0.0  # calibration forced: flip on batch 1
    times = []
    try:
        for b in range(100, 100 + n_batches):
            batch = spark.range(n_state + (b - 100) * 500, n_state + (b - 99) * 500).select(
                F.col("id").alias("doc_id")
            )
            t0 = time.perf_counter()
            if guard is not None:
                survived = guard.filter_prior(batch, b)
            else:
                prior = (
                    read_state_or_empty(spark, decisions, _DECISIONS_SCHEMA)
                    .filter(F.col("ingest_batch") != b)
                    .select("doc_id")
                )
                survived = batch.join(prior, "doc_id", "left_anti")
            n = survived.count()
            assert n == 500, n
            elapsed = time.perf_counter() - t0
            # WRITE the batch's decisions partition before record() — the
            # maintainers' contract (record only after all state writes).
            # The round-10 20M-id soak caught the harness skipping this:
            # recorded increments had no matching disk partition, so the
            # guard's coverage check conservatively REBUILT from disk
            # every batch — the exact-guard lines were measuring
            # rebuild-per-batch (O(state)), not the amortized steady
            # state. The write itself is maintainer work and stays
            # OUTSIDE the timed window; batches draw DISTINCT ids so the
            # n==500 assertion still holds once writes persist.
            (
                survived.select("doc_id")
                .withColumn("is_dup", F.lit(False))
                .withColumn("dup_of", F.lit(None).cast("bigint"))
                .withColumn("best_jaccard", F.lit(None).cast("double"))
                .withColumn("ingest_batch", F.lit(b))
                .write.mode("append")
                .partitionBy("ingest_batch")
                .parquet(decisions)
            )
            if guard is not None:
                t1 = time.perf_counter()
                guard.record(spark, b, survived.select("doc_id"))
                elapsed += time.perf_counter() - t1
            times.append(round(elapsed, 4))
    finally:
        if guard is not None:
            guard._release_all()
        shutil.rmtree(work, ignore_errors=True)
    steady = times[1:]
    return {
        "mode": mode,
        "n_state": n_state,
        "per_batch_sec": times,
        "first_batch_sec": times[0],
        "steady_mean_sec": round(sum(steady) / len(steady), 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--state", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--modes", default="auto,disk")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from lime_etl_spark.session import get_spark

    spark = get_spark("guard-soak", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    modes = [m.strip() for m in args.modes.split(",") if m.strip()]
    for mode in modes:
        for n_state in (args.state, args.state * 10):
            runs.append(_run(spark, mode, n_state, args.batches))
            print(json.dumps(runs[-1]), flush=True)
    by = {(r["mode"], r["n_state"]): r for r in runs}
    summary = {
        "harness": "guard_soak (re-delivery guard per-batch cost vs state size)",
        "runs": runs,
    }
    for mode in modes:
        summary[f"{mode}_steady_ratio_10x"] = round(
            by[(mode, args.state * 10)]["steady_mean_sec"]
            / max(by[(mode, args.state)]["steady_mean_sec"], 1e-9),
            3,
        )
    for mode in modes:
        if mode != modes[-1]:
            summary[f"{mode}_vs_{modes[-1]}_at_10x"] = round(
                by[(mode, args.state * 10)]["steady_mean_sec"]
                / max(by[(modes[-1], args.state * 10)]["steady_mean_sec"], 1e-9),
                3,
            )
    print(json.dumps({k: v for k, v in summary.items() if k != "runs"}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
