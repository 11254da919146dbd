"""SparkSession factory.

Replaces the reference's ad-hoc single-process pandas runtime
(/root/reference/lime_survey_nps.py:48-83) with one configured
SparkSession builder. Every knob here exists for 100 TB posture:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- Arrow on: any pandas_udf / applyInPandas path moves columnar batches,
  not pickled rows.
- Session timezone pinned to UTC: parquet timestamps compare identically
  across engines (and against the DuckDB correctness oracle).
- Broadcast threshold left at default (10 MB) — small dims broadcast
  automatically from parquet size stats, and AQE re-checks at runtime.
  Explicit broadcast() hints exist only where size is bounded by
  CONTRACT (fixed-cardinality region/nation, bounded probe sets),
  routed through plans.auto_broadcast; SF-growing tables are never
  hinted (round-10 policy — see lime_etl_spark/plans/policy.py).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _local_cpus(raw: str) -> int:
    """``SPARK_GRAFT_CPUS``: an integer >= 1; anything else raises
    instead of falling back to a default."""
    if not re.fullmatch(r"[0-9]+", raw) or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw!r}")
    return int(raw)


def _local_driver_mem(raw: "str | None", mem_total: "int | None" = None) -> str:
    """``SPARK_GRAFT_DRIVER_MEM``: ``<int>[kmgt]`` (e.g. ``3g``, either
    case, as Spark reads it); a malformed value raises. Unset, it is a
    quarter of physical RAM (``mem_total`` bytes; default: the host's,
    which on Linux is /proc/meminfo MemTotal), at least 1 GiB — a
    128 GiB host gets 32g, a 16 GiB host 4g."""
    if raw is None:
        if mem_total is None:
            mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        return f"{max(1024, mem_total // 2**20 // 4)}m"
    if not re.fullmatch(r"[0-9]+[kmgt]", raw, re.IGNORECASE) or int(raw[:-1]) < 1:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be <int>[kmgt] (e.g. 3g), got {raw!r}"
        )
    return raw


DEFAULT_SHUFFLE_PARTITIONS = _local_cpus(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# local[N] runs driver + all N executor threads in ONE JVM, so the
# default 1g driver heap is the whole engine's memory — enough for
# sf0.1, but the sf1 scale rehearsal (6M lineitem rows, ~1e8-row
# shuffles) dies in GC (GCLocker allocation retries) long before the
# 128 GiB host is touched. Size the local heap explicitly, from the
# host unless SPARK_GRAFT_DRIVER_MEM says otherwise (a fixed 32g let
# one test JVM take 8.5 GB RSS of a 15 GB host); on a real cluster
# spark-submit owns executor memory and this knob is inert.
DEFAULT_LOCAL_DRIVER_MEM = _local_driver_mem(os.environ.get("SPARK_GRAFT_DRIVER_MEM"))


def _heap_floor(heap: str) -> str:
    """-Xms for timing runs: 8g, or the whole heap when that is smaller
    — a floor above -Xmx stops the JVM at start."""
    mib = int(heap[:-1]) * {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}[heap[-1].lower()]
    return "8g" if mib >= 8192 else heap


# Driver JVM options of the timing scripts (bench.py and tools/):
# G1 with a fixed heap floor, so heap-growth pauses do not land in
# whichever query is running.
TIMING_JAVA_OPTIONS = f"-XX:+UseG1GC -Xms{_heap_floor(DEFAULT_LOCAL_DRIVER_MEM)}"


# Correctness-critical confs: get_spark sets every one on the builder
# and, after getOrCreate, checks every one on the session it returns —
# one table, so a conf cannot be set without being checked.
_CORRECTNESS_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (the events fixture) is unreadable by
    # Spark natively; read as long and convert in io.sources.read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are wall-clock values compared against
    # DuckDB's naive TIMESTAMP under a UTC session TZ; load
    # isAdjustedToUTC=false parquet micros as plain TIMESTAMP rather
    # than TIMESTAMP_NTZ (NTZ is rejected by instant functions like
    # unix_micros, and the two render identically under UTC).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark 4.1 UNSOUNDNESS (found by this repo's generative
    # differential sweep, seed 1869): with unionOutputPartitioning
    # =true (the 4.1.2 DEFAULT), UnionExec advertises its children's
    # hash partitioning, and a downstream aggregate/set-op then
    # SKIPS its exchange — but equal keys live in DIFFERENT leg
    # partitions (union concatenates partition lists), so byte-
    # identical group keys land in separate hash groups. Observed:
    # groupBy over a union of two filters of a window-bearing
    # distinct-union produced 12 groups for 5 distinct string keys;
    # exceptAll ignored its subtrahend entirely (620 vs 498 rows)
    # and intersectAll returned 0 for 122 true matches, while the
    # identical SQL text (different plan shape) was correct.
    # Disabling the optimization restores the exchange. Regression:
    # tests/test_plans.py::test_union_output_partitioning_unsound.
    "spark.sql.unionOutputPartitioning": "false",
    # Spark 4.1's checksum checkpoint manager deadlocks stateful-op
    # state-store commits on local filesystems (async checksum write
    # never resolves); corruption detection matters on real HDFS/S3
    # checkpoints, not local test dirs.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # InferFiltersFromGenerate + CollapseProject inline the ENTIRE
    # generator expression (e.g. tokenize->shingle, ~ms/row) into a
    # synthesized size()>0 filter and push it below repartitions —
    # re-evaluating the expensive expression per row, sometimes
    # single-threaded. Its benefit (skip empty arrays pre-explode)
    # is negligible for this workload; measured 2x on dedup queries.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def _was_submitted() -> bool:
    """True when this process was launched by spark-submit (or a master
    is otherwise configured), i.e. the local[N] fallback must NOT apply.

    The SparkConf probe ALONE is insufficient pre-gateway: at the first
    get_spark() call in a fresh ``spark-submit --master yarn`` run no
    py4j gateway is attached yet (SparkContext._jvm is None), so
    SparkConf() is an empty dict-backed conf and
    contains('spark.master') is False even though --master was passed —
    builder.master('local[N]') would then override the cluster master,
    the exact bug this guard exists to prevent. spark-submit's
    PythonRunner exports PYSPARK_GATEWAY_PORT (and _SECRET) into the
    user process's environment BEFORE user code runs (and pyspark's own
    launch_gateway only READS it, never sets it for self-launched
    JVMs — verified against pyspark 4.1 java_gateway.py), so its
    presence is the reliable submitted signal with or without a live
    JVM. The SparkConf probe stays for post-gateway callers and
    embedding hosts that set spark.master programmatically.
    """
    from pyspark import SparkConf

    return bool(
        "PYSPARK_GATEWAY_PORT" in os.environ
        or SparkConf().contains("spark.master")
        or os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
    )


def get_spark(
    app_name: str = "lime_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from $SPARK_GRAFT_CPUS (driver
    contract) so tests and bench share one sizing.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=_CORRECTNESS_CONFS)
        # --- scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # --- python<->jvm data path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep the UI off for test/bench runs (driver JVM churn)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    else:
        # Default to local[N] ONLY when no master is configured
        # anywhere. spark-submit passes --master as the spark.master
        # system property / SparkConf entry, NOT a SPARK_MASTER env var
        # — the old env-var guard missed it, so get_spark() under
        # `spark-submit --master yarn` force-overrode the cluster
        # master with local[N] and the "cluster" job ran single-node
        # on the edge node.
        if not _was_submitted():
            builder = builder.master(
                f"local[{DEFAULT_SHUFFLE_PARTITIONS}]"
            ).config("spark.driver.memory", DEFAULT_LOCAL_DRIVER_MEM)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # On reuse of a pre-existing session, getOrCreate re-applies the
    # builder's RUNTIME SQL confs ("only runtime SQL configurations
    # will take effect") — which covers every correctness-critical conf
    # above — but static/core confs (master, driver memory) stay as the
    # first creator set them. VERIFY rather than assume: if any
    # correctness conf did not take effect (a future static conf, a
    # locked conf), warn with the exact mismatches instead of silently
    # handing back e.g. local-time timestamps that break every oracle
    # comparison.
    mismatched = {}
    for k, want in _CORRECTNESS_CONFS.items():
        got = spark.conf.get(k, None)
        if got != want:
            mismatched[k] = (want, got)
    if mismatched:
        import warnings

        warnings.warn(
            "get_spark reused an existing SparkSession whose confs "
            f"differ from the engine's correctness-critical settings: "
            f"{mismatched} — results may diverge from the oracles; "
            "stop the other session (spark.stop()) or set these confs "
            "there before importing this engine.",
            stacklevel=2,
        )
    return spark
