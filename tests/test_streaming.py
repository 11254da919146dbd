"""Structured Streaming tests (SURVEY.md §5.4): bounded availableNow
runs whose final state must equal the batch twin."""

from __future__ import annotations
import pytest

import os

from pyspark.sql import functions as F

from lime_etl_spark.io.sources import read_table
from lime_etl_spark.streaming import events as sevents


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    got = sevents.run_to_memory(
        sevents.tumbling_counts(stream), checkpoint_dir=str(tmp_path / "ck1")
    )
    batch = read_table(spark, sf_dir, "events").groupBy(
        "event_type", F.window("ts", "5 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2).cast("double").alias("total_value"),
    ).select(
        "event_type", F.col("w.start").alias("bucket_start"), "n_events", "total_value"
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_streaming_session_windows(spark, sf_dir, tmp_path):
    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    got = sevents.run_to_memory(
        sevents.session_windows(stream, gap="30 minutes"),
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    rows = got.collect()
    assert len(rows) > 0
    # session invariants: start <= end, n_events >= 1
    for r in rows:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1
    # total events across sessions == table size
    total = sum(r.n_events for r in rows)
    assert total == read_table(spark, sf_dir, "events").count()


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    got = sevents.run_to_memory(
        sevents.dedup_within_watermark(stream),
        checkpoint_dir=str(tmp_path / "ck3"),
        output_mode="append",
    )
    n = got.count()
    assert n == read_table(spark, sf_dir, "events").count()  # event_id already unique


def test_foreach_batch_idempotent_sink(spark, sf_dir, tmp_path):
    dest = str(tmp_path / "wh")
    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    enriched = stream.withColumn("load_date", F.to_date("ts"))
    sevents.run_foreach_batch_idempotent(
        enriched, dest, "load_date", str(tmp_path / "ck4")
    )
    n1 = spark.read.parquet(dest).count()
    # re-run with a FRESH checkpoint (simulates redelivery of the same
    # batch): dynamic partition overwrite must not duplicate rows
    sevents.run_foreach_batch_idempotent(
        enriched, dest, "load_date", str(tmp_path / "ck5")
    )
    n2 = spark.read.parquet(dest).count()
    assert n1 == n2 == read_table(spark, sf_dir, "events").count()
    # partition layout is real (load_date=... dirs)
    assert any(d.startswith("load_date=") for d in os.listdir(dest))


def test_sliding_windows_overlap(spark, sf_dir, tmp_path):
    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    got = sevents.run_to_memory(
        sevents.sliding_counts(stream, window="10 minutes", slide="5 minutes"),
        checkpoint_dir=str(tmp_path / "ck6"),
    )
    rows = got.collect()
    assert len(rows) > 0
    # each event lands in 2 overlapping windows → sum of counts == 2x events
    total = sum(r.n_events for r in rows)
    assert total == 2 * read_table(spark, sf_dir, "events").count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Run 1 processes on-time events and commits its watermark to the
    checkpoint; run 2 (same checkpoint) sees a file containing an event
    older than the restored watermark → the event must be dropped, and
    the already-finalized window must not change. This also pins
    checkpoint recovery: the watermark survives query restarts."""
    import shutil
    import uuid

    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")

    def write_file(rows, name):
        spark.createDataFrame(
            rows, "event_id BIGINT, ts_s STRING, value DOUBLE"
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "value"
        ).coalesce(1).write.parquet(str(tmp_path / name))
        part = next(
            p for p in os.listdir(tmp_path / name) if p.endswith(".parquet")
        )
        shutil.copyfile(tmp_path / name / part, src / f"{name}.parquet")

    out = str(tmp_path / "out")

    def run_once(_):
        # file sink, not memory: only fault-tolerant sinks support
        # resuming from a checkpoint (which is the point of this test)
        stream = spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, value DOUBLE"
        ).parquet(str(src))
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.sum("value").alias("total"))
            .select(F.col("w.start").alias("ws"), "total")
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")  # append emits only watermark-finalized windows
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.ws.isoformat(): r.total for r in spark.read.parquet(out).collect()
        }

    # run 1: on-time events; max ts 10:59 → watermark commits as 10:49,
    # finalizing the 10:00 window with value 1.0
    write_file([(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 10:59:00", 1.0)], "b1")
    r1 = run_once(f"late1_{uuid.uuid4().hex[:8]}")
    assert r1.get("2024-01-01T10:00:00") == 1.0

    # run 2: a late event (10:01 < restored watermark 10:49) plus one
    # on-time event; the late row must be dropped — 10:00 stays 1.0
    write_file([(3, "2024-01-01 10:01:00", 100.0), (4, "2024-01-01 12:00:00", 1.0)], "b2")
    r2 = run_once(f"late2_{uuid.uuid4().hex[:8]}")
    assert r2.get("2024-01-01T10:00:00") in (None, 1.0)  # never 101.0
    # the 10:55+ window finalized by run 2's watermark advance exists
    assert r2.get("2024-01-01T10:55:00") == 1.0


def test_stateful_user_tracker(spark, sf_dir, tmp_path):
    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.stateful import track_user_activity

    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    got = sevents.run_to_memory(
        track_user_activity(stream),
        checkpoint_dir=str(tmp_path / "ck_state"),
        output_mode="update",
    )
    from lime_etl_spark.io.sources import read_table
    from pyspark.sql import functions as F

    batch = read_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # final state per user equals the batch aggregate (single batch run)
    g = {(r.user_id, r.n_events) for r in got.collect()}
    b = {(r.user_id, r.n_events) for r in batch.collect()}
    assert g == b
    gv = {r.user_id: r.total_value for r in got.collect()}
    bv = {r.user_id: r.total_value for r in batch.collect()}
    for uid in bv:
        assert abs(gv[uid] - bv[uid]) < 0.05  # python float sum vs decimal path


@pytest.mark.slow
def test_stateful_tracker_no_per_batch_rounding_drift(spark, tmp_path):
    """State carries the RAW running total; rounding on store re-rounded
    per micro-batch (three batches of 0.004 summed to 0.0 instead of
    0.01). Also: an all-NULL-ts chunk must not kill the query (int(NaN)
    raised inside the foreachBatch worker) — the rows still count."""
    import os
    import shutil

    from datetime import datetime

    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.stateful import track_user_activity

    src = tmp_path / "src"
    src.mkdir()

    def stage(name, rows):
        tmp = tmp_path / ("st_" + name)
        spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts timestamp, value double"
        ).coalesce(1).write.parquet(str(tmp))
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        shutil.copyfile(tmp / part, src / f"{name}.parquet")

    t = datetime(2024, 1, 1)
    for i in range(3):
        stage(f"b{i}", [(i * 10, 1, t.replace(hour=i + 1), 0.004)])
    # dirty file: all-null ts for user 2 — query must survive, rows count
    stage("b3", [(99, 2, None, 1.0), (100, 2, None, 2.0)])
    # one query, maxFilesPerTrigger=1 => each staged file is its own
    # micro-batch, so the state round-trips through the store per file
    # (the memory sink cannot RESUME from a checkpoint, so sequential
    # separate runs can't exercise this)
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = sevents.run_to_memory(
        track_user_activity(stream),
        checkpoint_dir=str(tmp_path / "ck"),
        output_mode="update",
    )
    rows = got.collect()
    final1 = max((r for r in rows if r.user_id == 1), key=lambda r: r.n_events)
    assert final1.n_events == 3
    assert final1.total_value == 0.01  # raw accumulation, not 0.0
    final2 = max((r for r in rows if r.user_id == 2), key=lambda r: r.n_events)
    assert final2.n_events == 2 and final2.total_value == 3.0
    assert final2.last_event_id == -1  # no timestamped champion


def test_session_windows_on_rocksdb_state_store(spark, sf_dir, tmp_path):
    """Same session-window results under the RocksDB state store — the
    production provider for large keyspaces (off-heap state)."""
    from lime_etl_spark.streaming import events as sevents

    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    sevents.use_rocksdb_state_store(spark)
    try:
        rocks = sevents.run_to_memory(
            sevents.session_windows(stream, gap="30 minutes"),
            checkpoint_dir=str(tmp_path / "ck_rocks"),
        )
        rows_rocks = {tuple(r) for r in rocks.collect()}
    finally:
        sevents.use_rocksdb_state_store(spark, enabled=False)
    default = sevents.run_to_memory(
        sevents.session_windows(stream, gap="30 minutes"),
        checkpoint_dir=str(tmp_path / "ck_default"),
    )
    rows_default = {tuple(r) for r in default.collect()}
    assert rows_rocks == rows_default and len(rows_rocks) > 0


def test_kafka_gated_and_rate_source_fallback(spark, tmp_path):
    """Non-file-source streaming path: Kafka is availability-gated (the
    container ships without the connector jars — the reader must refuse
    loudly, not fail deep in a query), and the rate-source fallback
    drives the same transformations with a processing-time trigger."""
    import pytest

    from lime_etl_spark.streaming import events as sevents

    if not sevents.kafka_available(spark):
        with pytest.raises(RuntimeError, match="kafka"):
            sevents.read_events_kafka(spark, "localhost:9092", "events")
    else:  # pragma: no cover - connector present in some environments
        df = sevents.read_events_kafka(spark, "localhost:9092", "events")
        assert df.schema.fieldNames()[:3] == ["event_id", "user_id", "event_type"]

    # rate source: continuous trigger, watermarked tumbling agg over it
    stream = sevents.read_events_rate(spark, rows_per_second=500)
    assert stream.isStreaming
    agg = sevents.tumbling_counts(stream, window="1 minutes", watermark="1 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_rate"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # rate sources never drain (processAllAvailable would spin):
        # poll until the first non-empty micro-batch lands, bounded
        import time

        deadline = time.time() + 60
        types: set[str] = set()
        while time.time() < deadline and not types:
            time.sleep(1)
            types = {
                r.event_type for r in spark.table("rate_tumbling").collect()
            }
        assert types and types <= {"click", "view", "purchase", "signup", "error"}
    finally:
        q.stop()


def test_stage_events_dir_keyed_by_full_path(spark, sf_dir, tmp_path):
    """Two fixture roots with the SAME basename must not share a staged
    copy (the cache used to key on basename(sf_dir): whichever src was
    newer won, and the other caller streamed the wrong corpus), and a
    replaced fixture with an OLDER mtime must still refresh the copy."""
    import os
    import shutil

    from lime_etl_spark.streaming.events import stage_events_dir

    a = tmp_path / "run_a" / "sfX"
    b = tmp_path / "run_b" / "sfX"  # same basename, different contents
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    shutil.copyfile(f"{sf_dir}/events.parquet", str(a / "events.parquet"))
    with open(b / "events.parquet", "wb") as fh:
        fh.write(b"PAR1-not-really")  # distinct bytes are all that matters
    da, db = stage_events_dir(str(a)), stage_events_dir(str(b))
    assert da != db
    assert (
        open(os.path.join(da, "events.parquet"), "rb").read(4)
        != open(os.path.join(db, "events.parquet"), "rb").read(4)
        or os.path.getsize(os.path.join(da, "events.parquet"))
        != os.path.getsize(os.path.join(db, "events.parquet"))
    )
    # regenerated fixture with an OLDER mtime (archive-preserved
    # timestamps) must refresh the staged copy
    with open(a / "events.parquet", "wb") as fh:
        fh.write(b"regenerated")
    os.utime(a / "events.parquet", (1, 1))
    da2 = stage_events_dir(str(a))
    assert open(os.path.join(da2, "events.parquet"), "rb").read() == b"regenerated"


@pytest.mark.slow
def test_click_purchase_join_drains_multifile_fixture_in_one_batch(spark, tmp_path):
    """A multi-part-file events dir is NOT time-ordered across files;
    the stream-stream join is append-mode only, so a multi-batch drain
    lets batch 1 advance the watermark and EVICT batch 2's older
    clicks/purchases from join state — silently losing pairs vs the
    batch oracle. The drain must take the whole directory in one batch
    (this fixture has 9 newer files processed first by mtime, then one
    file holding an older click->purchase pair that a split drain
    would lose)."""
    import datetime as dt
    import glob
    import shutil

    from lime_etl_spark.streaming import events as sevents

    sfdir = tmp_path / "sf"
    evdir = sfdir / "events.parquet"
    evdir.mkdir(parents=True)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )

    def one_file(rows, name, mtime):
        scratch = tmp_path / f"s_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(scratch))
        (part,) = glob.glob(str(scratch / "part-*.parquet"))
        dest = evdir / f"{name}.parquet"
        shutil.copyfile(part, str(dest))
        os.utime(str(dest), (mtime, mtime))

    t_new = dt.datetime(2024, 1, 1, 12, 0)
    for i in range(9):  # > the old 8-files-per-trigger default
        one_file(
            [(100 + i, t_new + dt.timedelta(minutes=i), 9, "click", 0.0, "{}")],
            f"n{i}",
            1_000 + i,
        )
    t_old = dt.datetime(2024, 1, 1, 9, 0)
    one_file(
        [
            (1, t_old, 1, "click", 0.0, "{}"),
            (2, t_old + dt.timedelta(minutes=10), 1, "purchase", 5.0, "{}"),
        ],
        "z_old",
        2_000,  # latest mtime: processed last in a split drain
    )
    got = sevents.run_click_purchase_join_batchlike(spark, str(sfdir)).collect()
    pairs = {(r.click_id, r.purchase_id) for r in got}
    assert (1, 2) in pairs, pairs


def test_get_spark_heals_reused_session_confs(spark):
    """getOrCreate on a pre-existing session re-applies the factory's
    RUNTIME SQL confs (Spark: 'only runtime SQL configurations will
    take effect') — a host session with a drifted timezone must come
    back UTC, silently healed, and the factory's verify-don't-assume
    belt must stay quiet when everything took effect."""
    import warnings

    from lime_etl_spark.session import get_spark

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # healed reuse: no warning
            reused = get_spark("heal_probe")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert reused is spark
    assert reused.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.slow
def test_stateful_tracker_chunk_and_batch_order(spark, tmp_path):
    """last_event_id must be the event id of the MAX (ts, event_id) —
    regardless of Arrow chunk order within a micro-batch (forced here
    with a 2-row maxRecordsPerBatch, so every group arrives as multiple
    chunks) and of micro-batch order across files (the NEWER events are
    staged in the alphabetically-first file, so the second batch is
    all-older and must not regress the profile)."""
    import uuid

    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.stateful import track_user_activity

    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id bigint, user_id bigint, ts timestamp, value double"

    def write_file(rows, name):
        # the file source ignores non-partition subdirectories: write
        # to a scratch dir, then place the single part file FLAT in src
        import glob
        import shutil

        scratch = tmp_path / f"scratch_{name}"
        spark.createDataFrame(
            [(e, u, t, v) for e, u, t, v in rows], schema
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(scratch))
        (part,) = glob.glob(str(scratch / "part-*.parquet"))
        shutil.copyfile(part, str(src / f"{name}.parquet"))

    # file a_newer (listed/processed FIRST): the champion event 99 at
    # 12:00 plus filler rows so the 2-row Arrow chunks split the group
    import datetime as dt

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    write_file(
        [(99, 1, t(12, 0), 1.0), (3, 1, t(10, 3), 1.0), (4, 1, t(10, 4), 1.0),
         (5, 1, t(10, 5), 1.0), (6, 1, t(10, 6), 1.0)],
        "a_newer",
    )
    # file b_older (processed second): strictly older events — a
    # naive "last chunk wins" would overwrite last_event_id with 8
    write_file([(7, 1, t(9, 0), 1.0), (8, 1, t(9, 30), 1.0)], "b_older")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    old_chunk = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = sevents.run_to_memory(
            track_user_activity(stream),
            checkpoint_dir=str(tmp_path / f"ck_{uuid.uuid4().hex[:8]}"),
            output_mode="update",
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_chunk)
    # final profile = the emission with the max n_events (monotone)
    final = max(got, key=lambda r: r.n_events)
    assert final.n_events == 7
    assert final.last_event_id == 99, got


def test_kafka_sink_gated_and_payload_contract(spark, sf_dir):
    """The Kafka SINK is gated like the source; the payload shaping
    (key/value serialization) is broker-independent and must emit the
    (string key, JSON value) contract Spark's kafka sink requires."""
    import json

    import pytest as _pytest

    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.streaming import events as sevents

    ev = read_table(spark, sf_dir, "events").limit(5)
    payload = sevents.kafka_payload(ev)
    assert payload.columns == ["key", "value"]
    for r in payload.collect():
        parsed = json.loads(r["value"])
        assert str(parsed["user_id"]) == r["key"]
        assert {"event_id", "ts", "user_id", "event_type"} <= set(parsed)

    if not sevents.kafka_available(spark):
        stream = sevents.read_events_rate(spark, rows_per_second=10)
        with _pytest.raises(RuntimeError, match="kafka"):
            sevents.write_events_kafka(stream, "localhost:9092", "t", "/tmp/ck")


def test_stream_stream_left_outer_join_emits_unmatched(spark, sf_dir):
    """Left-outer stream-stream join: on bounded availableNow input the
    final emitted set equals the batch left join — matched rows carry
    purchase columns, watermark-expired unmatched clicks carry NULLs."""
    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.streaming import events as sevents

    src = sevents.stage_events_dir(sf_dir)
    clicks = sevents.read_events_stream(spark, src).filter(
        F.col("event_type") == "click"
    )
    purchases = sevents.read_events_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = sevents.click_purchase_interval_join(
        clicks, purchases, how="leftOuter"
    )
    got = sevents.run_to_memory(joined, output_mode="append")

    ev = read_table(spark, sf_dir, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = bc.join(
        bp,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts"
            " AND purchase_ts <= click_ts + interval 30 minutes"
        ),
        "left",
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"
    )
    s_rows = {tuple(r) for r in got.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    # Matched rows emit eagerly — identical to batch.
    assert {r for r in s_rows if r[3] is not None} == {
        r for r in b_rows if r[3] is not None
    }
    # Unmatched clicks emit only once the watermark PROVES no purchase
    # can still arrive (click_ts + horizon < watermark). The stream
    # ends with watermark = max_ts - 30min, so tail clicks stay pending
    # — never wrong rows, only deferred ones.
    s_unmatched = {r for r in s_rows if r[3] is None}
    b_unmatched = {r for r in b_rows if r[3] is None}
    assert s_unmatched <= b_unmatched
    # The global watermark is min over BOTH sides' event-time maxima;
    # the click side is the binding one here (clicks stop before
    # purchases in the fixture). A click is provably unmatched once
    # click_ts + horizon < max_click_ts - watermark_delay; +5min slack.
    max_click_ts = (
        ev.filter(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0]
    )
    import datetime

    proven = {
        r
        for r in b_unmatched
        if r[2] + datetime.timedelta(minutes=65) < max_click_ts
    }
    assert proven <= s_unmatched
    assert s_unmatched  # unmatched clicks do appear


def test_incremental_dedup_on_ingest(spark, tmp_path):
    """Two-batch ingest: batch 2 contains a near-copy of an accepted
    batch-1 doc (flagged, dup_of = the accepted id), a near-dup pair
    within the batch (smaller id survives), and a unique doc. State
    accumulates survivors only."""
    import os
    import shutil

    from lime_etl_spark.streaming import dedup as sdedup

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    variant = base.replace("today", "tonight")
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def stage(name, rows):
        tmp = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(str(tmp))
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        shutil.copyfile(tmp / part, src / f"{name}.parquet")

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(src)
        )
        q = sdedup.dedup_on_ingest(stream, state, ck, threshold=0.5)
        q.awaitTermination()

    stage("b1", [(1, base), (2, "completely different words about spark shuffles and joins everywhere")])
    run()
    dec1 = spark.read.parquet(f"{state}/decisions")
    assert dec1.filter(F.col("is_dup")).count() == 0

    stage("b2", [(10, variant), (11, variant + " extra"), (12, "another unrelated doc on window functions and state stores")])
    run()
    dec = {
        r["doc_id"]: r
        for r in spark.read.parquet(f"{state}/decisions").collect()
    }
    assert not dec[1]["is_dup"] and not dec[2]["is_dup"]
    assert dec[10]["is_dup"] and dec[10]["dup_of"] == 1  # vs accepted state
    assert dec[11]["is_dup"] and dec[11]["dup_of"] in (1, 10)  # earlier identity
    assert not dec[12]["is_dup"]
    # state holds survivors only: 1, 2, 12
    surv = {r["doc_id"] for r in spark.read.parquet(f"{state}/docs").collect()}
    assert surv == {1, 2, 12}
    bands_ids = {r["id"] for r in spark.read.parquet(f"{state}/bands").collect()}
    assert bands_ids == {1, 2, 12}


def test_incremental_dedup_intra_batch_duplicate_ids_collapsed(spark, tmp_path):
    """An at-least-once source can deliver the same doc_id twice IN ONE
    micro-batch; unguarded, the duplicated index rows doubled n_common
    (Jaccard > 1 possible) and the doc landed in the docs/bands state
    twice, poisoning every future batch's denominators. The gate
    collapses them deterministically (smallest md5(text) wins)."""
    from lime_etl_spark.streaming import dedup as sdedup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (1, text), (2, text + " lambda mu nu xi omicron pi rho")],
        "doc_id bigint, text string",
    )
    state = str(tmp_path / "state")
    sdedup.process_batch(docs, 0, state)
    stored = spark.read.parquet(f"{state}/docs").collect()
    assert sorted(r["doc_id"] for r in stored) == [1, 2]  # once each
    decisions = spark.read.parquet(f"{state}/decisions").collect()
    assert len(decisions) == 2
    # Jaccard sanity on the next batch: a near-copy of doc 1 verifies
    # against SINGLE-counted shingle sets (jaccard <= 1)
    nxt = spark.createDataFrame(
        [(10, text.replace("kappa", "sigma"))], "doc_id bigint, text string"
    )
    sdedup.process_batch(nxt, 1, state)
    d = {r["doc_id"]: r for r in spark.read.parquet(f"{state}/decisions").collect()}
    assert d[10]["is_dup"] and d[10]["dup_of"] == 1
    assert d[10]["best_jaccard"] <= 1.0


def test_read_state_or_empty_uri_scheme_paths(spark, tmp_path):
    """State existence goes through the Hadoop FS API: a file:// URI
    (stand-in for hdfs://s3a://) must read the EXISTING state — the old
    os.path.isdir probe was False for every URI-scheme path, so on
    object-store deployments each micro-batch silently read empty state
    and cross-batch dedup was disabled."""
    from lime_etl_spark.streaming.state import read_state_or_empty

    p = str(tmp_path / "st")
    spark.createDataFrame([(1,)], "doc_id bigint").write.parquet(p)
    uri = "file://" + p
    got = read_state_or_empty(spark, uri, "doc_id bigint")
    assert got.count() == 1
    missing = read_state_or_empty(
        spark, "file://" + str(tmp_path / "nope"), "doc_id bigint"
    )
    assert missing.count() == 0


def test_incremental_dedup_batch_replay_idempotent(spark, tmp_path):
    """Replaying a processed batch (same df, same batch id) rewrites its
    own partitions instead of double-appending — the exactly-once
    contract of the dynamic-partition-overwrite writes."""
    from lime_etl_spark.streaming import dedup as sdedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id bigint, text string",
    )
    state = str(tmp_path / "state")
    sdedup.process_batch(docs, 0, state)
    sdedup.process_batch(docs, 0, state)  # replay
    assert spark.read.parquet(f"{state}/decisions").count() == 1
    assert spark.read.parquet(f"{state}/docs").count() == 1


def test_incremental_dedup_cross_batch_redelivery_is_ignored(spark, tmp_path):
    """Structural pin of the round-8 generative dedup_ingest find: a
    doc_id re-delivered in a LATER batch (cross-batch at-least-once
    delivery) must get NO second decision row and must NOT be
    re-appended to the bands/docs state — pre-fix the duplicated index
    rows doubled shingle counts, so a later exact duplicate of the doc
    scored Jaccard != 1 against the poisoned denominators."""
    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import dedup as sdedup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    doc = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    state = str(tmp_path / "state")
    sdedup.process_batch(doc, 0, state)
    sdedup.process_batch(doc, 1, state)  # re-delivery, NOT a replay
    dec = spark.read.parquet(f"{state}/decisions")
    assert dec.count() == 1  # one decision EVER per doc_id
    assert dec.filter("ingest_batch = 0").count() == 1
    # state holds the doc once — bands exactly 4 rows (one per band)
    assert spark.read.parquet(f"{state}/docs").count() == 1
    assert spark.read.parquet(f"{state}/bands").count() == 4
    # and a true duplicate arriving later still verifies at jaccard 1.0
    dup = spark.createDataFrame([(2, text)], "doc_id bigint, text string")
    sdedup.process_batch(dup, 2, state)
    row = (
        spark.read.parquet(f"{state}/decisions")
        .filter("doc_id = 2")
        .collect()[0]
    )
    assert row.is_dup and row.dup_of == 1 and row.best_jaccard == 1.0
    # the re-delivered survivor keeps vetoing: state unchanged afterwards
    assert (
        spark.read.parquet(f"{state}/docs")
        .filter(F.col("doc_id") == 1)
        .count()
        == 1
    )


def test_incremental_dedup_survives_empty_batch(spark, tmp_path):
    """Round-4 soak finding: a continuous rate/file source can trigger
    a ZERO-row micro-batch; its decisions partition then holds only
    _SUCCESS, and the next batch's schemaless read of the decisions dir
    died with UNABLE_TO_INFER_SCHEMA (availableNow drains never emit an
    empty batch, so the gate suite couldn't catch it). Empty batches
    must be harmless no-ops."""
    from lime_etl_spark.streaming import dedup as sdedup

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id bigint, text string",
    )
    state = str(tmp_path / "state")
    sdedup.process_batch(empty, 0, state)   # empty FIRST batch
    sdedup.process_batch(docs, 1, state)    # previously raised here
    sdedup.process_batch(empty, 2, state)   # empty mid-stream too
    sdedup.process_batch(docs.withColumn("doc_id", F.lit(2)), 3, state)
    dec = spark.read.parquet(f"{state}/decisions")
    assert dec.count() == 2
    assert dec.filter("is_dup").count() == 1  # doc 2 duplicates doc 1


def test_incremental_dedup_prefilter_gates_junk(spark, tmp_path):
    """The quality prefilter runs before dedup state: junk docs get no
    decision row and never enter the band index."""
    from lime_etl_spark.ops import text as optext
    from lime_etl_spark.streaming import dedup as sdedup

    good = "the quick brown fox jumps over the lazy dog near the river today"
    docs = spark.createDataFrame(
        [(1, good), (2, "zz")],  # doc 2: too short -> filtered at the door
        "doc_id bigint, text string",
    )

    def gate(d):
        keep = optext.filter_decisions(d, min_quality=0.0).filter("keep")
        return d.join(keep.select("doc_id"), "doc_id", "left_semi")

    state = str(tmp_path / "state")
    sdedup.process_batch(docs, 0, state, prefilter=gate)
    dec = {r["doc_id"] for r in spark.read.parquet(f"{state}/decisions").collect()}
    assert dec == {1}
    assert {r["doc_id"] for r in spark.read.parquet(f"{state}/docs").collect()} == {1}


def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: the events stream enriched with the customer
    dimension via broadcast — the static side is re-resolved per
    micro-batch (dim refreshes are picked up), and the streaming plan
    carries a broadcast join, never a stream-side shuffle-for-join."""
    from lime_etl_spark.io.sources import read_table

    stream = sevents.read_events_stream(spark, sevents.stage_events_dir(sf_dir))
    dim = F.broadcast(
        read_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    enriched = stream.join(dim, "user_id", "left").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = sevents.run_to_memory(enriched, checkpoint_dir=str(tmp_path / "ck_enrich"))
    got = {r["c_mktsegment"]: r["n_events"] for r in out.collect()}
    events = read_table(spark, sf_dir, "events")
    batch = {
        r["c_mktsegment"]: r["n"]
        for r in events.join(
            dim, "user_id", "left"
        ).groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == batch
    assert sum(got.values()) == events.count()


def test_read_events_stream_empty_dir_starts(spark, tmp_path):
    """An initially-empty source directory (normal at stream start-up)
    must not crash the schema probe; the stream builds against the
    registered schema and drains zero rows."""
    from lime_etl_spark.streaming import events as sevents

    src = tmp_path / "empty_events"
    src.mkdir()
    stream = sevents.read_events_stream(spark, str(src))
    agg = sevents.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("empty_dir_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("empty_dir_probe").count() == 0


def test_read_events_stream_rejects_mixed_ts_encodings(spark, tmp_path):
    """A source dir mixing TIMESTAMP(NANOS) and TIMESTAMP(MICROS) files
    (e.g. a partial fixture regeneration mid-stream) must fail the
    schema probe LOUDLY — reading one subset under the other's schema
    silently corrupts ts. (Empty-dir start-up is covered above;
    nonexistent dirs are rejected by readStream itself.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from lime_etl_spark import schemas
    from lime_etl_spark.streaming import events as sevents

    src = tmp_path / "mixed_events"
    src.mkdir()
    names = [f.name for f in schemas.EVENTS.fields]
    row = {
        "event_id": [1], "user_id": [7], "event_type": ["click"],
        "value": [1.0], "props": ["{}"],
    }
    for fname, unit in (("a.parquet", "us"), ("b.parquet", "ns")):
        cols = dict(row)
        cols["ts"] = pa.array([1_000_000_000], pa.timestamp(unit))
        pq.write_table(
            pa.table({n: cols[n] for n in names}), str(src / fname)
        )

    with pytest.raises(ValueError, match="mixes parquet ts encodings"):
        sevents.read_events_stream(spark, str(src))


def test_incremental_dedup_heals_torn_batch(spark, tmp_path, monkeypatch):
    """Crash BETWEEN the state writes of one micro-batch (decisions +
    bands committed, doc store not) must heal on replay: the replayed
    batch sees its own docs already in the band index (the s.id != n.id
    guard) but missing from the doc store (the batch-version-wins
    corpus), recomputes identical decisions, and the partition
    overwrites converge to exactly the clean run's state."""
    import pytest as _pytest

    from lime_etl_spark.streaming import dedup as sdedup

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    b1 = [(1, base), (2, "completely different words about spark shuffles and joins everywhere")]
    b2 = [
        (10, base.replace("today", "tonight")),  # near-dup of accepted doc 1
        (12, "another unrelated doc on window functions and state stores"),
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    # clean reference run, separate state dir
    ref = str(tmp_path / "ref")
    sdedup.process_batch(mk(b1), 0, ref)
    sdedup.process_batch(mk(b2), 1, ref)

    state = str(tmp_path / "state")
    sdedup.process_batch(mk(b1), 0, state)

    # fault injection: let the first two idempotent_reload calls of the
    # next batch succeed (decisions, bands), kill the third (doc store)
    from lime_etl_spark.io import sinks

    real = sinks.idempotent_reload
    seen = {"n": 0}

    def torn(df, path, partition_column):
        seen["n"] += 1
        if seen["n"] >= 3:
            raise RuntimeError("simulated crash before doc-store commit")
        real(df, path, partition_column)

    monkeypatch.setattr(sinks, "idempotent_reload", torn)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        sdedup.process_batch(mk(b2), 1, state)
    monkeypatch.undo()

    # state is genuinely torn: batch-1 decisions and bands landed, the
    # doc store still only has batch 0
    dec_torn = spark.read.parquet(f"{state}/decisions")
    assert dec_torn.filter(F.col("ingest_batch") == 1).count() == 2
    bands_torn = spark.read.parquet(f"{state}/bands")
    assert bands_torn.filter(F.col("ingest_batch") == 1).count() > 0
    docs_torn = spark.read.parquet(f"{state}/docs")
    assert docs_torn.filter(F.col("ingest_batch") == 1).count() == 0

    # replay the same batch id — the idempotent overwrite heals the tear
    sdedup.process_batch(mk(b2), 1, state)

    def snap(d, sub, cols):
        return sorted(
            map(tuple, spark.read.parquet(f"{d}/{sub}").select(*cols).collect())
        )

    dec_cols = ["doc_id", "is_dup", "dup_of", "best_jaccard", "ingest_batch"]
    assert snap(state, "decisions", dec_cols) == snap(ref, "decisions", dec_cols)
    assert snap(state, "docs", ["doc_id", "text", "ingest_batch"]) == snap(
        ref, "docs", ["doc_id", "text", "ingest_batch"]
    )
    assert snap(state, "bands", ["id", "band", "bkey", "ingest_batch"]) == snap(
        ref, "bands", ["id", "band", "bkey", "ingest_batch"]
    )
    # and the healed state is semantically right: 10 is a dup of 1
    dec = {r["doc_id"]: r for r in spark.read.parquet(f"{state}/decisions").collect()}
    assert dec[10]["is_dup"] and dec[10]["dup_of"] == 1
    assert not dec[12]["is_dup"]


def test_stage_events_dir_uses_directory_layout_directly(tmp_path):
    """Generated rehearsal SFs write events.parquet AS a directory of
    part files — staging must hand that directory to the file stream
    source untouched (zero copies), reserving the copy only for the
    driver fixture's single-file layout."""
    from lime_etl_spark.streaming.events import stage_events_dir

    sf_dir = tmp_path / "sfX"
    (sf_dir / "events.parquet").mkdir(parents=True)
    (sf_dir / "events.parquet" / "part-00000.parquet").write_bytes(b"x")
    assert stage_events_dir(str(sf_dir)) == str(sf_dir / "events.parquet")


def test_get_spark_heals_union_partitioning_conf(spark):
    """The Spark 4.1 unionOutputPartitioning unsoundness pin must
    survive session reuse: a host session that re-enabled the broken
    default gets healed back to false (it is a runtime conf), keeping
    the hash-group-splitting bug out of every downstream aggregate."""
    from lime_etl_spark.session import get_spark

    spark.conf.set("spark.sql.unionOutputPartitioning", "true")
    try:
        reused = get_spark("heal_union_conf")
    finally:
        spark.conf.set("spark.sql.unionOutputPartitioning", "false")
    assert reused is spark
    assert reused.conf.get("spark.sql.unionOutputPartitioning") == "false"
