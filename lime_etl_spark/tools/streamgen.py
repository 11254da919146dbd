"""Generative streaming-equivalence tests (r7 verdict next-round #3).

Every streaming gate before round 8 was a FIXED scenario: one source
layout, one trigger bound, hand-picked restart points. The round-7
SCD2 drain bug (multi-file micro-batch quarantine) was exactly a
batch-COMPOSITION bug — found by hand. This harness generates the
composition instead:

Per seed, draw a random event set (row count, users, types, duplicate
rate, timestamp span/disorder), split it into a RANDOM number of
parquet files with a RANDOM row partition and a RANDOM processing
order (the file source drains oldest-mtime-first, and the harness
assigns mtimes), then drain with a RANDOM maxFilesPerTrigger through a
drawn pipeline — optional stateless pre-filter plus one of
tumbling/sliding/session aggregation or watermark dedup — and require
the availableNow result to EQUAL the same pipeline run as one batch
over the same files.

Equivalence contract: the drawn watermark delay always exceeds the
data's time span, so no row is ever late and no state is evicted
regardless of how the split scattered event times across micro-batches
— which is precisely the regime where split/order/trigger-bound MUST
be invisible. What varies per seed is the thing the fixed tests never
varied: how many batches, which rows share one, and in what order
state accumulates (sessions merging across batches, dedup state built
file by file).

A second family checks RESUME equivalence: drain a prefix of the
files, stop, add the rest, re-drain from the SAME checkpoint into the
SAME exactly-once parquet file sink — committed output must equal a
one-shot drain over all files AND the batch distinct. (The SIGKILL
mid-batch variant stays in tests/test_streaming_restart.py; this
generates the stage boundary instead of hand-picking it.)

Artifact runner:

    python -m lime_etl_spark.tools.streamgen --seeds 500 \
        --out GENCHECK_STREAM_r08.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import os
import random
import shutil
import tempfile
import time
import uuid

from lime_etl_spark import schemas
from lime_etl_spark.tools.llmgen import compare_sets
from lime_etl_spark.tools.sweep import Sweep, emit

_TYPES = ["click", "view", "purchase", "scroll", "login"]
_BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def gen_events(rng: random.Random):
    """Random event rows: (event_id, ts, user_id, event_type, value,
    props) with full-row duplicates (same event_id AND content — the
    dedup survivor is unambiguous) and a drawn time span. Returns
    (rows, span_minutes)."""
    n = rng.randint(20, 250)
    n_users = rng.randint(1, 8)
    types = rng.sample(_TYPES, rng.randint(1, len(_TYPES)))
    span_min = rng.choice([15, 60, 360])
    rows = []
    next_id = 1
    for _ in range(n):
        if rows and rng.random() < 0.15:
            rows.append(rows[rng.randrange(len(rows))])  # full-row dup
            continue
        ts = _BASE + dt.timedelta(seconds=rng.randint(0, span_min * 60))
        rows.append(
            (
                next_id,
                ts,
                rng.randint(1, n_users),
                rng.choice(types),
                round(rng.uniform(0, 500), 2),
                rng.choice([None, '{"k":1}', '{"k":2}']),
            )
        )
        next_id += 1
    return rows, span_min


def stage_files(spark, rng: random.Random, rows, work: str) -> str:
    """Write a RANDOM partition of rows into 1..8 parquet files with
    randomized processing order: the file source drains oldest-mtime
    first, so assigning increasing mtimes over a shuffled chunk order
    fixes which rows share a micro-batch — the variable under test.

    Files are written driver-side with pyarrow (timestamp[us], the
    fixture's micros encoding; the session reads it as LTZ under the
    pinned UTC timezone identically on the stream and batch paths) —
    a Spark write job per chunk measured ~20 s/seed of pure staging
    overhead across 1..8 chunks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shuffled = list(rows)
    rng.shuffle(shuffled)
    n_files = rng.randint(1, min(8, max(1, len(rows))))
    # random cut points -> uneven chunks (some may be near-empty)
    cuts = sorted(rng.sample(range(1, len(shuffled)), n_files - 1)) if n_files > 1 else []
    chunks, prev = [], 0
    for c in cuts + [len(shuffled)]:
        chunks.append(shuffled[prev:c])
        prev = c
    pa_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir)
    mtime = time.time() - 3600
    for order, chunk in enumerate(chunks):
        cols = list(zip(*chunk)) if chunk else [[], [], [], [], [], []]
        table = pa.table(
            {f.name: list(c) for f, c in zip(pa_schema, cols)}, schema=pa_schema
        )
        dest = os.path.join(events_dir, f"f{order:03d}.parquet")
        pq.write_table(table, dest)
        os.utime(dest, (mtime + order, mtime + order))
    return events_dir


def _pipeline(rng: random.Random, span_min: int):
    """Draw (ops_label, stream_transform, output_mode). The transform
    applies identically to the stream and the batch twin — Spark's
    batch mode accepts withWatermark (no-op) and window/session_window
    aggregates, so the twin is the SAME code over the same files."""
    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import events as sevents

    # watermark delay > span: no late rows, no evicted state — split
    # invariance is exact by contract (see module docstring)
    wm = f"{span_min + 1440} minutes"
    pre_label, pre = "", None
    if rng.random() < 0.5:
        kind = rng.choice(["type", "value", "user"])
        if kind == "type":
            keep = rng.sample(_TYPES, rng.randint(1, 3))
            pre = lambda df: df.filter(F.col("event_type").isin(keep))  # noqa: E731
        elif kind == "value":
            cut = round(rng.uniform(50, 400), 2)
            pre = lambda df: df.filter(F.col("value") >= cut)  # noqa: E731
        else:
            m = rng.randint(2, 4)
            pre = lambda df: df.filter(F.col("user_id") % m == 0)  # noqa: E731
        pre_label = f"+pre_{kind}"
    fam = rng.choice(["tumbling", "sliding", "session", "dedup"])
    if fam == "tumbling":
        window = rng.choice(["1 minute", "5 minutes", "17 minutes"])
        fn = lambda df: sevents.tumbling_counts(df, window=window, watermark=wm)  # noqa: E731
        mode = "complete"
    elif fam == "sliding":
        slide = rng.choice([1, 2, 5])
        width = slide * rng.randint(1, 4)
        fn = lambda df: sevents.sliding_counts(  # noqa: E731
            df, window=f"{width} minutes", slide=f"{slide} minutes", watermark=wm
        )
        mode = "complete"
    elif fam == "session":
        gap = rng.choice(["2 minutes", "10 minutes", "45 minutes"])
        fn = lambda df: sevents.session_windows(df, gap=gap, watermark=wm)  # noqa: E731
        mode = "complete"
    else:
        fn = lambda df: sevents.dedup_within_watermark(df, watermark=wm)  # noqa: E731
        mode = "append"

    def transform(df):
        return fn(pre(df) if pre else df)

    if fam == "dedup":
        # dropDuplicatesWithinWatermark is stream-only; the batch twin
        # is plain distinct-by-key — unambiguous because the generator
        # only plants FULL-ROW duplicates (same event_id, same content)
        def batch_twin(df):
            return (pre(df) if pre else df).dropDuplicates(["event_id"])
    else:
        batch_twin = transform
    return f"{fam}{pre_label}", transform, batch_twin, mode


def _read_batch(spark, events_dir: str):
    return spark.read.schema(schemas.EVENTS).parquet(events_dir)


def _stage_files_time_ordered(rng: random.Random, rows, work: str) -> str:
    """SCD2 staging: the maintainer's documented contract is per-key
    monotone event time ACROSS batches, so legal multi-batch inputs are
    time-ordered cuts — rows sorted by (ts, event_id), cut only where
    ts strictly increases (same-ts rows never straddle a batch), file
    processing order = time order via mtimes. WITHIN that contract the
    composition is still random: how many files, where the cuts fall,
    how many no-op updates and state flips share a batch — exactly the
    r7 SCD2 drain-bug class."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    legal_cuts = [
        i for i in range(1, len(ordered)) if ordered[i][1] > ordered[i - 1][1]
    ]
    n_cuts = rng.randint(0, min(7, len(legal_cuts)))
    cuts = sorted(rng.sample(legal_cuts, n_cuts)) if n_cuts else []
    chunks, prev = [], 0
    for c in cuts + [len(ordered)]:
        chunks.append(ordered[prev:c])
        prev = c
    pa_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    events_dir = os.path.join(work, "events")
    os.makedirs(events_dir)
    mtime = time.time() - 3600
    for order, chunk in enumerate(chunks):
        cols = list(zip(*chunk))
        table = pa.table(
            {f.name: list(c) for f, c in zip(pa_schema, cols)}, schema=pa_schema
        )
        dest = os.path.join(events_dir, f"f{order:03d}.parquet")
        pq.write_table(table, dest)
        os.utime(dest, (mtime + order, mtime + order))
    return events_dir


def _gen_scd2_events(rng: random.Random):
    """Change events tuned for SCD2: few keys, DISTINCT (key, ts)
    pairs, runs of repeated states (no-op updates that must collapse
    across batch boundaries) interleaved with state flips."""
    n_users = rng.randint(1, 6)
    types = rng.sample(_TYPES, rng.randint(2, len(_TYPES)))
    rows, eid = [], 1
    used = set()
    for u in range(1, n_users + 1):
        state = rng.choice(types)
        t = rng.randint(0, 600)
        for _ in range(rng.randint(1, 40)):
            if rng.random() < 0.45:  # state flip
                state = rng.choice([s for s in types if s != state] or types)
            # else: repeated state — a no-op update to collapse
            while (u, t) in used:
                t += rng.randint(1, 120)
            used.add((u, t))
            rows.append(
                (
                    eid,
                    _BASE + dt.timedelta(seconds=t),
                    u,
                    state,
                    round(rng.uniform(0, 100), 2),
                    None,
                )
            )
            eid += 1
            t += rng.randint(0, 300)
    return rows


def _check_scd2_seed(spark, rng: random.Random, rec: dict, work: str):
    from lime_etl_spark.ops import behavior
    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.scd2 import (
        QUARANTINE_SUBDIR,
        history,
        maintain_scd2,
    )

    rows = _gen_scd2_events(rng)
    events_dir = _stage_files_time_ordered(rng, rows, work)
    mfpt = rng.choice([1, 2, 3, None])
    restart = rng.random() < 0.3
    rec["ops"] = [f"scd2:mfpt={mfpt}{':restart' if restart else ''}"]
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    state = os.path.join(work, "state")
    ck = os.path.join(work, "ck")
    if restart and len(files) > 1:
        m = rng.randint(1, len(files) - 1)
        hidden = os.path.join(work, "hidden")
        os.makedirs(hidden)
        stashed = []
        for f in files[m:]:
            st = os.stat(f)
            dest = os.path.join(hidden, os.path.basename(f))
            shutil.move(f, dest)
            stashed.append((dest, f, st.st_mtime))
        stages = 2
    else:
        stashed, stages = [], 1
    for stage in range(1, stages + 1):
        q = maintain_scd2(
            sevents.read_events_stream(spark, events_dir, max_files_per_trigger=mfpt),
            state,
            ck,
        )
        q.awaitTermination()
        if stage == 1 and stashed:
            for src, orig, mtime in stashed:
                shutil.move(src, orig)
                os.utime(orig, (mtime, mtime))
    got = [tuple(r) for r in history(spark, state).collect()]
    batch = [
        tuple(r)
        for r in behavior.scd2_from_change_stream(
            _read_batch(spark, events_dir), "user_id", "event_type", "ts", "event_id"
        ).collect()
    ]
    errs = compare_sets(got, batch)
    # legal (monotone) input must quarantine NOTHING (the dir may
    # exist with no part files — written-then-empty overwrites)
    qdir = os.path.join(state, QUARANTINE_SUBDIR)
    if glob.glob(os.path.join(qdir, "**", "*.parquet"), recursive=True):
        nq = spark.read.parquet(qdir).count()
        if nq:
            errs.append(f"quarantined {nq} rows on legal monotone input")
    if errs:
        rec["mismatch"] = errs
    else:
        rec["rows"] = len(got)


def _check_funnel_seed(spark, rng: random.Random, rec: dict, work: str):
    """Incremental funnel maintenance == the batch funnel, generatively:
    the maintainer shares streaming/scd2.py's per-key monotone contract,
    so the SCD2 event generator + time-ordered file cuts produce legal
    feeds; steps and the conversion window are drawn per seed, drains
    use random maxFilesPerTrigger, and a restart variant re-drains from
    the same checkpoint after the remaining files appear."""
    from lime_etl_spark.ops import behavior
    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.funnel import (
        QUARANTINE_SUBDIR,
        funnel_report,
        maintain_funnel,
    )

    rows = _gen_scd2_events(rng)
    types_present = sorted({r[3] for r in rows})
    k = rng.randint(2, min(4, max(2, len(types_present))))
    steps = rng.sample(types_present, min(k, len(types_present)))
    window_days = rng.choice([None, 1, 7])
    events_dir = _stage_files_time_ordered(rng, rows, work)
    mfpt = rng.choice([1, 2, 3, None])
    restart = rng.random() < 0.3
    rec["ops"] = [
        f"funnel:k={len(steps)}:w={window_days}:mfpt={mfpt}"
        f"{':restart' if restart else ''}"
    ]
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    state = os.path.join(work, "state")
    ck = os.path.join(work, "ck")
    if restart and len(files) > 1:
        m = rng.randint(1, len(files) - 1)
        hidden = os.path.join(work, "hidden")
        os.makedirs(hidden)
        stashed = []
        for f in files[m:]:
            st = os.stat(f)
            dest = os.path.join(hidden, os.path.basename(f))
            shutil.move(f, dest)
            stashed.append((dest, f, st.st_mtime))
        stages = 2
    else:
        stashed, stages = [], 1
    for stage in range(1, stages + 1):
        q = maintain_funnel(
            sevents.read_events_stream(spark, events_dir, max_files_per_trigger=mfpt),
            state,
            ck,
            steps,
            window_days=window_days,
        )
        q.awaitTermination()
        if stage == 1 and stashed:
            for src, orig, mtime in stashed:
                shutil.move(src, orig)
                os.utime(orig, (mtime, mtime))
    got = [tuple(r) for r in funnel_report(spark, state, steps).collect()]
    batch = [
        tuple(r)
        for r in behavior.funnel(
            _read_batch(spark, events_dir), steps, window_days=window_days
        ).collect()
    ]
    errs = compare_sets(got, batch)
    qdir = os.path.join(state, QUARANTINE_SUBDIR)
    if glob.glob(os.path.join(qdir, "**", "*.parquet"), recursive=True):
        nq = spark.read.parquet(qdir).count()
        if nq:
            errs.append(f"quarantined {nq} rows on legal monotone input")
    if errs:
        rec["mismatch"] = errs
    else:
        rec["rows"] = len(got)


def _check_quality_seed(spark, rng: random.Random, rec: dict, work: str):
    """Incremental quality monitoring == batch validate, generatively:
    random rule sets over the event columns (row-level rules, a
    foreign-key rule against a static dim; ``unique`` is contractually
    rejected at attach) and ARBITRARY random splits/orders — the
    monitor's whole point is sum-decomposability, so unlike scd2/funnel
    no ordering contract constrains the generator. The cumulative
    report must equal one batch validate over all files; a restart
    variant re-drains from the same checkpoint."""
    from lime_etl_spark.ops import quality
    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.streaming.quality import monitor_quality, report

    rows, _span = gen_events(rng)
    events_dir = stage_files(spark, rng, rows, work)
    dim = spark.createDataFrame(
        [(i,) for i in range(1, rng.randint(2, 9))], "uid bigint"
    )
    # one rule per (kind, column): the monitor REJECTS duplicates (its
    # report keys by that pair — the silent-merge this harness caught)
    pool = [
        quality.not_null("event_type"),
        quality.not_null("value"),
        quality.accepted_values("event_type", rng.sample(_TYPES, rng.randint(1, 4))),
        (
            quality.in_range("value", lo=rng.uniform(0, 40))
            if rng.random() < 0.5
            else quality.in_range("value", lo=0.0, hi=rng.uniform(40, 100))
        ),
        quality.foreign_key("user_id", dim, "uid", broadcast_dim=rng.random() < 0.5),
    ]
    rules = rng.sample(pool, rng.randint(1, len(pool)))
    with_rc = rng.random() < 0.7
    mfpt = rng.choice([1, 2, 3, None])
    restart = rng.random() < 0.3
    rec["ops"] = [
        f"quality:rules={len(rules)}:mfpt={mfpt}{':restart' if restart else ''}"
    ]
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    state = os.path.join(work, "state")
    ck = os.path.join(work, "ck")
    if restart and len(files) > 1:
        m = rng.randint(1, len(files) - 1)
        hidden = os.path.join(work, "hidden")
        os.makedirs(hidden)
        stashed = []
        for f in files[m:]:
            st = os.stat(f)
            dest = os.path.join(hidden, os.path.basename(f))
            shutil.move(f, dest)
            stashed.append((dest, f, st.st_mtime))
        stages = 2
    else:
        stashed, stages = [], 1
    for stage in range(1, stages + 1):
        q = monitor_quality(
            sevents.read_events_stream(spark, events_dir, max_files_per_trigger=mfpt),
            state,
            ck,
            rules,
            with_row_count=with_rc,
        )
        q.awaitTermination()
        if stage == 1 and stashed:
            for src, orig, mtime in stashed:
                shutil.move(src, orig)
                os.utime(orig, (mtime, mtime))
    got = [tuple(r) for r in report(spark, state).collect()]
    batch = [
        tuple(r)
        for r in quality.validate(
            _read_batch(spark, events_dir), rules, with_row_count=with_rc
        ).collect()
    ]
    errs = compare_sets(got, batch)
    if errs:
        rec["mismatch"] = errs
    else:
        rec["rows"] = len(got)


def check_seed(spark, seed: int, workroot: str) -> dict:
    from lime_etl_spark.streaming import events as sevents

    rng = random.Random(seed)
    rec: dict = {"seed": seed}
    work = os.path.join(workroot, f"s{seed}_{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        pick = rng.random()
        if pick < 0.2:
            _check_scd2_seed(spark, rng, rec, work)
            return rec
        if pick < 0.38:
            _check_funnel_seed(spark, rng, rec, work)
            return rec
        if pick < 0.5:
            _check_quality_seed(spark, rng, rec, work)
            return rec
        rows, span_min = gen_events(rng)
        events_dir = stage_files(spark, rng, rows, work)
        label, transform, batch_twin, mode = _pipeline(rng, span_min)
        mfpt = rng.choice([1, 2, 3, None])
        restart = rng.random() < 0.25 and mode == "append"
        rec["ops"] = [f"{label}:mfpt={mfpt}{':restart' if restart else ''}"]
        batch = [tuple(r) for r in batch_twin(_read_batch(spark, events_dir)).collect()]
        if restart:
            got = _resume_drain(spark, rng, events_dir, transform, work, mfpt)
        else:
            stream = sevents.read_events_stream(
                spark, events_dir, max_files_per_trigger=mfpt
            )
            got = [
                tuple(r)
                for r in sevents.run_to_memory(
                    transform(stream),
                    checkpoint_dir=os.path.join(work, "ck"),
                    output_mode=mode,
                ).collect()
            ]
        errs = compare_sets(got, batch)
        if errs:
            rec["mismatch"] = errs
        else:
            rec["rows"] = len(got)
    except Exception as exc:
        rec["error"] = f"{type(exc).__name__}: {exc}"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rec


def _resume_drain(spark, rng, events_dir, transform, work, mfpt):
    """Two-stage drain: only a random prefix of the files exists for
    drain #1; the rest appear before drain #2, which RESUMES from the
    same checkpoint into the same exactly-once parquet file sink.
    Returns the committed sink rows (the file-sink log discards
    anything uncommitted)."""
    from lime_etl_spark.streaming import events as sevents

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    m = rng.randint(1, len(files))
    hidden = os.path.join(work, "hidden")
    os.makedirs(hidden)
    stashed = []
    for f in files[m:]:
        st = os.stat(f)
        dest = os.path.join(hidden, os.path.basename(f))
        shutil.move(f, dest)
        stashed.append((dest, f, st.st_mtime))
    sink = os.path.join(work, "sink")
    ck = os.path.join(work, "rck")
    for stage in (1, 2):
        stream = sevents.read_events_stream(
            spark, events_dir, max_files_per_trigger=mfpt
        )
        q = (
            transform(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if stage == 1:
            for src, orig, mtime in stashed:
                shutil.move(src, orig)
                os.utime(orig, (mtime, mtime))
    return [tuple(r) for r in spark.read.parquet(sink).collect()]


# every streaming variant the --min-variant floor covers: (tumbling|
# sliding|session|dedup) x (no prefilter|pre_type|pre_value|pre_user)
# plus scd2/funnel/quality — the r8 final block left several
# fam+prefilter cells at 2-6 draws
VARIANTS = [
    f"{fam}{pre}"
    for fam in ("tumbling", "sliding", "session", "dedup")
    for pre in ("", "+pre_type", "+pre_value", "+pre_user")
] + ["scd2", "funnel", "quality"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=500)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--min-variant", type=int, default=None,
        help="run until every streaming variant has at least this many "
        "draws (ignores --seeds except as the walk cap)",
    )
    args = ap.parse_args()

    from lime_etl_spark.session import get_spark

    spark = get_spark("streamgen", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    floor = args.min_variant
    # the rarest variant is ~1/32 of draws, so the floor walk is capped
    # at max(--seeds, 5000) seeds
    n = max(args.seeds, 5000) if floor else args.seeds
    workroot = tempfile.mkdtemp(prefix="streamgen_")
    try:
        sw = Sweep().run(
            lambda s: check_seed(spark, s, workroot),
            range(args.start, args.start + n),
            stop=(lambda sw: sw.floor_met(VARIANTS, floor)) if floor else None,
            note=(lambda sw: f", min-variant={min(sw.ops[t] for t in VARIANTS)}")
            if floor else None,
        )
    finally:
        shutil.rmtree(workroot, ignore_errors=True)
    if floor:
        head = {
            "harness": (
                "streamgen --min-variant (random file splits/order/trigger "
                "bounds + resume vs batch twin; sweep runs until every "
                "variant has the floor)"
            ),
            "min_per_variant": floor,
            "variants_floor_met": sw.floor_met(VARIANTS, floor),
        }
    else:
        head = {
            "harness": "streamgen (random file splits/order/trigger bounds + resume vs batch twin)"
        }
    emit(sw.report(head), args.out)


if __name__ == "__main__":
    main()
