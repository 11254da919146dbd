"""The amortized cross-batch re-delivery guard (round-9, VERDICT r8
task #4 — streaming/state.DecisionIdGuard).

Round 8 fixed cross-batch re-delivery with a per-micro-batch O(state)
decisions read; SCALE.md costed it (~8 GB/batch at 1e9 accepted docs)
and named the amortized design this round implements. Bars here:

- EQUIVALENCE: multi-batch drains with cross-batch re-deliveries
  produce byte-identical decisions/state under the exact broadcast
  phase and under LIME_REDELIVERY_GUARD=disk (the round-8 behavior,
  kept as the differential twin) — for both the LSH gate and the
  semantic gate. The exact phase is reached the way production reaches
  it: ``auto`` with its calibration forced to 0 s, so the guard flips
  on the first batch that sees existing state (_force_exact).
- COMPACTION: folding increments into the pinned base changes nothing.
- STALENESS: wiping/rebuilding the state dir under a live guard is
  detected by the per-batch partition listing (rebuild, not stale ids).
- CRASH CONVERGENCE: a crash AFTER the decisions write but BEFORE the
  bands/docs (LSH) or members (semantic) writes must leave the
  increment unrecorded, so the replay re-decides the batch and
  completes the missing writes (recording early would make the guard
  hide the ids and the replay skip them).

The generative families (tools/llmgen.py dedup_ingest/semantic_ingest)
run under every guard mode and pin the same contract at volume.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lime_etl_spark.io.sources import read_table
from lime_etl_spark.streaming import dedup as sdedup
from lime_etl_spark.streaming import semantic as ssem
from lime_etl_spark.streaming import state as sstate
from lime_etl_spark.streaming.state import read_state_or_empty


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _force_exact(monkeypatch):
    """``auto`` with a zero probe calibration: any real decisions read
    exceeds it, so the guard flips to the exact broadcast phase on the
    first batch that sees existing state."""
    monkeypatch.setattr(sstate, "_measure_probe_fixed_cost", lambda _s: 0.0)
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "auto")


def _seed_decisions(spark, path, ids) -> str:
    """A decisions dir holding ``ids`` in ingest_batch=0."""
    state = str(path)
    spark.createDataFrame(
        [(i, 0) for i in ids], "doc_id bigint, ingest_batch bigint"
    ).write.partitionBy("ingest_batch").parquet(state)
    return state


def _disk_twin(spark, state, batch, batch_id):
    """The exact round-8 anti-join of ``batch`` against every decision
    outside ``batch_id`` — the reference every guard phase must equal."""
    prior = (
        spark.read.schema("doc_id bigint, ingest_batch bigint")
        .parquet(state)
        .filter(F.col("ingest_batch") != batch_id)
        .select("doc_id")
    )
    return batch.join(prior, "doc_id", "left_anti")


def _ids(df):
    """doc_id values, NULL-safe sorted."""
    return sorted((r.doc_id is None, r.doc_id or 0) for r in df.collect())


def _decisions(spark, state):
    return read_state_or_empty(
        spark, os.path.join(state, sdedup.DECISIONS_SUBDIR), sdedup._DECISIONS_SCHEMA
    )


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def _drain_lsh(spark, docs, state: str, *, redeliver: bool) -> None:
    """Three batches over doc_id thirds; batch 2 re-delivers half of
    batch 0 (cross-batch at-least-once) when ``redeliver``."""
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    if redeliver:
        b2 = b2.union(b0.filter(F.col("doc_id") % 2 == 0))
    sdedup.process_batch(b0, 0, state, threshold=0.5)
    sdedup.process_batch(b1, 1, state, threshold=0.5)
    sdedup.process_batch(b2, 2, state, threshold=0.5)


@pytest.mark.slow
def test_lsh_gate_exact_phase_equals_disk_guard(
    spark, docs, tmp_path, monkeypatch
):
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "disk")
    disk_state = str(tmp_path / "disk")
    _drain_lsh(spark, docs, disk_state, redeliver=True)
    _force_exact(monkeypatch)
    exact_state = str(tmp_path / "exact")
    _drain_lsh(spark, docs, exact_state, redeliver=True)
    guard = sstate.decision_guard(
        os.path.join(exact_state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert guard.phase == "bc", "auto never flipped to the exact phase"

    assert _rows(_decisions(spark, disk_state)) == _rows(
        _decisions(spark, exact_state)
    )
    for sub, schema in (
        (sdedup.BANDS_SUBDIR, sdedup._BANDS_SCHEMA),
        (sdedup.DOCS_SUBDIR, sdedup._DOCS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(disk_state, sub), schema)
        ) == _rows(
            read_state_or_empty(spark, os.path.join(exact_state, sub), schema)
        )
    # the re-delivered ids were decided exactly once
    dec = _decisions(spark, exact_state)
    assert dec.groupBy("doc_id").count().filter("count > 1").count() == 0


@pytest.mark.slow
def test_lsh_gate_compaction_preserves_decisions(
    spark, docs, tmp_path, monkeypatch
):
    _force_exact(monkeypatch)
    monkeypatch.setattr(sstate.DecisionIdGuard, "COMPACT_EVERY", 2)
    state = str(tmp_path / "state")
    _drain_lsh(spark, docs, state, redeliver=True)
    guard = sstate.decision_guard(
        os.path.join(state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    # flipped on batch 1, then COMPACT_EVERY=2 folded batches 1 and 2
    assert guard.phase == "bc"
    assert guard._base_ids is not None and len(guard._base_parts) >= 2
    dec = _decisions(spark, state)
    assert dec.count() == docs.select("doc_id").distinct().count()
    assert dec.groupBy("doc_id").count().filter("count > 1").count() == 0
    # and the compacted guard drops every decided id, but not a fresh one
    assert guard.filter_prior(dec.select("doc_id"), 99).count() == 0
    fresh = spark.createDataFrame([(10**12,)], "doc_id bigint")
    assert guard.filter_prior(fresh, 99).count() == 1


@pytest.mark.slow
def test_guard_detects_state_dir_wipe(spark, docs, tmp_path, monkeypatch):
    """A state dir wiped and re-ingested UNDER THE SAME PATH must not
    serve stale decided ids — the per-batch partition listing catches
    the disk/cache mismatch and rebuilds."""
    import shutil

    _force_exact(monkeypatch)
    state = str(tmp_path / "state")
    _drain_lsh(spark, docs, state, redeliver=False)
    n_first = _decisions(spark, state).count()
    assert n_first > 0
    guard = sstate.decision_guard(
        os.path.join(state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert guard.phase == "bc"
    shutil.rmtree(state)
    # fresh ingest, same path: were the guard stale, every doc would be
    # anti-joined away and decisions would come back empty
    _drain_lsh(spark, docs, state, redeliver=False)
    assert _decisions(spark, state).count() == n_first


def _crash_on_second_write(monkeypatch, run) -> None:
    """Run ``run`` with the second state write raising: the gate's
    decisions write lands, the next one (bands or members) dies."""
    from lime_etl_spark.io import sinks

    real_reload = sinks.idempotent_reload
    calls = {"n": 0}

    def crashing_reload(df, path, part_col):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between state writes")
        return real_reload(df, path, part_col)

    monkeypatch.setattr(sinks, "idempotent_reload", crashing_reload)
    with pytest.raises(RuntimeError, match="injected crash"):
        run()
    monkeypatch.setattr(sinks, "idempotent_reload", real_reload)


@pytest.mark.slow
def test_crash_between_writes_replays_convergently(
    spark, docs, tmp_path, monkeypatch
):
    """Crash after the decisions write, before the bands/docs writes:
    the increment must NOT be recorded, so the replayed batch re-decides
    (identically) and completes the missing state writes."""
    _force_exact(monkeypatch)
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    sdedup.process_batch(b0, 0, state, threshold=0.5)

    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    _crash_on_second_write(
        monkeypatch, lambda: sdedup.process_batch(b1, 1, state, threshold=0.5)
    )

    guard = sstate.decision_guard(
        os.path.join(state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert guard.phase == "bc"  # batch 1 ran on the exact phase
    assert 1 not in guard._incs  # crash left the increment unrecorded

    # the checkpoint replays batch 1; the converged state must equal a
    # clean uninterrupted run
    sdedup.process_batch(b1, 1, state, threshold=0.5)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    sdedup.process_batch(b2, 2, state, threshold=0.5)

    clean = str(tmp_path / "clean")
    _drain_lsh(spark, docs, clean, redeliver=False)
    for sub, schema in (
        (sdedup.DECISIONS_SUBDIR, sdedup._DECISIONS_SCHEMA),
        (sdedup.BANDS_SUBDIR, sdedup._BANDS_SCHEMA),
        (sdedup.DOCS_SUBDIR, sdedup._DOCS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(state, sub), schema)
        ) == _rows(read_state_or_empty(spark, os.path.join(clean, sub), schema))


@pytest.mark.slow
def test_semantic_crash_between_writes_replays_convergently(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The semantic gate's twin: crash after the decisions write, before
    the members write. The increment stays unrecorded, and the replay
    converges to a clean run's decisions and members."""
    from lime_etl_spark.ops import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids_embeddings(emb, dim=64, k=16, n_iter=5)
    batches = [emb.filter(F.col("vec_id") % 3 == k) for k in range(3)]

    def run(state, k):
        ssem.process_batch(batches[k], k, state, cents, threshold=0.3)

    _force_exact(monkeypatch)
    state = str(tmp_path / "state")
    run(state, 0)
    _crash_on_second_write(monkeypatch, lambda: run(state, 1))

    guard = sstate.decision_guard(
        os.path.join(state, ssem.DECISIONS_SUBDIR), "vec_id"
    )
    assert guard.phase == "bc"  # batch 1 ran on the exact phase
    assert 1 not in guard._incs  # crash left the increment unrecorded
    # the tear is real: batch 1's decisions landed, its members did not
    def batch_rows(sub, schema, k):
        return read_state_or_empty(
            spark, os.path.join(state, sub), schema
        ).filter(F.col("ingest_batch") == k).count()

    assert batch_rows(ssem.DECISIONS_SUBDIR, ssem._DECISIONS_SCHEMA, 1) > 0
    assert batch_rows(ssem.MEMBERS_SUBDIR, ssem._MEMBERS_SCHEMA, 1) == 0

    run(state, 1)  # the checkpoint replays batch 1
    run(state, 2)
    clean = str(tmp_path / "clean")
    for k in range(3):
        run(clean, k)
    for sub, schema in (
        (ssem.DECISIONS_SUBDIR, ssem._DECISIONS_SCHEMA),
        (ssem.MEMBERS_SUBDIR, ssem._MEMBERS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(state, sub), schema)
        ) == _rows(read_state_or_empty(spark, os.path.join(clean, sub), schema))


def test_semantic_gate_exact_phase_equals_disk_guard(spark, tmp_path, monkeypatch):
    from lime_etl_spark.ops import similarity

    emb = read_table(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                                           "/root/testdata/sf0.001"), "embeddings")
    cents = similarity.kmeans_centroids_embeddings(emb, dim=64, k=16, n_iter=5)

    def drain(state):
        b0 = emb.filter(F.col("vec_id") % 2 == 0)
        b1 = emb.filter(F.col("vec_id") % 2 == 1).union(
            b0.filter(F.col("vec_id") % 4 == 0)  # cross-batch re-delivery
        )
        ssem.process_batch(b0, 0, state, cents, threshold=0.3)
        ssem.process_batch(b1, 1, state, cents, threshold=0.3)

    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "disk")
    disk_state = str(tmp_path / "disk")
    drain(disk_state)
    _force_exact(monkeypatch)
    exact_state = str(tmp_path / "exact")
    drain(exact_state)
    guard = sstate.decision_guard(
        os.path.join(exact_state, ssem.DECISIONS_SUBDIR), "vec_id"
    )
    assert guard.phase == "bc", "auto never flipped to the exact phase"
    for sub, schema in (
        (ssem.DECISIONS_SUBDIR, ssem._DECISIONS_SCHEMA),
        (ssem.MEMBERS_SUBDIR, ssem._MEMBERS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(disk_state, sub), schema)
        ) == _rows(
            read_state_or_empty(spark, os.path.join(exact_state, sub), schema)
        )


def test_guard_exact_on_int64_ids_beyond_2e53_with_nulls(
    spark, tmp_path, monkeypatch
):
    """Round-10 advice (medium): the probe must not transit float64.

    The old mapInPandas kernel saw a bigint column containing any NULL
    as float64 for the whole chunk, so ids with |id| > 2^53 were
    rounded — adjacent huge ids collapsed and the exact broadcast guard
    silently diverged from the exact disk anti-join (false drops AND
    false re-decisions). Hash-derived 64-bit ids make this a real
    input. The mapInArrow kernel keeps int64 exact; NULL ids pass
    through (an equality anti-join can never match NULL — disk-twin
    parity)."""
    _force_exact(monkeypatch)
    base = 2**62 + 11  # far beyond float64's 2^53 integer range
    state = _seed_decisions(
        spark, tmp_path / "decisions", [base, base + 2, -(2**61) - 7]
    )
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="auto")
    batch = spark.createDataFrame(
        [
            (base, "dup-exact"),          # decided -> dropped
            (base + 1, "neighbor"),       # float64 would collapse onto base
            (base + 2, "dup-exact-2"),    # decided -> dropped
            (base + 3, "neighbor-2"),
            (-(2**61) - 7, "neg-dup"),    # decided -> dropped
            (-(2**61) - 6, "neg-neighbor"),
            (None, "null-id"),            # NULL never matches -> kept
        ],
        "doc_id bigint, payload string",
    )
    out = guard.filter_prior(batch, batch_id=1)
    assert guard.phase == "bc"
    got = sorted(
        (r.payload, r.doc_id) for r in out.collect()
    )
    assert got == [
        ("neg-neighbor", -(2**61) - 6),
        ("neighbor", base + 1),
        ("neighbor-2", base + 3),
        ("null-id", None),
    ]
    # the exact disk-mode anti-join agrees row-for-row
    disk = sorted(
        (r.payload, r.doc_id) for r in _disk_twin(spark, state, batch, 1).collect()
    )
    assert got == disk


def test_guard_mode_rejects_unknown_values(tmp_path, monkeypatch):
    """Only auto, disk and bloom are guard modes. The retired names
    (cached, sharded) and junk raise — from the env and from an
    explicit mode alike — instead of silently becoming auto."""
    for bad in ("cached", "sharded", "nonsense"):
        monkeypatch.setenv("LIME_REDELIVERY_GUARD", bad)
        with pytest.raises(ValueError, match="auto, disk, bloom"):
            sstate.guard_mode()
        with pytest.raises(ValueError, match="auto, disk, bloom"):
            sstate.DecisionIdGuard(str(tmp_path), "doc_id")
        with pytest.raises(ValueError, match="auto, disk, bloom"):
            sstate.DecisionIdGuard(str(tmp_path), "doc_id", mode=bad)
    for good in ("auto", "disk", " Bloom "):
        monkeypatch.setenv("LIME_REDELIVERY_GUARD", good)
        assert sstate.guard_mode() == good.strip().lower()


@pytest.mark.slow
def test_sliced_exact_guard_equals_disk_and_actually_slices(
    spark, docs, tmp_path, monkeypatch
):
    """Round-10 (r9 verdict task #5): the exact array past the
    per-broadcast slice limit. Forced 64-id slices so a fixture-sized
    drain exercises the multi-slice dispatch path; state must match the
    disk twin byte-for-byte and the guard must really hold >1 slice."""
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "disk")
    disk_state = str(tmp_path / "disk")
    _drain_lsh(spark, docs, disk_state, redeliver=True)
    _force_exact(monkeypatch)
    monkeypatch.setattr(sstate, "_BROADCAST_SLICE_ITEMS", 64)
    sliced_state = str(tmp_path / "sliced")
    _drain_lsh(spark, docs, sliced_state, redeliver=True)

    for sub, schema in (
        (sdedup.DECISIONS_SUBDIR, sdedup._DECISIONS_SCHEMA),
        (sdedup.BANDS_SUBDIR, sdedup._BANDS_SCHEMA),
        (sdedup.DOCS_SUBDIR, sdedup._DOCS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(disk_state, sub), schema)
        ) == _rows(
            read_state_or_empty(spark, os.path.join(sliced_state, sub), schema)
        )
    guard = sstate.decision_guard(
        os.path.join(sliced_state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert guard.phase == "bc"
    # drive a compaction so the published base reflects all batches,
    # then check the slice split actually engaged
    guard._compact(spark)
    assert len(guard._bcs) > 1, "slice split never engaged"
    assert len(guard._base_ids) > 64


def _check_sliced_probe(spark, tmp_path, monkeypatch, slice_items, decided,
                        probe, n_slices):
    """Seed ``decided``, probe on the exact phase with ``slice_items``-id
    slices, and pin the result to both the expected ids and the disk
    anti-join."""
    _force_exact(monkeypatch)
    monkeypatch.setattr(sstate, "_BROADCAST_SLICE_ITEMS", slice_items)
    state = _seed_decisions(spark, tmp_path / "decisions", decided)
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="auto")
    batch = spark.createDataFrame([(i,) for i in probe], "doc_id bigint")
    got = _ids(guard.filter_prior(batch, 1))
    assert guard.phase == "bc"
    assert len(guard._bcs) == n_slices, "slicing did not engage"
    want = sorted(
        (i is None, i or 0) for i in probe if i is None or i not in decided
    )
    assert got == want
    assert got == _ids(_disk_twin(spark, state, batch, 1))


def test_sharded_probe_exact_across_shard_boundaries(spark, tmp_path, monkeypatch):
    """Boundary ids (slice max, max+1, the gap between slices, beyond
    the global max) must resolve to the right slice — the searchsorted
    dispatch edge cases."""
    # 3 slices: [10..30][40..60][70]
    _check_sliced_probe(
        spark, tmp_path, monkeypatch, 3,
        [10, 20, 30, 40, 50, 60, 70],
        [5, 10, 15, 30, 31, 40, 60, 65, 70, 71, 10**9], 3,
    )


def test_cached_guard_shards_past_row_limit_and_stays_exact(
    spark, tmp_path, monkeypatch
):
    """The exact broadcast phase (the guard once called ``cached``) must
    split an id array that outgrows the per-broadcast limit into
    slices — otherwise a long-lived stream marches into the ~2 GB
    single-pickle broadcast ceiling. Forced 100-id slices over 950
    decided ids: multi-slice dispatch engages, NULL ids pass through,
    and filter_prior still equals the disk anti-join."""
    _check_sliced_probe(
        spark, tmp_path, monkeypatch, 100,
        list(range(5000, 5950)),
        list(range(4900, 5100)) + [None, 5949, 6000], 10,
    )


@pytest.mark.slow
def test_auto_guard_flips_on_measured_crossover(spark, docs, tmp_path, monkeypatch):
    """Round-10 (r9 verdict task #6): auto mode starts on the disk
    path and flips exactly when the measured decisions read exceeds
    the measured fixed probe cost — pinned by forcing the calibration
    both ways. Results must equal the disk twin in BOTH regimes."""
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "disk")
    disk_state = str(tmp_path / "disk")
    _drain_lsh(spark, docs, disk_state, redeliver=True)

    # fixed cost 'infinite' -> auto must never flip
    monkeypatch.setattr(
        sstate, "_measure_probe_fixed_cost", lambda _s: float("inf")
    )
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "auto")
    stay_state = str(tmp_path / "auto_stay")
    _drain_lsh(spark, docs, stay_state, redeliver=True)
    g_stay = sstate.decision_guard(
        os.path.join(stay_state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert g_stay.mode == "auto" and g_stay.phase == "disk"

    # fixed cost zero -> any real read exceeds it -> flips at the first
    # check (the epoch's first guarded batch with existing state)
    monkeypatch.setattr(sstate, "_measure_probe_fixed_cost", lambda _s: 0.0)
    flip_state = str(tmp_path / "auto_flip")
    _drain_lsh(spark, docs, flip_state, redeliver=True)
    g_flip = sstate.decision_guard(
        os.path.join(flip_state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert g_flip.phase == "bc", "auto never flipped despite zero fixed cost"

    want = _rows(_decisions(spark, disk_state))
    assert _rows(_decisions(spark, stay_state)) == want
    assert _rows(_decisions(spark, flip_state)) == want


@pytest.mark.slow
def test_bloom_guard_equals_disk_and_discards_array(
    spark, docs, tmp_path, monkeypatch
):
    """Round-10 follow-on: the bloom+exact-confirm mode.
    Full-drain state must match the disk twin byte-for-byte, and the
    guard must hold ONLY the bitset — the exact id array is discarded
    at build (that is the whole point of the rung)."""
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "disk")
    disk_state = str(tmp_path / "disk")
    _drain_lsh(spark, docs, disk_state, redeliver=True)
    monkeypatch.setenv("LIME_REDELIVERY_GUARD", "bloom")
    bloom_state = str(tmp_path / "bloom")
    _drain_lsh(spark, docs, bloom_state, redeliver=True)

    for sub, schema in (
        (sdedup.DECISIONS_SUBDIR, sdedup._DECISIONS_SCHEMA),
        (sdedup.BANDS_SUBDIR, sdedup._BANDS_SCHEMA),
        (sdedup.DOCS_SUBDIR, sdedup._DOCS_SCHEMA),
    ):
        assert _rows(
            read_state_or_empty(spark, os.path.join(disk_state, sub), schema)
        ) == _rows(
            read_state_or_empty(spark, os.path.join(bloom_state, sub), schema)
        )
    guard = sstate.decision_guard(
        os.path.join(bloom_state, sdedup.DECISIONS_SUBDIR), "doc_id"
    )
    assert guard.mode == "bloom"
    guard._compact(spark)
    assert guard._base_ids is None and guard._bloom is not None
    assert guard._bloom_n > 0
    # and re-delivered ids were decided exactly once
    dec = _decisions(spark, bloom_state)
    assert dec.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_bloom_exact_under_forced_false_positives(spark, tmp_path, monkeypatch):
    """With the bitset forced to 2 bits per id nearly every
    probe is bloom-POSITIVE — the exact-confirm pass must clear every
    false positive, so the output still equals the disk twin row for
    row, including |id| > 2^53 ids and NULL pass-through (a bloom is a
    screen, never the decision)."""
    monkeypatch.setattr(sstate, "_BLOOM_BITS_PER_ID", 2)
    base = 2**62 + 11
    decided = [base, base + 2, -(2**61) - 7] + list(range(1000, 1400))
    state = _seed_decisions(spark, tmp_path / "decisions", decided)
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="bloom")
    batch = spark.createDataFrame(
        [
            (base, "dup-exact"),
            (base + 1, "neighbor"),
            (base + 2, "dup-exact-2"),
            (base + 3, "neighbor-2"),
            (-(2**61) - 7, "neg-dup"),
            (-(2**61) - 6, "neg-neighbor"),
            (None, "null-id"),
            (1000, "dup-small"),
            (999, "fresh-small"),
        ],
        "doc_id bigint, payload string",
    )
    got = sorted((r.payload, r.doc_id) for r in guard.filter_prior(batch, 1).collect())
    disk = sorted(
        (r.payload, r.doc_id) for r in _disk_twin(spark, state, batch, 1).collect()
    )
    assert got == disk
    assert ("null-id", None) in got and ("dup-exact", base) not in got


def test_bloom_all_fresh_batch_skips_confirm_entirely(spark, tmp_path):
    """A batch with zero bloom-positive ids must come back as the SAME
    DataFrame object — phase 2 (the candidate-pruned disk confirm)
    never builds a plan, which is the structural form of 'definitely
    -unseen rows never touch disk'."""
    state = _seed_decisions(spark, tmp_path / "decisions", range(0, 4000, 2))
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="bloom")
    fresh = spark.createDataFrame(
        [(10**7 + i,) for i in range(50)], "doc_id bigint"
    )
    out = guard.filter_prior(fresh, 1)
    assert out is fresh, "confirm path engaged for a definitely-fresh batch"


def test_bloom_capacity_resize_rebuilds_and_stays_exact(
    spark, tmp_path, monkeypatch
):
    """Compactions that cross the build-time capacity mark a deferred
    resize; the next filter_prior rebuilds the bitset from disk at the
    new size. Decisions across the growth stay exact (one per id)."""
    monkeypatch.setattr(sstate.DecisionIdGuard, "COMPACT_EVERY", 1)
    state = _seed_decisions(spark, tmp_path / "decisions", [0])
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="bloom")
    # build at capacity 2 (1 id on disk, 2x headroom)
    guard.filter_prior(spark.createDataFrame([(1,)], "doc_id bigint"), 1)
    cap0, m0 = guard._bloom_cap, guard._bloom_m
    assert cap0 == 2
    # record 10 new ids -> COMPACT_EVERY=1 folds immediately -> over cap
    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id bigint")
    ids.withColumn("ingest_batch", F.lit(1)).write.mode("append").partitionBy(
        "ingest_batch"
    ).parquet(state)
    guard.record(spark, 1, ids)
    assert guard._bloom_resize, "capacity crossing not marked"
    # next probe rebuilds at the new size and is exact
    probe = spark.createDataFrame(
        [(0,), (5,), (10,), (11,), (12,)], "doc_id bigint"
    )
    out = sorted(r.doc_id for r in guard.filter_prior(probe, 2).collect())
    assert out == [11, 12]
    assert not guard._bloom_resize and guard._bloom_cap > cap0
    assert guard._bloom_m >= m0


def test_bloom_set_matches_reference_positions():
    """`_bloom_set` (the buffered chunked epoch fold) and
    `_bloom_positions` (the reference recipe the probe kernels use)
    must compute identical bit positions — a drift between the twins
    would surface as false NEGATIVES, the one failure mode the bloom
    design cannot tolerate. Pure numpy, no Spark."""
    import numpy as np

    from lime_etl_spark.streaming import state as st

    rng = np.random.default_rng(41)
    ids = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64),
            np.array([0, -1, 1, 2**62, -(2**62), 2**53 + 1], dtype=np.int64),
        ]
    )
    m = 997_001 * 8
    got = np.zeros((m + 63) // 64, dtype=np.uint64)
    st._bloom_set(got, ids, m, chunk=7_777)  # uneven chunks on purpose
    ref = np.zeros_like(got)
    pos = st._bloom_positions(ids, m).ravel()
    np.bitwise_or.at(
        ref,
        (pos >> np.uint64(6)).astype(np.int64),
        np.uint64(1) << (pos & np.uint64(63)),
    )
    assert np.array_equal(got, ref)
    assert st._bloom_hits_sharded([got], len(got), ids, m).all()


def test_bloom_bitset_shards_match_single_broadcast(
    spark, tmp_path, monkeypatch
):
    """Past ~50M ids the default-sized bitset exceeds one
    _BROADCAST_SLICE_ITEMS-word broadcast, so the bloom guard ships it
    as consecutive word-range slices. Forced tiny slices (64 words)
    must behave identically to one broadcast: same numpy probe verdicts
    and the same filter_prior output as the disk twin."""
    import numpy as np

    from lime_etl_spark.streaming.state import _bloom_hits_sharded, _bloom_set

    # numpy level: arithmetic shard dispatch == single-array gather
    rng = np.random.default_rng(43)
    ids = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    m = 1 << 20
    bits = np.zeros((m + 63) // 64, dtype=np.uint64)
    _bloom_set(bits, ids, m)
    probe = np.concatenate([ids[:500], rng.integers(-(2**62), 2**62, 500)])
    wps = 64
    shards = [bits[i : i + wps] for i in range(0, len(bits), wps)]
    assert len(shards) > 2
    assert np.array_equal(
        _bloom_hits_sharded(shards, wps, probe, m),
        _bloom_hits_sharded([bits], len(bits), probe, m),
    )

    # engine level: forced-sliced guard == disk twin
    monkeypatch.setattr(sstate, "_BROADCAST_SLICE_ITEMS", 64)
    state = _seed_decisions(spark, tmp_path / "decisions", range(2000, 2800))
    guard = sstate.DecisionIdGuard(state, "doc_id", mode="bloom")
    batch = spark.createDataFrame(
        [(i,) for i in range(1900, 2100)] + [(None,)], "doc_id bigint"
    )
    got = _ids(guard.filter_prior(batch, 1))
    assert len(guard._bcs) > 2, "slice forcing did not engage"
    assert got == _ids(_disk_twin(spark, state, batch, 1))
