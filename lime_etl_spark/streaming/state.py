"""Shared helpers for foreachBatch state tables (scd2/funnel/dedup).

Each incremental maintainer keeps its state as batch-partitioned
parquet (dynamic partition overwrite per micro-batch — the replay
idempotency design documented in streaming/scd2.py); these helpers hold
the pieces every maintainer needs identically. ``commit_batch`` is the
one micro-batch commit of both ingest gates (streaming/dedup.py and
streaming/semantic.py): decisions, then the survivor appends, then the
re-delivery guard's record.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_etl_spark.io import sinks


def read_state_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """State read that tolerates the first-ever batch (no state yet).

    Existence goes through the Hadoop FileSystem API, so any scheme
    the cluster can read (file://, hdfs://, s3a://) answers correctly.
    The old os.path.isdir probe was False for EVERY URI-scheme path —
    on exactly the object-store deployments the streaming maintainers
    target, every micro-batch silently read empty state and cross-batch
    dedup/scd2/funnel/quality state was thrown away (the docstring's
    'create the dirs up front' mitigation could not help: the probe
    ignored whether the directory existed).
    """
    from lime_etl_spark.io.fsutil import HadoopFS

    if HadoopFS(spark, path).exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


# ---------------------------------------------------------------------------
# Batched re-delivery guard (round-9: the scale knob SCALE.md's round-8
# cost model designed — implemented).
# ---------------------------------------------------------------------------


_GUARD_MODES = ("auto", "disk", "bloom")


def _checked_mode(mode: str) -> str:
    if mode not in _GUARD_MODES:
        raise ValueError(
            f"re-delivery guard mode {mode!r} is not one of "
            f"{', '.join(_GUARD_MODES)} (env LIME_REDELIVERY_GUARD)"
        )
    return mode


def guard_mode() -> str:
    """Re-delivery guard mode (env ``LIME_REDELIVERY_GUARD``, the
    guard's only env variable; any other value raises ``ValueError``):

    - ``auto`` (default): start on the per-batch disk anti-join
      (cheapest for small/fixed corpora) and FLIP to the exact
      broadcast probe when the measured disk-read cost crosses the
      measured fixed probe cost. The crossover is derived from two
      on-host measurements per epoch, not a hardcoded id count; the
      first measurement runs on the first batch that sees existing
      state, so a large state flips at once.
    - ``bloom``: bloom + exact-confirm two-phase: holds/broadcasts only
      an m-bit bitset (``_BLOOM_BITS_PER_ID`` bits/id) instead of the
      exact id array; bloom-negative rows pass with no disk touch (no
      false negatives), bloom-positive ids are exact-confirmed against
      a candidate-pruned disk read — output is IDENTICAL to the disk
      twin, not probabilistic.
    - ``disk``: the round-8 behavior — a full O(state) decisions read
      per micro-batch. Kept as the differential-testing twin: the
      generative ingest families run green on every mode against it.
    """
    return _checked_mode(
        os.environ.get("LIME_REDELIVERY_GUARD", "auto").strip().lower()
    )


class _Pin:
    """An eagerly localCheckpointed DataFrame plus a DETERMINISTIC
    release handle for its storage blocks.

    ``DataFrame.unpersist`` only uncaches CacheManager entries, so a
    localCheckpointed frame's blocks normally live until the JVM
    ContextCleaner notices the RDD is unreachable (round-8 advisor
    finding: a long-running continuous ingest holds blocks between GC
    cycles). The checkpointed RDD is reachable from the analyzed plan's
    LogicalRDD node; capturing its id at pin time lets release() drop
    the blocks the moment the owner is done with them. Release is
    best-effort — on any internals drift the blocks simply fall back to
    GC-based cleanup, which is today's behavior.

    Executor-loss caveat (also in SCALE.md): localCheckpoint data is
    NOT recomputable after executor loss. On a cluster with preemption
    or dynamic allocation, a dead executor fails the consuming job and
    the micro-batch; recovery is the foreachBatch replay, whose
    partition-overwrite writes converge. That trade (one failed batch
    vs re-running the state scan under an overwrite commit) is
    deliberate — see streaming/dedup.py's read-under-overwrite notes.
    """

    def __init__(self, df: DataFrame):
        self.df = df.localCheckpoint(eager=True)
        try:
            self._rdd_id = int(
                self.df._jdf.queryExecution().analyzed().rdd().id()
            )
        except Exception:
            self._rdd_id = None  # GC-based cleanup fallback

    def release(self) -> None:
        if self._rdd_id is None:
            return
        try:
            jsc = self.df.sparkSession.sparkContext._jsc
            rdds = jsc.getPersistentRDDs()
            for k in rdds.keySet().toArray():
                if int(k) == self._rdd_id:
                    rdds.get(k).unpersist(False)
        except Exception:
            pass  # context already stopped: blocks died with it
        self._rdd_id = None


def _unseen_filter(bcs, shard_maxes, id_col: str):
    """Arrow kernel factory for the broadcast decided-id probe. Captures
    ONLY the (picklable) Broadcast handles, the shard upper bounds, and
    the column name — never the guard object (py4j refs don't pickle).

    ``bcs`` is a list of broadcasts of consecutive slices of the global
    sorted id array; ``shard_maxes[k]`` is shard k's last element, so
    ``searchsorted(shard_maxes, v)`` names the ONLY shard that can
    contain ``v`` (values past the global max map to index len(bcs) —
    a miss without touching any shard). One shard makes this exactly
    the round-9 single-broadcast probe. An entry may also
    be a plain sorted int64 ndarray instead of a Broadcast — bloom
    mode's per-batch confirmed set is bounded by the batch size, so it
    rides the task closure rather than a broadcast that would need a
    per-batch unpersist.

    Runs under ``mapInArrow``, NOT ``mapInPandas``: the Arrow→pandas
    bridge converts a bigint column containing any NULL to float64 for
    the whole chunk, silently corrupting ids with \\|id\\| > 2^53 — both
    in the probe AND in the passed-through rows on the way back out
    (hash-derived 64-bit ids are a documented input). Staying in Arrow
    keeps int64 exact end-to-end and skips two pandas conversions per
    batch. NULL ids are never dropped: an equality anti-join cannot
    match NULL, and the disk twin must agree row-for-row."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        shards = None
        for rb in batches:
            if rb.num_rows == 0:
                yield rb
                continue
            if shards is None:  # lazy: an empty task never fetches
                shards = [b.value if hasattr(b, "value") else b for b in bcs]
            col = rb.column(rb.schema.get_field_index(id_col))
            null_mask = pc.is_null(col).to_numpy(zero_copy_only=False)
            # fill_null keeps the int64 type (no float64 transit)
            vals = col.fill_null(0).to_numpy(zero_copy_only=False)
            si = np.searchsorted(shard_maxes, vals)
            hit = np.zeros(len(vals), dtype=bool)
            for k, arr in enumerate(shards):
                m = si == k
                if not m.any():
                    continue
                v = vals[m]
                pos = np.searchsorted(arr, v)
                pos_c = np.minimum(pos, len(arr) - 1)
                hit[m] = (pos < len(arr)) & (arr[pos_c] == v)
            # NULL ids never match an equality anti-join; mirror that
            hit &= ~null_mask
            yield rb.filter(pa.array(~hit))

    return fn


# Both broadcast structures — the exact sorted id array and the bloom
# bitset — ship as consecutive slices of at most this many 8-byte items,
# one broadcast each: 2^25 items = 256 MiB, far below the ~2 GB
# single-broadcast pickle ceiling. Below it (every measured workload)
# a structure ships as ONE broadcast; 1e9 exact ids become ~30 slices.
_BROADCAST_SLICE_ITEMS = 1 << 25


def _broadcast_slices(sc, arr) -> list:
    """Broadcast ``arr`` as consecutive ``_BROADCAST_SLICE_ITEMS``-item
    slices. The probe kernels dispatch into the slices without
    concatenating them, so no executor holds a second copy."""
    n = _BROADCAST_SLICE_ITEMS
    return [sc.broadcast(arr[i : i + n]) for i in range(0, len(arr), n)]


# -- bloom mode -------------------------------------------------------------
#
# At ~1e9 decided ids the exact sorted array is ~8 GB held on the driver
# and shipped (sliced) to every executor. The bloom guard holds and
# broadcasts only an m-bit bitset (_BLOOM_BITS_PER_ID bits per id →
# ~2.5 GB/1e9 ids at ~1e-4 fp), screens each batch with
# it, and EXACT-CONFIRMS the (rare) bloom-positive ids against a
# candidate-pruned disk read. No false negatives exist by construction,
# so bloom-negative rows are definitely-unseen and never touch disk;
# false positives cost one narrow confirm read and are then filtered by
# exact membership — output is identical to the disk twin, not
# probabilistic. The epoch BUILD still observes every decided id once
# (any mode must), but the driver folds ids into the bitset and
# discards them instead of holding the array.


# Bits per decided id. Capacity is sized with 2x headroom at build, so
# the steady-state rate sits at >=10 effective bits/id until the
# compaction-time resize triggers.
_BLOOM_BITS_PER_ID = 20
_BLOOM_K = 7  # optimal k for ~10 effective bits/id at full capacity


def _bloom_positions(vals, m_bits: int):
    """(k, n) uint64 bit positions for int64 ``vals`` via double
    hashing: two splitmix64 finalizers (bit-reinterpreted input, so
    negative ids hash fine), h2 forced odd so the k probes never
    collapse. Pure vectorized numpy; wraparound is the point."""
    import numpy as np

    def mix(z):
        z = (z + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    x = np.ascontiguousarray(vals).view(np.uint64)
    h1 = mix(x)
    h2 = mix(x ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
    m = np.uint64(m_bits)
    return np.stack(
        [(h1 + np.uint64(i) * h2) % m for i in range(_BLOOM_K)]
    )


def _bloom_set(bitset, vals, m_bits: int, chunk: int = 4_000_000) -> None:
    """Fold ``vals`` into ``bitset`` (uint64 words) in place — the
    buffered, chunked twin of ``_bloom_positions`` (same splitmix64
    double-hash recipe; membership equality is pinned end-to-end by the
    disk-twin tests and directly by a hash-twin unit test).

    Why this shape: the naive builds are dominated by ALLOCATING the
    (k, n) position temporaries, not by arithmetic — at 20M ids × k=7
    on a quiet host, plain vectorized ``bitwise_or.at`` over the full
    position stack measured 42 s and an argsort+``reduceat`` fold 82 s
    (the 1.1 GB temporaries fault in at page-zeroing speed each step,
    and the 140M-element sort pays n log n on top). Computing each
    probe's positions chunk-by-chunk into PREALLOCATED buffers removes
    the allocation cost entirely: 16 s total at 20M, linear in n, with
    peak extra memory one chunk (~32 MB) regardless of n. The
    remaining floor is the random scatter itself (~80 ns/element), so
    a 1e9-id epoch build lands at ~15 min — once per epoch, not per
    batch, and documented in SCALE.md next to the exact-array
    alternative for build-time-sensitive deployments."""
    import numpy as np

    n = len(vals)
    if n == 0:
        return
    c0 = min(chunk, n)
    h1 = np.empty(c0, dtype=np.uint64)
    h2 = np.empty(c0, dtype=np.uint64)
    p = np.empty(c0, dtype=np.uint64)
    t = np.empty(c0, dtype=np.uint64)
    w = np.empty(c0, dtype=np.int64)
    b = np.empty(c0, dtype=np.uint64)
    m = np.uint64(m_bits)

    def mix(x, out, tmp):
        np.add(x, np.uint64(0x9E3779B97F4A7C15), out=out)
        np.right_shift(out, np.uint64(30), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, np.uint64(0xBF58476D1CE4E5B9), out=out)
        np.right_shift(out, np.uint64(27), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, np.uint64(0x94D049BB133111EB), out=out)
        np.right_shift(out, np.uint64(31), out=tmp)
        np.bitwise_xor(out, tmp, out=out)

    for s in range(0, n, chunk):
        x = np.ascontiguousarray(vals[s : s + chunk]).view(np.uint64)
        c = len(x)
        mix(x, h1[:c], t[:c])
        np.bitwise_xor(x, np.uint64(0xA5A5A5A5A5A5A5A5), out=p[:c])
        mix(p[:c], h2[:c], t[:c])
        np.bitwise_or(h2[:c], np.uint64(1), out=h2[:c])
        for i in range(_BLOOM_K):
            np.multiply(h2[:c], np.uint64(i), out=p[:c])
            np.add(p[:c], h1[:c], out=p[:c])
            np.mod(p[:c], m, out=p[:c])
            np.right_shift(p[:c], np.uint64(6), out=t[:c])
            w[:c] = t[:c]
            np.bitwise_and(p[:c], np.uint64(63), out=t[:c])
            np.left_shift(np.uint64(1), t[:c], out=b[:c])
            np.bitwise_or.at(bitset, w[:c], b[:c])


def _bloom_hits_sharded(shards, wps: int, vals, m_bits: int):
    """Boolean mask: True where ALL k probe bits are set (bloom-positive
    — decided, OR a false positive the exact confirm will clear).
    ``shards`` are consecutive word-range slices of one logical bitset
    (``wps`` words each except the last); a global word index dispatches
    arithmetically — no executor-side concatenation, so the probe never
    holds a second copy of the bitset."""
    import numpy as np

    pos = _bloom_positions(vals, m_bits)
    hit = np.ones(pos.shape[1], dtype=bool)
    wps_u = np.int64(wps)
    for i in range(_BLOOM_K):
        p = pos[i]
        w = (p >> np.uint64(6)).astype(np.int64)
        bit = p & np.uint64(63)
        if len(shards) == 1:
            word = shards[0][w]
        else:
            s = w // wps_u
            off = w - s * wps_u
            word = np.empty(len(w), dtype=np.uint64)
            for j, shard in enumerate(shards):
                msk = s == j
                if msk.any():
                    word[msk] = shard[off[msk]]
        hit &= ((word >> bit) & np.uint64(1)).astype(bool)
    return hit


def _bloom_candidates(bcs, m_bits: int, id_col: str):
    """Arrow kernel factory: emit only the BLOOM-POSITIVE ids of each
    batch (one bigint column). NULL ids are never candidates — an
    equality anti-join cannot match NULL, so the disk twin passes them
    through and so must we. Every slice but the last is full, so the
    first slice's length is the words-per-slice dispatch stride."""

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        shards = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if shards is None:  # lazy: an empty task never fetches
                shards = [b.value for b in bcs]
            col = rb.column(rb.schema.get_field_index(id_col))
            null_mask = pc.is_null(col).to_numpy(zero_copy_only=False)
            vals = col.fill_null(0).to_numpy(zero_copy_only=False)
            hit = _bloom_hits_sharded(shards, len(shards[0]), vals, m_bits)
            hit &= ~null_mask
            if hit.any():
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vals[hit], type=pa.int64())], [id_col]
                )

    return fn


def _measure_probe_fixed_cost(spark: SparkSession) -> float:
    """The broadcast guard's per-batch FIXED cost on THIS host/session:
    wall time of a minimal mapInArrow job of the same shape (one
    python-worker stage plus job scheduling). Two runs, min taken — the
    first pays python-worker spawn, which a long-lived stream pays once,
    not per batch. This is auto mode's crossover calibration: the disk
    twin's per-batch cost GROWS with state while this stays flat, so
    the flip point is 'measured disk read > this', not a hardcoded id
    count."""
    import time as _time

    import numpy as np

    bc = spark.sparkContext.broadcast(np.array([0], dtype=np.int64))
    maxes = np.array([0], dtype=np.int64)
    df = spark.createDataFrame([(1,)], "x bigint")
    best = float("inf")
    try:
        for _ in range(2):
            t0 = _time.perf_counter()
            df.mapInArrow(_unseen_filter([bc], maxes, "x"), "x bigint").count()
            best = min(best, _time.perf_counter() - t0)
    finally:
        try:
            bc.unpersist()
        except Exception:
            pass
    return best


def _ids_to_numpy(df, id_col: str):
    """Collect a single BIGINT column to a sorted int64 numpy array via
    Arrow (one columnar transfer — this is the once-per-epoch read the
    guard amortizes; bounded by contract at one 8-byte column of the
    decided-id state)."""
    import numpy as np

    tbl = df.select(id_col).toArrow()
    if tbl.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    # drop_null BEFORE to_numpy: decided-id state never holds NULL by
    # construction, but if one ever landed, to_numpy on a null-bearing
    # int64 array goes through float64 and corrupts every |id| > 2^53
    # in the column; dropping keeps the typed path exact and matches
    # the anti-join semantics (NULL matches nothing, so it never
    # belongs in the guard set anyway).
    arr = tbl.column(0).combine_chunks().drop_null()
    raw = arr.to_numpy(zero_copy_only=False)
    # Arrow hands back a read-only view — copy before the in-place sort
    out = np.array(raw, dtype=np.int64, copy=True)
    out.sort()
    return out


class DecisionIdGuard:
    """Amortized cross-batch decided-id guard for the ingest maintainers.

    Round 8 fixed cross-batch re-delivery (one decision per id EVER)
    with a per-micro-batch anti-join against the decisions state read
    FROM DISK — an O(state) id-column scan every batch, honestly costed
    in SCALE.md (~8 GB/batch at 1e9 accepted docs) with this exact
    mitigation named: "read once per N batches into a broadcast-able
    filter". Implementation:

    - the decided-id set is read from disk ONCE per (process, session,
      state dir) epoch as a single Arrow column, sorted, and shipped to
      executors as ONE reusable ``sc.broadcast`` (re-broadcast only on
      rebuild/compaction — never per batch);
    - per batch, new ids are screened by an Arrow kernel doing a binary
      search against the broadcast array — O(batch x log state), no
      disk, no shuffle, no per-batch broadcast build (measured: the
      naive alternative, an anti-join against a pinned DataFrame,
      re-broadcasts or re-shuffles the O(state) side every batch and
      was SLOWER than the disk read it replaced);
    - each batch's decided ids are kept as a small pinned increment
      (exact anti-join — AQE broadcasts these tiny frames) and folded
      into the broadcast array every COMPACT_EVERY batches;
    - the recurring per-batch disk cost is one partition LISTING
      (metadata, O(#batches)) used to detect out-of-band changes.

    Correctness contract — identical output to the per-batch disk read,
    pinned by the generative dedup_ingest/semantic_ingest families
    running green on both paths (LIME_REDELIVERY_GUARD) plus the
    focused equivalence tests: ``filter_prior(df, b)`` removes exactly
    the ids holding a decision row in any ingest_batch partition != b
    (the sorted-array probe is exact membership — no false positives or
    negatives, unlike a bloom sidecar). Staleness is prevented by
    construction, not assumption:

    - every call lists the decisions dir's partitions and compares them
      with the cache's coverage; any mismatch (state dir wiped between
      runs, written by another process, a crash that landed partitions
      the cache never saw) triggers a full rebuild from disk;

    PRECONDITION — single writer per state dir: the coverage check
    compares the partition NAME set only, so it detects added/removed
    partitions but NOT an out-of-band writer that rewrites an existing
    ``ingest_batch=N`` partition in place with different ids — that
    leaves the guard serving stale decided ids until the next rebuild.
    This is the same single-writer contract the maintainers' dynamic
    partition overwrite already requires (two concurrent writers to one
    state dir corrupt the state with or without the guard — see
    SCALE.md); it is stated here because the guard turns the violation
    from "last write wins" into "stale reads until restart".
    - ``record`` is called only after ALL of a batch's state writes
      succeed — a crash in between leaves the increment unrecorded, the
      replay re-decides the batch, and the partition overwrites make
      that convergent (the pre-existing replay contract);
    - a new SparkSession (different applicationId) rebuilds, since the
      broadcast and pinned blocks die with their context.

    Scale posture: per-batch marginal work is O(batch x log state) CPU
    plus the increment joins — independent of how the state grows
    (SOAK_guard_scale.json). The epoch costs are the once-per-rebuild
    Arrow collect (8 GB driver transit at 1e9 ids — the documented
    ceiling of the driver-held array; beyond it, ``bloom`` swaps the
    probe for a bloom+exact-confirm two-phase, still O(batch) per
    batch) and the once-per-compaction merge.

    Executor-loss caveat (also in SCALE.md): the increments use
    localCheckpoint, whose blocks are not recomputable after executor
    loss — a dead executor fails the consuming micro-batch and recovery
    is the foreachBatch replay (partition overwrites converge; the
    guard rebuilds itself from disk on the next coverage mismatch or
    session restart). Broadcasts, by contrast, re-fetch from the driver
    transparently.

    Modes (see guard_mode):

    - ``auto`` (default) starts on the DISK phase — filter_prior builds
      the round-8 per-batch anti-join plan verbatim — and flips to the
      exact broadcast phase when the measured decisions read at the
      current size exceeds the measured fixed probe cost
      (_measure_probe_fixed_cost); the crossover is an on-host
      measurement, never a hardcoded id count, and the flip reuses the
      measuring read as the epoch read. Small fixed corpora therefore
      never pay the ~1 s/batch probe overhead the r9 verdict called a
      pessimization, and unbounded corpora flip exactly when disk
      starts losing. Past _BROADCAST_SLICE_ITEMS ids the epoch array
      ships as several broadcasts, probed via a slice-max searchsorted
      dispatch, so it never hits the single-broadcast ~2 GB pickle
      ceiling.
    - ``bloom``: the driver folds the epoch ids into an m-bit bloom
      bitset and DISCARDS the array (steady-state driver hold and
      executor broadcast drop from 8 bytes/id to _BLOOM_BITS_PER_ID/8;
      bitsets past _BROADCAST_SLICE_ITEMS words ship as several
      broadcasts too). Per batch: bloom-negative rows are
      definitely-unseen (a bloom has no false negatives) and never
      touch disk; bloom-positive ids — true re-deliveries plus an
      ~2^-k sliver of false positives — are exact-confirmed with ONE
      narrow decisions read semi-joined to the broadcast candidate
      set, then filtered by exact membership, so the output is
      row-identical to the disk twin. The confirm read only runs on
      batches that HAVE candidates; at the default sizing most batches
      of fresh ids skip disk entirely. Compaction folds increments
      into the bitset in place (blooms only set bits); crossing the
      build-time capacity marks a deferred resize, and the next
      filter_prior rebuilds from disk at the new size — correctness
      never depends on the fp rate, only the confirm frequency does.
      What this mode does NOT change: the epoch build still observes
      every decided id once (any rebuild must), and record() keeps the
      same exact pinned increments between compactions.
    """

    COMPACT_EVERY = 32
    # auto mode: re-measure the disk read every N batches while on the
    # disk path (the measurement IS the potential epoch read — on a
    # flip it is reused, on a stay it costs one extra read per N)
    CHECK_EVERY = 8

    def __init__(self, path: str, id_col: str, mode: str | None = None):
        self.path = path
        self.id_col = id_col
        self.mode = guard_mode() if mode is None else _checked_mode(mode)
        # disk/auto start on the per-batch disk anti-join; bloom goes
        # straight to the bitset screen
        self.phase = "bc" if self.mode == "bloom" else "disk"
        self._lock = threading.RLock()
        self._app_id: str | None = None
        self._base_ids = None  # sorted int64 numpy array (driver copy)
        self._bcs: list = []  # broadcasts of consecutive slices of it
        self._shard_maxes = None  # int64 array of each slice's last id
        # bloom mode: driver bitset copy + sizing (the exact array is
        # folded in at build and DISCARDED — that is the point)
        self._bloom = None  # uint64 word array
        self._bloom_m = 0  # m_bits
        self._bloom_n = 0  # ids folded in so far
        self._bloom_cap = 0  # resize threshold (2x headroom at build)
        self._bloom_resize = False  # compaction crossed capacity
        self._base_parts: set[int] = set()
        self._incs: dict[int, _Pin] = {}  # batch_id -> (id_col) frame
        self._batches = 0  # auto: filter_prior calls while on disk
        self._checked_at = 0
        self._fixed_cost: float | None = None

    # -- plumbing ------------------------------------------------------

    def _disk_parts(self, spark: SparkSession) -> set[int]:
        from lime_etl_spark.io.fsutil import HadoopFS

        fs = HadoopFS(spark, self.path)
        if not fs.exists(self.path):
            return set()
        parts: set[int] = set()
        for st in fs.fs.listStatus(fs._path_cls(self.path)):
            name = str(st.getPath().getName())
            if name.startswith("ingest_batch="):
                try:
                    parts.add(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        return parts

    def _destroy_bc(self) -> None:
        for bc in self._bcs:
            try:
                # unpersist, NOT destroy: a still-lazy filter_prior plan
                # built against the superseded broadcast may legally run
                # after a compaction/rebuild publishes its replacement.
                # unpersist drops the executor copies but keeps the
                # driver value re-fetchable, so the straggler plan
                # succeeds; destroy() would fail it with a
                # destroyed-broadcast error. The driver copy is
                # reclaimed by the ContextCleaner once the last plan
                # reference dies.
                bc.unpersist()
            except Exception:
                pass  # context already stopped: it died with the JVM
        self._bcs = []
        self._shard_maxes = None
        self._base_ids = None
        self._bloom = None
        self._bloom_m = 0
        self._bloom_n = 0
        self._bloom_cap = 0

    def _release_all(self) -> None:
        self._destroy_bc()
        for pin in self._incs.values():
            pin.release()
        self._base_parts = set()
        self._incs = {}

    def _publish(self, spark: SparkSession, ids) -> None:
        import numpy as np

        self._destroy_bc()
        sc = spark.sparkContext
        if self.mode == "bloom":
            # fold the ids into a fresh bitset and DISCARD them: the
            # driver holds m/8 bytes, not 8 bytes/id. Sized with 2x
            # headroom so the steady rate stays >= bits_per_id/2 until
            # the compaction-time resize check triggers a rebuild.
            n = max(int(len(ids)), 1)
            self._bloom_cap = 2 * n
            self._bloom_m = max(1 << 20, self._bloom_cap * _BLOOM_BITS_PER_ID)
            self._bloom = np.zeros((self._bloom_m + 63) // 64, dtype=np.uint64)
            _bloom_set(self._bloom, ids, self._bloom_m)
            self._bloom_n = int(len(ids))
            self._bloom_resize = False
            if self._bloom_n:
                self._bcs = _broadcast_slices(sc, self._bloom)
            return
        self._base_ids = ids
        if len(ids) == 0:
            return
        self._bcs = _broadcast_slices(sc, ids)
        # each slice's last id: the probe's slice-dispatch table
        ends = np.arange(1, len(self._bcs) + 1) * _BROADCAST_SLICE_ITEMS
        self._shard_maxes = ids[np.minimum(ends, len(ids)) - 1]

    def _rebuild(self, spark: SparkSession, disk_parts: set[int], batch_id: int) -> None:
        import numpy as np

        self._release_all()
        parts = disk_parts - {batch_id}
        if parts:
            df = (
                spark.read.schema(f"{self.id_col} bigint, ingest_batch bigint")
                .parquet(self.path)
                .filter(F.col("ingest_batch") != F.lit(batch_id))
            )
            ids = _ids_to_numpy(df, self.id_col)
        else:
            ids = np.empty(0, dtype=np.int64)
        self._publish(spark, ids)
        self._base_parts = set(parts)
        self._app_id = spark.sparkContext.applicationId

    def _validate(self, spark: SparkSession, batch_id: int) -> None:
        disk = self._disk_parts(spark)
        covered = self._base_parts | set(self._incs)
        if (
            spark.sparkContext.applicationId != self._app_id
            or (disk - {batch_id}) != (covered - {batch_id})
            or self._bloom_resize
        ):
            self._rebuild(spark, disk, batch_id)

    # -- the three calls the maintainers and tests make ------------------

    def _disk_prior_ids(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """The round-8 per-batch plan, verbatim: a schema'd (pruned)
        read of the decisions dir minus the current batch's partition."""
        return (
            read_state_or_empty(
                spark, self.path, f"{self.id_col} bigint, ingest_batch bigint"
            )
            .filter(F.col("ingest_batch") != F.lit(batch_id))
            .select(self.id_col)
        )

    def _maybe_flip(self, spark: SparkSession, batch_id: int) -> None:
        """auto mode, disk phase: every CHECK_EVERY batches (and on the
        epoch's first batch, so a restart over a large existing state
        flips immediately) measure the actual decisions read at the
        CURRENT size against the measured fixed probe cost. On a flip
        the measurement IS the epoch read — published, not wasted."""
        import time as _time

        self._batches += 1
        # _checked_at == 0 until a measurement actually ran, so the
        # first REAL check happens on the first batch that sees any
        # existing state (not consumed by the empty-dir first batch)
        if self._checked_at and self._batches - self._checked_at < self.CHECK_EVERY:
            return
        disk_parts = self._disk_parts(spark)
        parts = disk_parts - {batch_id}
        if not parts:
            return  # nothing decided yet — nothing to measure or flip for
        self._checked_at = self._batches
        if self._fixed_cost is None:
            self._fixed_cost = _measure_probe_fixed_cost(spark)
        t0 = _time.perf_counter()
        ids = _ids_to_numpy(self._disk_prior_ids(spark, batch_id), self.id_col)
        t_read = _time.perf_counter() - t0
        if t_read > self._fixed_cost:
            self._release_all()
            self._publish(spark, ids)
            self._base_parts = set(parts)
            self._app_id = spark.sparkContext.applicationId
            self.phase = "bc"

    def filter_prior(self, df: DataFrame, batch_id: int) -> DataFrame:
        """``df`` minus every id decided in a batch other than
        ``batch_id``. Disk phase (mode=disk, or auto before its
        measured crossover): the round-8 per-batch anti-join against
        the decisions read. Broadcast phase: the amortized sorted-array
        probe plus tiny increment anti-joins."""
        spark = df.sparkSession
        with self._lock:
            if self.phase == "disk":
                if self.mode == "auto":
                    self._maybe_flip(spark, batch_id)
                if self.phase == "disk":
                    return df.join(
                        self._disk_prior_ids(spark, batch_id),
                        self.id_col,
                        "left_anti",
                    )
            self._validate(spark, batch_id)
            out = df
            if self.mode == "bloom" and self._bloom_n > 0:
                out = self._bloom_filter_prior(df, batch_id)
            elif self._base_ids is not None and len(self._base_ids):
                out = out.mapInArrow(
                    _unseen_filter(self._bcs, self._shard_maxes, self.id_col),
                    df.schema,
                )
            for bid, pin in self._incs.items():
                if bid != batch_id:
                    out = out.join(pin.df, self.id_col, "left_anti")
            return out

    def _bloom_filter_prior(self, df: DataFrame, batch_id: int) -> DataFrame:
        """Bloom phase 1+2: extract the batch's bloom-positive ids (one
        eager O(batch) job — definitely-unseen rows never touch disk),
        and when any exist, exact-confirm them with a narrow disk read
        semi-joined to the broadcast candidate set. The confirmed set —
        bounded by the batch size — then drives the SAME sorted-array
        probe kernel the exact phase uses, as a plain closure array.
        Output is row-identical to the disk twin: a bloom false
        positive that is NOT in the decisions state fails the confirm
        and passes through."""
        import numpy as np

        from lime_etl_spark.plans import auto_broadcast

        spark = df.sparkSession
        cand_tbl = (
            df.select(self.id_col)
            .mapInArrow(
                _bloom_candidates(self._bcs, self._bloom_m, self.id_col),
                f"{self.id_col} bigint",
            )
            .toArrow()
        )
        if cand_tbl.num_rows == 0:
            return df
        cand = np.unique(
            cand_tbl.column(0).combine_chunks().to_numpy(zero_copy_only=False)
        )
        cand_df = spark.createDataFrame(
            [(int(v),) for v in cand], f"{self.id_col} bigint"
        )
        confirmed = _ids_to_numpy(
            self._disk_prior_ids(spark, batch_id).join(
                # bounded by contract: candidates <= batch size
                auto_broadcast(cand_df, bounded=True),
                self.id_col,
                "left_semi",
            ),
            self.id_col,
        )
        if len(confirmed) == 0:
            return df
        maxes = np.array([confirmed[-1]], dtype=np.int64)
        return df.mapInArrow(
            _unseen_filter([confirmed], maxes, self.id_col), df.schema
        )

    def record(self, spark: SparkSession, batch_id: int, ids: DataFrame) -> None:
        """Extend the guard with ``batch_id``'s decided ids. Call ONLY
        after every state write of the batch has succeeded (see class
        docstring for why recording earlier breaks crash convergence)."""
        with self._lock:
            if self.phase == "disk":
                return  # every batch re-reads disk; nothing to extend
            if spark.sparkContext.applicationId != self._app_id:
                return  # next filter_prior rebuilds from disk anyway
            pin = _Pin(ids.select(self.id_col))
            if pin.df.isEmpty():
                # an all-re-delivery or empty batch writes NO decisions
                # partition; recording it would desync the coverage
                # check against the disk listing
                pin.release()
                return
            old = self._incs.pop(batch_id, None)
            if old is not None:
                old.release()
            self._incs[batch_id] = pin
            if len(self._incs) >= self.COMPACT_EVERY:
                self._compact(spark)

    def _compact(self, spark: SparkSession) -> None:
        """Fold the per-batch increments into the broadcast structure —
        the once-per-N-batches pass that amortizes the epoch read away
        entirely (it collects only the increments, not the dir).

        Bloom mode folds the increment ids into the EXISTING bitset (a
        bloom only ever sets more bits, so no rebuild is needed) and
        re-broadcasts it; if the folded count crosses the capacity the
        bitset was sized for, the guard marks itself for a resize —
        the bloom stays CORRECT past capacity (the exact confirm never
        lets a false positive drop a row; only the fp rate, i.e. the
        confirm-read frequency, degrades), so the resize is deferred to
        the next filter_prior, which rebuilds from disk at the new
        size."""
        import numpy as np

        if self.mode == "bloom":
            folded = 0
            for pin in self._incs.values():
                inc = _ids_to_numpy(pin.df, self.id_col)
                _bloom_set(self._bloom, inc, self._bloom_m)
                folded += int(len(inc))
            self._bloom_n += folded
            folded_parts = set(self._incs)
            for pin in self._incs.values():
                pin.release()
            self._incs = {}
            for bc in self._bcs:
                try:
                    bc.unpersist()  # superseded bitset (see _destroy_bc)
                except Exception:
                    pass
            self._bcs = (
                _broadcast_slices(spark.sparkContext, self._bloom)
                if self._bloom_n
                else []
            )
            self._base_parts |= folded_parts
            if self._bloom_n > self._bloom_cap:
                # deferred: next filter_prior rebuilds at the new size
                self._bloom_resize = True
            return
        chunks = [self._base_ids] if self._base_ids is not None else []
        for pin in self._incs.values():
            chunks.append(_ids_to_numpy(pin.df, self.id_col))
        merged = (
            np.unique(np.concatenate(chunks))
            if chunks
            else np.empty(0, dtype=np.int64)
        )
        folded_parts = set(self._incs)
        for pin in self._incs.values():
            pin.release()
        self._incs = {}
        self._publish(spark, merged)
        self._base_parts |= folded_parts


_GUARDS: dict = {}
_GUARDS_LOCK = threading.Lock()
_MAX_GUARDS = 16


def decision_guard(path: str, id_col: str) -> DecisionIdGuard:
    """Process-wide guard registry keyed on the decisions dir. Bounded:
    test suites create hundreds of throwaway state dirs, so the oldest
    entries are dropped (their blocks fall back to GC cleanup — NOT
    released eagerly, since an evicted-but-still-running guard must not
    have its blocks yanked mid-batch)."""
    with _GUARDS_LOCK:
        g = _GUARDS.pop((path, id_col), None)
        if g is None:
            g = DecisionIdGuard(path, id_col)
        _GUARDS[(path, id_col)] = g  # re-insert: dict order == LRU order
        while len(_GUARDS) > _MAX_GUARDS:
            _GUARDS.pop(next(iter(_GUARDS)))
        return g


def commit_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    guard: DecisionIdGuard,
    decisions: DataFrame,
    appends: list,
) -> None:
    """Commit one ingest-gate micro-batch: write ``decisions`` (one row
    per guarded batch id, with a boolean ``is_dup``) to ``guard.path``,
    append the batch's survivors to each state table, then extend the
    re-delivery guard.

    ``appends`` is a list of ``(subdir, key, rows, state, sort_col)``,
    written in order: ``rows`` are the batch's candidate state rows keyed
    on ``key``, ``state`` is the frame the caller already read from
    ``state_dir/subdir`` this batch, and ``sort_col`` (or None) orders
    rows within each write task. Each append writes
    ``rows ⋉ survivors ▷ state`` under the batch's partition.

    Every write is a dynamic partition overwrite keyed on ``batch_id``
    (io/sinks.idempotent_reload), so a replayed batch rewrites its own
    partitions. Why each step has the shape it has:

    - Each frame is pinned (eager localCheckpoint) BEFORE its write: the
      decisions plan may read the decisions dir (the guard's disk phase)
      and each append reads its own target dir (the anti-join below),
      while the write replaces partitions of that same dir. A lazy plan
      lists/reads the dir during the overwrite commit and dies
      FAILED_READ_FILE on a part file the commit just swapped.
    - Survivors come from a schema'd read of the just-written decisions
      partition, not schema inference: an EMPTY micro-batch writes a
      partition holding only ``_SUCCESS``, and inference over the dir
      then fails with UNABLE_TO_INFER_SCHEMA. (Taking them from the
      decisions pin instead measured 3 more Spark jobs per batch.)
    - The anti-join against the existing state makes a REPLAYED append
      empty — its rows are already stored under this batch's partition —
      so the overwrite touches no partitions and the first attempt's
      state stands; it also keeps a re-delivered id from being stored
      twice. Its right side takes no ``distinct()``: existence checks
      tolerate duplicates, and a distinct over corpus-scale state would
      add a full shuffle per micro-batch.
    - ``guard.record`` runs only after every write succeeded: a crash in
      between leaves the increment unrecorded, so the replay re-decides
      the batch and completes the missing writes instead of the guard
      hiding the ids (crash convergence). It is a no-op on the disk
      phase, so the call is mode-agnostic.
    """
    pins = []
    try:
        decisions_pin = _Pin(decisions.withColumn("ingest_batch", F.lit(batch_id)))
        pins.append(decisions_pin)
        sinks.idempotent_reload(decisions_pin.df, guard.path, "ingest_batch")
        schema = f"{guard.id_col} bigint, is_dup boolean, ingest_batch bigint"
        survivors = (
            read_state_or_empty(spark, guard.path, schema)
            .filter((F.col("ingest_batch") == batch_id) & ~F.col("is_dup"))
            .select(guard.id_col)
        )
        for subdir, key, rows, state, sort_col in appends:
            append = (
                rows.join(
                    survivors.withColumnRenamed(guard.id_col, key), key, "left_semi"
                )
                .join(state.select(key), key, "left_anti")
                .withColumn("ingest_batch", F.lit(batch_id))
            )
            if sort_col is not None:
                append = append.sortWithinPartitions(sort_col)
            pins.append(_Pin(append))
            sinks.idempotent_reload(
                pins[-1].df, os.path.join(state_dir, subdir), "ingest_batch"
            )
        guard.record(spark, batch_id, decisions_pin.df.select(guard.id_col))
    finally:
        for p in pins:
            p.release()
