"""Incremental corpus dedup on ingest (streaming LSH).

Batch dedup (ops/dedup.py) answers "which docs in THIS corpus are
near-duplicates of each other"; an ingest pipeline needs the online
form: documents arrive continuously, and each new document must be
checked against everything already accepted — without re-scanning the
corpus. The reference has no analogue (its pipelines are full-reload
cron scripts); this is the operator that makes the dedup family usable
at a 100 TB corpus that grows daily.

Design (foreachBatch over a document stream):

1. The accumulated STATE is the MinHash band index of accepted docs —
   (id, band, bkey), 4 rows of ~40 bytes per doc (ops/dedup.py
   minhash_bands): orders of magnitude smaller than the corpus. A doc
   store (id, text) is kept alongside for exact-Jaccard verification;
   in production that is the corpus table itself, not a copy.
2. Per micro-batch: band the new docs, join against the state index on
   (band, bkey) for new-vs-accepted candidates, self-join the batch
   bands for new-vs-new candidates, then verify candidates with exact
   Jaccard driven off the candidate list (the quadratic self-join
   never runs — same contract as minhash_near_dups).
3. Duplicate rule (deterministic): a new doc is a duplicate iff it
   verifies against any accepted doc, or against a batch-mate with a
   smaller id. ``dup_of`` is the smallest matched id, ``best_jaccard``
   the highest verified score. Survivors — docs that matched nothing
   earlier — are appended to the state (bands + doc store).
4. Exactly-once: the batch commits through streaming/state.commit_batch
   (its docstring holds the write order and why), so a replayed batch
   rewrites its own partitions instead of double-appending. Arrival
   order (the priority between batches, rule 3) includes the batch
   decomposition, which is NOT crash-stable: a driver killed between
   the file-source's per-batch log write and the offsets-WAL write
   makes the restarted stream merge the orphaned file set with the
   next batch (Spark file source semantics) — decisions under the
   merged arrival order are valid; exactly-once/no-loss hold
   regardless (pinned by tests/test_streaming_restart.py's
   decomposition-aware equivalence).

Scale posture: all joins are keyed ((band, bkey), ids) — no cartesian
anywhere; the state index join shuffles the BATCH (small) against the
index (pre-partitionable by bkey on a real deployment); verification
touches only candidate docs. State growth is linear in accepted docs
and independent of duplicate volume. The cross-batch re-delivery guard
is amortized (streaming/state.DecisionIdGuard): the decided-id set is
read from disk once per process/session and extended in memory, so the
recurring per-batch disk cost is one partition listing, not an
O(state) scan (LIME_REDELIVERY_GUARD=disk restores the per-batch read
for differential testing).

Executor-loss caveat: the per-batch pins and the guard use
localCheckpoint, whose blocks are NOT recomputable after executor loss
— on a cluster with preemption/dynamic allocation a mid-batch executor
death fails the micro-batch instead of recomputing, and recovery is
the foreachBatch REPLAY (partition overwrites converge; the guard
rebuilds itself from disk). That trade is deliberate: a recomputable
cache() plan stays registered with the CacheManager and re-executes
its state-dir scan concurrently with this batch's own overwrite commit
(the round-8 FAILED_READ_FILE race).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lime_etl_spark.streaming.state import _Pin, commit_batch, decision_guard
from lime_etl_spark.streaming.state import read_state_or_empty as _read_or_empty
from lime_etl_spark.ops import dedup

BANDS_SUBDIR = "bands"
DOCS_SUBDIR = "docs"
DECISIONS_SUBDIR = "decisions"

_BANDS_SCHEMA = "id bigint, band int, bkey string, ingest_batch bigint"
_DOCS_SCHEMA = "doc_id bigint, text string, ingest_batch bigint"
_DECISIONS_SCHEMA = (
    "doc_id bigint, is_dup boolean, dup_of bigint, best_jaccard double, "
    "ingest_batch bigint"
)


def process_batch(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter=None,
) -> None:
    """One micro-batch of incremental dedup — see module docstring.

    Pure function of (batch, accumulated state); safe to replay: all
    three writes are partition overwrites keyed on ``batch_id``.

    ``prefilter``: optional ``DataFrame -> DataFrame`` applied to the
    batch BEFORE dedup — the quality gate runs first so junk documents
    never reach the band index or the doc store (e.g.
    ``lambda d: d.join(text.filter_decisions(d).filter("keep")
    .select("doc_id"), "doc_id", "left_semi")``). Must be
    deterministic, or batch replays diverge.
    """
    spark = batch.sparkSession
    if prefilter is not None:
        batch = prefilter(batch)
    # pinned (eager localCheckpoint) for the duration of the batch: the
    # three write actions below (decisions, bands, docs) would otherwise
    # each re-run the prefilter and the MinHash banding (tokenize +
    # shingle + 16 permutations, the ~ms/row dominant stage) — ~3 full
    # recomputes per micro-batch; blocks are released DETERMINISTICALLY
    # in the finally via the pin handle (DataFrame.unpersist is a no-op
    # on checkpointed frames — round-8 advisor finding)
    #
    # INTRA-batch duplicate ids are collapsed first (deterministic
    # winner: lexicographically smallest md5 of the text, so replays
    # agree) — an at-least-once source can deliver the same doc_id
    # twice in one micro-batch, and the anti-join below only guards
    # batch-vs-STATE collisions: unguarded, the duplicated (id,
    # shingle) index rows double n_common (Jaccard > 1 possible), and
    # the doc lands in the docs/bands state twice, poisoning every
    # future batch's denominators. The batch pipeline refuses dup ids
    # at stage 0; this is the streaming equivalent.
    new_docs = (
        batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .groupBy("doc_id")
        .agg(
            F.min_by("text", F.md5(F.coalesce(F.col("text"), F.lit("")))).alias(
                "text"
            )
        )
    )
    # one decision per doc_id EVER: a doc_id re-delivered in a LATER
    # batch (cross-batch at-least-once delivery) must not get a second
    # decision row — and, worse, a re-delivered SURVIVOR would re-verify
    # against nothing (its own state twin is excluded below), be
    # re-accepted, and land in the bands/docs state TWICE, poisoning
    # every future batch's Jaccard denominators via duplicated index
    # rows. Same guard streaming/semantic.py gained from the round-7
    # review; found here by the round-8 generative dedup_ingest family.
    # The current batch's own partition is excluded, so a REPLAYED batch
    # re-decides identically (partition overwrite converges).
    # every mode routes through DecisionIdGuard (round-10): disk — and
    # auto before its measured crossover — reproduces the round-8
    # per-batch read INSIDE the guard (state._disk_prior_ids builds the
    # identical plan); auto past its crossover uses the amortized exact
    # broadcast probe + tiny increment joins, and bloom the bitset
    # screen + exact confirm.
    guard = decision_guard(os.path.join(state_dir, DECISIONS_SUBDIR), "doc_id")
    guarded = guard.filter_prior(new_docs, batch_id)
    # eager localCheckpoint, NOT cache(): in disk mode this frame embeds
    # a scan of the decisions dir that this very batch then OVERWRITES —
    # a cached plan stays registered with the CacheManager, and the
    # write's recacheByPath re-executes it concurrently with the
    # commit's file moves (FAILED_READ_FILE / partition-schema assertion
    # on the part files being swapped; found by the empty-batch test the
    # moment the prior-ids guard landed). The checkpoint snapshots the
    # batch-sized rows once, severing the decisions scan from every
    # later plan. (In the broadcast phase the pin buys the
    # one-materialization-for-three-writes and runs the guard's Arrow
    # probe exactly once.)
    new_docs_pin = _Pin(guarded)
    new_docs = new_docs_pin.df
    new_bands = dedup.minhash_bands(new_docs).cache()
    try:
        state_bands = _read_or_empty(
            spark, os.path.join(state_dir, BANDS_SUBDIR), _BANDS_SCHEMA
        ).drop("ingest_batch")
        state_docs = _read_or_empty(
            spark, os.path.join(state_dir, DOCS_SUBDIR), _DOCS_SCHEMA
        ).drop("ingest_batch")

        # candidates: new-vs-accepted (state id first) + new-vs-new
        # (smaller id first) — the "earlier identity" each new doc must
        # beat. s.id != n.id: on a batch REPLAY the replayed docs are
        # already in the state — they must not pair with themselves (a
        # self-pair also poisons the Jaccard denominator via duplicated
        # index rows)
        vs_state = (
            new_bands.alias("n")
            .join(
                state_bands.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.bkey") == F.col("s.bkey"))
                & (F.col("s.id") != F.col("n.id")),
            )
            .select(F.col("s.id").alias("id_a"), F.col("n.id").alias("id_b"))
        )
        a, b = new_bands.alias("a"), new_bands.alias("b")
        vs_batch = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        cands = vs_state.union(vs_batch).distinct()

        # batch version wins on id collision (replay): a doc must appear
        # in the verification corpus exactly once or set sizes
        # double-count
        corpus = new_docs.union(
            state_docs.join(new_docs.select("doc_id"), "doc_id", "left_anti")
        )
        verified = dedup.ngram_jaccard_pairs(
            corpus, threshold=threshold, pairs=cands
        ).select("id_a", "id_b", "jaccard")
        matches = verified.groupBy(F.col("id_b").alias("doc_id")).agg(
            F.min("id_a").alias("dup_of"),
            F.max("jaccard").alias("best_jaccard"),
        )
        decisions = (
            new_docs.select("doc_id")
            .join(matches, "doc_id", "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
                "best_jaccard",
            )
        )
        commit_batch(
            spark, state_dir, batch_id, guard, decisions,
            [
                (BANDS_SUBDIR, "id", new_bands, state_bands, None),
                (DOCS_SUBDIR, "doc_id", new_docs, state_docs, None),
            ],
        )
    finally:
        new_bands.unpersist()
        new_docs_pin.release()


def dedup_on_ingest(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    available_now: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter=None,
) -> StreamingQuery:
    """Attach incremental dedup to a document stream.

    ``availableNow`` drains pending input and stops (the test/backfill
    mode); pass False for a continuously running ingest gate. Decisions
    land under ``state_dir``/decisions partitioned by micro-batch.
    ``prefilter`` runs the quality gate before dedup (see
    process_batch).
    """
    writer = docs_stream.writeStream.foreachBatch(
        lambda df, bid: process_batch(
            df,
            bid,
            state_dir,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            prefilter=prefilter,
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest_batchlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """registry.streaming_incremental_dedup body: drain the documents
    fixture through the ingest gate in one availableNow pass (fresh
    state per call) and return the decisions. With a single batch and
    empty prior state, the duplicate rule reduces to "matches a
    verified pair with a smaller id" — which is exactly SQL-expressible,
    so this streaming operator gets a full value oracle instead of a
    rows-only check."""
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, "documents.parquet")
    from lime_etl_spark.ops.util import cleanup_dir_at_exit

    work = tempfile.mkdtemp(prefix=f"lime_ingest_{uuid.uuid4().hex[:8]}_")
    cleanup_dir_at_exit(work)
    if os.path.isdir(src):
        # generated rehearsal SFs write the table AS a directory of part
        # files — exactly what the file stream source wants
        src_dir = src
    else:
        src_dir = os.path.join(work, "src")
        os.makedirs(src_dir)
        shutil.copyfile(src, os.path.join(src_dir, "documents.parquet"))
    state = os.path.join(work, "state")
    ck = os.path.join(work, "ck")
    stream = spark.readStream.schema("doc_id bigint, text string, lang string, source string, n_chars bigint").parquet(src_dir)
    q = dedup_on_ingest(stream, state, ck, threshold=0.5)
    q.awaitTermination()
    return (
        _read_or_empty(spark, os.path.join(state, DECISIONS_SUBDIR), _DECISIONS_SCHEMA)
        .select("doc_id", "is_dup", "dup_of", "best_jaccard")
    )
