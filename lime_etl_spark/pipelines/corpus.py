"""End-to-end training-corpus preparation — the engine's capstone
pipeline, composing the operator families into the artifact a trainer
consumes:

1. filter verdicts (quality + lang + exact-dup, ops/text.py
   filter_decisions) — drop low-quality/duplicate/foreign docs;
2. near-duplicate removal (LSH candidates → candidate-driven Jaccard →
   connected components, ops/dedup.py) — keep each group's canonical;
3. span-level dedup (C4 rule, ops/text.py span_dedup) — strip
   cross-document boilerplate from the survivors;
4. redaction (ops/text.py redact) — scrub PII-shaped spans;
5. deterministic train/eval split (ops/sampling.py with_split);
6. sequence packing of the train split (pack_sequences +
   pack_materialize) into token-budget training rows;
7. clustered parquet writes (io/sinks.write_parquet_clustered) so
   downstream scans prune.

Every stage is the documented scale path of its operator; the whole
pipeline is shuffle-linear in corpus size (the worst exchange is the
span window). Stage counts are returned for auditability — a corpus
prep run that cannot say how many docs each gate dropped is not
reproducible.

One stage chain, called two ways. Each expensive stage (``filtered``,
``survivors``, optionally ``semantic``, ``clean``) runs ONCE and is
MATERIALIZED under ``out_dir``/_stages/<name> with a write-then-publish
manifest, so later actions read parquet instead of recomputing it:

- ``prepare_training_corpus_resumable``: a re-run loads completed
  stages instead of recomputing them. At 100 TB a multi-hour prep job
  dying at stage 4 must not re-pay stages 1-3 (driver OOM, preemption,
  quota kill — the same steady-state failures FAULT_CHECK.json
  rehearses at task level, one level up). Determinism of every stage
  (hash splits, fixed salts, canonical-min survivors) is what makes
  resume EXACT: a resumed run and an uninterrupted run produce
  identical artifacts (pinned in tests/test_pipelines.py).
- ``prepare_training_corpus``: the same chain with nothing to resume —
  it clears ``_stages`` before and after the run, so it never trusts
  stage output from an earlier run (its contract does not assume the
  input is immutable) and leaves only ``train`` and ``eval`` behind.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_etl_spark.io.fsutil import HadoopFS
from lime_etl_spark.io.sinks import write_parquet_clustered
from lime_etl_spark.io.sources import read_table
from lime_etl_spark.ops import dedup, quality, sampling, text
from lime_etl_spark.ops.text import token_count


def _stage_filtered(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, int]":
    """Stages 0+1: the input contract, then filter verdicts — keep only
    'keep'. doc_id is the dedup/split/pack identity — a NULL or
    duplicated id silently corrupts every downstream stage, so the
    pipeline refuses such input instead of processing it.
    with_row_count folds the audit total into the same scan."""
    docs = read_table(spark, sf_dir, "documents")
    n_total = quality.gate(
        docs,
        [quality.not_null("doc_id"), quality.unique("doc_id")],
        with_row_count=True,
    )
    verdicts = text.filter_decisions(docs)
    kept = docs.join(
        verdicts.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    return kept, n_total


def _stage_survivors(kept: DataFrame, jaccard_threshold: float) -> DataFrame:
    """Stage 2: near-dup groups on the filtered corpus; the canonical
    (min-id) document of each group survives."""
    pairs = dedup.minhash_near_dups(kept, threshold=jaccard_threshold)
    comp = dedup.connected_components(pairs)
    dropped = comp.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
    return kept.join(dropped, "doc_id", "left_anti")


def _stage_semantic(
    spark: SparkSession,
    sf_dir: str,
    survivors: DataFrame,
    threshold: float,
    dim: int,
) -> "tuple[DataFrame, DataFrame]":
    """Optional stage 2.5: semantic dedup (SemDeDup) over the
    ``embeddings`` rows of the text-dedup survivors — surface-form
    dedup (stage 2) cannot see a paraphrased duplicate; this stage
    drops documents whose MEANING duplicates a higher-priority
    survivor in the same k-means cell. Cells auto-size from the
    surviving corpus (recommended_n_clusters), so in-cell pair work
    stays ~n·budget. Documents without an embedding row are KEPT —
    no evidence is never grounds to drop.

    Returns ``(result, cand)`` where ``cand`` is the CACHED
    survivors⋈embeddings frame: k-means training makes ~7 eager passes
    over it (cell-sizing count, init collect, one assignment+means pass
    per Lloyd iteration) which would otherwise each re-run the
    embeddings scan and the join. The caller unpersists it once the
    stage output has been materialized.

    The cached pass doubles as this stage's input contract: a
    duplicated vec_id pair has cosine 1.0, so the lower-priority copy
    of a UNIQUE document would land in the drop set and the anti-join
    below would silently delete that document — the stage-0 discipline
    (refuse identity-corrupting input) applies to this stage's identity
    column too, checked on the joined frame so only duplicates that can
    actually corrupt the output are scanned for. A NULL vec_id cannot
    reach ``cand`` (the semi-join drops null keys), so uniqueness is
    the one rule needed; its scan also returns the count that sizes
    the k-means cells (same recommended_n_clusters rule the operator's
    auto-sizing applies)."""
    from lime_etl_spark.ops import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    cand = emb.join(
        survivors.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).cache()
    try:
        n = quality.gate(cand, [quality.unique("vec_id")], with_row_count=True)
        kept_ids = similarity.semantic_dedup_arrow(
            cand,
            dim=dim,
            threshold=threshold,
            n_clusters=similarity.recommended_n_clusters(max(1, n)),
        )
    except Exception:
        cand.unpersist()
        raise
    dropped = cand.select("vec_id").join(
        kept_ids.select("vec_id"), "vec_id", "left_anti"
    )
    result = survivors.join(
        dropped.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti"
    )
    return result, cand


def _stage_clean(survivors: DataFrame) -> DataFrame:
    """Stages 3+4: span-level boilerplate removal, then redaction."""
    spans = text.span_dedup(survivors)
    return text.redact(
        spans.select("doc_id", F.col("text_deduped").alias("text")),
        out="text",
    ).select("doc_id", "text")


def _finalize(
    spark: SparkSession,
    clean: DataFrame,
    out_dir: str,
    budget: int,
    train_pct: int,
    salt: str,
) -> dict[str, int]:
    """Stages 5-7: split, pack, clustered writes; returns final counts."""
    split = sampling.with_split(clean, "doc_id", train_pct=train_pct, salt=salt)
    train = split.filter(F.col("split") == "train").drop("split")
    evald = split.filter(F.col("split") == "eval").drop("split")

    sized = train.withColumn("n_tokens", token_count("text").cast("bigint"))
    packed = sampling.pack_sequences(sized, budget=budget, salt=salt)
    bins = sampling.pack_materialize(packed, salt=salt)

    write_parquet_clustered(bins, os.path.join(out_dir, "train"), ["pack_bin"])
    write_parquet_clustered(evald, os.path.join(out_dir, "eval"), ["doc_id"])

    train_bins = spark.read.parquet(os.path.join(out_dir, "train"))
    n_eval = spark.read.parquet(os.path.join(out_dir, "eval")).count()
    return {
        "n_train_docs": int(train_bins.agg(F.sum("n_docs")).collect()[0][0] or 0),
        "n_train_bins": train_bins.count(),
        "n_eval_docs": n_eval,
    }


# ---------------------------------------------------------------------------
# The stage chain: materialization + write-then-publish manifests
# ---------------------------------------------------------------------------

_MANIFEST = "_MANIFEST.json"
# the audit count each stage's manifest "rows" is reported as
_COUNT_KEYS = {"filtered": "n_after_filter", "survivors": "n_after_near_dedup",
               "semantic": "n_after_semantic"}


def _fingerprint(stage: str, params: dict, upstream: "str | None") -> str:
    """Stage identity: name + its params + the upstream stage's
    fingerprint, chained — changing any parameter invalidates that
    stage AND everything downstream, while upstream reuse survives."""
    payload = json.dumps(
        {"stage": stage, "params": params, "upstream": upstream}, sort_keys=True
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _try_load_stage(spark: SparkSession, sfs: HadoopFS, stage_dir: str, fp: str):
    """Return (df, manifest) when the stage dir holds a PUBLISHED
    manifest with a matching fingerprint, else None. The manifest is
    written AFTER the parquet (write-then-publish): a run killed
    mid-write leaves data without a manifest, which reads as 'not
    done' and is overwritten on resume — never half-read.

    A manifest that exists but cannot be parsed also reads as 'not
    done': on stores where rename is copy-then-delete a crash mid-copy
    leaves a TORN manifest (observed under the S3LikeFS shim — the r5
    form raised JSONDecodeError here, wedging the resume until the
    torn file was hand-deleted; now it is recomputed and republished)."""
    mp = stage_dir.rstrip("/") + "/" + _MANIFEST
    if not sfs.exists(mp):
        return None
    try:
        m = sfs.read_json(mp)
    except Exception:
        # a torn publish (ValueError/UnicodeDecodeError) and Java-side
        # read failures (Py4JJavaError: ChecksumException on
        # checksummed filesystems, EOFException, ...) get the same
        # verdict: the manifest cannot be trusted, so the stage reads
        # as 'not done' and is recomputed+republished — NOT a wedge
        # that crashes every resume until the file is hand-deleted
        # (the rule ivf_index_load applies, adapted to this protocol's
        # recompute semantics)
        return None
    if m.get("fingerprint") != fp:
        return None
    return spark.read.parquet(stage_dir), m


def _materialize_stage(
    df: DataFrame, sfs: HadoopFS, stage_dir: str, fp: str, extra: "dict | None" = None
) -> "tuple[DataFrame, dict]":
    """Write a stage's output and publish its manifest; returns the
    re-read frame (so downstream lineage starts at the parquet — the
    point of materialization) and the manifest. ``extra``: additional
    audit fields to persist (e.g. the input-gate total) so resumes can
    reuse them without re-scanning."""
    # UNCONDITIONAL delete + overwrite write: guarding the delete behind
    # an exists() probe made the recompute CRASH (PATH_ALREADY_EXISTS)
    # on stores whose listings lag writes — found by the S3LikeFS
    # delayed-listing test, not argued. delete() on a missing path is a
    # no-op; overwrite covers remnants the delete's own listing missed.
    sfs.delete(stage_dir)  # stale/mismatched remnants
    df.write.mode("overwrite").parquet(stage_dir)
    out = df.sparkSession.read.parquet(stage_dir)
    manifest = {"fingerprint": fp, "rows": out.count(), **(extra or {})}
    sfs.write_json_atomic(stage_dir.rstrip("/") + "/" + _MANIFEST, manifest)
    return out, manifest


def prepare_training_corpus_resumable(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    budget: int = 512,
    jaccard_threshold: float = 0.5,
    train_pct: int = 90,
    salt: str = "corpus-v1",
    stop_after: "str | None" = None,
    stage_fs: "HadoopFS | None" = None,
    semantic_threshold: "float | None" = None,
    embedding_dim: int = 64,
) -> dict:
    """Run the preparation pipeline over ``sf_dir``/documents with
    per-stage restartability, writing train (packed) + eval (raw)
    parquet under ``out_dir``.

    The expensive stages (``filtered``, ``survivors``, optionally
    ``semantic`` when ``semantic_threshold`` is set, ``clean``)
    are materialized under ``out_dir``/_stages/<name> with a manifest
    published only after the parquet is fully written. A re-run with
    the same parameters loads completed stages (manifest fingerprint
    match) and recomputes only what is missing; changing a parameter
    invalidates that stage and everything downstream via fingerprint
    chaining. The final split/pack/write stages are cheap relative to
    near-dedup and always recompute from ``clean`` — their writes are
    full overwrites, so re-finalizing is idempotent.

    ``stop_after``: materialize up to that stage and return early —
    partial runs for inspection, and the test hook that simulates a
    pipeline dying between stages.

    Resume assumes the INPUT under ``sf_dir`` is immutable (the
    standard warehouse contract); a changed input at the same path
    must use a fresh ``out_dir`` (or clear _stages). Consequently the
    input quality gate (full scan + unique-id check) runs only when
    the ``filtered`` stage is computed — a resume that reuses it also
    reuses the recorded gate verdict instead of re-scanning the raw
    corpus (its ``n_total`` lives in the stage manifest). Manifest IO
    goes through the Hadoop FileSystem of ``out_dir`` (hdfs/s3a/local
    all work); the atomic publish is rename-based — on object stores
    without atomic rename a crashed publish is simply re-done.

    Returns stage counts: total -> after_filter -> after_near_dedup
    (-> after_semantic when ``semantic_threshold`` is set — the
    optional SemDeDup stage over ``sf_dir``/embeddings, see
    ``_stage_semantic``), plus split sizes and packed-bin count, and
    ``stages_reused`` / ``stages_computed`` — an audit of what the
    resume actually skipped.

    ``stage_fs``: inject the manifest filesystem (default: the Hadoop
    FileSystem of ``out_dir``). tests/test_objectstore_sim.py passes
    the ``S3LikeFS`` shim here to run this pipeline under non-atomic
    rename, torn-manifest, and delayed-listing semantics — the
    object-store commit window is OBSERVED, not argued (crash at every
    point of the publish window resumes to artifacts identical to an
    uninterrupted run).
    """

    def filtered(_):
        kept, n_total = _stage_filtered(spark, sf_dir)
        return kept, {"n_total": n_total}, None

    def semantic(survivors):
        out, cand = _stage_semantic(spark, sf_dir, survivors, semantic_threshold, embedding_dim)
        return out, None, cand

    # (name, fingerprint params, build: upstream frame -> (frame,
    # manifest extras, cached frame to unpersist once materialized))
    chain = [
        ("filtered", {"sf_dir": sf_dir}, filtered),
        ("survivors", {"jaccard_threshold": jaccard_threshold},
         lambda kept: (_stage_survivors(kept, jaccard_threshold), None, None)),
    ]
    # Optional SemDeDup stage: chained AFTER survivors, so toggling or
    # re-thresholding it invalidates semantic+clean but reuses the
    # expensive text-dedup stages; with it off the clean fingerprint is
    # byte-identical to the pre-round-6 chain (old stage dirs resume).
    if semantic_threshold is not None:
        chain.append((
            "semantic",
            {"semantic_threshold": semantic_threshold, "embedding_dim": embedding_dim},
            semantic,
        ))
    chain.append(("clean", {}, lambda survivors: (_stage_clean(survivors), None, None)))
    names = tuple(name for name, _, _ in chain)
    if stop_after is not None and stop_after not in names:
        raise ValueError(
            f"stop_after must be one of {names}, got {stop_after!r}"
            " ('semantic' requires semantic_threshold)"
        )
    stages_root = out_dir.rstrip("/") + "/_stages"
    sfs = stage_fs if stage_fs is not None else HadoopFS(spark, out_dir)
    sfs.mkdirs(stages_root)
    counts: dict = {}
    reused: list[str] = []
    computed: list[str] = []
    frame, fp = None, None
    for name, params, build in chain:
        fp = _fingerprint(name, params, fp)
        stage_dir = stages_root + "/" + name
        loaded = _try_load_stage(spark, sfs, stage_dir, fp)
        if loaded is None:
            df, extra, cached = build(frame)
            try:
                frame, m = _materialize_stage(df, sfs, stage_dir, fp, extra)
            finally:
                # the stage output is parquet-backed (or the write
                # failed) — either way the cache is done
                if cached is not None:
                    cached.unpersist()
            computed.append(name)
        else:
            frame, m = loaded
            reused.append(name)
        if name == "filtered":
            counts["n_total"] = int(m["n_total"])
        if name in _COUNT_KEYS:
            counts[_COUNT_KEYS[name]] = int(m["rows"])
        if stop_after == name:
            return {**counts, "stages_reused": reused, "stages_computed": computed}

    final = _finalize(spark, frame, out_dir, budget, train_pct, salt)
    return {**counts, **final, "stages_reused": reused, "stages_computed": computed}


def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    budget: int = 512,
    jaccard_threshold: float = 0.5,
    train_pct: int = 90,
    salt: str = "corpus-v1",
    semantic_threshold: "float | None" = None,
    embedding_dim: int = 64,
) -> dict[str, int]:
    """Run the full preparation pipeline over ``sf_dir``/documents and
    write train (packed) + eval (raw) parquet under ``out_dir``.

    The resumable chain with nothing to resume: each stage runs once
    into a scratch ``out_dir``/_stages, deleted before the run and when
    it ends or fails. Its input need not be immutable, so it never
    loads an earlier run's stages; it CLEARS a resumable run's
    ``_stages`` in the same ``out_dir``.

    Returns the counts of ``prepare_training_corpus_resumable`` without
    ``stages_reused`` / ``stages_computed``. Deterministic end to end
    (hash splits, fixed salts, canonical-min survivors, deterministic
    k-means) — re-running yields byte-identical artifacts.
    """
    sfs = HadoopFS(spark, out_dir)
    stages_root = out_dir.rstrip("/") + "/_stages"
    sfs.delete(stages_root)
    try:
        counts = prepare_training_corpus_resumable(
            spark, sf_dir, out_dir, budget, jaccard_threshold, train_pct, salt,
            stage_fs=sfs, semantic_threshold=semantic_threshold, embedding_dim=embedding_dim,
        )
    finally:
        sfs.delete(stages_root)
    return {k: v for k, v in counts.items() if not k.startswith("stages_")}
