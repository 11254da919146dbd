"""Deduplication operators — exact and near-duplicate (north-star set).

The reference's only dedup is keep-latest-per-key
(/root/reference/lime_survey_orders_shipped.py:69-70 → ops.core.dedup_latest).
This module adds the content-dedup family a training-data pipeline
needs, each designed scale-first and each with an exact DuckDB-SQL twin
(registry.py) so correctness is oracle-checked, not eyeballed:

- exact_dedup: md5-of-token-stream groupBy — one shuffle on a 128-bit
  key; canonical row = min(doc_id) (deterministic).
- ngram_jaccard_pairs: exact Jaccard over token-shingle sets via
  shingle-inverted-index self-join. Quadratic in docs-per-shingle; at
  100 TB you run it ONLY on LSH candidate pairs (below), never raw.
- minhash_signatures / minhash_lsh_candidates: MinHash (portable
  md5-derived shingle hashes, 16 perms) + banded LSH (4 bands × 4 rows)
  — the scale path: candidate generation is a groupBy on band keys, so
  cost is ~linear in corpus size instead of quadratic.
- simhash: 60-bit SimHash via bit-position explode + sign aggregation
  (pure JVM exprs, no UDF); hamming-near pairs via band-bucketing.

Hash portability contract (shared with the oracle): shingle hash is the
first 15 hex digits of md5 parsed as a base-16 integer — identical in
Spark (``conv(hex,16,10) → bigint``) and DuckDB (``('0x'||hex)::UBIGINT``).
Permutation j is ``(A[j]*h + B[j]) mod P`` with P=1e9+7; A,B are
deterministic constants derived below, small enough that a*h never
overflows int64 (h < 2^28 after the 7-hex-digit truncation used for
permutations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lime_etl_spark.plans import auto_broadcast

from lime_etl_spark.ops.text import tokens

MINHASH_PERMS = 16
LSH_BANDS = 4  # 4 bands x 4 rows
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
MOD_P = 1_000_000_007

# Shingles shared by more docs than this are dropped from exact-Jaccard
# scoring (stop-shingle skew guard — see ngram_jaccard_pairs).
MAX_DOCS_PER_SHINGLE = 256

# Deterministic permutation constants (odd multipliers, fixed offsets).
# Derived from a fixed linear recurrence so the oracle SQL can inline
# the same literals (registry.py generates them from these functions).
PERM_A = [2 * j + 1 for j in range(1, MINHASH_PERMS + 1)]  # 3,5,...,33
PERM_B = [7919 * (j + 1) % MOD_P for j in range(MINHASH_PERMS)]


def _hash60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5 → bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _hash28(col: Column) -> Column:
    """Portable 28-bit hash (7 hex digits) — safe for a*h in int64."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group exact duplicates by content fingerprint.

    Returns one row per duplicated fingerprint: canonical (min) id,
    duplicate count. Fingerprint = md5 of the canonical token stream
    (whitespace/case-insensitive equality — see text.with_fingerprint).
    """
    fp = F.md5(F.concat_ws(" ", tokens(text_col)))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content fingerprint (min id wins).

    One shuffle on the fingerprint (window min), survivors keep all
    original columns.
    """
    w = Window.partitionBy("__fp")
    return (
        df.withColumn("__fp", F.md5(F.concat_ws(" ", tokens(text_col))))
        .withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )


# ---------------------------------------------------------------------------
# Shingle inverted index + exact Jaccard (verification path)
# ---------------------------------------------------------------------------


def shingle_index(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) inverted index, distinct per doc.

    ensure_parallelism: tokenize+shingle is the CPU-heavy step; a
    single-row-group input must be spread across cores first (no-op on
    properly split scans)."""
    from lime_etl_spark.ops.text import shingles_from_tokens
    from lime_etl_spark.ops.util import ensure_parallelism

    # array_distinct BEFORE explode: the index needs (id, shingle)
    # distinct per document, which is a per-row array op — a narrow
    # transformation. A post-explode .distinct() would shuffle the whole
    # exploded index (rows x shingles) to deduplicate what was never
    # duplicated across rows in the first place.
    return (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .withColumn("__toks", tokens(text_col))
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
            ).alias("shingle"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_docs_per_shingle: int | None = MAX_DOCS_PER_SHINGLE,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over n-gram shingle sets, pairs ≥ threshold.

    Plan: inverted index → self-join on shingle (id_a < id_b) → count
    common shingles per pair → join per-doc set sizes → jaccard.
    Shuffles: one per groupBy/join, all on bounded keys.

    Scale guards:

    - ``max_docs_per_shingle``: a stop-shingle shared by 1e5 docs would
      alone emit 1e10 pairs from the self-join. Shingles whose document
      frequency exceeds the cap are dropped from the similarity universe
      (they carry ~no Jaccard signal); common-shingle counts are then
      exact over the capped universe while denominators use the TRUE
      per-doc set sizes, so the reported score is a LOWER bound on true
      Jaccard — the cap can hide pairs, never promote them. The DuckDB
      oracle mirrors both choices (capped commons, uncapped sizes).
      The frequency count is a window over the same ``sh`` key the
      self-join shuffles on, so the cap adds no extra exchange
      (ReusedExchange). Applies ONLY to the self-join mode: in
      candidate-driven mode the cap protects nothing and, because df
      grows linearly with corpus size, would eventually empty the
      similarity universe — it is skipped there (see inline comment).
    - ``pairs``: restrict computation to a candidate pair list
      (id_a, id_b) — the inverted index is semi-joined to candidate
      docs and common-shingle counting is driven per candidate pair, so
      cost is linear in candidates × shingles-per-doc instead of
      quadratic in docs-per-shingle. Jaccard is computed over the TRUE
      (uncapped) shingle sets. This is the verification mode
      minhash_near_dups uses; beyond ~1M docs never run without it.
    """
    from lime_etl_spark.ops.text import hashed_shingles_from_tokens
    from lime_etl_spark.ops.util import ensure_parallelism

    # join/count on hashed shingles, never the shingle string: the
    # self-join shuffles every index row — an 8-byte key vs a ~20-byte
    # string halves shuffle volume and speeds the hash join. The hash is
    # computed straight off the n-token window (hashed_shingles_from_
    # tokens), so the shingle string is never materialized at all, and
    # array_distinct dedups longs instead of strings. Collisions would
    # perturb counts but P(collision) over ~1e5 distinct shingles is
    # ~1e-10 (64-bit). NO persist(): caching the exploded index
    # measured 3x SLOWER than recomputing it — persist blocks codegen
    # fusion and exchange reuse and pays block-store serialization; the
    # index is a narrow pipeline off the scan, cheap to evaluate twice.
    src = df.select(F.col(id_col).alias("id"), text_col)
    if pairs is not None:
        # Verification mode: restrict to candidate docs BEFORE the
        # tokenize+shingle projection — Catalyst pushes a later semi-
        # join below the Generate but NOT below the projection, so
        # joining the exploded index (the old shape) still tokenized
        # EVERY corpus row first; the round-6 review confirmed the
        # Project sat under the LeftSemi in the optimized plan. In the
        # streaming gate the corpus is the whole accumulated doc store,
        # so this was O(all docs) CPU per micro-batch instead of
        # O(candidate docs).
        # one explode, not a 2-leg union: union plans the candidate
        # pipeline once per leg, and (unlike the self-join's two
        # identical shuffle exchanges) the legs' exchanges differ after
        # the per-leg projection, so runtime reuse cannot merge them —
        # the candidate generator would execute twice just to list its
        # own endpoint ids (round 10).
        cand_docs = pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        ).distinct()
        src = src.join(cand_docs, "id", "left_semi")
    base = (
        ensure_parallelism(src)
        .withColumn("__toks", tokens(text_col))
        .withColumn("__sh", F.array_distinct(hashed_shingles_from_tokens(F.col("__toks"), n)))
    )
    if pairs is not None:
        # Verification mode (round 10): join each candidate pair to the
        # two docs' shingle-set ARRAYS and intersect per row —
        # size(array_intersect(a, b)) on already-distinct arrays IS the
        # common-shingle count. The previous shape (explode the index,
        # 2-stage join per pair, groupBy(id_a, id_b) count) shuffled
        # every (doc, shingle) row twice and re-ran the candidate-doc
        # tokenization once per index reference PLUS twice more for the
        # sa/sb size joins; this shape tokenizes candidate docs into
        # `sets` whose two join references are byte-identical subtrees
        # (one per pair endpoint) that shuffle by the same key, so the
        # exchange is planned once and runtime-reused, and sizes ride
        # along as size(__sh) — no explode, no groupBy, no size joins.
        # Per-task cost is O(n_a + n_b) hash-intersect per pair in the
        # JVM vs a corpus-index shuffle; shuffle bytes per candidate
        # doc are its shingle array ONCE instead of one row per
        # (shingle, referencing pair).
        # Precondition (held by every caller — LSH candidates and the
        # streaming gate both end in .distinct()): ``pairs`` has no
        # duplicate rows. (The old groupBy shape would have DOUBLED
        # n_common for a duplicated pair — inflated, not deduped — so
        # this is not a behavior change, just the same contract stated.)
        # The df cap is skipped here by design: in candidate-driven
        # mode cost is candidates × shingles-per-doc no matter how
        # common a shingle is, and a fixed absolute cap actively
        # DESTROYS the similarity signal as the corpus grows (measured:
        # at 100× the fixture every distinct shingle crossed the cap,
        # the capped universe was empty, and near-dup verification
        # silently found nothing).
        # Deliberately NOT broadcast-hinted: sets has one row per
        # candidate document, which scales with the corpus. AQE picks
        # broadcast when it is actually small, shuffle join otherwise.
        sets = base.select(
            "id", "__sh", F.size("__sh").cast("bigint").alias("n_shingles")
        )
        sa = sets.select(
            F.col("id").alias("id_a"),
            F.col("__sh").alias("__sh_a"),
            F.col("n_shingles").alias("n_a"),
        )
        sb = sets.select(
            F.col("id").alias("id_b"),
            F.col("__sh").alias("__sh_b"),
            F.col("n_shingles").alias("n_b"),
        )
        scored = (
            pairs.select("id_a", "id_b")
            .join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                .cast("bigint")
                .alias("n_common"),
                "n_a",
                "n_b",
            )
            # the old inner-join-on-exploded-index shape emitted a pair
            # only when ≥1 shingle matched; keep that row set exactly
            # (also guards the jaccard division when both sets are
            # empty) — redundant under any threshold > 0
            .filter(F.col("n_common") > 0)
        )
    else:
        # Self-join (discovery) mode: the inverted index is the pair
        # GENERATOR, so the explode + sh self-join stays — but per-doc
        # set sizes now ride THROUGH the explode as a payload column
        # (+8 bytes per index row) instead of joining two separate
        # size tables afterwards. The old sa/sb joins were narrow
        # projections off `base` with no exchange to reuse, so each one
        # re-tokenized the whole corpus (the round-4 fix stopped sizes
        # re-running the explode+window subtree; this removes their
        # remaining 2 tokenization passes and 2 joins outright).
        # Sizes are the TRUE distinct-shingle counts (computed before
        # the df-cap filter), so the capped score stays a LOWER bound
        # on true Jaccard: the cap can only hide pairs, never promote
        # them. (The DuckDB oracles mirror this: sizes FROM the
        # uncapped dsh CTE.)
        # cast: size() is INT; the published n_a/n_b columns are BIGINT
        # (schema-compared against the oracle by the driver)
        idx = base.select(
            "id",
            F.size("__sh").cast("bigint").alias("n_shingles"),
            F.explode("__sh").alias("sh"),
        )
        # df cap: bounds the all-pairs-per-shingle blowup (df² pairs).
        # The frequency count is a window over the same sh key the
        # self-join shuffles on, so the cap adds no extra exchange.
        if max_docs_per_shingle is not None:
            wsh = Window.partitionBy("sh")
            idx = (
                idx.withColumn("__df", F.count(F.lit(1)).over(wsh))
                .filter(F.col("__df") <= max_docs_per_shingle)
                .drop("__df")
            )
        a, b = idx.alias("a"), idx.alias("b")
        scored = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                # constant within the group (one size per doc): min is
                # the deterministic way to read it back out
                F.min(F.col("a.n_shingles")).alias("n_a"),
                F.min(F.col("b.n_shingles")).alias("n_b"),
            )
        )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (scale path)
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: columns m0..m{15}.

    min over shingles of (A[j]*h28(shingle)+B[j]) mod P per permutation
    — a single groupBy(id) with 16 min() aggregates; map-side partial
    aggregation keeps the shuffle tiny (16 longs per doc). Docs with no
    shingles (< n tokens) are dropped.
    """
    idx = shingle_index(df, id_col, text_col, n)
    h = _hash28(F.col("shingle"))
    aggs = [
        F.min((F.lit(PERM_A[j]) * h + F.lit(PERM_B[j])) % F.lit(MOD_P)).alias(f"m{j}")
        for j in range(MINHASH_PERMS)
    ]
    return idx.groupBy("id").agg(*aggs)


def minhash_bands(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, band, bkey) LSH band index over the MinHash signature —
    the joinable form of a document's near-dup identity. Band key =
    md5 of the band's signature slice. This is what an incremental
    ingest pipeline persists: new docs join their bands against the
    accumulated index to find candidate duplicates without touching
    the corpus (streaming/dedup.py).
    """
    sigs = minhash_signatures(df, id_col, text_col, n)
    # one band-struct array + explode, NOT a 4-way union of selects: a
    # union would give Catalyst 4 distinct subplans and recompute the
    # whole signature pipeline once per band (4x the shuffles); the
    # explode computes signatures once and fans out rows afterwards.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"m{band * LSH_ROWS + r}").cast("string")
                            for r in range(LSH_ROWS)
                        ],
                    )
                ).alias("bkey"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the MinHash signature.

    Pairs sharing ≥1 band key are candidates (id_a < id_b, distinct).
    This is the ~linear candidate generator; feed candidates to
    ngram_jaccard_pairs (or the estimated signature similarity) for
    verification.

    Bucket-local pair generation, NOT a band self-join (round 10): the
    self-join shape planned the whole tokenize→md5-MinHash→band
    pipeline TWICE — one subtree per join side, and the broadcast build
    side can never be exchange-reused against the probe side's shuffle
    — so the corpus was fingerprinted twice per run. Grouping the band
    index by (band, bkey) and exploding i<j pairs from the sorted
    bucket id array computes the signature pipeline ONCE and replaces
    the join with one groupBy on the ~40-byte band rows.

    Two-level positional pairing for hot buckets (round 11, guide §2.5):
    a band key shared by k docs would otherwise emit all k(k-1)/2 pairs
    from the ONE task holding the bucket row — the engine's clearest
    single-key skew exposure on a gated path. The bucket's SORTED id
    array is split into S = ceil(k / hot_bucket_cap) contiguous
    positional SLICES; one row is emitted per slice-pair CELL (g1 ≤ g2,
    S(S+1)/2 cells carrying only their two ≤cap-id slices), the cell
    rows are redistributed (hash of the cell identity) so each cell's
    pairs are generated in its own task, and per-cell pairing is one
    cross product la × rb (rb = la on the diagonal) filtered to
    id_a < id_b. Every position pair i < j of the bucket is emitted
    exactly once — by cell (floor(i/cap), floor(j/cap)): the diagonal
    self-cross keeps exactly its i<j half (ids within a bucket are
    distinct, so the sorted array is strictly increasing), and
    off-diagonal pairs already satisfy id_a < id_b positionally. A
    bucket at or under the cap has S = 1 — one diagonal cell whose
    slice IS the whole id array, i.e. the round-10 i<j pair stream.
    Per-task emission is ≤ cap² pairs and per-cell state ≤ 2·cap ids
    instead of k² / k; the slice replication overhead (each id rides in
    S cells ⇒ ~k²/cap id copies per hot bucket) is at most 2/cap of
    the pair volume the bucket emits anyway. The cell exchange carries
    only colliding buckets' id arrays (a small subset of the band
    index, and far fewer bytes than the pair exchange the trailing
    distinct() always paid); two rejected alternatives — a window
    bucket-size count (loses the aggregation's map-side partials) and
    a small/hot union (doubles plan compile) — are recorded with
    measurements in OPTIMIZATION_r11.md. Pair OUTPUT is identical in
    all cases; the trailing distinct() dedups across bands exactly as
    before.

    hot_bucket_cap defaults from $LIME_LSH_HOT_BUCKET_CAP (4096): at
    that cap a pathological cell carries ~64 KB of ids and emits ≤ ~16M
    pairs — a normal task's work — and a 1M-doc bucket that previously
    sat in one task spreads over ~30k cells. A cap below 1 (argument or
    env) raises ValueError.

    Duplicate input ids produce no ``id_a == id_b`` rows: the
    id_a < id_b filter drops them (the round-10 shape emitted them).
    Ids are expected unique; the corpus pipeline's stage-0 gate
    (pipelines/corpus.py ``_stage_filtered``) refuses input with
    duplicated doc_ids before this operator runs."""
    if hot_bucket_cap is None:
        import os

        hot_bucket_cap = int(os.environ.get("LIME_LSH_HOT_BUCKET_CAP", "4096"))
    if hot_bucket_cap < 1:
        raise ValueError("hot_bucket_cap must be >= 1")
    cap = hot_bucket_cap
    allbands = minhash_bands(df, id_col, text_col, n)
    buckets = (
        allbands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    nslices = F.ceil(F.size("ids") / F.lit(cap)).cast("int")
    cell_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nslices - 1),
            lambda g1: F.transform(
                F.sequence(g1, nslices - 1),
                lambda g2: F.struct(g1.alias("g1"), g2.alias("g2")),
            ),
        )
    )
    cells = buckets.select(
        F.col("ids"), F.explode(cell_structs).alias("c")
    ).select(
        # project to just the two slices BEFORE the exchange (guide
        # §2.3): the full ids array must not ride S(S+1)/2 times
        F.slice(F.col("ids"), F.col("c.g1") * cap + 1, cap).alias("la"),
        # empty on the diagonal (la would ride twice); an empty SLICE,
        # not a cast literal, so the id element type follows id_col
        F.when(F.col("c.g1") == F.col("c.g2"), F.slice(F.col("ids"), 1, 0))
        .otherwise(F.slice(F.col("ids"), F.col("c.g2") * cap + 1, cap))
        .alias("ra"),
    )
    # Redistribute cells so a hot bucket's cells emit from many tasks,
    # not the one task that aggregated the bucket. Deterministic key
    # (first id of each slice identifies the cell within its bucket).
    # The partition count is EXPLICIT: cell rows are a few KB before
    # explosion, so AQE's byte-based coalescing would legally fuse the
    # whole exchange back into one partition and reinstate the single
    # task this exchange exists to remove (measured on the skew
    # micro-bench: 1 task × 65 s with the implicit form) — an explicit
    # numPartitions is the documented way to opt a repartition out of
    # coalescing, and the count follows the session's shuffle-partition
    # setting, which the driver contract already parameterises by core
    # count. F.get (not []): ra is empty on diagonal cells and ANSI
    # mode makes [0] throw on empty arrays; get() yields NULL, which
    # xxhash64 folds deterministically.
    n_spread = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    spread = cells.repartition(
        n_spread, F.xxhash64(F.get(F.col("la"), 0), F.get(F.col("ra"), 0))
    )
    # one cross-product expression for every cell (diagonal cells cross
    # la with itself); the id_a < id_b filter keeps the i<j half on the
    # diagonal and passes every off-diagonal pair untouched
    rb = F.when(F.size("ra") == 0, F.col("la")).otherwise(F.col("ra"))
    cross = F.flatten(
        F.transform(
            F.col("la"),
            lambda x: F.transform(
                rb, lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))
            ),
        )
    )
    return (
        spread.select(F.explode(cross).alias("p"))
        .select("p.id_a", "p.id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard — the full scale path:
    ~linear candidate generation, exact verification only on candidates
    (pairs= mode drives common-shingle counting off the candidate list,
    so the quadratic shingle self-join never runs).

    Like ``minhash_lsh_candidates``, duplicate input ids yield no
    ``id_a == id_b`` rows; the corpus pipeline's stage-0 gate refuses
    such input.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, n)
    return ngram_jaccard_pairs(
        df, threshold=threshold, id_col=id_col, text_col=text_col, n=n, pairs=cands
    ).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Connected components (near-dup group assignment)
# ---------------------------------------------------------------------------


def _label_prop_components(edges: DataFrame, ckpt, max_iter: int):
    """Min-label propagation over a fixed bidirectional edge list.
    Returns ((id, label) labels, rounds). Rounds = graph diameter.

    The FIRST propagation step is fused into the label init: initial
    labels are identities, so round 1's edges⋈labels join degenerates
    to min-over-neighbors of the ids — one groupBy, no join. On
    near-clique dedup graphs that converts the loop from 2 full rounds
    (propagate + confirm) to 1 (confirm only): measured at sf0.1 and
    sf1 open-vocab, −35%/−40% components wall, checksum-identical
    labels across all interleaved A/B runs (SCALE.md round-6)."""
    labels = ckpt(
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
    )
    for rounds in range(1, max_iter + 1):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"], F.coalesce(F.col("nbr_label"), labels["label"])
                ).alias("label"),
                (
                    F.coalesce(F.col("nbr_label"), labels["label"]) < labels["label"]
                ).alias("__changed"),
            )
        )
        stepped = ckpt(stepped)
        n_changed = stepped.filter(F.col("__changed")).count()
        labels = stepped.drop("__changed")
        if n_changed == 0:
            return labels, rounds
    # Unconverged labels silently split components — a wrong answer,
    # not a degraded one. Dedup graphs converge in a handful of
    # rounds; hitting the cap means a pathological chain (or a bug)
    # and must surface, not ship.
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter}; "
        "raise max_iter (graph diameter exceeds it) or use "
        "algorithm='two_phase_star' (logarithmic rounds)"
    )


def _two_phase_star_components(edges: DataFrame, ckpt, max_iter: int):
    """Alternating large-star/small-star edge rewriting (Kiveris et
    al.). Returns ((id, label) labels, rounds). Rounds = O(log n)
    regardless of diameter.

    Both phases hang neighbors under each node's closed-neighborhood
    min m(u) = min(Γ(u) ∪ {u}); large-star rewrites the strictly
    larger neighbors, small-star the smaller ones plus the node
    itself. At the fixpoint every component is a star rooted at its
    min, read off directly as (child, root) edges. Convergence is
    detected by an order-independent signature (count + bit_xor of
    xxhash64(child, root)) of the canonical edge set — two scalars per
    round — CONFIRMED by an exact exceptAll emptiness check on the one
    round where signatures match, so a 64-bit collision (or xor
    cancelling paired changes) can delay convergence by a round but
    never declare it falsely."""
    nodes = edges.select(F.col("src").alias("id")).distinct()

    def star(bidir: DataFrame, large: bool) -> DataFrame:
        m = bidir.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        j = bidir.join(m, "src")
        if large:
            out = j.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("child"), F.col("m").alias("root")
            )
        else:
            out = (
                j.filter(F.col("dst") < F.col("src"))
                .select(F.col("dst").alias("child"), F.col("m").alias("root"))
                .union(m.select(F.col("src").alias("child"), F.col("m").alias("root")))
            )
        return out.filter(F.col("child") != F.col("root")).distinct()

    def signature(star_edges: DataFrame):
        row = star_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(child, root))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def bidir_of(star_edges: DataFrame) -> DataFrame:
        fwd = star_edges.select(F.col("child").alias("src"), F.col("root").alias("dst"))
        rev = star_edges.select(F.col("root").alias("src"), F.col("child").alias("dst"))
        return fwd.union(rev)

    cur = edges
    prev_sig, prev_ss = None, None
    for rounds in range(1, max_iter + 1):
        ls = star(cur, large=True)
        ss = ckpt(star(bidir_of(ls), large=False))
        sig = signature(ss)
        # the signature is necessary-but-collidable (64-bit xor also
        # cancels paired changes): on the one matching round, confirm
        # the fixpoint EXACTLY — both sides are distinct sets of equal
        # count, so a one-direction exceptAll decides equality. Runs
        # once per job (signatures only match at/near convergence), so
        # wrong-labels-on-collision is traded for one cheap extra join.
        if sig == prev_sig and ss.exceptAll(prev_ss).isEmpty():
            # fixpoint: ss is a (child, root) star forest
            labels = nodes.join(
                ss.select(F.col("child").alias("id"), F.col("root").alias("label")),
                "id",
                "left",
            ).select("id", F.coalesce(F.col("label"), F.col("id")).alias("label"))
            return labels, rounds
        prev_sig, prev_ss = sig, ss
        cur = bidir_of(ss)
    raise RuntimeError(
        f"connected_components(two_phase_star) did not converge within "
        f"max_iter={max_iter} rounds — not expected for any graph of "
        f"< 2^{max_iter} nodes; this indicates a bug, please report"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    reliable_checkpoint_dir: str | None = None,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Cluster near-duplicate PAIRS into duplicate GROUPS.

    Pair generation (LSH candidates + Jaccard verification) leaves a
    graph of edges; dedup needs its connected components so each group
    keeps exactly one canonical document. The reference has no analogue
    (its only dedup is keep-latest, lime_survey_orders_shipped.py:69-70);
    this is the standard closing step of a corpus-dedup pipeline.

    ``algorithm`` (round 6, measured head-to-head at sf1 — SCALE.md):

    - ``"label_prop"`` (default): iterative min-label propagation.
      Every node starts labelled with itself; each round a node adopts
      the minimum label in its closed neighborhood; converged when no
      label changes. Rounds needed = graph diameter; near-dup
      components are small and dense (a duplicate cluster is
      near-clique), so convergence in a handful of rounds, and each
      round is the cheaper unit (one join + one groupBy on a
      fixed-size label table).
    - ``"two_phase_star"``: alternating large-star/small-star edge
      rewriting (Kiveris et al., "Connected Components in MapReduce
      and Beyond"): large-star hangs every larger neighbor under the
      neighborhood min, small-star re-hangs the smaller ones;
      converges in O(log n) ROUNDS regardless of diameter — the unit
      that matters at 100 TB is rounds (each is a full shuffle +
      checkpoint barrier), and a chain-shaped graph sends label_prop
      to diameter rounds while this stays logarithmic. The trade-off:
      each round rewrites the EDGE set (bigger than the label table)
      and costs ~2 shuffles + a distinct.

    Scale notes:
    - Each round is one join + one groupBy, both shuffling on node id —
      no driver-side data movement; the only driver value is the
      changed-label count (a scalar per round).
    - ``localCheckpoint(eager=True)`` truncates lineage each round;
      without it the plan doubles per iteration and Catalyst analysis
      time dominates by round ~10.
    - Edges enter ONCE as a deduplicated bidirectional list; at 100 TB
      scale the label table is (node, label) longs — tiny relative to
      the corpus that produced the pairs.

    Returns (doc_id, component_id, component_size); component_id is the
    min doc_id of the component (the canonical survivor).

    ``reliable_checkpoint_dir``: localCheckpoint stores its blocks in
    EXECUTOR storage — fast, but lineage is truncated, so blocks lost
    with a dead executor cannot be recomputed and any read that needs
    them fails (observed in the round-5 fault rehearsal's block-loss
    probe, FAULT_CHECK.json: a localCheckpointed read dies after an
    executor SIGKILL while the reliable twin returns the same value;
    the mid-QUERY kills there happened to land in pair generation,
    where plain lineage still covers recompute, so whether a given
    kill hits the hazard is timing). Pass a durable directory
    (HDFS/object store on a cluster) for durable per-round
    materialization instead: each round's labels are WRITTEN AS
    PARQUET under a per-call unique ``cc_*`` subdirectory and re-read,
    so lineage restarts at the files and executor loss recomputes by
    re-reading — same durability as ``df.checkpoint`` without
    touching the session-global checkpoint dir (the r5 implementation
    used ``setCheckpointDir`` and so forbade concurrent calls; this
    form is concurrency-safe — each call owns its own subdir and no
    session state is mutated). Cost is one filesystem round-trip per
    round. Single-host default stays localCheckpoint (task-level
    retries never lose blocks — the executor survives).

    Retention: the round files are not auto-deleted; the RETURNED
    frame reads from the final round's parquet, so prune the call's
    ``cc_*`` directory only after the result is consumed (the
    earlier-round copies are dead the moment the next round lands).
    """
    if reliable_checkpoint_dir is not None:
        import itertools as _itertools
        import uuid as _uuid

        base_dir = (
            reliable_checkpoint_dir.rstrip("/") + f"/cc_{_uuid.uuid4().hex[:12]}"
        )
        seq = _itertools.count()
        spark = pairs.sparkSession

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint_dir is not None:
            path = f"{base_dir}/round_{next(seq)}"
            df.write.parquet(path)
            return spark.read.parquet(path)
        return df.localCheckpoint(eager=True)

    # bidirectional edges via ONE explode, not union(fwd, rev): the
    # union's two legs are separate subplans of the ENTIRE upstream
    # pair pipeline (for near-dup callers: LSH candidate generation +
    # Jaccard verification), and the legs' projections differ (src/dst
    # swapped) so no exchange reuse merges them — the checkpoint that
    # is supposed to pay for pair generation once paid for it twice
    # (round 10). The explode emits both directions from a single
    # evaluation of each pair row.
    edges = _ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    if algorithm == "label_prop":
        labels, _rounds = _label_prop_components(edges, _ckpt, max_iter)
    elif algorithm == "two_phase_star":
        labels, _rounds = _two_phase_star_components(edges, _ckpt, max_iter)
    else:
        raise ValueError(
            f"algorithm must be 'label_prop' or 'two_phase_star', got {algorithm!r}"
        )
    w = Window.partitionBy("component_id")
    out = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )
    return out.withColumn(
        "component_size", F.count(F.lit(1)).over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------


def ngram_overlap(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction
    of its distinct n-gram shingles that appear anywhere in the eval
    corpus, and a contaminated flag at ``threshold``.

    Plan shape is the one that survives 100 TB: the EVAL shingle set is
    the small side (benchmarks are MBs while the training corpus is the
    100 TB side), so it is deduplicated and **broadcast** — the train
    index is never shuffled for the membership probe (broadcast hash
    join), the train corpus is tokenized exactly ONCE (sizes ride
    through the explode as a payload column), and the only wide
    exchange is the per-doc groupBy that was needed for set sizes
    anyway.
    """
    from lime_etl_spark.ops.text import shingles_from_tokens
    from lime_etl_spark.ops.util import ensure_parallelism

    # ONE tokenization pass over train (round 10, second pass): the
    # per-doc set size rides THROUGH the explode as a payload column
    # (the same +8-bytes-per-index-row trick as ngram_jaccard_pairs'
    # discovery mode), and the semi-join + count is replaced by a LEFT
    # join against the broadcast eval set with count(__hit) — so sizes,
    # hits, and the sizes⋈hits join all come out of a single
    # explode + one groupBy(id). The previous shape planned `base`
    # twice (tr explode + narrow sizes are different projections, no
    # exchange to reuse), re-tokenizing the 100 TB side per reference —
    # and decontam_prefilter pays that per ingest micro-batch.
    # Equivalences: ev is distinct, so the left join never duplicates
    # index rows and count(__hit) == the semi-join count; a doc with
    # ≥1 shingle always has exploded rows, so no doc the old
    # sizes-anchored left join kept can vanish (zero-shingle docs were
    # already excluded by the size(__sh) > 0 filter).
    base = (
        ensure_parallelism(train_df.select(F.col(id_col).alias("id"), text_col))
        .withColumn(
            "__sh", F.array_distinct(shingles_from_tokens(tokens(text_col), n))
        )
        .filter(F.size("__sh") > 0)
    )
    tr = base.select(
        "id",
        F.size("__sh").cast("bigint").alias("n_shingles"),
        F.explode("__sh").alias("shingle"),
    )
    # bounded by contract (docstring above): eval = benchmark suites,
    # MBs by construction while train is the 100 TB side
    ev = auto_broadcast(
        shingle_index(eval_df, id_col, text_col, n).select("shingle").distinct(),
        bounded=True,
    )
    per_doc = (
        tr.join(ev.withColumn("__hit", F.lit(1)), "shingle", "left")
        .groupBy("id")
        .agg(
            # constant within the group (one size per doc): min is the
            # deterministic way to read it back out
            F.min("n_shingles").alias("n_shingles"),
            F.count("__hit").alias("n_hit"),
        )
    )
    frac = F.round(F.col("n_hit") / F.col("n_shingles").cast("double"), 6)
    return per_doc.select(
        F.col("id").alias("doc_id"),
        F.col("n_shingles"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        frac.alias("overlap_frac"),
        (frac >= F.lit(threshold)).alias("contaminated"),
    )


def decontam_prefilter(
    eval_df: DataFrame,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """Ingest-side decontamination gate: a ``prefilter`` for
    streaming/dedup.dedup_on_ingest that drops incoming documents whose
    n-gram overlap with the (static) eval corpus crosses ``threshold``
    — contamination never reaches the band index or the doc store, so
    the accepted corpus is decontaminated BY CONSTRUCTION instead of
    by a later full-corpus sweep.

    Inherits ngram_overlap's scale shape per micro-batch: the eval
    shingle set broadcasts, the batch is the probe side, no wide
    shuffle beyond the per-doc size groupBy. Deterministic (a pure
    function of the doc and the eval set), satisfying the prefilter
    replay contract documented on process_batch.
    """

    def gate(batch: DataFrame) -> DataFrame:
        flags = ngram_overlap(batch, eval_df, id_col, text_col, n, threshold)
        # anti-join on the CONTAMINATED side, not semi-join on the
        # clean side: ngram_overlap emits no row at all for a doc with
        # fewer than n tokens (no shingles -> not in the index), and a
        # semi-join against the clean list would silently drop such
        # docs as if contaminated (review finding). Absent-from-flags
        # means overlap is trivially zero -> keep.
        drop = flags.filter(F.col("contaminated")).select(
            F.col("doc_id").alias(id_col)
        )
        return batch.join(drop, id_col, "left_anti")

    return gate


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 4 bands x 15 bits; 15 hex md5 chars stay BIGINT-safe in both engines


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens, pure JVM expressions.

    Per (doc, bit): sum of ±1 over token hashes' bit values; bit set iff
    sum > 0 (ties → 0, deterministic). The bit explode multiplies rows
    ×60 before a map-side-combined groupBy — measured, this narrow-row
    two-exchange shape BEATS the "obvious" single-exchange alternative:
    a groupBy(id) with one ±1 sum aggregate per bit (the
    minhash_signatures wide-aggregate shape, 16 mins there but 60 sums
    here) was implemented, oracle-verified, and A/B-timed at sf0.1 —
    fresh-plan 1.25 → 3.2 s and exec-only ~1.5 → ~2.2 s SLOWER, because
    the 60-buffer update function codegen-splits out of the hash-agg
    fast path and the generated class takes seconds to compile per
    fresh plan, while the explode's 60 narrow rows stay in tight
    whole-stage loops and the post-partial-agg exchanges are small
    (round 10, second pass; reverted — do not re-try without re-timing).
    """
    from lime_etl_spark.ops.util import ensure_parallelism

    # per-row array_distinct, not a global distinct — see shingle_index
    toks = (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), text_col))
        .select("id", F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("h", _hash60(F.col("tok")))
    )
    bits = toks.select(
        "id", "h", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit")
    )
    # expr() because the PySpark shiftright/shiftleft wrappers only
    # accept an int literal for the shift amount, not a Column
    contrib = bits.withColumn(
        "c", F.expr("CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END")
    )
    bit_sums = contrib.groupBy("id", "bit").agg(F.sum("c").alias("s"))
    return bit_sums.groupBy("id").agg(
        F.sum(
            F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) ELSE CAST(0 AS BIGINT) END")
        ).alias("simhash")
    )


SIMHASH_PAIR_BANDS = 4  # 4 bands x 15 bits over the 60-bit hash
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_PAIR_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1  # 32767


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sims: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, band-bucketed.

    Pigeonhole guarantee: the 60-bit hash splits into 4 bands of 15
    bits; two hashes within hamming distance ``max_hamming`` ≤ 3 must
    agree EXACTLY on at least one band — so candidate generation is a
    keyed self-join on (band, band value), ~linear like MinHash-LSH,
    with 100% recall at the distance bound (never a full-width cross
    compare). Verification is ``bit_count(xor) <= max_hamming`` on the
    candidate pairs only. Pass ``sims`` to reuse precomputed
    signatures (e.g. the Arrow variant's output).

    Band width is the bucket-count knob: 15-bit bands give 32768
    buckets per band, so in-band candidate volume is ~n²/32768 — the
    32-bit/8-bit-band layout this replaced saturated at 256 buckets
    (measured 60 s at sf1, quadratic onset at ~50k docs).

    Candidate generation stays a band SELF-JOIN deliberately (round
    10, second pass — measured): the bucket-local transformation that
    won for minhash_lsh_candidates (groupBy(band,bval) +
    sort_array(collect_list) + i<j pair explode, deleting the join)
    was implemented here, oracle-verified, and A/B-timed at sf0.1 —
    1.64 → 3.3 s, 2× SLOWER. Root cause: the self-join's two
    signature subtrees are canonically equal, so AQE stage reuse
    already executes the tokenize→hash→SimHash pipeline ONCE at
    runtime (verified: ReusedExchange in the executed plan) — there
    was no duplicated work to save, and the collect_list
    (ObjectHashAggregate, no codegen) plus the interpreted
    slice/transform/flatten pair construction is pure added overhead.
    Reverted; do not re-try without re-timing.

    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    if max_hamming >= SIMHASH_PAIR_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole recall "
            f"guarantee with {SIMHASH_PAIR_BANDS} bands (needs < bands)"
        )
    s = sims if sims is not None else simhash(df, id_col, text_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * band)
                .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                .alias("bval"),
            )
            for band in range(SIMHASH_PAIR_BANDS)
        ]
    )
    bands = s.select("id", "simhash", F.explode(band_structs).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_arrow(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash via Arrow-batched mapInPandas — bit-identical to
    ``simhash`` (asserted in tests), different execution profile.

    The JVM path multiplies rows ×60 (bit explode) and pays two
    doc-keyed shuffles; this variant is a single NARROW pass — no
    explode, no shuffle, numpy bit arithmetic per batch — so it wins
    when documents are long (the explode volume scales with
    tokens×60) or when the cluster is shuffle-bound. The hash is the
    same md5-prefix construction, so either implementation can feed
    the same downstream hamming bucketing.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    def compute(batches):
        for pdf in batches:
            out_ids, out_sim = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = set(_re.findall(r"[a-z0-9]+", (t or "").lower()))
                if not toks:
                    # parity with the JVM path: a token-less doc explodes
                    # to ZERO rows there and never reaches the output —
                    # emitting (id, 0) here made every pair of empty docs
                    # a hamming-0 "near-duplicate" on this twin only
                    continue
                acc = np.zeros(SIMHASH_BITS, dtype=np.int64)
                for tok in toks:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    acc += np.where((h >> bit_idx) & 1 == 1, 1, -1)
                out_ids.append(i)
                out_sim.append(int(((acc > 0).astype(np.int64) << bit_idx).sum()))
            yield pd.DataFrame(
                {
                    "id": np.asarray(out_ids, dtype=np.int64),
                    "simhash": np.asarray(out_sim, dtype=np.int64),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        compute, "id bigint, simhash bigint"
    )
