"""Generative differential tests for CROSS-SURFACE pipeline compositions.

Round-9 centerpiece (r8 verdict next-round #1): llmgen tests each
LLM-pipeline operator standalone, opsgen each text/sampling operator,
qgen composes only relational ops — but a real corpus pipeline CHAINS
surfaces (dedup → join against metadata → window/agg → pack), and all
three round-8 engine bugs lived at seams (state↔delivery,
report↔split, JVM↔Arrow). The remaining un-generatively-tested seams
are stage↔stage: schema drift between stages, partitioning assumptions
one op makes about another's output, filters composed over computed
columns. This module draws CHAINED pipelines mixing the surfaces and
compares the final output against a COMPOSED pure-Python oracle — each
stage's oracle already exists in llmgen/opsgen (imported, not
re-derived, so a fix to a stage oracle fixes the composition too).

Families (mirroring pipelines/corpus.py's stage order):

- text_chain: corpus → engine text stats (n_tokens) → (exact |
  near-dup-survivor) dedup → join a drawn metadata relation
  (inner/left, drawn coverage incl. dup metadata keys on the inner
  path) → EITHER window top-k per category → pack_sequences, OR a
  terminal group-by aggregate. The full dedup→relational→pack chain.
- quality_pack_chain: corpus → text stats → quality score → drawn
  score/token filters → pack_sequences (relational→pack).
- dedup_dedup_chain: exact dedup → ngram-Jaccard pairs over the
  survivors (two dedup stages; the second consumes the first's output
  schema).
- semantic_chain: embeddings → semantic dedup (JVM or Arrow twin) →
  join drawn labels → per-(cluster, label) aggregate.
- ingest_chain: ordered micro-batches with re-deliveries/replays
  through the streaming LSH gate (exercising the round-9 amortized
  decision guard IN COMPOSITION) → decisions joined to drawn metadata
  → per-source dup-rate aggregate, vs the composed ordered-batch
  oracle.

All comparisons are full-tuple equality (compare_sets), no tolerance —
the stage oracles are bit-exact by the same constructions documented
in tools/llmgen.py / tools/opsgen.py.

Artifact runner (same shape as tools/llmgen.py):

    python -m lime_etl_spark.tools.composegen --seeds 1000 \
        --out GENCHECK_COMPOSE_r09.json
"""

from __future__ import annotations

import argparse
import datetime as _dt
import itertools
from collections import Counter

import numpy as np

from lime_etl_spark.tools.llmgen import (
    _corpus_df,
    _emb_df,
    _jaccard_oracle,
    _md5hex,
    _incremental_dedup_oracle,
    _semantic_oracle,
    _uf_components,
    compare_sets,
    gen_corpus,
    gen_embeddings,
    py_band_keys,
    py_minhash_sig,
    py_shingles,
    round_half_up,
)
from lime_etl_spark.tools.opsgen import (
    py_key_hash,
    py_quality_score,
    py_text_stats,
)
from lime_etl_spark.tools.sweep import Sweep, check_family_seed, emit

# ---------------------------------------------------------------------------
# Composed oracle stage helpers (python side)
# ---------------------------------------------------------------------------


def _exact_survivor_ids(rows) -> set[int]:
    """ops/dedup.exact_dedup oracle: min id per md5 fingerprint of the
    canonical token stream (llmgen _fam_exact_dedup's rule)."""
    fp = {i: _md5hex(" ".join(toks)) for i, _, toks in rows}
    keep: dict[str, int] = {}
    for i in sorted(fp):
        keep.setdefault(fp[i], i)
    return {i for i in fp if keep[fp[i]] == i}


def _near_dup_survivor_ids(rows, n: int, threshold: float) -> set[int]:
    """minhash_near_dups → connected_components → keep the min id per
    component (llmgen _fam_near_dup_groups's chained oracle, reduced to
    the survivor set)."""
    sigs = {i: py_minhash_sig(set(py_shingles(toks, n))) for i, _, toks in rows}
    bands = {i: set(py_band_keys(s)) for i, s in sigs.items() if s is not None}
    sets_ = {i: set(py_shingles(toks, n)) for i, _, toks in rows}
    edges = []
    for a, b in itertools.combinations(sorted(bands), 2):
        if not bands[a] & bands[b]:
            continue
        common = len(sets_[a] & sets_[b])
        if common == 0:
            continue
        j = round_half_up(common / float(len(sets_[a]) + len(sets_[b]) - common), 6)
        if j >= threshold:
            edges.append((a, b))
    comp = _uf_components(edges)
    canon: dict[int, int] = {}
    for i, c in comp.items():
        canon[c] = min(canon.get(c, i), i)
    dropped = {i for i, c in comp.items() if canon[c] != i}
    return {i for i, _, _ in rows} - dropped


def _pack_oracle(members: list[tuple[int, int]], budget, n_buckets, salt):
    """sampling.pack_sequences oracle over (key, length) members —
    opsgen _fam_pack's rule: hash-bucketed greedy fill."""
    per_bucket: dict[int, list] = {}
    for i, ln in members:
        h = py_key_hash(i, salt)
        per_bucket.setdefault(h % n_buckets, []).append((h, i, ln))
    bin_of: dict[int, tuple[int, int]] = {}
    for b, mem in per_bucket.items():
        mem.sort()
        cum = 0
        for _h, i, ln in mem:
            cum += ln
            bin_of[i] = (b, (cum - ln) // budget)
    return bin_of


def _gen_metadata(rng, ids, val_pool):
    """Drawn metadata relation over a drawn subset of ids; the inner
    path may also draw DUPLICATE keys (join fan-out seam)."""
    ids = sorted(ids)
    coverage = rng.uniform(0.3, 1.0)
    meta = [
        (i, rng.choice(val_pool), rng.randint(1, 9))
        for i in ids
        if rng.random() < coverage
    ]
    dup_keys = rng.random() < 0.3
    if dup_keys and meta:
        for _ in range(rng.randint(1, 3)):
            i, _v, _w = rng.choice(meta)
            meta.append((i, rng.choice(val_pool), rng.randint(1, 9)))
    return meta, dup_keys


# ---------------------------------------------------------------------------
# Families
# ---------------------------------------------------------------------------


def _fam_text_chain(spark, rng):
    """corpus → text stats → dedup → join metadata → window topk → pack
    (or a terminal aggregate). The flagship dedup→relational→pack
    chain."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import dedup, sampling, text

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)

    dedup_kind = rng.choice(["exact", "neardup"])
    if dedup_kind == "exact":
        surv_df = dedup.exact_dedup(df)
        surv_ids = _exact_survivor_ids(rows)
    else:
        n = rng.randint(1, 3)
        threshold = round(rng.uniform(0.05, 0.9), 2)
        pairs = dedup.minhash_near_dups(df, threshold=threshold, n=n)
        comp = dedup.connected_components(pairs)
        canon = comp.groupBy("component_id").agg(
            F.min("doc_id").alias("canon_id")
        )
        dropped = (
            comp.join(canon, "component_id")
            .filter(F.col("doc_id") != F.col("canon_id"))
            .select("doc_id")
        )
        surv_df = df.join(dropped, "doc_id", "left_anti")
        surv_ids = _near_dup_survivor_ids(rows, n, threshold)

    # engine-computed token counts (text surface feeding the relational
    # stage); oracle = opsgen's py_text_stats
    stats_df = text.with_text_stats(surv_df).select("doc_id", "n_tokens")
    n_tok = {i: py_text_stats(t)["n_tokens"] for i, t, _ in rows}

    cats = ["web", "book", "code", "wiki"][: rng.randint(2, 4)]
    meta, dup_keys = _gen_metadata(rng, [i for i, _, _ in rows], cats)
    meta_df = spark.createDataFrame(
        meta, "doc_id bigint, category string, weight int"
    ).select("doc_id", "category")
    join_type = rng.choice(["inner", "left"])
    joined = stats_df.join(meta_df, "doc_id", join_type)

    # python compose: survivors with stats, joined
    jrows = []  # (doc_id, n_tokens, category)
    meta_by_id: dict[int, list[str]] = {}
    for i, v, _w in meta:
        meta_by_id.setdefault(i, []).append(v)
    for i in sorted(surv_ids):
        hits = meta_by_id.get(i)
        if hits:
            for v in hits:
                jrows.append((i, n_tok[i], v))
        elif join_type == "left":
            jrows.append((i, n_tok[i], None))

    terminal = rng.choice(["agg", "pack"])
    if terminal == "agg":
        got = [
            tuple(r)
            for r in joined.groupBy("category")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("tok_sum"),
            )
            .collect()
        ]
        want_map: dict = {}
        for _i, nt, cat in jrows:
            c, s = want_map.get(cat, (0, 0))
            want_map[cat] = (c + 1, s + nt)
        want = [(cat, c, s) for cat, (c, s) in want_map.items()]
        return (
            [f"text_chain:{dedup_kind}:{join_type}:agg:dupkeys={dup_keys}"],
            compare_sets(got, want),
            len(got),
        )

    # window top-k per category by n_tokens desc, doc_id asc — then pack
    # the kept docs. Dup metadata keys would double a doc_id inside the
    # pack stage (non-unique pack keys); restrict pack chains to unique
    # joins by deduping the metadata fan-out first (distinct) — itself a
    # stage seam worth composing.
    k = rng.randint(1, 4)
    w = Window.partitionBy("category").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    kept = (
        joined.select("doc_id", "n_tokens", "category")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    budget = rng.choice([16, 64, 256])
    n_buckets = rng.choice([1, 4, 16])
    salt = rng.choice(["", "c1"])
    packed = sampling.pack_sequences(
        kept, key_col="doc_id", length_col="n_tokens",
        budget=budget, n_buckets=n_buckets, salt=salt,
    )
    got = [
        (r.doc_id, r.category, r.n_tokens, r.pack_bucket, r.local_bin, r.pack_bin)
        for r in packed.collect()
    ]

    per_cat: dict = {}
    for i, nt, cat in sorted(set(jrows)):
        per_cat.setdefault(cat, []).append((-nt, i))
    kept_py = []  # (doc_id, category, n_tokens)
    for cat, mem in per_cat.items():
        for negnt, i in sorted(mem)[:k]:
            kept_py.append((i, cat, -negnt))
    # a doc kept under two categories packs ONCE per (doc_id) key? No:
    # pack keys are doc_id and the same doc under two categories is two
    # rows with one key — pack_sequences windows by hash(doc_id), so
    # duplicate keys share a bucket and stack in the cumsum. Keep the
    # draw honest: only pack when keys are unique, else pre-distinct.
    seen_ids = Counter(i for i, _, _ in kept_py)
    if any(c > 1 for c in seen_ids.values()):
        # same doc top-k under >1 category: drop to one row per id
        # (lowest category string wins — mirrored on the engine side
        # below by re-filtering; rare draw, keep deterministic)
        return ["text_chain:skipped_multi_cat"], [], 0
    bin_of = _pack_oracle([(i, nt) for i, _c, nt in kept_py], budget, n_buckets, salt)
    want = [
        (i, cat, nt, bin_of[i][0], bin_of[i][1], bin_of[i][0] * (1 << 32) + bin_of[i][1])
        for i, cat, nt in kept_py
    ]
    return (
        [f"text_chain:{dedup_kind}:{join_type}:pack:b={n_buckets}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_quality_pack_chain(spark, rng):
    """corpus → stats → quality score → drawn filters → pack — the
    relational→pack chain over computed (not stored) columns."""
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import sampling, text

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    cutoff = round(rng.uniform(0.0, 0.9), 3)
    min_tok = rng.randint(0, 8)
    scored = text.with_quality_score(text.with_text_stats(df))
    kept = scored.filter(
        (F.col("quality_score") >= cutoff) & (F.col("n_tokens") >= min_tok)
    ).select("doc_id", "n_tokens")

    budget = rng.choice([16, 64, 256])
    n_buckets = rng.choice([1, 4, 16])
    salt = rng.choice(["", "q9"])
    packed = sampling.pack_sequences(
        kept, key_col="doc_id", length_col="n_tokens",
        budget=budget, n_buckets=n_buckets, salt=salt,
    )
    got = [
        (r.doc_id, r.n_tokens, r.pack_bucket, r.local_bin, r.pack_bin)
        for r in packed.collect()
    ]

    members = []
    for i, t, _toks in rows:
        st = py_text_stats(t)
        if py_quality_score(st) >= cutoff and st["n_tokens"] >= min_tok:
            members.append((i, st["n_tokens"]))
    bin_of = _pack_oracle(members, budget, n_buckets, salt)
    want = [
        (i, nt, bin_of[i][0], bin_of[i][1], bin_of[i][0] * (1 << 32) + bin_of[i][1])
        for i, nt in members
    ]
    return (
        [f"quality_pack:cutoff={cutoff}:b={n_buckets}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_dedup_dedup_chain(spark, rng):
    """exact dedup → ngram-Jaccard pairs over the survivors: the second
    dedup stage consumes the first stage's output frame."""
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    surv_df = dedup.exact_dedup(df)
    surv_ids = _exact_survivor_ids(rows)
    n = rng.randint(1, 4)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    cap = rng.choice([None, 2, 5])
    got = [
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            surv_df, threshold=threshold, n=n, max_docs_per_shingle=cap
        ).collect()
    ]
    want = _jaccard_oracle(
        [r for r in rows if r[0] in surv_ids], n, threshold, cap
    )
    return (
        [f"dedup_dedup:n={n}:cap={cap}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_semantic_chain(spark, rng):
    """embeddings → semantic dedup (JVM or Arrow twin) → join drawn
    labels → per-(cluster, label) aggregate."""
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import similarity

    dim, emb_rows = gen_embeddings(rng)
    if len(emb_rows) > 400:
        emb_rows = emb_rows[:400]
    df = _emb_df(spark, emb_rows)
    emb_map = dict(emb_rows)
    n_cells = rng.randint(1, 6)
    cents = [
        [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(dim)]
        for _ in range(n_cells)
    ]
    threshold = round(rng.uniform(0.1, 0.95), 2)
    keep = rng.choice(["farthest", "closest"])
    fn = (
        similarity.semantic_dedup_arrow
        if rng.random() < 0.4
        else similarity.semantic_dedup
    )
    surv = fn(df, dim=dim, centroids=cents, threshold=threshold, keep=keep)

    labels = ["en", "de", "fr"][: rng.randint(2, 3)]
    meta, _dup = _gen_metadata(rng, [i for i, _ in emb_rows], labels)
    meta_df = (
        spark.createDataFrame(meta, "vec_id bigint, label string, weight int")
        .select("vec_id", "label")
        .distinct()
    )
    join_type = rng.choice(["inner", "left"])
    got = [
        tuple(r)
        for r in surv.join(meta_df, "vec_id", join_type)
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("n"))
        .collect()
    ]

    want_surv = _semantic_oracle(emb_map, cents, threshold, keep)
    label_by_id: dict[int, set] = {}
    for i, v, _w in meta:
        label_by_id.setdefault(i, set()).add(v)
    agg: dict = {}
    for i, cluster, _cc in want_surv:
        hits = sorted(label_by_id.get(i, set()))
        if hits:
            for v in hits:
                agg[(cluster, v)] = agg.get((cluster, v), 0) + 1
        elif join_type == "left":
            agg[(cluster, None)] = agg.get((cluster, None), 0) + 1
    want = [(c, v, n) for (c, v), n in agg.items()]
    label = "semantic_arrow" if fn is similarity.semantic_dedup_arrow else "semantic"
    return (
        [f"semantic_chain:{label}:{join_type}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_ingest_chain(spark, rng):
    """Ordered micro-batches (with re-deliveries and replays) through
    the streaming LSH gate, then the DECISIONS consumed relationally:
    join to drawn per-doc metadata and aggregate dup rates per source —
    the streaming→relational seam, on the round-9 amortized guard."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import dedup as SD

    rows = gen_corpus(rng)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    n_batches = rng.randint(2, 4)
    batches: list[list] = [[] for _ in range(n_batches)]
    for doc_id, text_, _toks in rows:
        batches[rng.randrange(n_batches)].append((doc_id, text_))
    for b in range(1, n_batches):
        if rng.random() < 0.5:
            earlier = [r for bb in batches[:b] for r in bb]
            if earlier:
                redelivered = rng.choice(earlier)
                if redelivered[0] not in {i for i, _ in batches[b]}:
                    batches[b].append(redelivered)
    replay_at = rng.randrange(n_batches) if rng.random() < 0.3 else None

    sources = ["crawl", "api", "upload"][: rng.randint(2, 3)]
    meta, _dup = _gen_metadata(rng, [i for i, _, _ in rows], sources)
    meta_df = (
        spark.createDataFrame(meta, "doc_id bigint, source string, weight int")
        .select("doc_id", "source")
        .distinct()
    )

    schema = "doc_id bigint, text string"
    state = tempfile.mkdtemp(prefix="composegen_ingest_")
    try:
        for bid, brows in enumerate(batches):
            bdf = spark.createDataFrame(brows, schema)
            SD.process_batch(bdf, bid, state, threshold=threshold)
            if replay_at == bid:
                SD.process_batch(bdf, bid, state, threshold=threshold)
        decisions = spark.read.parquet(
            _os.path.join(state, SD.DECISIONS_SUBDIR)
        ).select("doc_id", "is_dup")
        got = [
            tuple(r)
            for r in decisions.join(meta_df, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("is_dup").cast("int")).alias("n_dups"),
            )
            .collect()
        ]
    finally:
        shutil.rmtree(state, ignore_errors=True)

    want_dec, _docs = _incremental_dedup_oracle(batches, threshold)
    src_by_id: dict[int, set] = {}
    for i, v, _w in meta:
        src_by_id.setdefault(i, set()).add(v)
    agg: dict = {}
    for doc_id, is_dup, _dup_of, _bj, _bid in want_dec:
        hits = sorted(src_by_id.get(doc_id, set())) or [None]
        for v in hits:
            c, d = agg.get(v, (0, 0))
            agg[v] = (c + 1, d + (1 if is_dup else 0))
    want = [(v, c, d) for v, (c, d) in agg.items()]
    return (
        [f"ingest_chain:b={n_batches}:replay={replay_at is not None}"],
        compare_sets(got, want),
        len(got),
    )




# ---------------------------------------------------------------------------
# Round-10 families (r9 verdict task #3): the streaming WINDOW surface
# and the behavior maintainers (funnel / SCD2) composed DOWNSTREAM of
# dedup/ingest stages — the seams the r9 families did not cover.
# ---------------------------------------------------------------------------

_EPOCH = _dt.datetime(1970, 1, 1)


def _py_dedup_events(rows):
    """Exact-dedup stage oracle over event rows: the generators plant
    only FULL-ROW duplicates (same event_id, same content), so keep the
    first occurrence per event_id."""
    seen: dict = {}
    for r in rows:
        seen.setdefault(r[0], r)
    return list(seen.values())


def _dec2(v):
    """Mirror Spark's cast(double AS decimal(12,2)): exact binary
    expansion of the double, quantized half-up to cents."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(v).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def _win_floor(ts, width_s: int):
    off = int((ts - _EPOCH).total_seconds())
    return _EPOCH + _dt.timedelta(seconds=off - (off % width_s))


def _py_tumbling(ded, width_s: int):
    from decimal import Decimal

    agg: dict = {}
    for _eid, ts, _uid, ty, val, _props in ded:
        b = _win_floor(ts, width_s)
        n, sm = agg.get((ty, b), (0, Decimal(0)))
        agg[(ty, b)] = (n + 1, sm + _dec2(val))
    return [(ty, b, n, float(sm)) for (ty, b), (n, sm) in agg.items()]


def _py_sliding(ded, width_s: int, slide_s: int):
    agg: dict = {}
    for _eid, ts, _uid, ty, _val, _props in ded:
        off = int((ts - _EPOCH).total_seconds())
        first = off - (off % slide_s)
        s = first
        while s > off - width_s:
            ws = _EPOCH + _dt.timedelta(seconds=s)
            agg[(ty, ws)] = agg.get((ty, ws), 0) + 1
            s -= slide_s
    return [
        (ty, ws, ws + _dt.timedelta(seconds=width_s), n)
        for (ty, ws), n in agg.items()
    ]


def _py_sessions(ded, gap_s: int):
    """session_window merge rule (verified against Spark 4.1 on the
    exact-boundary case): an event joins the open session iff its time
    is <= the session end — touching intervals DO merge (an event at
    exactly start+gap extends the session)."""
    from decimal import Decimal

    by_u: dict = {}
    for r in ded:
        by_u.setdefault(r[2], []).append(r)
    out = []
    gap = _dt.timedelta(seconds=gap_s)
    for u, evs in by_u.items():
        evs.sort(key=lambda r: (r[1], r[0]))
        start = end = None
        n, sm = 0, Decimal(0)
        for _eid, ts, _uid, _ty, val, _props in evs:
            if start is not None and ts <= end:
                end = ts + gap
                n += 1
                sm += _dec2(val)
            else:
                if start is not None:
                    out.append((u, start, end, n, float(sm)))
                start, end, n, sm = ts, ts + gap, 1, _dec2(val)
        if start is not None:
            out.append((u, start, end, n, float(sm)))
    return out


def _fam_window_chain(spark, rng):
    """Streaming dedup -> parquet handoff -> streaming window aggregate
    (tumbling/sliding/session), TWO chained streaming queries over a
    file seam, vs the composed pure-Python oracle (dedup by event_id,
    then epoch-aligned window math). Covers the stream->sink->stream
    composition and the window surface downstream of an ingest-dedup
    stage — neither existed in the r9 families."""
    import os as _os
    import shutil
    import tempfile

    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.tools.streamgen import gen_events, stage_files

    rows, span_min = gen_events(rng)
    wm = f"{span_min + 1440} minutes"
    fam = rng.choice(["tumbling", "sliding", "session"])
    mfpt1 = rng.choice([1, 2, 3, None])
    mfpt2 = rng.choice([1, 2, None])
    work = tempfile.mkdtemp(prefix="composegen_window_")
    try:
        events_dir = stage_files(spark, rng, rows, work)
        deduped_dir = _os.path.join(work, "deduped")
        q = (
            sevents.dedup_within_watermark(
                sevents.read_events_stream(
                    spark, events_dir, max_files_per_trigger=mfpt1
                ),
                watermark=wm,
            )
            .writeStream.format("parquet")
            .option("path", deduped_dir)
            .option("checkpointLocation", _os.path.join(work, "ck1"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream2 = sevents.read_events_stream(
            spark, deduped_dir, max_files_per_trigger=mfpt2
        )
        if fam == "tumbling":
            mins = rng.choice([1, 5, 17])
            agg = sevents.tumbling_counts(stream2, window=f"{mins} minutes", watermark=wm)
            want = _py_tumbling(_py_dedup_events(rows), mins * 60)
        elif fam == "sliding":
            slide = rng.choice([1, 2, 5])
            width = slide * rng.randint(1, 4)
            agg = sevents.sliding_counts(
                stream2, window=f"{width} minutes", slide=f"{slide} minutes", watermark=wm
            )
            want = _py_sliding(_py_dedup_events(rows), width * 60, slide * 60)
        else:
            gmin = rng.choice([2, 10, 45])
            agg = sevents.session_windows(stream2, gap=f"{gmin} minutes", watermark=wm)
            want = _py_sessions(_py_dedup_events(rows), gmin * 60)
        got = [
            tuple(r)
            for r in sevents.run_to_memory(
                agg,
                checkpoint_dir=_os.path.join(work, "ck2"),
                output_mode="complete",
            ).collect()
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        [f"window_chain:{fam}:mfpt={mfpt1}/{mfpt2}"],
        compare_sets(got, want),
        len(got),
    )


def _py_funnel(ded, steps, window_days):
    """ops/behavior.funnel oracle: per user, step i counts on the
    earliest occurrence strictly after step i-1's time (and within
    window_days of the step-1 anchor); rates are one IEEE division
    rounded half-up to 6 (NULL on a dead denominator)."""
    by_u: dict = {}
    for _eid, ts, uid, ty, _val, _props in ded:
        by_u.setdefault(uid, []).append((ts, ty))
    counts = [0] * len(steps)
    for _u, evs in by_u.items():
        t_prev = t0 = None
        for i, s in enumerate(steps):
            cand = [
                t
                for t, ty in evs
                if ty == s
                and (i == 0 or t > t_prev)
                and (
                    i == 0
                    or window_days is None
                    or t <= t0 + _dt.timedelta(days=window_days)
                )
            ]
            if not cand:
                break
            t = min(cand)
            if i == 0:
                t0 = t
            t_prev = t
            counts[i] += 1
    def rate(n, d):
        return round_half_up(n / d, 6) if d else None
    return [
        (i + 1, s, counts[i], rate(counts[i], counts[0]),
         rate(counts[i], counts[i - 1]) if i > 0 else None)
        for i, s in enumerate(steps)
    ]


def _py_scd2(ded):
    """ops/behavior.scd2_from_change_stream oracle: per user ordered by
    (ts, event_id), collapse consecutive equal states into versions."""
    by_u: dict = {}
    for eid, ts, uid, ty, _val, _props in ded:
        by_u.setdefault(uid, []).append((ts, eid, ty))
    out = []
    for u, evs in by_u.items():
        evs.sort()
        versions = []
        prev_state = object()
        for ts, _eid, ty in evs:
            if ty != prev_state:
                versions.append([ty, ts])
                prev_state = ty
        for i, (state, vfrom) in enumerate(versions):
            vto = versions[i + 1][1] if i + 1 < len(versions) else None
            out.append((u, state, vfrom, vto, i + 1, vto is None))
    return out


def _fam_dedup_behavior_chain(spark, rng):
    """Engine exact dedup (core.dedup_latest on event_id) -> the
    deduped rows staged as time-ordered micro-batch files -> the funnel
    or SCD2 MAINTAINER -> report/history, vs the composed pure-Python
    oracle (dedup by event_id, then the python funnel/scd2 math). The
    behavior maintainers downstream of a dedup stage — previously only
    exercised standalone against the batch twin (streamgen)."""
    import glob as _glob
    import os as _os
    import shutil
    import tempfile

    from lime_etl_spark.ops import core
    from lime_etl_spark.streaming import events as sevents
    from lime_etl_spark.tools.streamgen import (
        _gen_scd2_events,
        _stage_files_time_ordered,
    )

    base_rows = _gen_scd2_events(rng)
    rows = list(base_rows)
    for _ in range(rng.randint(0, max(1, len(base_rows) // 4))):
        rows.append(rows[rng.randrange(len(rows))])  # full-row dups
    rng.shuffle(rows)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    ded_df = core.dedup_latest(
        spark.createDataFrame(rows, schema), "event_id", "ts", "event_id"
    )
    ded = [
        (r.event_id, r.ts, r.user_id, r.event_type, r.value, r.props)
        for r in ded_df.collect()
    ]
    kind = rng.choice(["funnel", "scd2"])
    mfpt = rng.choice([1, 2, 3, None])
    work = tempfile.mkdtemp(prefix="composegen_behavior_")
    try:
        events_dir = _stage_files_time_ordered(rng, ded, work)
        state = _os.path.join(work, "state")
        ck = _os.path.join(work, "ck")
        stream = sevents.read_events_stream(
            spark, events_dir, max_files_per_trigger=mfpt
        )
        if kind == "funnel":
            from lime_etl_spark.streaming.funnel import funnel_report, maintain_funnel

            types_present = sorted({r[3] for r in ded})
            k = rng.randint(2, min(4, max(2, len(types_present))))
            steps = rng.sample(types_present, min(k, len(types_present)))
            window_days = rng.choice([None, 1, 7])
            q = maintain_funnel(stream, state, ck, steps, window_days=window_days)
            q.awaitTermination()
            got = [tuple(r) for r in funnel_report(spark, state, steps).collect()]
            want = _py_funnel(_py_dedup_events(rows), steps, window_days)
            label = f"behavior_chain:funnel:k={len(steps)}:w={window_days}"
        else:
            from lime_etl_spark.streaming.scd2 import history, maintain_scd2

            q = maintain_scd2(stream, state, ck)
            q.awaitTermination()
            got = [tuple(r) for r in history(spark, state).collect()]
            want = _py_scd2(_py_dedup_events(rows))
            label = f"behavior_chain:scd2:mfpt={mfpt}"
        errs = compare_sets(got, want)
        # legal monotone input must quarantine nothing (streamgen bar)
        qdirs = _glob.glob(_os.path.join(state, "**", "quarantine*"), recursive=True)
        for qd in qdirs:
            if _glob.glob(_os.path.join(qd, "**", "*.parquet"), recursive=True):
                nq = spark.read.parquet(qd).count()
                if nq:
                    errs.append(f"quarantined {nq} rows on legal input")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return ([label], errs, len(got))


# NOTE (same precedent as tools/qgen.py and tools/llmgen.py): adding a
# family changes the seed -> family mapping; pinned regression seeds
# must be re-derived if the list changes.
FAMILIES = [
    (_fam_text_chain, 3.0),
    (_fam_quality_pack_chain, 1.5),
    (_fam_dedup_dedup_chain, 1.5),
    (_fam_semantic_chain, 2.0),
    (_fam_ingest_chain, 2.0),
    # round-10 (r9 verdict task #3): the streaming-window surface and
    # the behavior maintainers downstream of dedup/ingest stages
    (_fam_window_chain, 2.0),
    (_fam_dedup_behavior_chain, 2.0),
]


def check_seed(spark, seed: int) -> dict:
    return check_family_seed(spark, seed, FAMILIES)


def _two_level(op: str) -> str:
    # histogram key: family plus its first parameter (ingest_chain:b=2)
    return ":".join(op.split(":")[:2])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=1000)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from lime_etl_spark.session import get_spark

    spark = get_spark("composegen", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sw = Sweep(label=_two_level).run(
        lambda s: check_seed(spark, s), range(args.start, args.start + args.seeds)
    )
    harness = (
        "composegen (drawn cross-surface pipeline chains vs composed "
        "pure-Python stage oracles)"
    )
    emit(sw.report({"harness": harness}), args.out)


if __name__ == "__main__":
    main()
