"""Generative differential tests for the LLM-pipeline operator surface.

Round-8 centerpiece (r7 verdict next-round #1): the relational
generator (tools/qgen.py, 20,150 seeds by round-7 end) never touches
the ~3,200 LoC of custom dedup/similarity logic — ngram-Jaccard,
MinHash-LSH, SimHash, semantic dedup, ANN. This module closes that gap
the same way: per seed, draw a RANDOM corpus (doc counts, lengths,
vocab sizes, duplication rates, rendering noise) or a random embedding
set (dims, cluster structure, exact dups, zero vectors) plus random
operator parameters (shingle n, thresholds, k, n_planes, multi_probe,
df caps), run the distributed operator, and compare EXACTLY against a
brute-force pure-Python oracle.

Why exact comparison is possible: every hash in the dedup surface is
an md5 construction (``_hash28``/``_hash60``/band keys — see
ops/dedup.py), every rounding is pinned half-away-from-zero
(``F.round``), every dot product is a sequential left fold
(``similarity._dot`` = ``F.aggregate(zip_with(·,·,*), 0.0, +)``), and
the LSH hyperplanes come from an integer LCG — all replicable
bit-for-bit in CPython/numpy. The one approximation: the engine's
Jaccard keys shingles by xxhash64 while the oracle uses the shingle
strings; a collision among ≤ a few hundred shingles per seed has
probability ~1e-16 per seed and would surface as a loud mismatch.
Where the engine path is Arrow/numpy (semantic-dedup assignment), the
oracle calls THE SAME numpy expressions, so the float semantics are
identical by construction, not by tolerance — and since round 9 the
shared-expression gap itself is closed by the --independent-math sweep
(independent_math_seed): every returned cosine/cent_cos is
re-derived with mpmath at 60 significant digits and the engine's pinned
half-away rounding replicated in arbitrary precision, exact except
within 1e-12 of a rounding boundary (counted, never silently passed).

Invariants checked per family (all full-tuple equality, no tolerance):

- exact_dedup / exact_groups: survivors == min-id-per-fingerprint.
- ngram_jaccard (self-join mode): pairs == brute-force Jaccard with
  the documented cap semantics (commons over the df-capped universe,
  TRUE set sizes — the cap may hide pairs, never promote them).
- minhash_sigs: all 16 signature columns == the md5/LCG permutation
  minima.
- minhash_cands: pairs == brute-force band-key sharing, AND ⊇ every
  exact-duplicate pair (identical signatures share all bands).
- minhash_near_dups: == candidates ∩ (true-set Jaccard ≥ threshold).
- simhash (JVM + Arrow twin): signatures == the ±1 bit-vote oracle.
- simhash_pairs: == ALL pairs at hamming ≤ max_hamming (the 4×15-bit
  pigeonhole makes band candidate generation lossless below 4).
- cosine_topk: == brute-force top-k under (round6 score desc, id asc).
- lsh_topk / lsh_search (index path): == brute-force top-k within the
  probed bucket set, buckets from the replicated LCG hyperplanes;
  at multi_probe == n_planes additionally == exact cosine_topk.
- semantic (JVM + Arrow twin, drawn centroids/threshold/keep): ==
  the SemDeDup upper-triangular pruning oracle.
- ivf_full_probe: ivf_search at nprobe == n_cells == cosine_topk
  (probing every cell is exhaustive by construction).

Artifact runner (same shape as tools/gencheck.py):

    python -m lime_etl_spark.tools.llmgen --seeds 2500 \
        --out GENCHECK_LLM_r08.json
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import math
import random
import re
from collections import Counter

import numpy as np

from lime_etl_spark.ops.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PERMS,
    MOD_P,
    PERM_A,
    PERM_B,
    SIMHASH_BITS,
)
from lime_etl_spark.tools.sweep import Sweep, check_family_seed, emit, failed

# ---------------------------------------------------------------------------
# Pure-Python reference primitives (the oracle side)
# ---------------------------------------------------------------------------


def py_tokens(text: str) -> list[str]:
    """ops/text.py tokens(): maximal lowercase [a-z0-9] runs."""
    return re.findall(r"[a-z0-9]+", (text or "").lower())


def py_shingles(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _md5hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def py_h28(s: str) -> int:
    return int(_md5hex(s)[:7], 16)


def py_h60(s: str) -> int:
    return int(_md5hex(s)[:15], 16)


def round_half_up(x: float, digits: int) -> float:
    """F.round semantics for doubles: half away from zero."""
    scale = 10.0**digits
    if x >= 0:
        return math.floor(x * scale + 0.5) / scale
    return -math.floor(-x * scale + 0.5) / scale


def dot_seq(a, b) -> float:
    """similarity._dot: sequential left fold of pairwise products."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def gnorm(v) -> float:
    return max(math.sqrt(dot_seq(v, v)), 1e-150)


def cos_round(a, b, digits: int = 6) -> float:
    return round_half_up(dot_seq(a, b) / (gnorm(a) * gnorm(b)), digits)


def py_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """similarity._hyperplanes: integer LCG, bit-for-bit."""
    planes, state = [], 123456789
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append((state / float(2**31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def py_bucket(vec, planes) -> int:
    b = 0
    for i, plane in enumerate(planes):
        if dot_seq(vec, plane) > 0:
            b += 2**i
    return b


def py_probe_buckets(bucket: int, n_planes: int, depth: int) -> set[int]:
    """home bucket + every ≤depth-bit XOR flip (similarity._probe_masks)."""
    probed = {bucket}
    for d in range(1, depth + 1):
        for combo in itertools.combinations(range(n_planes), d):
            probed.add(bucket ^ sum(2**i for i in combo))
    return probed


def py_minhash_sig(shingle_set: set[str]) -> list[int] | None:
    """ops/dedup.minhash_signatures: per-permutation minima over
    (A[j]*h28(shingle)+B[j]) mod P; docs with no shingles are dropped."""
    if not shingle_set:
        return None
    hs = [py_h28(s) for s in shingle_set]
    return [
        min((PERM_A[j] * h + PERM_B[j]) % MOD_P for h in hs)
        for j in range(MINHASH_PERMS)
    ]


def py_band_keys(sig: list[int]) -> list[tuple[int, str]]:
    """ops/dedup.minhash_bands: (band, md5 of dash-joined slice)."""
    return [
        (band, _md5hex("-".join(str(sig[band * LSH_ROWS + r]) for r in range(LSH_ROWS))))
        for band in range(LSH_BANDS)
    ]


def py_simhash(toks: list[str]) -> int | None:
    """ops/dedup.simhash: ±1 bit votes over DISTINCT tokens, bit set
    iff vote sum > 0; token-less docs never reach the output."""
    s = set(toks)
    if not s:
        return None
    acc = [0] * SIMHASH_BITS
    for tok in s:
        h = py_h60(tok)
        for b in range(SIMHASH_BITS):
            acc[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(SIMHASH_BITS) if acc[b] > 0)


# ---------------------------------------------------------------------------
# Random corpus / embedding generators
# ---------------------------------------------------------------------------

_SEPARATORS = [" ", "  ", ", ", "\t", " . ", "\n", " - ", "; ", " !! "]
_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"


def gen_corpus(rng: random.Random) -> list[tuple[int, str, list[str]]]:
    """(doc_id, rendered_text, token_list) rows: controlled duplication
    (exact via re-rendering, near via ≤3 token edits), empty and
    sub-shingle-length docs, randomized case/separator rendering that
    must normalize away under tokens().

    ``rng.big`` (set by check_seed under --big): draw 200-1,200 docs
    from a 30-200-word vocab instead of 4-60 from 4-40 — the regime
    where multi-partition shuffles, AQE coalescing, and band-bucket
    fan-out actually engage, while the brute-force oracles stay
    seconds-cheap (all-pairs on 1,200 docs is 7.2e5 set ops)."""
    big = getattr(rng, "big", False)
    vocab_n = rng.randint(30, 200) if big else rng.randint(4, 40)
    vocab = [
        "".join(rng.choice(_ALNUM) for _ in range(rng.randint(2, 7)))
        for _ in range(vocab_n)
    ]
    n_docs = rng.randint(200, 1200) if big else rng.randint(4, 60)
    token_lists: list[list[str]] = []
    for _ in range(n_docs):
        r = rng.random()
        if token_lists and r < 0.20:  # exact duplicate (re-rendered)
            toks = list(rng.choice(token_lists))
        elif token_lists and r < 0.45:  # near duplicate: ≤3 edits
            toks = list(rng.choice(token_lists))
            for _ in range(rng.randint(1, 3)):
                op = rng.choice(("sub", "ins", "del"))
                if op == "sub" and toks:
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
                elif op == "ins":
                    toks.insert(rng.randint(0, len(toks)), rng.choice(vocab))
                elif op == "del" and toks:
                    del toks[rng.randrange(len(toks))]
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        token_lists.append(toks)
    ids = rng.sample(range(1, 100_000), n_docs)
    rows = []
    for doc_id, toks in zip(ids, token_lists):
        rendered = []
        for t in toks:
            case = rng.random()
            rendered.append(t.upper() if case < 0.15 else t.title() if case < 0.3 else t)
        sep = rng.choice(_SEPARATORS)
        text = sep.join(rendered)
        if rng.random() < 0.2:
            text = rng.choice(["  ", "...", "!", ""]) + text + rng.choice(["", " .", "??"])
        rows.append((doc_id, text, toks))
    return rows


def gen_embeddings(rng: random.Random) -> tuple[int, list[tuple[int, list[float]]]]:
    """(dim, [(vec_id, float32-exact vector)]): clustered gaussians at a
    drawn noise scale, plus exact duplicates and occasional all-zero
    vectors (the gnorm guard's edge)."""
    big = getattr(rng, "big", False)
    dim = rng.choice([8, 16, 32]) if big else rng.choice([3, 4, 8, 16])
    k = rng.randint(3, 10) if big else rng.randint(1, 5)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(k)]
    sigma = rng.choice([0.01, 0.1, 0.5, 1.0])
    # big: enough vectors that buckets/cells hold real batches; the
    # semantic family caps lower (its Python prune oracle is
    # sum-of-cell^2 cosines) via _SEMANTIC_BIG_CAP
    n = rng.randint(500, 3000) if big else rng.randint(6, 80)
    vecs: list[list[float]] = []
    for _ in range(n):
        r = rng.random()
        if vecs and r < 0.10:  # exact duplicate vector, different id
            v = list(rng.choice(vecs))
        elif r < 0.05:
            v = [0.0] * dim
        else:
            c = rng.choice(centers)
            v = [c[j] + rng.gauss(0.0, sigma) for j in range(dim)]
        # float32 exactness: store what the parquet/array<float> column
        # would hold, then both engines widen to the same doubles
        vecs.append([float(np.float32(x)) for x in v])
    ids = rng.sample(range(1, 100_000), n)
    return dim, list(zip(ids, vecs))


def _corpus_df(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id bigint, text string"
    )


def _emb_df(spark, emb_rows):
    return spark.createDataFrame(
        emb_rows, "vec_id bigint, embedding array<float>"
    )


# ---------------------------------------------------------------------------
# Comparison (same canonicalization as tools/gencheck.py)
# ---------------------------------------------------------------------------


def _canon_rowset(rows):
    from lime_etl_spark.tools.gencheck import canon

    return sorted(
        (tuple(canon(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def compare_sets(spark_rows, oracle_rows) -> list[str]:
    s, o = _canon_rowset(spark_rows), _canon_rowset(oracle_rows)
    if len(s) != len(o):
        return [f"rowcount: spark={len(s)} oracle={len(o)}; "
                f"spark-only={set(s) - set(o)} oracle-only={set(o) - set(s)}"]
    bad = [(a, b) for a, b in zip(s, o) if a != b]
    if bad:
        return [f"values: first diffs {bad[:3]}"]
    return []


# ---------------------------------------------------------------------------
# Families — each returns (ops_list, mismatch_list, rows_compared)
# ---------------------------------------------------------------------------


def _fam_exact_dedup(spark, rng):
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    fp = {i: _md5hex(" ".join(toks)) for i, _, toks in rows}
    keep = {}
    for i in sorted(fp):
        keep.setdefault(fp[i], i)
    if rng.random() < 0.5:
        got = [(r.doc_id, r.text) for r in dedup.exact_dedup(df).collect()]
        want = [(i, t) for i, t, _ in rows if keep[fp[i]] == i]
        return ["exact_dedup"], compare_sets(got, want), len(got)
    got = [tuple(r) for r in dedup.exact_dedup_groups(df).collect()]
    counts = Counter(fp.values())
    want = [
        (h, keep[h], c) for h, c in counts.items() if c > 1
    ]  # (fingerprint, canonical_id, n_docs)
    # engine fingerprint is md5 of the canonical token stream — same
    # construction as the oracle's fp map
    return ["exact_groups"], compare_sets(got, want), len(got)


def _jaccard_oracle(rows, n, threshold, cap):
    sets = {i: set(py_shingles(toks, n)) for i, _, toks in rows}
    df_count: Counter = Counter()
    for s in sets.values():
        for sh in s:
            df_count[sh] += 1
    universe = {sh for sh, c in df_count.items() if cap is None or c <= cap}
    ids = sorted(sets)
    want = []
    for a, b in itertools.combinations(ids, 2):
        common = len((sets[a] & sets[b]) & universe)
        if common == 0:
            continue
        na, nb = len(sets[a]), len(sets[b])
        j = round_half_up(common / float(na + nb - common), 6)
        if j >= threshold:
            want.append((a, b, common, na, nb, j))
    return want


def _fam_ngram_jaccard(spark, rng):
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    n = rng.randint(1, 4)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    cap = rng.choice([None, 2, 3, 5, 256])
    got = [
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=threshold, n=n, max_docs_per_shingle=cap
        ).collect()
    ]
    want = _jaccard_oracle(rows, n, threshold, cap)
    return (
        [f"ngram_jaccard:n={n}:cap={cap}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_minhash(spark, rng):
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    n = rng.randint(1, 3)
    sigs = {
        i: py_minhash_sig(set(py_shingles(toks, n))) for i, _, toks in rows
    }
    sigs = {i: s for i, s in sigs.items() if s is not None}
    which = rng.random()
    if which < 0.34:
        got = [tuple(r) for r in dedup.minhash_signatures(df, n=n).collect()]
        want = [(i, *s) for i, s in sigs.items()]
        return [f"minhash_sigs:n={n}"], compare_sets(got, want), len(got)
    bands = {i: set(py_band_keys(s)) for i, s in sigs.items()}
    ids = sorted(bands)
    cand = [
        (a, b)
        for a, b in itertools.combinations(ids, 2)
        if bands[a] & bands[b]
    ]
    if which < 0.67:
        got = [tuple(r) for r in dedup.minhash_lsh_candidates(df, n=n).collect()]
        errs = compare_sets(got, cand)
        # recall floor: identical signatures share every band — every
        # exact-duplicate doc pair MUST be a candidate
        fp = {i: _md5hex(" ".join(toks)) for i, _, toks in rows if i in sigs}
        by_fp: dict[str, list[int]] = {}
        for i in sorted(fp):
            by_fp.setdefault(fp[i], []).append(i)
        must = {
            (a, b)
            for grp in by_fp.values()
            for a, b in itertools.combinations(grp, 2)
        }
        missing = must - set(got)
        if missing:
            errs.append(f"exact-dup pairs missing from candidates: {sorted(missing)[:5]}")
        return [f"minhash_cands:n={n}"], errs, len(got)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    got = [
        tuple(r)
        for r in dedup.minhash_near_dups(df, threshold=threshold, n=n).collect()
    ]
    sets = {i: set(py_shingles(toks, n)) for i, _, toks in rows}
    want = []
    for a, b in cand:
        common = len(sets[a] & sets[b])
        if common == 0:
            continue
        j = round_half_up(common / float(len(sets[a]) + len(sets[b]) - common), 6)
        if j >= threshold:
            want.append((a, b, j))
    return [f"minhash_near_dups:n={n}"], compare_sets(got, want), len(got)


def _fam_simhash(spark, rng):
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    sims = {i: py_simhash(toks) for i, _, toks in rows}
    sims = {i: s for i, s in sims.items() if s is not None}
    which = rng.random()
    if which < 0.5:
        fn = dedup.simhash_arrow if rng.random() < 0.5 else dedup.simhash
        got = [tuple(r) for r in fn(df).collect()]
        want = list(sims.items())
        return (
            [f"simhash:{'arrow' if fn is dedup.simhash_arrow else 'jvm'}"],
            compare_sets(got, want),
            len(got),
        )
    max_hamming = rng.randint(1, 3)
    got = [
        tuple(r)
        for r in dedup.simhash_near_pairs(df, max_hamming=max_hamming).collect()
    ]
    ids = sorted(sims)
    want = []
    for a, b in itertools.combinations(ids, 2):
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= max_hamming:
            want.append((a, b, ham))
    # pigeonhole (4 bands × 15 bits, max_hamming < 4): band candidate
    # generation is LOSSLESS below the bound — full equality, not ⊆
    return [f"simhash_pairs:h={max_hamming}"], compare_sets(got, want), len(got)


def _topk_oracle(emb_map, query_ids, k, allowed=None):
    want = []
    for qid in query_ids:
        qv = emb_map[qid]
        scored = [
            (cos_round(qv, cv), nid)
            for nid, cv in emb_map.items()
            if nid != qid and (allowed is None or nid in allowed.get(qid, ()))
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, nid) in enumerate(scored[:k], start=1):
            want.append((qid, nid, rank, score))
    return want


def _fam_cosine_topk(spark, rng):
    from lime_etl_spark.ops import similarity

    dim, emb_rows = gen_embeddings(rng)
    df = _emb_df(spark, emb_rows)
    emb_map = dict(emb_rows)
    qids = rng.sample(sorted(emb_map), rng.randint(1, min(8, len(emb_map))))
    k = rng.randint(1, 7)
    from pyspark.sql import functions as F

    q = df.filter(F.col("vec_id").isin(qids))
    fn = (
        similarity.cosine_topk_arrow
        if rng.random() < 0.3
        else similarity.cosine_topk
    )
    got = [tuple(r) for r in fn(q, df, k=k).collect()]
    want = _topk_oracle(emb_map, qids, k)
    label = "cosine_topk_arrow" if fn is similarity.cosine_topk_arrow else "cosine_topk"
    return [f"{label}:k={k}:dim={dim}"], compare_sets(got, want), len(got)


def _fam_lsh_topk(spark, rng):
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import similarity

    dim, emb_rows = gen_embeddings(rng)
    df = _emb_df(spark, emb_rows)
    emb_map = dict(emb_rows)
    qids = rng.sample(sorted(emb_map), rng.randint(1, min(8, len(emb_map))))
    k = rng.randint(1, 7)
    n_planes = rng.randint(2, 6)
    depth = rng.randint(0, n_planes)
    q = df.filter(F.col("vec_id").isin(qids))
    via_index = rng.random() < 0.4
    if via_index:
        idx = similarity.lsh_index(df, dim=dim, n_planes=n_planes)
        out = similarity.lsh_search(q, idx, k=k, multi_probe=depth)
    else:
        out = similarity.lsh_bucketed_topk(
            q, df, dim=dim, k=k, n_planes=n_planes, multi_probe=depth
        )
    got = [tuple(r) for r in out.collect()]
    planes = py_hyperplanes(dim, n_planes)
    buckets = {i: py_bucket(v, planes) for i, v in emb_map.items()}
    allowed = {
        qid: {
            nid
            for nid in emb_map
            if buckets[nid] in py_probe_buckets(buckets[qid], n_planes, depth)
        }
        for qid in qids
    }
    want = _topk_oracle(emb_map, qids, k, allowed=allowed)
    errs = compare_sets(got, want)
    if depth == n_planes:
        # full bucket space probed == exact search, engine-internally
        exact = [
            tuple(r) for r in similarity.cosine_topk(q, df, k=k).collect()
        ]
        errs += [
            "full-probe != cosine_topk: " + e for e in compare_sets(got, exact)
        ]
    fam = "lsh_search" if via_index else "lsh_topk"
    return (
        [f"{fam}:planes={n_planes}:depth={depth}"],
        errs,
        len(got),
    )


def _semantic_oracle(emb_map, cents_list, threshold, keep):
    """SemDeDup replication: numpy assignment VERBATIM from
    similarity._assign_cluster (same library → identical floats), then
    sequential-fold cent_cos and upper-triangular pruning."""
    cents = np.asarray(cents_list, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    ids = sorted(emb_map)
    x = np.array([emb_map[i] for i in ids], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    m = xn @ cn.T
    s = np.sign(m) * np.floor(np.abs(m) * 1e9 + 0.5) / 1e9
    cluster = {i: int(np.argmax(s[r])) for r, i in enumerate(ids)}
    cent_cos = {
        i: round_half_up(
            dot_seq(emb_map[i], cents_list[cluster[i]])
            / (gnorm(emb_map[i]) * gnorm(cents_list[cluster[i]])),
            9,
        )
        for i in ids
    }
    ranked: dict[int, list[int]] = {}
    for i in ids:
        ranked.setdefault(cluster[i], []).append(i)
    dropped = set()
    for cl, members in ranked.items():
        members.sort(
            key=lambda i: (cent_cos[i], i)
            if keep == "farthest"
            else (-cent_cos[i], i)
        )
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                if cos_round(emb_map[a], emb_map[b], 6) >= threshold:
                    dropped.add(b)
    return [
        (i, cluster[i], round_half_up(cent_cos[i], 6))
        for i in ids
        if i not in dropped
    ]


def _fam_semantic(spark, rng):
    from lime_etl_spark.ops import similarity

    dim, emb_rows = gen_embeddings(rng)
    if len(emb_rows) > 600:
        # the Python prune oracle is sum-of-cell^2 cosines; cap the
        # big-mode draw so oracle cost stays seconds, and scale cells
        # up so in-cell work is still multi-partition real
        emb_rows = emb_rows[:600]
    df = _emb_df(spark, emb_rows)
    emb_map = dict(emb_rows)
    n_cells = rng.randint(3, 12) if getattr(rng, "big", False) else rng.randint(1, 6)
    # drawn centroids (not trained): the invariant targets the pruning
    # semantics, and provided-centroid mode is the production shape for
    # reusing one clustering across snapshots
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
    got = [
        tuple(r)
        for r in fn(df, dim=dim, centroids=cents, threshold=threshold, keep=keep).collect()
    ]
    want = _semantic_oracle(emb_map, cents, threshold, keep)
    label = (
        "semantic_arrow" if fn is similarity.semantic_dedup_arrow else "semantic"
    )
    return (
        [f"{label}:cells={n_cells}:keep={keep}"],
        compare_sets(got, want),
        len(got),
    )


def _fam_ivf_full_probe(spark, rng):
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import similarity

    dim, emb_rows = gen_embeddings(rng)
    df = _emb_df(spark, emb_rows)
    qids = rng.sample([i for i, _ in emb_rows], rng.randint(1, 6))
    k = rng.randint(1, 7)
    n_clusters = rng.randint(1, 6)
    q = df.filter(F.col("vec_id").isin(qids))
    idx = similarity.ivf_index(df, dim=dim, n_clusters=n_clusters)
    got = [
        tuple(r)
        for r in similarity.ivf_search(q, idx, k=k, nprobe=n_clusters).collect()
    ]
    want = _topk_oracle(dict(emb_rows), qids, k)
    return (
        [f"ivf_full_probe:cells={n_clusters}:k={k}"],
        compare_sets(got, want),
        len(got),
    )


def _uf_components(edges) -> dict[int, int]:
    """Union-find oracle: node -> min-id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_want(edges):
    roots = _uf_components(edges)
    sizes = Counter(roots.values())
    return [(n, r, sizes[r]) for n, r in roots.items()]


def _fam_connected_components(spark, rng):
    from lime_etl_spark.ops import dedup

    # random graph shapes: sparse pairs, plus planted chains (long
    # diameter — the label-prop convergence knob) and cliques (the
    # near-dup regime: small dense components)
    ids = rng.sample(range(1, 10_000), rng.randint(4, 60))
    edges = set()
    n_rand = rng.randint(0, len(ids))
    for _ in range(n_rand):
        a, b = rng.sample(ids, 2)
        edges.add((min(a, b), max(a, b)))
    if rng.random() < 0.5 and len(ids) >= 8:  # chain
        chain = rng.sample(ids, rng.randint(5, min(30, len(ids))))
        edges.update(
            (min(a, b), max(a, b)) for a, b in zip(chain, chain[1:])
        )
    if rng.random() < 0.5 and len(ids) >= 5:  # clique
        cl = rng.sample(ids, rng.randint(3, 5))
        edges.update(
            (min(a, b), max(a, b)) for a, b in itertools.combinations(cl, 2)
        )
    edges = sorted(edges)
    algorithm = rng.choice(["label_prop", "two_phase_star"])
    if not edges:
        return [f"connected_components:{algorithm}:empty"], [], 0
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = [
        tuple(r) for r in dedup.connected_components(pairs, algorithm=algorithm).collect()
    ]
    return (
        [f"connected_components:{algorithm}"],
        compare_sets(got, _cc_want(edges)),
        len(got),
    )


def _fam_near_dup_groups(spark, rng):
    """The full composite gated as dedup_near_dup_groups: banded-LSH
    candidates -> candidate-driven exact Jaccard -> connected
    components, against the chained Python oracle."""
    from lime_etl_spark.ops import dedup

    rows = gen_corpus(rng)
    df = _corpus_df(spark, rows)
    n = rng.randint(1, 3)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    pairs = dedup.minhash_near_dups(df, threshold=threshold, n=n)
    got = [tuple(r) for r in dedup.connected_components(pairs).collect()]
    sigs = {
        i: py_minhash_sig(set(py_shingles(toks, n))) for i, _, toks in rows
    }
    bands = {i: set(py_band_keys(s)) for i, s in sigs.items() if s is not None}
    sets = {i: set(py_shingles(toks, n)) for i, _, toks in rows}
    edges = []
    for a, b in itertools.combinations(sorted(bands), 2):
        if not bands[a] & bands[b]:
            continue
        common = len(sets[a] & sets[b])
        if common == 0:
            continue
        j = round_half_up(common / float(len(sets[a]) + len(sets[b]) - common), 6)
        if j >= threshold:
            edges.append((a, b))
    return (
        [f"near_dup_groups:n={n}"],
        compare_sets(got, _cc_want(edges)),
        len(got),
    )


def _incremental_semantic_oracle(batches, cents_list, threshold, keep):
    """Pure-Python replication of streaming/semantic.process_batch run
    over an ORDERED batch sequence: per batch, numpy assignment (same
    expressions as the engine's Arrow kernel), cent_cos at 9dp, rank
    per cluster over the FULL batch (ranks are assigned before the
    prior-decision exclusion, so re-delivered ids leave rank gaps),
    vetoes from accepted members of the same cell plus higher-ranked
    surviving-or-dropped batch-mates at pair_cos 6dp >= threshold,
    dup_of = highest cos then lowest id. Returns (survivors rows,
    decisions rows) in the engine's output shapes."""
    import numpy as np

    cents = np.asarray(cents_list, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    members: list[tuple[int, int, float, list]] = []  # (id, cluster, cc9, vec)
    decided: set[int] = set()
    decisions = []
    for bid, rows in enumerate(batches):
        if not rows:
            continue
        ids = [i for i, _ in rows]
        vec = dict(rows)
        x = np.array([vec[i] for i in ids], dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        s_ = xn @ cn.T
        s_ = np.sign(s_) * np.floor(np.abs(s_) * 1e9 + 0.5) / 1e9
        cluster = {i: int(np.argmax(s_[r])) for r, i in enumerate(ids)}
        cc9 = {
            i: round_half_up(
                dot_seq(vec[i], cents_list[cluster[i]])
                / (gnorm(vec[i]) * gnorm(cents_list[cluster[i]])),
                9,
            )
            for i in ids
        }
        rk: dict[int, int] = {}
        for cl in set(cluster.values()):
            mem = [i for i in ids if cluster[i] == cl]
            mem.sort(
                key=lambda i: (cc9[i], i) if keep == "farthest" else (-cc9[i], i)
            )
            for r, i in enumerate(mem, start=1):
                rk[i] = r
        cand = [i for i in ids if i not in decided]
        for i in cand:
            vetoes = []
            for mid, mcl, _mcc, mvec in members:
                if mcl == cluster[i] and mid != i:
                    c6 = cos_round(mvec, vec[i], 6)
                    if c6 >= threshold:
                        vetoes.append((c6, mid))
            for j in cand:
                if j != i and cluster[j] == cluster[i] and rk[j] < rk[i]:
                    c6 = cos_round(vec[j], vec[i], 6)
                    if c6 >= threshold:
                        vetoes.append((c6, j))
            if vetoes:
                best = max(vetoes, key=lambda p: (p[0], -p[1]))
                decisions.append((i, True, best[1], best[0], cluster[i], bid))
            else:
                decisions.append((i, False, None, None, cluster[i], bid))
                members.append((i, cluster[i], cc9[i], vec[i]))
        decided.update(cand)
    survivors = [
        (i, cl, round_half_up(cc, 6)) for i, cl, cc, _ in members
    ]
    return survivors, decisions


def _fam_semantic_ingest(spark, rng):
    """Incremental (at-ingest) semantic dedup vs the ordered-batch
    oracle: random corpus split into random ordered micro-batches, with
    optional cross-batch re-delivery of an already-decided id and an
    optional full-batch REPLAY (process_batch called twice with the
    same batch_id) — decisions and survivors must match the oracle run
    WITHOUT the replay (replay idempotence, generatively)."""
    import os as _os
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import semantic as SS

    dim, emb_rows = gen_embeddings(rng)
    emb_rows = emb_rows[:250]
    n_cells = rng.randint(1, 6)
    cents = [
        [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(dim)]
        for _ in range(n_cells)
    ]
    threshold = round(rng.uniform(0.1, 0.95), 2)
    keep = rng.choice(["farthest", "closest"])
    n_batches = rng.randint(1, 5)
    batches: list[list] = [[] for _ in range(n_batches)]
    for row in emb_rows:
        batches[rng.randrange(n_batches)].append(row)
    for b in range(1, n_batches):
        if rng.random() < 0.4:
            earlier = [r for bb in batches[:b] for r in bb]
            if earlier:
                redelivered = rng.choice(earlier)
                if redelivered[0] not in {i for i, _ in batches[b]}:
                    batches[b].append(redelivered)
    replay_at = rng.randrange(n_batches) if rng.random() < 0.5 else None
    schema = "vec_id bigint, embedding array<float>"
    state = tempfile.mkdtemp(prefix="llmgen_sem_ingest_")
    try:
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(rows, schema)
            SS.process_batch(df, bid, state, cents, threshold=threshold, keep=keep)
            if replay_at == bid:
                SS.process_batch(df, bid, state, cents, threshold=threshold, keep=keep)
        got_surv = [tuple(r) for r in SS.survivors(spark, state).collect()]
        dec_path = _os.path.join(state, SS.DECISIONS_SUBDIR)
        got_dec = [
            tuple(r)
            for r in spark.read.parquet(dec_path)
            .select(
                "vec_id", "is_dup", "dup_of", "best_cos",
                F.col("cluster").cast("bigint").alias("cluster"),
                F.col("ingest_batch").cast("bigint").alias("ingest_batch"),
            )
            .collect()
        ]
    finally:
        shutil.rmtree(state, ignore_errors=True)
    want_surv, want_dec = _incremental_semantic_oracle(
        batches, cents, threshold, keep
    )
    errs = compare_sets(got_surv, want_surv)
    errs += ["decisions: " + e for e in compare_sets(got_dec, want_dec)]
    return (
        [f"semantic_ingest:b={n_batches}:replay={replay_at is not None}"],
        errs,
        len(got_surv) + len(got_dec),
    )


def _incremental_dedup_oracle(batches, threshold, n=3):
    """Pure-Python replication of streaming/dedup.process_batch over an
    ORDERED batch sequence: per batch, intra-batch id collapse by
    min-md5(text), MinHash banding, candidates = (state×new sharing a
    band, id_a≠id_b) ∪ (new×new sharing a band, id_a<id_b), exact
    Jaccard on TRUE shingle sets (batch text wins on id), dup_of = MIN
    matched id, best = max jaccard; ONE decision per doc_id ever
    (cross-batch re-deliveries of decided ids are ignored), survivors
    extend the state. Returns (decision rows, accepted (id, text))."""
    state: dict[int, tuple[set, set]] = {}  # id -> (band keys, shingles)
    state_text: dict[int, str] = {}
    decided: set[int] = set()
    decisions = []
    for bid, rows in enumerate(batches):
        by_id: dict[int, str] = {}
        for i, t in rows:
            if i not in by_id or _md5hex(t or "") < _md5hex(by_id[i] or ""):
                by_id[i] = t
        new = {i: t for i, t in by_id.items() if i not in decided}
        bands: dict[int, set] = {}
        sets_: dict[int, set] = {}
        for i, t in new.items():
            toks = py_tokens(t)
            sh = set(py_shingles(toks, n))
            sets_[i] = sh
            sig = py_minhash_sig(sh)
            bands[i] = set(py_band_keys(sig)) if sig else set()
        cands = set()
        for i in new:
            for aid, (abands, _aset) in state.items():
                if aid != i and bands[i] & abands:
                    cands.add((aid, i))
        ordered = sorted(new)
        for ai in range(len(ordered)):
            for bi in range(ai + 1, len(ordered)):
                a, b = ordered[ai], ordered[bi]
                if bands[a] & bands[b]:
                    cands.add((a, b))
        matches: dict[int, list[tuple[int, float]]] = {}
        for a, b in cands:
            sa = sets_[a] if a in new else state[a][1]
            sb = sets_[b]
            common = len(sa & sb)
            if common == 0:
                continue
            j = round_half_up(common / float(len(sa) + len(sb) - common), 6)
            if j >= threshold:
                matches.setdefault(b, []).append((a, j))
        for i in sorted(new):
            hit = matches.get(i)
            if hit:
                decisions.append(
                    (i, True, min(a for a, _ in hit), max(j for _, j in hit), bid)
                )
            else:
                decisions.append((i, False, None, None, bid))
                state[i] = (bands[i], sets_[i])
                state_text[i] = new[i]
        decided.update(new)
    return decisions, sorted(state_text.items())


def _fam_dedup_ingest(spark, rng):
    """Incremental (at-ingest) LSH dedup vs the ordered-batch oracle:
    random corpora split into ordered micro-batches, with intra-batch
    duplicate ids (different renderings — the min-md5 collapse),
    cross-batch re-deliveries of already-decided ids, and optional
    full-batch replays. Decisions and the accepted doc store must match
    the oracle run WITHOUT the replay/re-delivery noise."""
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lime_etl_spark.streaming import dedup as SD

    rows = gen_corpus(rng)
    threshold = round(rng.uniform(0.05, 0.9), 2)
    n_batches = rng.randint(1, 5)
    batches: list[list] = [[] for _ in range(n_batches)]
    for doc_id, text, _toks in rows:
        batches[rng.randrange(n_batches)].append((doc_id, text))
    # intra-batch duplicate id, different rendering (same engine winner
    # as the oracle's min-md5 rule)
    for b in range(n_batches):
        if batches[b] and rng.random() < 0.3:
            i, t = rng.choice(batches[b])
            batches[b].append((i, (t or "") + " xq"))
    # cross-batch re-delivery of an already-decided id
    for b in range(1, n_batches):
        if rng.random() < 0.4:
            earlier = [r for bb in batches[:b] for r in bb]
            if earlier:
                redelivered = rng.choice(earlier)
                if redelivered[0] not in {i for i, _ in batches[b]}:
                    batches[b].append(redelivered)
    replay_at = rng.randrange(n_batches) if rng.random() < 0.4 else None
    schema = "doc_id bigint, text string"
    state = tempfile.mkdtemp(prefix="llmgen_dedup_ingest_")
    try:
        for bid, brows in enumerate(batches):
            df = spark.createDataFrame(brows, schema)
            SD.process_batch(df, bid, state, threshold=threshold)
            if replay_at == bid:
                SD.process_batch(df, bid, state, threshold=threshold)
        got_dec = [
            tuple(r)
            for r in spark.read.parquet(_os.path.join(state, SD.DECISIONS_SUBDIR))
            .select(
                "doc_id", "is_dup", "dup_of", "best_jaccard",
                F.col("ingest_batch").cast("bigint").alias("ingest_batch"),
            )
            .collect()
        ]
        got_docs = [
            (r.doc_id, r.text)
            for r in spark.read.parquet(_os.path.join(state, SD.DOCS_SUBDIR))
            .select("doc_id", "text")
            .collect()
        ]
    finally:
        shutil.rmtree(state, ignore_errors=True)
    want_dec, want_docs = _incremental_dedup_oracle(batches, threshold)
    errs = ["decisions: " + e for e in compare_sets(got_dec, want_dec)]
    errs += ["docs: " + e for e in compare_sets(got_docs, want_docs)]
    return (
        [f"dedup_ingest:b={n_batches}:replay={replay_at is not None}"],
        errs,
        len(got_dec) + len(got_docs),
    )


# NOTE (same precedent as tools/qgen.py): adding a family changes the
# seed -> family mapping, so a pinned regression seed no longer
# reproduces its original case byte-for-byte; the fixes those seeds
# caught are pinned STRUCTURALLY by focused tests
# (tests/test_generative_llm.py), and pinned seeds stay as extra sweep
# coverage.
FAMILIES = [
    (_fam_exact_dedup, 1.0),
    (_fam_ngram_jaccard, 1.5),
    (_fam_minhash, 1.8),
    (_fam_simhash, 1.5),
    (_fam_cosine_topk, 1.2),
    (_fam_lsh_topk, 1.8),
    (_fam_semantic, 1.5),
    (_fam_ivf_full_probe, 0.7),
    (_fam_connected_components, 0.8),
    (_fam_near_dup_groups, 0.8),
    (_fam_semantic_ingest, 1.0),
    (_fam_dedup_ingest, 1.0),
]


def check_seed(spark, seed: int, big: bool = False) -> dict:
    return check_family_seed(spark, seed, FAMILIES, big)


# ---------------------------------------------------------------------------
# Independent-math cross-check (round-9 verdict task #2)
# ---------------------------------------------------------------------------
#
# The families above prove the JVM paths against genuinely independent
# CPython oracles, but for the Arrow/numpy twins the oracle reuses THE
# SAME numpy expressions — that proves plumbing and distribution, not
# the math (a shared-expression error would self-confirm). This sweep
# closes the gap with a third implementation: mpmath at 60 significant
# digits, computing each returned cosine from the exact binary64 inputs
# and applying the engine's pinned half-away-from-zero rounding in
# arbitrary precision. Comparison is EXACT on the rounded value, with
# one documented carve-out: when the true cosine sits within 1e-12 of a
# rounding boundary (.5 at the pinned digit), the engine's double
# arithmetic (sequential fold, ~dim*ulp error) may legitimately land on
# the other side — those rows are counted (`boundary_skips`), never
# silently passed. Run standalone (--independent-math) so the pinned
# seed -> family mapping of the main sweep is untouched.


def _mp_ctx():
    from mpmath import mp

    mp.dps = 60
    return mp


def _mp_cosine(a, b):
    """High-precision cosine of two binary64 vectors (mpf conversion of
    a python float is exact). Zero-norm pairs define cosine 0.0 — the
    engine's 1e-150 denominator guard semantics."""
    from mpmath import mpf

    mp = _mp_ctx()
    dot = mp.fsum(mpf(x) * mpf(y) for x, y in zip(a, b))
    na = mp.sqrt(mp.fsum(mpf(x) * mpf(x) for x in a))
    nb = mp.sqrt(mp.fsum(mpf(y) * mpf(y) for y in b))
    if na == 0 or nb == 0:
        return mpf(0)
    return dot / (na * nb)


def _mp_round_away(x, digits: int):
    """Half-away-from-zero rounding of an mpf at ``digits``, plus how
    close |x|*10^digits sits to a .5 boundary (in boundary units)."""
    from mpmath import mp, mpf

    y = abs(x) * mpf(10) ** digits
    frac = y - mp.floor(y)
    dist = abs(frac - mpf("0.5"))
    rounded = mp.floor(y + mpf("0.5")) / mpf(10) ** digits
    if x < 0:
        rounded = -rounded
    return float(rounded), float(dist)


# a 1-ulp-scale double error (sequential fold over dim<=16 terms,
# |cos|<=1: ~1e-14 absolute worst case) can flip the rounded digit only
# within this distance of the boundary; 1e-12 cosine units = 1e-6
# boundary units at 6dp (1e-3 at 9dp)
_BOUNDARY_EPS = {6: 1e-6, 9: 1e-3}


def _indep_check_score(mp_cos, engine_score, digits: int):
    """(ok, boundary_skip) for one engine-rounded score vs mpmath."""
    expected, dist = _mp_round_away(mp_cos, digits)
    if engine_score == expected:
        return True, False
    if dist < _BOUNDARY_EPS[digits]:
        return True, True  # legitimately ambiguous at double precision
    return False, False


def independent_math_seed(spark, seed: int) -> dict:
    """One seed: drawn embeddings through BOTH cosine_topk twins and
    BOTH semantic_dedup twins; every returned score/cent_cos checked
    against mpmath."""
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import similarity

    rng = random.Random(seed)
    dim, emb_rows = gen_embeddings(rng)
    emb_rows = emb_rows[:40]  # small-n: the mp oracle is O(rows^2) worst
    df = _emb_df(spark, emb_rows)
    emb_map = dict(emb_rows)
    rec: dict = {"seed": seed, "ops": [], "rows": 0, "boundary_skips": 0}
    errs: list[str] = []

    qids = rng.sample([i for i, _ in emb_rows], min(len(emb_rows), rng.randint(1, 4)))
    k = rng.randint(1, 5)
    q = df.filter(F.col("vec_id").isin(qids))
    for fn, label in (
        (similarity.cosine_topk, "jvm"),
        (similarity.cosine_topk_arrow, "arrow"),
    ):
        rec["ops"].append(f"indep_cosine_{label}:k={k}")
        for r in fn(q, df, k=k).collect():
            mp_cos = _mp_cosine(emb_map[r.query_id], emb_map[r.neighbor_id])
            ok, skip = _indep_check_score(mp_cos, r.score, 6)
            rec["rows"] += 1
            rec["boundary_skips"] += int(skip)
            if not ok:
                errs.append(
                    f"cosine_{label} ({r.query_id},{r.neighbor_id}): "
                    f"engine={r.score} mp={float(mp_cos)!r}"
                )

    n_cells = rng.randint(1, 5)
    cents = [
        [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(dim)]
        for _ in range(n_cells)
    ]
    threshold = round(rng.uniform(0.1, 0.95), 2)
    keep = rng.choice(["farthest", "closest"])
    for fn, label in (
        (similarity.semantic_dedup, "jvm"),
        (similarity.semantic_dedup_arrow, "arrow"),
    ):
        rec["ops"].append(f"indep_semantic_{label}:cells={n_cells}")
        for r in fn(
            df, dim=dim, centroids=cents, threshold=threshold, keep=keep
        ).collect():
            # cent_cos is round6(round9(cos)): replicate the double
            # rounding — mp round9, snap to the binary64 the engine
            # actually re-rounds, then the engine's own float formula
            mp_cos = _mp_cosine(emb_map[r.vec_id], cents[r.cluster])
            d9, dist9 = _mp_round_away(mp_cos, 9)
            expected = math.copysign(
                math.floor(abs(d9) * 1e6 + 0.5) / 1e6, d9 if d9 else 1.0
            )
            rec["rows"] += 1
            if r.cent_cos == expected:
                continue
            if dist9 < _BOUNDARY_EPS[9]:
                rec["boundary_skips"] += 1
                continue
            errs.append(
                f"semantic_{label} vec={r.vec_id} cl={r.cluster}: "
                f"engine={r.cent_cos} mp9={d9!r}"
            )
    if errs:
        rec["mismatch"] = errs
    return rec


def _independent_math_check(spark, seed: int) -> dict:
    try:
        return independent_math_seed(spark, seed)
    except Exception as exc:  # pragma: no cover - surfaced in artifact
        return {"seed": seed, "error": f"{type(exc).__name__}: {exc}"}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=2500)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--big", action="store_true",
        help="widen draw ranges (200-1,200 docs / 500-3,000 vectors) so "
        "multi-partition shuffles and AQE engage; oracles stay exact",
    )
    ap.add_argument(
        "--independent-math", action="store_true",
        help="run the mpmath third-implementation sweep instead of the "
        "main families (seed mapping untouched)",
    )
    args = ap.parse_args()

    from lime_etl_spark.session import get_spark

    spark = get_spark("llmgen", shuffle_partitions=16 if args.big else 4)
    spark.sparkContext.setLogLevel("ERROR")
    seeds = range(args.start, args.start + args.seeds)
    if args.independent_math:
        sw = Sweep().run(lambda s: _independent_math_check(spark, s), seeds)
        report = sw.report(
            {"harness": (
                "llmgen --independent-math (engine cosine/cent_cos vs mpmath "
                "60-digit third implementation; exact on the pinned rounding, "
                "boundary carve-out counted)"
            )},
            histogram=False,
            tail={"boundary_skips_total": sum(
                r["boundary_skips"] for r in sw.records if not failed(r)
            )},
        )
    else:
        sw = Sweep().run(lambda s: check_seed(spark, s, args.big), seeds)
        report = sw.report({
            "harness": "llmgen (randomized corpora/embeddings vs pure-Python brute-force oracles)",
            "big_mode": args.big,
        })
    emit(report, args.out)


if __name__ == "__main__":
    main()
