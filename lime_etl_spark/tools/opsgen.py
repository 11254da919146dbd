"""Generative differential tests for the text / sampling / behavioral /
quality / graph operator surfaces.

Round-8 continuation of the generative program: tools/qgen.py randomizes
the relational vocabulary (20k+ seeds), tools/llmgen.py the
dedup/similarity surface (3.3k+ seeds), tools/streamgen.py streaming
equivalence (900+ seeds). The remaining ~1,800 LoC of custom operator
logic — ops/text.py (quality scoring, language ID, TF-IDF, span dedup,
collocations, redaction), ops/sampling.py (hash splits, stratified
sampling, packing, two-phase global rank), ops/behavior.py (cohorts,
ordered funnels, SCD2, PIT joins), ops/quality.py (constraint
validation, drift), ops/graph.py (scaled-integer PageRank) — was gated
only by the fixed registry queries plus fixed-corpus property tests.
This module closes that gap with the same move: per seed, draw a random
corpus / event log / change stream / rule set plus random operator
parameters, run the distributed operator, compare EXACTLY (full-tuple,
no tolerance) against a brute-force pure-Python oracle.

Why exact comparison is possible (same argument as tools/llmgen.py):
every hash is an md5 construction (sampling._key_hash, text
fingerprints), every rounding is pinned F.round half-away-from-zero,
every float expression is evaluated in a documented fixed operator
order (quality_score's weighted sum, collocations' ratio, drift's
decimal cross-products), every timestamp computation is integral
micros or whole periods, and PageRank is scaled-integer by design.
The oracles replicate those recipes in CPython bit-for-bit.

Artifact runner (same shape as tools/gencheck.py / llmgen.py):

    python -m lime_etl_spark.tools.opsgen --seeds 2000 \
        --out GENCHECK_OPS_r08.json
"""

from __future__ import annotations

import argparse
import hashlib
import math
import random
import re
from collections import Counter
from datetime import datetime, timedelta

from lime_etl_spark.tools.llmgen import (
    compare_sets,
    py_tokens,
    round_half_up,
)
from lime_etl_spark.tools.sweep import Sweep, check_family_seed, emit

# ---------------------------------------------------------------------------
# Oracle primitives
# ---------------------------------------------------------------------------


def _md5hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def py_key_hash(key, salt: str = "") -> int:
    """sampling._key_hash: first 15 md5 hex digits of str(key)+salt as
    int64; NULL keys hash as ''."""
    k = "" if key is None else str(key)
    return int(_md5hex(k + salt)[:15], 16)


def py_text_stats(text: str) -> dict:
    """ops/text.with_text_stats per-row oracle."""
    toks = py_tokens(text)
    n = len(toks)
    return {
        "n_tokens": n,
        "n_chars_obs": len(text),
        "n_punct": len(re.sub(r"[^.,!?;:]", "", text)),
        "n_digits": len(re.sub(r"[^0-9]", "", text)),
        "avg_token_len": (
            round_half_up(sum(len(t) for t in toks) / float(n), 4) if n else None
        ),
        "stopword_ratio": (
            round_half_up(
                sum(1 for t in toks if t in _STOPWORDS) / float(n), 4
            )
            if n
            else None
        ),
    }


def py_quality_score(stats: dict) -> float:
    """ops/text.with_quality_score: same op order as the JVM expression
    (weighted sum left-to-right over pinned rounded stats)."""
    if stats["n_tokens"] < 10:
        return 0.0
    return (
        0.4 * min(stats["n_tokens"] / 100.0, 1.0)
        + 0.3 * min(stats["stopword_ratio"] * 5.0, 1.0)
        + 0.3 * (1.0 if 3.0 <= stats["avg_token_len"] <= 10.0 else 0.0)
    )


def py_lang_id(toks: list[str]) -> str:
    """ops/text.with_lang_id: marker-hit argmax, LANG_PRIORITY ties."""
    hits = {
        lang: sum(1 for t in toks if t in set(words))
        for lang, words in _LANG_MARKERS.items()
    }
    best = max(hits.values())
    if best <= 0:
        return "und"
    for lang in _LANG_PRIORITY:
        if hits[lang] == best:
            return lang
    raise AssertionError("unreachable")


def py_fingerprint(toks: list[str]) -> str:
    return _md5hex(" ".join(toks))


# filled at import time from the engine's frozen contract constants —
# the oracle must share THOSE lists, not a retyped copy that can drift
from lime_etl_spark.ops.text import (  # noqa: E402
    LANG_MARKERS as _LANG_MARKERS,
    LANG_PRIORITY as _LANG_PRIORITY,
    REDACT_PATTERNS as _REDACT_PATTERNS,
    STOPWORDS_EN as _STOPWORDS_LIST,
    BPE_PRETOKEN_RE as _BPE_RE,
)

_STOPWORDS = set(_STOPWORDS_LIST)


# ---------------------------------------------------------------------------
# Random data generators
# ---------------------------------------------------------------------------

_SEPARATORS = [" ", "  ", ", ", "\t", " . ", "\n", " - ", "; ", " !! "]
_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"


def gen_text_corpus(rng: random.Random, allow_null: bool = False):
    """(doc_id, text) rows whose vocabulary MIXES random tokens with the
    engine's stopword/language-marker lists (so quality/lang-ID branches
    actually fire), plus empty docs, whitespace-only docs, duplicated
    docs, and (optionally) NULL text.

    ``rng.big`` (set by check_seed under --big, same convention as
    tools/llmgen.py): 300-1,200 docs from wider vocabularies — the
    regime where the explode/groupBy families (TF-IDF, span dedup,
    vocabulary, collocations) actually shuffle across partitions —
    while the Python oracles stay linear-ish and seconds-cheap."""
    big = getattr(rng, "big", False)
    vocab = [
        "".join(rng.choice(_ALNUM) for _ in range(rng.randint(2, 7)))
        for _ in range(rng.randint(20, 400) if big else rng.randint(3, 25))
    ]
    vocab += rng.sample(_STOPWORDS_LIST, rng.randint(0, len(_STOPWORDS_LIST)))
    for lang, words in _LANG_MARKERS.items():
        if rng.random() < 0.5:
            vocab += rng.sample(words, rng.randint(1, len(words)))
    n_docs = rng.randint(300, 1200) if big else rng.randint(3, 45)
    texts: list[str | None] = []
    for _ in range(n_docs):
        r = rng.random()
        if allow_null and r < 0.06:
            texts.append(None)
            continue
        if texts and r < 0.18 and texts[-1] is not None:
            texts.append(rng.choice([t for t in texts if t is not None]))
            continue
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 130))]
        rendered = []
        for t in toks:
            c = rng.random()
            rendered.append(t.upper() if c < 0.1 else t.title() if c < 0.2 else t)
        text = rng.choice(_SEPARATORS).join(rendered)
        if rng.random() < 0.15:
            text = rng.choice(["  ", "...", "!", ""]) + text + rng.choice(["", " .", "??"])
        texts.append(text)
    ids = rng.sample(range(1, 100_000), n_docs)
    return list(zip(ids, texts))


def _text_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def gen_events(rng: random.Random, types: list[str] | None = None):
    """(user_id, ts, event_type) rows: few users, clustered timestamps
    (same-second collisions included), drawn over a multi-week range so
    weekly cohorts have >1 bucket. ``rng.big``: 100-400 users so the
    user-key window exchange actually spans partitions."""
    types = types or ["view", "click", "cart", "buy", "refund"]
    big = getattr(rng, "big", False)
    n_users = rng.randint(100, 400) if big else rng.randint(1, 12)
    users = rng.sample(range(1, 10_000), n_users)
    base = datetime(2025, 1, 6) + timedelta(days=rng.randint(0, 21))
    rows = []
    for u in users:
        first = base + timedelta(
            days=rng.randint(0, 28), seconds=rng.randint(0, 86_399)
        )
        for _ in range(rng.randint(1, 15)):
            ts = first + timedelta(
                days=rng.randint(0, 35),
                seconds=rng.randint(0, 86_399),
                microseconds=rng.choice([0, 0, rng.randint(0, 999_999)]),
            )
            rows.append((u, ts, rng.choice(types)))
    rng.shuffle(rows)
    return rows


def _events_df(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")


# ---------------------------------------------------------------------------
# Text families
# ---------------------------------------------------------------------------


def _fam_text_stats(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    which = rng.random()
    if which < 0.5:
        got = [
            (r.doc_id, r.n_tokens, r.n_chars_obs, r.n_punct, r.n_digits,
             r.avg_token_len, r.stopword_ratio)
            for r in T.with_text_stats(df).select(
                "doc_id", "n_tokens", "n_chars_obs", "n_punct", "n_digits",
                "avg_token_len", "stopword_ratio"
            ).collect()
        ]
        want = []
        for i, t in rows:
            s = py_text_stats(t)
            want.append((i, s["n_tokens"], s["n_chars_obs"], s["n_punct"],
                         s["n_digits"], s["avg_token_len"], s["stopword_ratio"]))
        return ["text_stats"], compare_sets(got, want), len(got)
    got = [
        (r.doc_id, r.quality_score, r.lang_pred)
        for r in T.with_lang_id(T.with_quality_score(df)).select(
            "doc_id", "quality_score", "lang_pred"
        ).collect()
    ]
    want = [
        (i, py_quality_score(py_text_stats(t)), py_lang_id(py_tokens(t)))
        for i, t in rows
    ]
    return ["text_quality_lang"], compare_sets(got, want), len(got)


def _fam_fingerprint_bpe(spark, rng):
    from pyspark.sql import functions as F

    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    if rng.random() < 0.5:
        got = [
            (r.doc_id, r.fingerprint)
            for r in T.with_fingerprint(df).select("doc_id", "fingerprint").collect()
        ]
        want = [(i, py_fingerprint(py_tokens(t))) for i, t in rows]
        return ["fingerprint"], compare_sets(got, want), len(got)
    got = [
        (r.doc_id, "\x1f".join(r.pieces))
        for r in df.select(
            "doc_id", T.bpe_like_tokens("text").alias("pieces")
        ).collect()
    ]
    want = [
        (i, "\x1f".join(re.findall(_BPE_RE, t.lower()))) for i, t in rows
    ]
    return ["bpe_pieces"], compare_sets(got, want), len(got)


def _fam_repetition(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    got = [tuple(r) for r in T.repetition_stats(df).collect()]
    want = []
    for i, t in rows:
        toks = py_tokens(t)
        sh3 = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        n3, u3 = len(sh3), len(set(sh3))
        bi = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        n_bi = max(len(toks) - 1, 0)
        if bi:
            counts = Counter(bi)
            top, top_n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        else:
            top, top_n = "", 0
        want.append(
            (
                i,
                n3,
                u3,
                round_half_up(1.0 - u3 / float(n3), 6) if n3 > 0 else 0.0,
                top,
                top_n,
                round_half_up(top_n / float(n_bi), 6) if n_bi > 0 else 0.0,
            )
        )
    return ["repetition_stats"], compare_sets(got, want), len(got)


def _fam_tfidf(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    k = rng.randint(1, 5)
    got = [tuple(r) for r in T.tfidf_top_terms(df, k=k).collect()]
    n = len(rows)
    tf: Counter = Counter()
    dfreq: Counter = Counter()
    for i, t in rows:
        toks = py_tokens(t)
        for tok in toks:
            tf[(i, tok)] += 1
        for tok in set(toks):
            dfreq[tok] += 1
    by_doc: dict[int, list] = {}
    for (i, term), f_ in tf.items():
        score = round_half_up((f_ * n) / float(dfreq[term]), 6)
        by_doc.setdefault(i, []).append((term, f_, dfreq[term], score))
    want = []
    for i, terms in by_doc.items():
        terms.sort(key=lambda r: (-r[3], r[0]))
        for rank, (term, f_, d, score) in enumerate(terms[:k], start=1):
            want.append((i, term, f_, d, score, rank))
    return [f"tfidf:k={k}"], compare_sets(got, want), len(got)


def _fam_filter_decisions(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng, allow_null=True)
    df = _text_df(spark, rows)
    min_tok = rng.randint(1, 20)
    max_tok = rng.randint(min_tok, 120)
    min_q = round(rng.uniform(0.0, 0.9), 2)
    langs = tuple(
        rng.sample(_LANG_PRIORITY + ["und"], rng.randint(1, 3))
    )
    got = [
        tuple(r)
        for r in T.filter_decisions(
            df, min_tokens=min_tok, max_tokens=max_tok,
            min_quality=min_q, langs=langs,
        ).collect()
    ]
    fp = {i: py_fingerprint(py_tokens(t or "")) for i, t in rows}
    canon_of: dict[str, int] = {}
    for i in sorted(fp):
        canon_of.setdefault(fp[i], i)
    want = []
    for i, t in rows:
        t = t or ""
        stats = py_text_stats(t)
        q = py_quality_score(stats)
        lang = py_lang_id(py_tokens(t))
        is_dup = canon_of[fp[i]] != i
        if is_dup:
            reason = "exact_dup"
        elif stats["n_tokens"] < min_tok:
            reason = "too_short"
        elif stats["n_tokens"] > max_tok:
            reason = "too_long"
        elif q < min_q:
            reason = "low_quality"
        elif lang not in langs:
            reason = "lang"
        else:
            reason = "keep"
        want.append((i, stats["n_tokens"], q, lang, is_dup, reason, reason == "keep"))
    return [f"filter_decisions:langs={len(langs)}"], compare_sets(got, want), len(got)


def _fam_span_dedup(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    span = rng.randint(2, 6)
    got = [tuple(r) for r in T.span_dedup(df, span=span).collect()]
    spans_of: dict[int, list[str]] = {}
    for i, t in rows:
        toks = py_tokens(t)
        if not toks:
            continue
        spans_of[i] = [
            " ".join(toks[j * span : (j + 1) * span])
            for j in range(math.ceil(len(toks) / span))
        ]
    first: dict[str, tuple[int, int]] = {}
    for i in sorted(spans_of):
        for pos, s in enumerate(spans_of[i]):
            if s not in first:
                first[s] = (i, pos)
    want = []
    for i, spans in spans_of.items():
        kept = [s for pos, s in enumerate(spans) if first[s] == (i, pos)]
        want.append((i, len(spans), len(kept), " ".join(kept)))
    return [f"span_dedup:span={span}"], compare_sets(got, want), len(got)


def _fam_length_histogram(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng, allow_null=True)
    df = _text_df(spark, rows)
    width = rng.choice([1, 5, 10, 50])
    got = [tuple(r) for r in T.length_histogram(df, width=width).collect()]
    buckets = Counter(
        (len(py_tokens(t or "")) // width) * width for _, t in rows
    )
    total = sum(buckets.values())
    want = [
        (b, n, round_half_up(n / float(total), 6)) for b, n in buckets.items()
    ]
    return [f"length_histogram:w={width}"], compare_sets(got, want), len(got)


def _gen_redact_text(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(0, 25)):
        r = rng.random()
        if r < 0.15:
            user = "".join(rng.choice(_ALNUM) for _ in range(rng.randint(1, 8)))
            dom = "".join(rng.choice("abcdefghij") for _ in range(rng.randint(2, 6)))
            tld = rng.choice(["com", "org", "io", "co"])
            parts.append(f"{user}@{dom}.{tld}")
        elif r < 0.3:
            path = "".join(rng.choice(_ALNUM + "/.-") for _ in range(rng.randint(0, 12)))
            parts.append(f"{rng.choice(['http', 'https'])}://{rng.choice(['ex.com', 'a.io'])}/{path}")
        elif r < 0.45:
            parts.append("".join(rng.choice("0123456789") for _ in range(rng.randint(1, 12))))
        elif r < 0.5:
            # near-misses: short TLD, bare scheme, at-sign fragments
            parts.append(rng.choice(["x@y.z", "http:/nope", "a@@b.com", "@x.com", "12-34"]))
        else:
            parts.append("".join(rng.choice(_ALNUM) for _ in range(rng.randint(1, 9))))
    return rng.choice([" ", "  ", ", "]).join(parts)


def _fam_redact(spark, rng):
    from lime_etl_spark.ops import text as T

    hi = 600 if getattr(rng, "big", False) else 30
    rows = [(i, _gen_redact_text(rng)) for i in range(1, rng.randint(3, hi))]
    df = _text_df(spark, rows)
    got = [
        (r.doc_id, r.text_redacted)
        for r in T.redact(df).select("doc_id", "text_redacted").collect()
    ]
    want = []
    for i, t in rows:
        out = t
        for kind, pat in _REDACT_PATTERNS.items():
            out = re.sub(pat, f"<{kind.upper()}>", out)
        want.append((i, out))
    return ["redact"], compare_sets(got, want), len(got)


def _fam_vocab_collocations(spark, rng):
    from lime_etl_spark.ops import text as T

    rows = gen_text_corpus(rng)
    df = _text_df(spark, rows)
    if rng.random() < 0.5:
        top_k = rng.randint(1, 30)
        got = [tuple(r) for r in T.vocabulary(df, top_k=top_k).collect()]
        tf: Counter = Counter()
        dfreq: Counter = Counter()
        for _, t in rows:
            toks = py_tokens(t)
            tf.update(toks)
            dfreq.update(set(toks))
        ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        want = [(tok, n, dfreq[tok]) for tok, n in ranked]
        return [f"vocabulary:k={top_k}"], compare_sets(got, want), len(got)
    top_k = rng.randint(1, 25)
    min_count = rng.randint(1, 3)
    got = [
        tuple(r)
        for r in T.collocations(df, top_k=top_k, min_count=min_count).collect()
    ]
    uni: Counter = Counter()
    bi: Counter = Counter()
    for _, t in rows:
        toks = py_tokens(t)
        uni.update(toks)
        bi.update(" ".join(p) for p in zip(toks, toks[1:]))
    n_total = sum(uni.values())
    scored = []
    for bg, n_pair in bi.items():
        if n_pair < min_count:
            continue
        left, right = bg.split(" ")
        ratio = (float(n_pair) * float(n_total)) / (
            float(uni[left]) * float(uni[right])
        )
        scored.append((bg, n_pair, uni[left], uni[right], ratio))
    scored.sort(key=lambda r: (-r[4], r[0]))
    want = scored[:top_k]
    return (
        [f"collocations:k={top_k}:min={min_count}"],
        compare_sets(got, want),
        len(got),
    )


# ---------------------------------------------------------------------------
# Sampling families
# ---------------------------------------------------------------------------


def _gen_keyed_rows(rng: random.Random):
    """(id, key, stratum, n_tokens) rows; keys unique (str or int domain),
    occasional NULL key/length, small stratum set. ``rng.big``:
    2,000-10,000 rows (multi-partition windows/range-repartitions)."""
    big = getattr(rng, "big", False)
    n = rng.randint(2000, 10_000) if big else rng.randint(3, 60)
    as_str = rng.random() < 0.5
    raw = rng.sample(range(1, 1_000_000), n)
    keys: list = [
        ("k" + str(v) if as_str else v) for v in raw
    ]
    if rng.random() < 0.3:
        keys[rng.randrange(n)] = None
    strata = [rng.choice(["a", "b", "c", None]) for _ in range(n)]
    lens = [
        None if rng.random() < 0.05 else rng.randint(1, 400) for _ in range(n)
    ]
    return [
        (i + 1, k, s, ln) for i, (k, s, ln) in enumerate(zip(keys, strata, lens))
    ]


def _keyed_df(spark, rows, as_str):
    schema = (
        "id bigint, key string, stratum string, n_tokens bigint"
        if as_str
        else "id bigint, key bigint, stratum string, n_tokens bigint"
    )
    return spark.createDataFrame(rows, schema)


def _fam_split_sample(spark, rng):
    from lime_etl_spark.ops import sampling as S

    rows = _gen_keyed_rows(rng)
    as_str = any(isinstance(r[1], str) for r in rows)
    df = _keyed_df(spark, rows, as_str)
    salt = rng.choice(["", "x1", "exp-7"])
    which = rng.random()
    if which < 0.34:
        pct = rng.randint(0, 100)
        got = [
            (r.id, r.split)
            for r in S.with_split(df, "key", train_pct=pct, salt=salt).collect()
        ]
        want = [
            (i, "train" if py_key_hash(k, salt) % 100 < pct else "eval")
            for i, k, _, _ in rows
        ]
        return [f"with_split:pct={pct}"], compare_sets(got, want), len(got)
    if which < 0.67:
        pct = rng.randint(0, 100)
        got = [r.id for r in S.deterministic_sample(df, "key", pct=pct, salt=salt).collect()]
        want = [i for i, k, _, _ in rows if py_key_hash(k, salt) % 100 < pct]
        return (
            [f"det_sample:pct={pct}"],
            compare_sets([(x,) for x in got], [(x,) for x in want]),
            len(got),
        )
    rates = {
        s: rng.randint(0, 100)
        for s in rng.sample(["a", "b", "c"], rng.randint(0, 3))
    }
    default = rng.choice([0, 25, 100])
    got = [
        r.id
        for r in S.weighted_resample(
            df, "key", "stratum", rates, default_pct=default, salt=salt
        ).collect()
    ]
    want = [
        i
        for i, k, s, _ in rows
        if py_key_hash(k, salt) % 100 < (rates.get(s, default) if s is not None else default)
    ]
    return (
        [f"weighted_resample:n_rates={len(rates)}"],
        compare_sets([(x,) for x in got], [(x,) for x in want]),
        len(got),
    )


def _fam_stratified(spark, rng):
    from lime_etl_spark.ops import sampling as S

    rows = _gen_keyed_rows(rng)
    as_str = any(isinstance(r[1], str) for r in rows)
    df = _keyed_df(spark, rows, as_str)
    salt = rng.choice(["", "s9"])
    n_per = rng.randint(1, 800) if getattr(rng, "big", False) else rng.randint(1, 8)
    got = [
        (r.id,)
        for r in S.stratified_sample_exact(df, "key", "stratum", n_per, salt=salt).collect()
    ]
    by_stratum: dict = {}
    for i, k, s, _ in rows:
        by_stratum.setdefault(s, []).append((py_key_hash(k, salt), k, i))
    want = []
    for s, members in by_stratum.items():
        # engine orders by (__h, key) — NULL keys sort FIRST ascending
        members.sort(key=lambda t: (t[0], t[1] is not None, str(t[1])))
        want.extend((i,) for _, _, i in members[:n_per])
    return [f"stratified:n={n_per}"], compare_sets(got, want), len(got)


def _fam_pack(spark, rng):
    from lime_etl_spark.ops import sampling as S

    rows = _gen_keyed_rows(rng)
    as_str = any(isinstance(r[1], str) for r in rows)
    # packing keys must be non-null for a meaningful draw; keep the id
    # as the pack key (unique, non-null) and n_tokens as length
    df = _keyed_df(spark, rows, as_str)
    budget = rng.choice([64, 256, 1024])
    n_buckets = rng.choice([1, 4, 16])
    salt = rng.choice(["", "p2"])
    packed = S.pack_sequences(
        df, key_col="id", length_col="n_tokens",
        budget=budget, n_buckets=n_buckets, salt=salt,
    )
    # oracle
    live = [(i, ln) for i, _, _, ln in rows if ln is not None]
    per_bucket: dict[int, list] = {}
    for i, ln in live:
        h = py_key_hash(i, salt)
        per_bucket.setdefault(h % n_buckets, []).append((h, i, ln))
    bin_of: dict[int, tuple[int, int]] = {}
    for b, members in per_bucket.items():
        members.sort()
        cum = 0
        for h, i, ln in members:
            cum += ln
            bin_of[i] = (b, (cum - ln) // budget)
    if rng.random() < 0.5:
        got = [(r.id, r.pack_bucket, r.local_bin, r.pack_bin) for r in packed.collect()]
        want = [
            (i, b, lb, b * (1 << 32) + lb) for i, (b, lb) in bin_of.items()
        ]
        return [f"pack_sequences:b={n_buckets}"], compare_sets(got, want), len(got)
    mat = S.pack_materialize(
        packed, text_col="stratum", key_col="id", length_col="n_tokens", salt=salt
    )
    got = [tuple(r) for r in mat.collect()]
    by_bin: dict[int, list] = {}
    stratum_of = {i: s for i, _, s, _ in rows}
    for i, (b, lb) in bin_of.items():
        by_bin.setdefault(b * (1 << 32) + lb, []).append((py_key_hash(i, salt), i))
    want = []
    for bin_id, members in by_bin.items():
        members.sort()
        texts = [stratum_of[i] for _, i in members]
        total = sum(dict(live)[i] for _, i in members)
        # concat_ws SKIPS NULL elements (no separator inserted for them)
        want.append(
            (
                bin_id,
                len(members),
                total,
                "\n\n".join(t for t in texts if t is not None),
            )
        )
    return [f"pack_materialize:b={n_buckets}"], compare_sets(got, want), len(got)


def _fam_global_rank(spark, rng):
    from lime_etl_spark.ops import sampling as S

    rows = _gen_keyed_rows(rng)
    rows = [r for r in rows if r[1] is not None]  # unique non-null keys
    if not rows:
        return ["global_rank:empty"], [], 0
    as_str = any(isinstance(r[1], str) for r in rows)
    df = _keyed_df(spark, rows, as_str)
    nparts = rng.choice([1, 2, 7, 32])
    if rng.random() < 0.5:
        seed = str(rng.randint(0, 99))
        got = [
            (r.id, r.shuffle_rank)
            for r in S.global_shuffle_rank(df, "key", seed=seed, partitions=nparts).collect()
        ]
        order = sorted(
            (( _md5hex(str(k) + f"-{seed}"), str(k), i) for i, k, _, _ in rows),
        )
        want = [(i, rank) for rank, (_, _, i) in enumerate(order, start=1)]
        return [f"shuffle_rank:p={nparts}"], compare_sets(got, want), len(got)
    got = [
        (r.id, r.rank)
        for r in S.global_rank(df, ["n_tokens", "id"], partitions=nparts).collect()
    ]
    # engine: ascending, NULLS FIRST on n_tokens; id tiebreak total
    order = sorted(rows, key=lambda r: (r[3] is not None, r[3] if r[3] is not None else 0, r[0]))
    want = [(r[0], rank) for rank, r in enumerate(order, start=1)]
    return [f"global_rank:p={nparts}"], compare_sets(got, want), len(got)


# ---------------------------------------------------------------------------
# Behavioral families
# ---------------------------------------------------------------------------


def _monday(ts: datetime):
    d = ts.date()
    return d - timedelta(days=d.weekday())


def _fam_cohort(spark, rng):
    from lime_etl_spark.ops import behavior as B

    rows = gen_events(rng)
    df = _events_df(spark, rows)
    got = [tuple(r) for r in B.cohort_retention(df).collect()]
    first: dict[int, datetime] = {}
    for u, ts, _ in rows:
        if u not in first or ts < first[u]:
            first[u] = ts
    active: dict[tuple, set] = {}
    for u, ts, _ in rows:
        cw = _monday(first[u])
        off = (_monday(ts) - cw).days // 7
        active.setdefault((cw, off), set()).add(u)
    sizes = {cw: len(us) for (cw, off), us in active.items() if off == 0}
    want = [
        (cw, off, len(us), sizes[cw], round_half_up(len(us) / float(sizes[cw]), 6))
        for (cw, off), us in active.items()
    ]
    return ["cohort_retention"], compare_sets(got, want), len(got)


def _py_step_times(user_events, steps, window_days):
    """behavior._step_times per-user oracle: earliest qualifying ts per
    ordered step; NULL-propagating."""
    t: list[datetime | None] = []
    for i, s in enumerate(steps):
        cands = []
        for typ, ts in user_events:
            if typ != s:
                continue
            if i > 0:
                if t[i - 1] is None or ts <= t[i - 1]:
                    continue
                if window_days is not None and (
                    t[0] is None or ts > t[0] + timedelta(days=window_days)
                ):
                    continue
            cands.append(ts)
        t.append(min(cands) if cands else None)
    return t


def _fam_funnel(spark, rng):
    from lime_etl_spark.ops import behavior as B

    types = ["view", "click", "cart", "buy", "refund"]
    steps = rng.sample(types, rng.randint(2, 4))
    window_days = rng.choice([None, 1, 7, 30])
    rows = gen_events(rng, types=types)
    df = _events_df(spark, rows)
    per_user_events: dict[int, list] = {}
    for u, ts, typ in rows:
        per_user_events.setdefault(u, []).append((typ, ts))
    times = {
        u: _py_step_times(evts, steps, window_days)
        for u, evts in per_user_events.items()
    }
    if rng.random() < 0.6:
        got = [tuple(r) for r in B.funnel(df, steps, window_days=window_days).collect()]
        counts = [
            sum(1 for t in times.values() if t[i] is not None)
            for i in range(len(steps))
        ]
        want = []
        for i, s in enumerate(steps):
            first_n, prev_n = counts[0], (counts[i - 1] if i > 0 else None)
            want.append(
                (
                    i + 1,
                    s,
                    counts[i],
                    round_half_up(counts[i] / float(first_n), 6) if first_n else None,
                    (
                        round_half_up(counts[i] / float(prev_n), 6)
                        if prev_n not in (None, 0)
                        else None
                    ),
                )
            )
        return (
            [f"funnel:k={len(steps)}:w={window_days}"],
            compare_sets(got, want),
            len(got),
        )
    got = [
        tuple(r)
        for r in B.funnel_latencies(df, steps, window_days=window_days).collect()
    ]
    want = []
    for i in range(1, len(steps)):
        gaps = []
        for t in times.values():
            if t[i] is not None:
                d = t[i] - t[i - 1]
                micros = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
                gaps.append(micros // 1_000_000)
        want.append(
            (
                f"{steps[i - 1]}->{steps[i]}",
                i,
                len(gaps),
                min(gaps) if gaps else None,
                max(gaps) if gaps else None,
                sum(gaps) if gaps else None,
            )
        )
    return (
        [f"funnel_latencies:k={len(steps)}:w={window_days}"],
        compare_sets(got, want),
        len(got),
    )


def _gen_change_stream(rng: random.Random):
    """(key, state, ts, seq) change rows: few keys, repeated/NULL states,
    unique (ts, seq) per key. ``rng.big``: 150-500 keys."""
    big = getattr(rng, "big", False)
    keys = rng.sample(
        range(1, 5000), rng.randint(150, 500) if big else rng.randint(1, 6)
    )
    states = ["new", "active", "paused", None]
    rows = []
    seq = 0
    base = datetime(2025, 3, 1)
    for k in keys:
        t = base + timedelta(hours=rng.randint(0, 48))
        for _ in range(rng.randint(1, 10)):
            seq += 1
            rows.append((k, rng.choice(states), t, seq))
            t = t + timedelta(seconds=rng.choice([0, 1, 60, 3600]))
            if rng.random() < 0.3:
                t = t + timedelta(microseconds=rng.randint(1, 999))
    # same-ts rows need the seq tiebreak; shuffle input order
    rng.shuffle(rows)
    return rows


def _py_scd2(rows):
    by_key: dict[int, list] = {}
    for k, s, ts, seq in rows:
        by_key.setdefault(k, []).append((ts, seq, s))
    want = []
    for k, evts in by_key.items():
        evts.sort(key=lambda t: (t[0], t[1]))
        versions = []
        prev = object()
        for ts, seq, s in evts:
            if not versions or s != prev:
                versions.append([s, ts])
            prev = s
        for v, (s, vf) in enumerate(versions, start=1):
            vt = versions[v][1] if v < len(versions) else None
            want.append((k, s, vf, vt, v, vt is None))
    return want


def _fam_scd2_pit(spark, rng):
    from lime_etl_spark.ops import behavior as B

    rows = _gen_change_stream(rng)
    df = spark.createDataFrame(
        rows, "key bigint, state string, ts timestamp, seq bigint"
    )
    hist = B.scd2_from_change_stream(df, "key", "state", "ts", "seq")
    want_hist = _py_scd2(rows)
    if rng.random() < 0.5:
        got = [tuple(r) for r in hist.collect()]
        return ["scd2"], compare_sets(got, want_hist), len(got)
    keys = sorted({r[0] for r in rows}) + [99_999]
    base = datetime(2025, 3, 1)
    n_facts = rng.randint(500, 3000) if getattr(rng, "big", False) else rng.randint(2, 25)
    facts = [
        (
            fid,
            rng.choice(keys),
            base + timedelta(hours=rng.randint(-2, 52), seconds=rng.randint(0, 3599)),
        )
        for fid in range(1, n_facts)
    ]
    fdf = spark.createDataFrame(facts, "fact_id bigint, key bigint, fts timestamp")
    got = [tuple(r) for r in B.point_in_time_join(fdf, hist, "key", "fts").collect()]
    want = []
    for fid, k, fts in facts:
        match = None
        for hk, s, vf, vt, v, _cur in want_hist:
            if hk == k and vf <= fts and (vt is None or fts < vt):
                match = (s, v)
        want.append((fid, k, fts, *(match or (None, None))))
    return ["pit_join"], compare_sets(got, want), len(got)


# ---------------------------------------------------------------------------
# Quality + graph families
# ---------------------------------------------------------------------------


def _fam_validate(spark, rng):
    from lime_etl_spark.ops import quality as Q

    big = getattr(rng, "big", False)
    n = rng.randint(5000, 20_000) if big else rng.randint(0, 50)
    rows = []
    for i in range(n):
        rows.append(
            (
                rng.choice([i, i, i, rng.randint(0, 10)]),  # dup-able id
                rng.choice([None, "a", "b", "c", "zz"]),
                None if rng.random() < 0.15 else round(rng.uniform(-50, 150), 3),
                rng.choice([None, 1, 2, 3, 77]),
            )
        )
    df = spark.createDataFrame(rows, "id bigint, cat string, val double, fk bigint")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "dkey bigint")
    pool = [
        Q.not_null("cat"),
        Q.not_null("val"),
        Q.accepted_values("cat", ["a", "b", "c"]),
        Q.in_range("val", lo=0.0),
        Q.in_range("val", lo=0.0, hi=100.0),
        Q.in_range("val", hi=100.0),
        Q.unique("id"),
        Q.foreign_key("fk", dim, "dkey", broadcast_dim=rng.random() < 0.5),
    ]
    rules = rng.sample(pool, rng.randint(1, len(pool)))
    with_rc = rng.random() < 0.5
    got = [tuple(r) for r in Q.validate(df, rules, with_row_count=with_rc).collect()]
    want = []
    for r in rules:
        if r.kind == "not_null":
            v = sum(1 for row in rows if _cell(row, r.column) is None)
        elif r.kind == "accepted_values":
            v = sum(
                1
                for row in rows
                if _cell(row, r.column) is not None
                and _cell(row, r.column) not in r.values
            )
        elif r.kind == "in_range":
            v = sum(
                1
                for row in rows
                if _cell(row, r.column) is not None
                and (
                    (r.lo is not None and _cell(row, r.column) < r.lo)
                    or (r.hi is not None and _cell(row, r.column) > r.hi)
                )
            )
        elif r.kind == "unique":
            c = Counter(
                _cell(row, r.column) for row in rows if _cell(row, r.column) is not None
            )
            v = sum(n_ for n_ in c.values() if n_ > 1)
        elif r.kind == "foreign_key":
            v = sum(
                1
                for row in rows
                if _cell(row, r.column) is not None
                and _cell(row, r.column) not in (1, 2, 3)
            )
        want.append((r.kind, r.column, v))
    if with_rc:
        want.append(("row_count", "*", n))
    # validate() emits row-level rules first, then keyed rules, but the
    # compare is order-insensitive anyway
    return [f"validate:rules={len(rules)}"], compare_sets(got, want), len(got)


def _cell(row, col):
    return {"id": row[0], "cat": row[1], "val": row[2], "fk": row[3]}[col]


def _fam_drift(spark, rng):
    from lime_etl_spark.ops import quality as Q

    def draw(n):
        return [
            (float(round(rng.gauss(rng.choice([0, 10]), rng.choice([1, 5])), 4)),)
            for _ in range(n)
        ]

    big = getattr(rng, "big", False)
    hi = 20_000 if big else 60
    ref_rows = draw(rng.randint(0, hi))
    cur_rows = draw(rng.randint(0, hi))
    if rng.random() < 0.1:  # degenerate: constant reference
        ref_rows = [(5.0,)] * rng.randint(1, 5)
    ref = spark.createDataFrame(ref_rows, "x double") if ref_rows else spark.createDataFrame([], "x double")
    cur = spark.createDataFrame(cur_rows, "x double") if cur_rows else spark.createDataFrame([], "x double")
    n_bins = rng.choice([1, 4, 10])
    got = [tuple(r) for r in Q.drift_report(ref, cur, "x", n_bins=n_bins).collect()]
    rvals = [r[0] for r in ref_rows]
    cvals = [c[0] for c in cur_rows]
    lo = min(rvals) if rvals else None
    hi = max(rvals) if rvals else None

    def bin_of(x):
        if lo is None:
            return None
        if hi == lo:
            raw = 0
        else:
            raw = math.floor((x - lo) / ((hi - lo) / float(n_bins)))
        if x < lo:
            return -1
        if x > hi:
            return n_bins
        return min(raw, n_bins - 1)

    nr = Counter(bin_of(x) for x in rvals)
    nc = Counter(bin_of(x) for x in cvals)
    bins = set(nr) | set(nc)
    tr, tc = sum(nr.values()), sum(nc.values())
    num = sum(abs(nr.get(b, 0) * tc - nc.get(b, 0) * tr) for b in bins)
    tvd = (
        float(num) / (2.0 * float(tr) * float(tc)) if tr > 0 and tc > 0 else None
    )
    want = [(b, nr.get(b, 0), nc.get(b, 0), tvd) for b in bins]
    return [f"drift:bins={n_bins}"], compare_sets(got, want), len(got)


def _fam_pagerank(spark, rng):
    from lime_etl_spark.ops import graph as G

    big = getattr(rng, "big", False)
    nodes = rng.sample(
        range(1, 10_000), rng.randint(300, 800) if big else rng.randint(2, 40)
    )
    edges = set()
    for _ in range(rng.randint(1, 3 * len(nodes))):
        a, b = rng.sample(nodes, 2)
        edges.add((a, b))  # directed; self-loops excluded by sample
    edges = sorted(edges)
    n_iter = rng.randint(1, 4)
    damping = rng.choice([50, 85, 100])
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = [
        tuple(r)
        for r in G.pagerank(df, n_iter=n_iter, damping_pct=damping).collect()
    ]
    all_nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = Counter(a for a, _ in edges)
    n_nodes = len(all_nodes)
    scale = G.SCALE
    pr = {v: scale // n_nodes for v in all_nodes}
    for _ in range(n_iter):
        s: Counter = Counter()
        for a, b in edges:
            s[b] += pr[a] // outdeg[a]
        pr = {
            v: ((100 - damping) * scale) // (100 * n_nodes)
            + (damping * s.get(v, 0)) // 100
            for v in all_nodes
        }
    want = [(v, pr[v], pr[v] / float(scale)) for v in all_nodes]
    return [f"pagerank:i={n_iter}:d={damping}"], compare_sets(got, want), len(got)


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------

# NOTE (same precedent as tools/qgen.py and llmgen.py): adding a family
# changes the seed -> family mapping; regression fixes are pinned
# STRUCTURALLY by focused tests, and pinned seeds stay as sweep coverage.
FAMILIES = [
    (_fam_text_stats, 1.4),
    (_fam_fingerprint_bpe, 1.0),
    (_fam_repetition, 1.0),
    (_fam_tfidf, 1.0),
    (_fam_filter_decisions, 1.4),
    (_fam_span_dedup, 1.0),
    (_fam_length_histogram, 0.7),
    (_fam_redact, 0.8),
    (_fam_vocab_collocations, 1.2),
    (_fam_split_sample, 1.4),
    (_fam_stratified, 0.8),
    (_fam_pack, 1.2),
    (_fam_global_rank, 1.0),
    (_fam_cohort, 1.0),
    (_fam_funnel, 1.6),
    (_fam_scd2_pit, 1.4),
    (_fam_validate, 1.2),
    (_fam_drift, 1.0),
    (_fam_pagerank, 1.0),
]


def check_seed(spark, seed: int, big: bool = False) -> dict:
    return check_family_seed(spark, seed, FAMILIES, big)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seeds", type=int, default=2000)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--big", action="store_true",
        help="widen draw ranges (300-1,200-doc corpora, 2k-10k keyed rows, "
        "100-400-user event logs, 300-800-node graphs) so multi-partition "
        "shuffles and AQE engage; oracles stay exact",
    )
    args = ap.parse_args()

    from lime_etl_spark.session import get_spark

    spark = get_spark("opsgen", shuffle_partitions=16 if args.big else 4)
    spark.sparkContext.setLogLevel("ERROR")
    sw = Sweep().run(
        lambda s: check_seed(spark, s, args.big),
        range(args.start, args.start + args.seeds),
    )
    harness = (
        "opsgen (randomized corpora/event-logs/change-streams/rule-sets "
        "vs pure-Python oracles: text, sampling, behavior, quality, graph)"
    )
    emit(sw.report({"harness": harness, "big_mode": args.big}), args.out)


if __name__ == "__main__":
    main()
