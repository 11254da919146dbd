"""Text + dedup operator tests, including property-based tokenizer
equivalence (SURVEY.md §5.3)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lime_etl_spark.ops import dedup, text


def _py_tokens(s: str) -> list[str]:
    return re.findall("[a-z0-9]+", s.lower())


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abcXYZ019 .,!-\t\néü中",
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_tokenizer_matches_python_re(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = [r.toks for r in df.select(text.tokens("text").alias("toks")).collect()]
    expected = [_py_tokens(t) for t in texts]
    assert got == expected


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("one",)], "text STRING"
    )
    out = df.select(text.shingles("text", 3).alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == []  # < n tokens → empty, NOT a descending-sequence artifact
    assert out[2].s == []
    assert out[3].s == []


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),  # same token stream → dup of 1
            (3, "something else"),
        ],
        "doc_id BIGINT, text STRING",
    )
    groups = dedup.exact_dedup_groups(df)
    g = groups.collect()
    assert len(g) == 1 and g[0].canonical_id == 1 and g[0].n_docs == 2
    survivors = sorted(r.doc_id for r in dedup.exact_dedup(df).collect())
    assert survivors == [1, 3]


def test_jaccard_and_minhash_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-token edit
    far = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id BIGINT, text STRING"
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and len(got) == 1

    nd = dedup.minhash_near_dups(df, threshold=0.5)
    got_lsh = {(r.id_a, r.id_b) for r in nd.collect()}
    assert got_lsh == {(1, 2)}


def test_hot_shingle_cap_bounds_pair_count(spark):
    # 40 docs sharing one boilerplate phrase + unique tails: uncapped,
    # the shared shingles alone make every pair a candidate (~40*39/2
    # rows out of the self-join); with the doc-frequency cap the
    # boilerplate shingles are dropped and no pair survives.
    boiler = "this document is provided as is without any warranty whatsoever"
    rows = [(i, f"{boiler} unique tail {i} alpha beta gamma {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.2, max_docs_per_shingle=None)
    assert uncapped.count() == 40 * 39 // 2
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.2, max_docs_per_shingle=10)
    assert capped.count() == 0


def test_candidate_pairs_mode_matches_self_join(spark):
    # pairs= (verification mode) must score candidate pairs identically
    # to the full self-join, including n_a/n_b set sizes.
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id BIGINT, text STRING"
    )
    full = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a BIGINT, id_b BIGINT")
    driven = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0, pairs=cand).collect()
    }
    # (1,3) shares no shingles → absent from both modes; (1,2) identical
    assert driven == {k: v for k, v in full.items() if k in {(1, 2), (1, 3)}}


def test_minhash_signature_shape(spark, sf_dir):
    from lime_etl_spark.io.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50)
    sigs = dedup.minhash_signatures(docs)
    assert sigs.columns == ["id"] + [f"m{j}" for j in range(dedup.MINHASH_PERMS)]
    row = sigs.collect()[0]
    for j in range(dedup.MINHASH_PERMS):
        assert 0 <= row[f"m{j}"] < dedup.MOD_P


def test_lsh_hot_bucket_slicing_output_identical(spark):
    # Round-11 hot-bucket cap (two-level positional pairing): forcing
    # the cap below every bucket size routes ALL pairs through the
    # salted slice cells; the pair set must be identical to the
    # effectively-uncapped shape for every cap, including cap=1
    # (maximal slicing: every cell is a 1x1 cross or empty diagonal).
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = []
    for i in range(60):
        words = base.split()
        if i % 3 == 0 and i > 0:
            words[i % len(words)] = f"w{i}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    want = sorted(
        tuple(r) for r in dedup.minhash_lsh_candidates(df, hot_bucket_cap=10**9).collect()
    )
    assert len(want) > 50  # the fixture must actually collide
    for cap in (1, 2, 5):
        got = sorted(
            tuple(r)
            for r in dedup.minhash_lsh_candidates(df, hot_bucket_cap=cap).collect()
        )
        assert got == want, f"cap={cap} changed the candidate set"


def test_lsh_hot_bucket_cap_spreads_cells(spark):
    # With a 25-doc bucket and cap=5, the sorted id array must split
    # into S=5 slices -> 15 cells, and the pair stream must come out of
    # the cell exchange (Exchange hashpartitioning on the cell key),
    # not a single bucket row. Checked at the output level: one shared
    # bucket, cap far below its size, pair count is exactly C(25,2).
    text = "identical boilerplate text shared by every single document here"
    df = spark.createDataFrame(
        [(i, text) for i in range(25)], "doc_id BIGINT, text STRING"
    )
    got = dedup.minhash_lsh_candidates(df, hot_bucket_cap=5).count()
    assert got == 25 * 24 // 2


def test_lsh_hot_bucket_cap_below_one_raises(spark, monkeypatch):
    # A cap < 1 must fail at the call, from the argument or the env
    # default alike — not later inside the plan's ANSI slice division.
    df = spark.createDataFrame([(1, "a b c d")], "doc_id BIGINT, text STRING")
    for cap in (0, -3):
        with pytest.raises(ValueError, match="hot_bucket_cap must be >= 1"):
            dedup.minhash_lsh_candidates(df, hot_bucket_cap=cap)
    monkeypatch.setenv("LIME_LSH_HOT_BUCKET_CAP", "0")
    with pytest.raises(ValueError, match="hot_bucket_cap must be >= 1"):
        dedup.minhash_lsh_candidates(df)


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark query engine with distributed joins and aggregates"),
            (2, "spark query engine with distributed joins and windows"),
            (3, "pelican migration routes across coastal wetlands yearly"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.id: r.simhash for r in dedup.simhash(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[2]) < hamming(out[2], out[3])


def test_langid_und_for_markerless(spark):
    df = spark.createDataFrame([(1, "zzz qqq xxx"), (2, "the cat and dog")], "doc_id BIGINT, text STRING")
    got = {r.doc_id: r.lang_pred for r in text.with_lang_id(df).collect()}
    assert got[1] == "und"
    assert got[2] == "en"


def test_quality_score_short_doc_zero(spark):
    df = spark.createDataFrame([(1, "too short"), (2, " ".join(["the word"] * 40))], "doc_id BIGINT, text STRING")
    got = {r.doc_id: r.quality_score for r in text.with_quality_score(df).collect()}
    assert got[1] == 0.0
    assert got[2] > 0.5


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(["A1", "A5", "N10", "NA", "A", "", "7.5", "A7.25", "x9"]),
            st.text(alphabet="AN0123456789.", max_size=8),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_clean_numeric_matches_reference_lambda(spark, values):
    """Property: clean_numeric('A|N') == the reference's
    float(re.sub("A|N", "", x)) (/root/reference/lime_survey_nps.py:73)
    wherever the reference would SUCCEED; where the reference would
    raise ValueError, the engine yields NULL (documented deviation)."""
    from lime_etl_spark.ops.core import clean_numeric

    df = spark.createDataFrame([(v,) for v in values], "g STRING")
    got = [r.g for r in clean_numeric(df, "g", "A|N").collect()]
    for v, g in zip(values, got):
        stripped = re.sub("A|N", "", v)
        try:
            expected = float(stripped)
        except ValueError:
            assert g is None, (v, g)
        else:
            if expected != expected:  # nan
                assert g is None or g != g
            else:
                assert g == expected, (v, g, expected)


def test_redact_replaces_pii_patterns(spark):
    from lime_etl_spark.ops import text as t

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@example.co.uk or visit https://x.io/a?b=1 ref 12345678 ok")],
        "doc_id BIGINT, text STRING",
    )
    out = t.redact(df).collect()[0].text_redacted
    assert "<EMAIL>" in out and "<URL>" in out and "<NUMBER_LONG>" in out
    assert "example" not in out and "x.io" not in out and "12345678" not in out
    # short numbers survive (7+ digit threshold)
    df2 = spark.createDataFrame([(1, "call 555 1234")], "doc_id BIGINT, text STRING")
    assert "555 1234" in t.redact(df2).collect()[0].text_redacted


def test_vocabulary_counts(spark):
    from lime_etl_spark.ops import text as t

    df = spark.createDataFrame(
        [(1, "spark spark joins"), (2, "spark windows")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r.token: (r.term_freq, r.doc_freq) for r in t.vocabulary(df).collect()}
    assert rows["spark"] == (3, 2)
    assert rows["joins"] == (1, 1)
    assert rows["windows"] == (1, 1)


def test_split_deterministic_and_proportional(spark, sf_dir):
    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops import sampling

    docs = read_table(spark, sf_dir, "documents")
    s1 = {(r.doc_id, r.split) for r in sampling.with_split(docs, "doc_id").collect()}
    s2 = {(r.doc_id, r.split) for r in sampling.with_split(docs, "doc_id").collect()}
    assert s1 == s2  # pure function of the key
    n = len(s1)
    train = sum(1 for _, sp in s1 if sp == "train")
    assert 0.8 * n < train < 0.97 * n  # ~90% within hash-uniformity noise
    # independent splits under different salts
    s3 = {(r.doc_id, r.split) for r in sampling.with_split(docs, "doc_id", salt="x").collect()}
    assert s3 != s1
    # sampling thins to ~pct and is a subset of the corpus keys
    samp = {r.doc_id for r in sampling.deterministic_sample(docs, "doc_id", pct=10).collect()}
    assert 0.03 * n < len(samp) < 0.2 * n
    assert samp <= {d for d, _ in s1}


def test_sampling_null_keys_unified_and_never_dropped(spark):
    """NULL keys hash as '' (one shared _key_hash): with_split assigns
    them a real split by the same bucket rule as everything else (the
    old concat(NULL, salt) NULLed the hash and dumped every NULL-key
    row into 'eval'), deterministic_sample keeps/drops them by the
    same rule instead of silently deleting them, and the two operators
    AGREE — a NULL-key row is sampled iff its bucket passes, exactly
    like the empty-string key it collides with."""
    from lime_etl_spark.ops import sampling

    df = spark.createDataFrame(
        [(None, "a"), ("", "b"), ("k1", "c"), ("k2", "d")],
        "key STRING, payload STRING",
    )
    split = {r.payload: r.split for r in sampling.with_split(df, "key").collect()}
    # NULL and '' collide by design => identical assignment
    assert split["a"] == split["b"]
    # membership matches with_split's bucket rule for every pct
    for pct in (0, 50, 100):
        kept = {
            r.payload
            for r in sampling.deterministic_sample(df, "key", pct=pct).collect()
        }
        expected = {
            p
            for p, s in {
                r.payload: r.split
                for r in sampling.with_split(df, "key", train_pct=pct).collect()
            }.items()
            if s == "train"
        }
        assert kept == expected, pct
    assert "a" in {  # NULL-key rows are never silently dropped
        r.payload for r in sampling.deterministic_sample(df, "key", pct=100).collect()
    }


def test_pack_sequences_null_length_excluded(spark):
    """Docs with NULL length are excluded from packing (an unknown
    token count can't be budgeted); they used to collapse corpus-wide
    into one NULL pack_bin that pack_materialize shipped as a single
    unbounded training row."""
    from lime_etl_spark.ops.sampling import pack_materialize, pack_sequences

    docs = spark.createDataFrame(
        [(1, "aa", 2), (2, None, None), (3, "bbb", 3), (4, None, None)],
        "doc_id BIGINT, text STRING, n_tokens BIGINT",
    )
    packed = pack_sequences(docs, budget=100, n_buckets=2)
    assert {r.doc_id for r in packed.collect()} == {1, 3}
    assert all(r.pack_bin is not None for r in packed.collect())
    mat = pack_materialize(packed).collect()
    assert sum(r.n_docs for r in mat) == 2
    assert all(r.total_tokens is not None for r in mat)


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 4-node chain (diameter 3 — needs
    multiple rounds), a separate 2-node island, and a triangle that
    shares no nodes with either. Component id = min member id."""
    from lime_etl_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {
        r["doc_id"]: (r["component_id"], r["component_size"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 2), 11: (10, 2),
        20: (20, 3), 21: (20, 3), 22: (20, 3),
    }


def test_connected_components_empty_pairs(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from lime_etl_spark.ops.dedup import connected_components

    empty = spark.createDataFrame(
        [], StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
    )
    out = connected_components(empty)
    assert out.columns == ["doc_id", "component_id", "component_size"]
    assert out.count() == 0


def test_repetition_stats_known_values(spark):
    """'a b a b a' → 3-grams [aba, bab, aba]: dup frac 1/3; bigrams
    [ab, ba, ab, ba]: top 'a b' (tie broken lexicographically) with
    2/4. Single-token doc → all zeros, empty top bigram."""
    from lime_etl_spark.ops.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "hello")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert (r1["n_3grams"], r1["n_uniq_3grams"]) == (3, 2)
    assert r1["dup_3gram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert (r1["top_bigram"], r1["top_bigram_n"]) == ("a b", 2)
    assert r1["top_bigram_frac"] == pytest.approx(0.5)
    r2 = rows[2]
    assert (r2["n_3grams"], r2["top_bigram"], r2["top_bigram_n"]) == (0, "", 0)
    assert r2["dup_3gram_frac"] == 0.0 and r2["top_bigram_frac"] == 0.0


def test_ngram_overlap_broadcasts_eval_side(spark):
    """Decontamination: eval shingles must probe via a broadcast hash
    join (the train side never shuffles for membership — since round
    10 a LEFT join whose count(__hit) equals the old semi-join count),
    the train corpus must be tokenized exactly ONCE (one Generate for
    train, one for the eval index — the old sizes leg re-tokenized
    train), and a fully-contained train doc reports overlap 1.0."""
    from lime_etl_spark.ops.dedup import ngram_overlap

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally different words here now")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, "the quick brown fox jumps")], ["doc_id", "text"])
    out = ngram_overlap(train, ev, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert plan.count("Generate") == 2  # train tokenized once, eval once
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["overlap_frac"] == pytest.approx(1.0)
    assert rows[1]["contaminated"] is True
    assert rows[2]["n_hit"] == 0 and rows[2]["contaminated"] is False


def test_tfidf_rare_term_outranks_common(spark):
    from lime_etl_spark.ops.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common words only"),
            (3, "common words again"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, k=2)
    top1 = {r["rank"]: r["term"] for r in out.filter("doc_id = 1").collect()}
    # zebra: tf=1, df=1 → 1*3/1 = 3.0; common: tf=3, df=3 → 3*3/3 = 3.0
    # tie → lexicographic: 'common' first
    assert top1 == {1: "common", 2: "zebra"}


def test_pack_sequences_bin_contract(spark):
    """Next-fit packing: within each bucket every bin except the last
    reaches the budget (it only closes when the running total crosses
    the boundary), no bin exceeds budget + its last doc's length, and
    assignments are invariant to input partitioning."""
    from lime_etl_spark.ops.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, 10 + (i * 37) % 90) for i in range(300)], ["doc_id", "n_tokens"]
    )
    out = pack_sequences(docs, budget=200, n_buckets=4).collect()
    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r["pack_bin"], []).append(r)
    for bin_id, rows in by_bin.items():
        total = sum(r["n_tokens"] for r in rows)
        assert total <= 200 + max(r["n_tokens"] for r in rows), bin_id
    # determinism under different partitioning
    out2 = pack_sequences(docs.repartition(7), budget=200, n_buckets=4).collect()
    assert {(r["doc_id"], r["pack_bin"]) for r in out} == {
        (r["doc_id"], r["pack_bin"]) for r in out2
    }


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Property: on random graphs (self-loops, duplicate and reversed
    edges included), min-label propagation agrees with a reference
    union-find on both component membership and sizes."""
    from lime_etl_spark.ops.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    nodes = {n for e in edges for n in e}
    expected = {}
    sizes = {}
    for n in nodes:
        root = find(n)
        expected[n] = min(m for m in nodes if find(m) == root)
    for n in nodes:
        sizes[expected[n]] = sizes.get(expected[n], 0) + 1

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a BIGINT, id_b BIGINT"
    )
    got = {
        r["doc_id"]: (r["component_id"], r["component_size"])
        for r in connected_components(pairs).collect()
    }
    assert got == {n: (expected[n], sizes[expected[n]]) for n in nodes}


def test_simhash_arrow_matches_jvm(spark, sf_dir):
    """The Arrow (mapInPandas) SimHash must be bit-identical to the JVM
    explode path on real fixture docs — same md5-prefix hash, same
    sign rule, same tie handling."""
    from lime_etl_spark.io.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(100)
    jvm = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    arrow = {r["id"]: r["simhash"] for r in dedup.simhash_arrow(docs).collect()}
    assert jvm == arrow and len(jvm) == 100


def test_simhash_arrow_drops_tokenless_docs_like_jvm(spark):
    """Token-less docs (no alnum runs, empty, NULL) explode to ZERO
    rows on the JVM path and never reach the output; the Arrow twin
    used to emit (id, 0) for them — making every pair of empty docs a
    hamming-0 'near-duplicate' on one implementation only."""
    df = spark.createDataFrame(
        [(1, "?!?"), (2, "hello world foo"), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    jvm = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    arrow = {r["id"]: r["simhash"] for r in dedup.simhash_arrow(df).collect()}
    assert set(jvm) == set(arrow) == {2}
    assert jvm == arrow


def test_ngram_candidate_mode_tokenizes_only_candidates(spark, sf_dir):
    """In pairs= (verification) mode the candidate semi-join must sit
    BELOW the tokenize+shingle projection — Catalyst pushes a later
    semi-join under the Generate but not under the projection, so the
    old shape tokenized EVERY corpus row before discarding
    non-candidates (O(all accepted docs) CPU per streaming batch)."""
    from lime_etl_spark.io.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    out = dedup.ngram_jaccard_pairs(docs, pairs=pairs, threshold=0.0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("LeftSemi") > plan.index("array_distinct")


def test_ngram_overlap_single_generate(spark):
    """Set sizes come off the pre-explode array (narrow size()), not a
    second aggregation of the exploded index — the old shape re-ran
    tokenize+explode end to end per ingest micro-batch. Exactly two
    Generates remain (train hits side + eval side), and zero-shingle
    docs stay excluded as before."""
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "xy"), (3, None)],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(9, "alpha beta gamma zeta")], "doc_id bigint, text string"
    )
    out = dedup.ngram_overlap(train, ev, threshold=0.2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate ") == 2, plan.count("Generate ")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1}  # docs 2 (too short) and 3 (NULL) excluded
    assert rows[1]["n_shingles"] == 3 and rows[1]["n_hit"] == 1
    assert rows[1]["overlap_frac"] == 0.333333 and rows[1]["contaminated"]


@pytest.mark.slow
@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e9"]), max_size=10),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e9"]), max_size=10),
        min_size=0,
        max_size=3,
    ),
)
def test_ngram_overlap_matches_python(spark, train_lists, eval_lists):
    """Property: the one-pass left-join shape (round 10, second pass)
    agrees with a direct Python set computation for arbitrary small
    corpora — including empty eval sets, sub-n docs (excluded), and
    fully-contained docs. Guards the semi-join→left-join equivalence
    (ev distinct ⇒ no row duplication ⇒ count(__hit) == hits)."""
    from lime_etl_spark.ops.dedup import ngram_overlap
    from lime_etl_spark.tools.llmgen import py_shingles, py_tokens, round_half_up

    train = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(train_lists)],
        "doc_id bigint, text string",
    )
    ev_rows = [(100 + i, " ".join(toks)) for i, toks in enumerate(eval_lists)]
    ev = spark.createDataFrame(
        ev_rows or [(100, "")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_hit"], r["overlap_frac"], r["contaminated"])
        for r in ngram_overlap(train, ev, threshold=0.5).collect()
    }
    ev_sh: set[str] = set()
    for _, txt in ev_rows:
        ev_sh |= set(py_shingles(py_tokens(txt), 3))
    want = {}
    for i, toks in enumerate(train_lists):
        sh = set(py_shingles(py_tokens(" ".join(toks)), 3))
        if not sh:
            continue  # sub-n docs are excluded, as documented
        frac = round_half_up(len(sh & ev_sh) / len(sh), 6)
        want[i] = (len(sh), len(sh & ev_sh), frac, frac >= 0.5)
    assert got == want


@pytest.mark.slow
@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e9"]), max_size=12),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_stats_match_python(spark, token_lists):
    """Property: repetition metrics agree with a direct Python
    computation over arbitrary token sequences (short docs, all-dup
    docs, empty docs included)."""
    from collections import Counter

    from lime_etl_spark.ops.text import repetition_stats

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, toks in enumerate(token_lists):
        tri = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        bi = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        r = got[i]
        assert r["n_3grams"] == len(tri)
        assert r["n_uniq_3grams"] == len(set(tri))
        if tri:
            assert r["dup_3gram_frac"] == pytest.approx(
                round(1 - len(set(tri)) / len(tri), 6), abs=1e-9
            )
        else:
            assert r["dup_3gram_frac"] == 0.0
        if bi:
            top_n = max(Counter(bi).values())
            top_g = min(g for g, c in Counter(bi).items() if c == top_n)
            assert (r["top_bigram"], r["top_bigram_n"]) == (top_g, top_n)
            assert r["top_bigram_frac"] == pytest.approx(
                round(top_n / len(bi), 6), abs=1e-9
            )
        else:
            assert (r["top_bigram"], r["top_bigram_n"], r["top_bigram_frac"]) == ("", 0, 0.0)


def test_connected_components_unconverged_raises(spark):
    """A diameter-4 chain cannot converge in one round — the operator
    must fail loudly rather than ship silently-split components."""
    from lime_etl_spark.ops.dedup import connected_components

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)
    # and converges fine with headroom
    out = connected_components(chain, max_iter=10)
    assert {r["component_id"] for r in out.collect()} == {1}


def test_span_dedup_first_occurrence_wins(spark):
    # doc 0 and doc 1 share an identical 5-token span; doc 0 (lower id)
    # keeps it, doc 1 loses it. doc 1's distinctive tail span survives.
    dup = "alpha beta gamma delta epsilon"
    rows = [
        (0, dup + " zeta eta theta iota kappa"),
        (1, dup + " one two three four five"),
        (2, "solo words only here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.span_dedup(df, span=5).collect()}
    assert out[0]["n_spans"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["text_deduped"] == rows[0][1]
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_deduped"] == "one two three four five"
    assert out[2]["n_kept"] == 1 and out[2]["text_deduped"] == rows[2][1]


def test_span_dedup_partial_tail_span(spark):
    # 7 tokens -> one full span + one 2-token tail span, both unique
    df = spark.createDataFrame(
        [(1, "a b c d e f g")], ["doc_id", "text"]
    )
    row = text.span_dedup(df, span=5).collect()[0]
    assert row["n_spans"] == 2 and row["n_kept"] == 2
    assert row["text_deduped"] == "a b c d e f g"


def test_span_dedup_partitioning_invariant(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = text.span_dedup(docs).orderBy("doc_id").collect()
    b = text.span_dedup(docs.repartition(7)).orderBy("doc_id").collect()
    assert a == b


def test_length_histogram_shares_sum_to_one(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = text.length_histogram(docs).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(r["bucket_lo"] % 10 == 0 for r in rows)


def test_weighted_resample_rates_and_determinism(spark, sf_dir):
    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops import sampling

    emb = read_table(spark, sf_dir, "embeddings")
    rates = {0: 100, 1: 50, 5: 0}
    kept1 = {r.vec_id for r in sampling.weighted_resample(
        emb, "vec_id", "label", rates, default_pct=10).collect()}
    kept2 = {r.vec_id for r in sampling.weighted_resample(
        emb.repartition(5), "vec_id", "label", rates, default_pct=10).collect()}
    assert kept1 == kept2  # pure row function: layout-independent
    by_label = {r.label: r for r in emb.groupBy("label").count().collect()}
    kept_by_label: dict[int, int] = {}
    for r in emb.select("vec_id", "label").collect():
        if r.vec_id in kept1:
            kept_by_label[r.label] = kept_by_label.get(r.label, 0) + 1
    assert kept_by_label.get(0, 0) == by_label[0]["count"]  # 100% stratum intact
    assert kept_by_label.get(5, 0) == 0                     # 0% stratum gone
    half = by_label[1]["count"]
    assert 0.25 * half < kept_by_label.get(1, 0) < 0.75 * half  # ~50%


def test_filter_decisions_rule_cascade(spark):
    en = "the cat and the dog went to the market in town today again"  # 13 toks, en, quality ok
    rows = [
        (1, en),                                # keep
        (2, en),                                # exact dup of 1
        (3, "too short here"),                  # too_short
        (4, " ".join(["word"] * 30)),           # > max_tokens(20) -> too_long
        (5, "zz " * 12),                        # low_quality: no stopwords, avg len 2
        (6, "der hund und die katze ist gut und der mann und die frau und das kind"),  # lang=de
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.filter_decisions(
        df, min_tokens=10, max_tokens=20, min_quality=0.1).collect()}
    assert out[1]["keep"] and out[1]["drop_reason"] == "keep"
    assert out[2]["drop_reason"] == "exact_dup" and out[2]["is_exact_dup"]
    assert out[3]["drop_reason"] == "too_short"
    assert out[4]["drop_reason"] == "too_long"
    assert out[5]["drop_reason"] == "low_quality"
    assert out[6]["drop_reason"] == "lang" and out[6]["lang_pred"] == "de"
    assert not any(out[i]["keep"] for i in (2, 3, 4, 5, 6))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e9"]), min_size=1, max_size=14),
        min_size=1,
        max_size=8,
    )
)
def test_span_dedup_matches_python(spark, token_lists):
    """Property: span_dedup agrees with a direct Python first-occurrence
    computation over arbitrary corpora (shared spans, within-doc
    repeats, short tail spans included)."""
    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in text.span_dedup(df, span=3).collect()}

    seen: set[str] = set()
    expected: dict[int, tuple[int, int, str]] = {}
    for i, toks in enumerate(token_lists):  # doc_id order == first-occurrence order
        spans = [" ".join(toks[j : j + 3]) for j in range(0, len(toks), 3)]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        expected[i] = (len(spans), len(kept), " ".join(kept))
    assert set(got) == set(expected)
    for i, (n_spans, n_kept, text_deduped) in expected.items():
        r = got[i]
        assert (r["n_spans"], r["n_kept"], r["text_deduped"]) == (
            n_spans, n_kept, text_deduped
        ), f"doc {i}"


def test_simhash_near_pairs_finds_close_hashes(spark):
    # constructed signatures: 2 flipped bits between 1 and 2 (within
    # the hamming<=3 bound), 16 between 1 and 3 (far outside)
    h1 = 0b10110100_01011010_11110000_00001111
    h2 = h1 ^ 0b1001  # 2 bits, both in band 0
    h3 = h1 ^ 0xAAAA_AAAA  # 16 bits, every band touched
    sims = spark.createDataFrame(
        [(1, h1), (2, h2), (3, h3)], "id BIGINT, simhash BIGINT"
    )
    got = {(r.id_a, r.id_b): r.hamming for r in
           dedup.simhash_near_pairs(None, sims=sims, max_hamming=3).collect()}
    assert got == {(1, 2): 2}


def test_simhash_near_pairs_rejects_bad_bound(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(df, max_hamming=4)


def test_filter_decisions_null_text_dropped(spark):
    """Null text must NOT sail through the filter: NULL comparisons
    skip every rule and least() ignores NULL args, so without
    normalization a null-text doc scores 0.7 and lands on 'keep'."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the cat and the dog went to the market today ok")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in text.filter_decisions(df, min_quality=0.1).collect()}
    assert not out[1]["keep"] and out[1]["drop_reason"] in ("too_short", "exact_dup")
    assert not out[2]["keep"]
    assert out[3]["keep"]
    # null and empty share the empty token stream: exactly one of them
    # is the exact-dup of the other
    assert {out[1]["drop_reason"], out[2]["drop_reason"]} == {"too_short", "exact_dup"}


def test_length_histogram_null_text_bucket_zero(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id bigint, text string"
    )
    rows = {r["bucket_lo"]: r["n_docs"] for r in text.length_histogram(df).collect()}
    assert rows == {0: 2}


def test_pack_materialize_every_doc_once(spark, sf_dir):
    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops import sampling
    from lime_etl_spark.ops.text import token_count

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count("text").cast("bigint").alias("n_tokens")
    )
    packed = sampling.pack_sequences(docs, budget=512, n_buckets=8)
    bins = sampling.pack_materialize(packed).collect()
    # conservation: every doc's text appears in exactly one bin, totals add up
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in bins) == n_docs
    total_toks = docs.agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(r["total_tokens"] for r in bins) == total_toks
    texts = {r["text"] for r in docs.collect()}
    seen = []
    for r in bins:
        seen.extend(r["packed_text"].split("\n\n"))
    assert len(seen) == n_docs and set(seen) == texts
    # bins respect the budget up to one trailing doc (next-fit contract)
    for r in bins:
        assert r["total_tokens"] < 512 + docs.agg(F.max("n_tokens")).collect()[0][0]


def test_stratified_sample_exact_counts_and_determinism(spark, sf_dir):
    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops import sampling

    emb = read_table(spark, sf_dir, "embeddings")
    s1 = sampling.stratified_sample_exact(emb, "vec_id", "label", 5)
    counts = {r["label"]: r["n"] for r in
              s1.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["label"]: r["n"] for r in
             emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    for label, n in counts.items():
        assert n == min(5, sizes[label])
    s2 = sampling.stratified_sample_exact(emb.repartition(7), "vec_id", "label", 5)
    assert {tuple(r) for r in s1.select("label", "vec_id").collect()} == {
        tuple(r) for r in s2.select("label", "vec_id").collect()
    }  # layout-independent pick


def test_global_shuffle_rank_matches_naive_and_is_deterministic(spark, sf_dir):
    """Two-phase distributed rank == naive single-window rank, twice
    (determinism across executions despite per-execution range-boundary
    sampling), across multiple partition counts (rank must not depend
    on the physical split)."""
    from pyspark.sql import Window

    from lime_etl_spark.io.sources import read_table
    from lime_etl_spark.ops import sampling

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat_ws("-", F.col("doc_id").cast("string"), F.lit("42")))
    naive = {
        (r.doc_id, r.rank)
        for r in docs.withColumn("__h", h)
        .withColumn("rank", F.row_number().over(Window.orderBy("__h", "doc_id")))
        .select("doc_id", "rank")
        .collect()
    }
    for nparts in (3, 8):
        got = {
            (r.doc_id, r.shuffle_rank)
            for r in sampling.global_shuffle_rank(
                docs, "doc_id", seed="42", partitions=nparts
            ).collect()
        }
        assert got == naive, f"partitions={nparts}"
    again = {
        (r.doc_id, r.shuffle_rank)
        for r in sampling.global_shuffle_rank(docs, "doc_id", partitions=8).collect()
    }
    assert again == naive
    # a different seed yields a different (but still dense 1..N) order
    other = sampling.global_shuffle_rank(docs, "doc_id", seed="7", partitions=8)
    ranks = sorted(r.shuffle_rank for r in other.collect())
    assert ranks == list(range(1, len(naive) + 1))
    assert {(r.doc_id, r.shuffle_rank) for r in other.collect()} != naive


def test_bpe_like_tokens_vs_python_re(spark):
    """bpe_like_tokens == Python re.findall of the same pattern on
    contraction / digit / punctuation / multi-space cases (Java regex,
    RE2 and Python re must all agree on this lookahead-free subset)."""
    import re

    from lime_etl_spark.ops.text import BPE_PRETOKEN_RE, bpe_like_tokens

    cases = [
        "It's 2024, don't panic!",
        "hello   world",
        "a1b2 c3--d4",
        "'tis 'x odd'",
        "",
        "...",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i BIGINT, s STRING"
    )
    got = {
        r.i: r.toks
        for r in df.select("i", bpe_like_tokens("s").alias("toks")).collect()
    }
    for i, s in enumerate(cases):
        want = re.findall(BPE_PRETOKEN_RE, s.lower())
        assert got[i] == want, (s, got[i], want)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab fé"),  # tiny alphabet forces shared+distinct shingles
            max_size=60,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_hashed_shingles_equivalent_to_string_shingles(spark, texts):
    """The Jaccard index keys on hashed_shingles_from_tokens instead of
    hashing string shingles; its correctness rests on the hash keys
    having the SAME distinctness structure as the strings. Pin: per doc,
    |distinct hashes| == |distinct shingle strings|, and for every doc
    pair the hash-set intersection size equals the string-set one."""
    df = spark.createDataFrame(list(enumerate(texts)), "id INT, text STRING")
    toks = text.tokens("text")
    rows = df.select(
        "id",
        F.array_distinct(text.shingles_from_tokens(toks, 3)).alias("s"),
        F.array_distinct(text.hashed_shingles_from_tokens(toks, 3)).alias("h"),
    ).collect()
    for r in rows:
        assert len(set(r.s)) == len(set(r.h)), r
    by_id = {r.id: r for r in rows}
    for i in by_id:
        for j in by_id:
            if i < j:
                a, b = by_id[i], by_id[j]
                assert len(set(a.s) & set(b.s)) == len(set(a.h) & set(b.h)), (a, b)


def test_candidate_mode_ignores_df_cap(spark):
    """Regression for the sf10 silent-no-dedup bug: shingle document
    frequency grows linearly with the corpus, so in a big-enough corpus
    EVERY shingle crosses any absolute df cap — capping inside pairs=
    verification mode then empties the similarity universe and LSH
    candidates all verify to nothing. The cap must bind only in the
    self-join mode it was built to protect."""
    # 20 identical docs: EVERY shingle has df=20, above cap=10
    rows = [(i, "shared boilerplate text across all documents here")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    cand = spark.createDataFrame([(0, 2), (1, 3)], "id_a BIGINT, id_b BIGINT")
    # self-join mode: cap drops everything (its documented contract)
    assert dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_docs_per_shingle=10
    ).count() == 0
    # candidate mode with the SAME cap argument: true shingle sets,
    # identical docs verify at jaccard 1.0
    driven = dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_docs_per_shingle=10, pairs=cand
    ).collect()
    assert {(r.id_a, r.id_b): r.jaccard for r in driven} == {(0, 2): 1.0, (1, 3): 1.0}


def test_bigrams_edges(spark):
    from lime_etl_spark.ops import text as T

    df = spark.createDataFrame(
        [("Hello, world! hello",), ("one",), ("",)], "text STRING"
    )
    got = [r.b for r in df.select(T.bigrams("text").alias("b")).collect()]
    assert got == [["hello world", "world hello"], [], []]


def test_collocations_ratio_math(spark):
    from lime_etl_spark.ops import text as T

    # 'a b' occurs 5x, tokens: a x5, b x5, c x5 -> N = 15
    # pmi_ratio(a b) = 5*15/(5*5) = 3.0
    df = spark.createDataFrame([("a b c",)] * 5, "text STRING")
    rows = {
        r["bigram"]: r
        for r in T.collocations(df, top_k=10, min_count=5).collect()
    }
    assert rows["a b"]["n_pair"] == 5 and rows["a b"]["pmi_ratio"] == 3.0
    assert rows["b c"]["pmi_ratio"] == 3.0
    assert set(rows) == {"a b", "b c"}  # min_count prunes nothing else exists


def test_decontam_prefilter_gates_ingest(spark, tmp_path):
    """decontam_prefilter drops eval-overlapping docs at the ingest
    door: they get no decision row and never enter the accepted corpus,
    while clean docs flow through the dedup gate normally."""
    import os

    from lime_etl_spark.streaming import dedup as sdedup

    eval_df = spark.createDataFrame(
        [(100, "the held out benchmark question about spark shuffles appears here")],
        "doc_id bigint, text string",
    )
    clean = "completely unrelated training text about rivers mountains and weather patterns"
    contaminated = "the held out benchmark question about spark shuffles appears here verbatim"
    docs = spark.createDataFrame(
        # doc 3: fewer tokens than the shingle width — it has NO
        # shingles, so it never appears in ngram_overlap's output; the
        # gate must still pass it through (overlap is trivially zero),
        # not drop it as contaminated (review finding)
        [(1, clean), (2, contaminated), (3, "two words")],
        "doc_id bigint, text string",
    )
    state = str(tmp_path / "state")
    sdedup.process_batch(
        docs, 0, state, prefilter=dedup.decontam_prefilter(eval_df, threshold=0.5)
    )
    dec = spark.read.parquet(os.path.join(state, sdedup.DECISIONS_SUBDIR))
    assert sorted(r.doc_id for r in dec.collect()) == [1, 3]
    corpus = spark.read.parquet(os.path.join(state, sdedup.DOCS_SUBDIR))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 3]

@pytest.mark.slow
@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_two_phase_star_matches_union_find(spark, edges):
    """Property: the large-star/small-star variant agrees with the
    reference union-find on membership and sizes — same contract as
    label_prop (round-6 rounds-reduction experiment)."""
    from lime_etl_spark.ops.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    nodes = {n for e in edges for n in e}
    expected = {}
    sizes = {}
    for n in nodes:
        root = find(n)
        expected[n] = min(m for m in nodes if find(m) == root)
    for n in nodes:
        sizes[expected[n]] = sizes.get(expected[n], 0) + 1

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a BIGINT, id_b BIGINT"
    )
    got = {
        r["doc_id"]: (r["component_id"], r["component_size"])
        for r in connected_components(pairs, algorithm="two_phase_star").collect()
    }
    assert got == {n: (expected[n], sizes[expected[n]]) for n in nodes}


@pytest.mark.slow
def test_two_phase_star_logarithmic_on_chains(spark):
    """The motivating case: a 200-node path needs ~200 label_prop
    rounds (raises at max_iter=50) but only O(log n) star rounds."""
    from lime_etl_spark.ops.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=50)
    out = connected_components(chain, max_iter=50, algorithm="two_phase_star")
    rows = out.collect()
    assert {r["component_id"] for r in rows} == {0}
    assert all(r["component_size"] == 201 for r in rows)
    with pytest.raises(ValueError, match="algorithm"):
        connected_components(chain, algorithm="bogus")


def test_two_phase_star_reliable_checkpoint_parity(spark, tmp_path):
    """The durable-materialization path works for the star variant too."""
    from lime_etl_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "id_a BIGINT, id_b BIGINT"
    )
    local = sorted(
        map(tuple, connected_components(pairs, algorithm="two_phase_star").collect())
    )
    durable = sorted(
        map(
            tuple,
            connected_components(
                pairs,
                algorithm="two_phase_star",
                reliable_checkpoint_dir=str(tmp_path / "ckpt"),
            ).collect(),
        )
    )
    assert local == durable
    assert len(local) == 6
