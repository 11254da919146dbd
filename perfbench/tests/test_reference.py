"""Hand-built cases for the benchmark's plain-Python references.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import reference as ref  # noqa: E402

TS = "2024-06-01 06:00:00"


def resp(rid: int, **kw) -> dict:
    r = {
        "id": str(100000 + rid), "submitdate": "2024-01-02 10:01:00", "lastpage": "3",
        "startlanguage": "en", "startdate": "2024-01-02 09:55:00",
        "datestamp": "2024-01-02 10:01:30", "token": "t", "q01": "A4",
        "q03": f"u{rid}@example.com", "q06": f"ORD-{rid}", "q12": "web", "q22": f"RET-{rid}",
    }
    r.update(kw)
    return r


def test_strip_cast_follows_try_cast():
    assert ref.strip_cast("A5", "A|N") == 5.0
    assert ref.strip_cast("N10", "A|N") == 10.0
    assert ref.strip_cast("N10", "A") is None  # returns/orders strip only "A"
    assert ref.strip_cast("A6", "A") == 6.0
    assert ref.strip_cast("", "A") is None
    assert ref.strip_cast(None, "A") is None


def test_nps_drops_null_email_or_score_only():
    rows = ref.nps({
        1: resp(1),
        2: resp(2, q03=None),
        3: resp(3, q01=None),
        4: resp(4, q01="", q03=""),  # empty strings are not null
        5: resp(5, submitdate=None, q12=None),
    }, TS)
    got = {r[0]: r for r in rows}
    assert sorted(got) == ["1", "4", "5"]
    assert got["1"][6] == 4.0 and got["1"][-1] == TS
    assert got["4"][6] is None and got["4"][7] == ""
    assert got["5"][1] is None  # date_sent comes from submitdate


def test_returns_drops_nulls_in_any_projected_column():
    rows = ref.returns({
        1: resp(1),
        2: resp(2, q12=None),
        3: resp(3, submitdate=None),  # not projected: kept
        4: resp(4, q01="N10"),
    }, TS)
    got = {r[0]: r for r in rows}
    assert sorted(got) == ["100001", "100003", "100004"]
    assert got["100003"][1] == "2024-01-02 10:01:30"  # date_sent is datestamp
    assert got["100004"][2] is None
    assert got["100001"][-1] == "web"


def test_orders_keep_latest_ties_and_whitelist():
    rows = ref.orders_shipped({
        1: resp(1, q06="ORD-X", datestamp="2024-01-02 10:00:00", q01="A1"),
        2: resp(2, q06="ORD-X", datestamp="2024-01-03 10:00:00", q01="A2"),
        3: resp(3, q06="ORD-T", datestamp="2024-01-02 11:00:00", q01="A3"),
        4: resp(4, q06="ORD-T", datestamp="2024-01-02 11:00:00", q01="A4"),
        5: resp(5, q01="A6"),
        6: resp(6, q06="ORD-W", datestamp="2024-01-05 10:00:00", q01="N10"),
        7: resp(7, q06="ORD-W", datestamp="2024-01-04 10:00:00", q01="A5"),
        8: resp(8, q03=None),
    }, TS)
    got = {r[4]: (r[0], r[2]) for r in rows}
    # ORD-W's latest row is a whitelist reject, so the whole order goes
    assert got == {"ORD-X": ("100002", 2.0), "ORD-T": ("100004", 4.0)}


def test_warehouse_replaces_only_days_written():
    w = ref.Warehouse("returns")
    day1 = resp(1, datestamp="2024-01-01 10:00:00")
    day2 = resp(2, datestamp="2024-01-02 10:00:00")
    w.reload({1: day1, 2: day2}, "ts0", first_day="2024-01-01")
    assert [r[0] for r in w.rows()] == ["2024-01-01", "2024-01-02"]
    # second cycle: a window from day 2 on; day 1's edit must not land
    edited1 = dict(day1, q01="A5")
    day3 = resp(3, datestamp="2024-01-03 10:00:00")
    w.reload({1: edited1, 2: day2, 3: day3}, "ts1", first_day="2024-01-02")
    rows = {r[0]: r for r in w.rows()}
    assert rows["2024-01-01"][3] == 4.0 and rows["2024-01-01"][8] == "ts0"
    assert rows["2024-01-02"][8] == "ts1" and "2024-01-03" in rows
    # a window day with no rows keeps its old partition
    w.reload({1: edited1, 3: day3}, "ts2", first_day="2024-01-02")
    assert {r[0]: r[8] for r in w.rows()} == {"2024-01-01": "ts0", "2024-01-02": "ts1", "2024-01-03": "ts2"}


def test_jaccard_on_word_trigrams():
    assert ref.jaccard("a b c d", "a b c d") == 1.0
    assert ref.jaccard("a b c d", "a b c e") == 1 / 3  # {abc,bcd} vs {abc,bce}
    assert ref.jaccard("The, CAT sat. on", "the cat sat on") == 1.0  # tokeniser
    assert ref.jaccard("a b c", "d e f") == 0.0
    assert ref.jaccard("a b", "a b") == 0.0  # fewer than 3 tokens: no shingles
    # repeated shingles count once (sets, not bags)
    assert ref.jaccard("x y z x y z", "x y z") == 1 / 3


def test_head_tokens_round_trip():
    for doc_id in (0, 1, 25, 26, 12345, 10**9):
        tok = gen.head_token(doc_id)
        assert ref.tokens(tok) == [tok]
        assert gen.parse_head(tok) == doc_id
    assert gen.parse_head("zqx") is None and gen.parse_head("hello") is None


def test_generators_are_seeded():
    assert gen.corpus_docs(7, 300) == gen.corpus_docs(7, 300)
    assert gen.corpus_docs(7, 300) != gen.corpus_docs(8, 300)
    rows, plants = gen.corpus_docs(7, 300)
    texts = dict(rows)
    for group in plants["exact_groups"]:
        assert len({texts[d] for d in group}) == 1
    batches, exact = gen.ingest_batches(7, 3, 50)
    assert (batches, exact) == gen.ingest_batches(7, 3, 50)
    ids = [d for b in batches for d, _ in b]
    assert ids == sorted(ids) and len(ids) == 150
    texts = {d: t for b in batches for d, t in b}
    for d in exact:  # an exact copy repeats an earlier doc's text
        assert any(texts[e] == texts[d] for e in ids if e < d)
