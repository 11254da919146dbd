"""Seeded input generators: LimeSurvey responses and documents.

Everything here is a pure function of the seed passed in, so the same
``--seed`` gives byte-identical inputs. The program under test only ever
sees what these generators produce (through the stub server or parquet
files); nothing here imports ``lime_etl_spark``.
"""

from __future__ import annotations

import random
from datetime import date, timedelta

BASE_DAY = date(2024, 1, 1)

# ---------------------------------------------------------------------------
# Survey responses
# ---------------------------------------------------------------------------


def day_str(day: int) -> str:
    return (BASE_DAY + timedelta(days=day)).isoformat()


class SurveyData:
    """One survey's responses, grown a day at a time.

    Response ids are auto-increment and never reused, as in LimeSurvey.
    Each day adds ``per_day`` responses; ``advance`` also applies late
    edits to responses of the previous ``edit_days`` days, so a reload
    window of ``edit_days + 1`` days covers every change.

    Edge cases are scaled up from ``pipelines/fixtures.py``: nulls that
    hit the subset and all-column dropna, empty strings (kept, not null),
    grade-whitelist rejects (A6, N10), keep-latest duplicate groups on
    the order number, exact (order, datestamp) ties and non-ASCII text.
    """

    def __init__(self, seed: int, sid: int, per_day: int, edit_days: int, edits: int):
        self.rng = random.Random(f"survey:{seed}:{sid}")
        self.sid = sid
        self.per_day = per_day
        self.edit_days = edit_days
        self.edits = edits
        self.responses: dict[int, dict] = {}
        self.ids_by_day: dict[int, list[int]] = {}
        self.n_days = 0
        self.next_id = 1

    def _stamp(self, day: int, sec: int) -> str:
        sec %= 86400
        return f"{day_str(day)} {sec // 3600:02d}:{(sec // 60) % 60:02d}:{sec % 60:02d}"

    def _new_response(self, day: int, rid: int) -> dict:
        rng = self.rng
        t = rng.randrange(8 * 3600, 20 * 3600)
        r = {
            "id": str(100000 + rid),
            "submitdate": self._stamp(day, t + 60),
            "lastpage": str(rng.randint(1, 4)),
            "startlanguage": rng.choice(["pt-BR", "pt-BR", "en", "es"]),
            "startdate": self._stamp(day, t - 300),
            "datestamp": self._stamp(day, t + 90),
            "token": f"tok{rid:06d}",
            "q01": f"A{rng.randint(1, 5)}",
            "q03": f"user{rid}@example.com",
            "q06": f"ORD-{self.sid}-{rid:06d}",
            "q12": rng.choice(["web", "phone"]),
            "q22": f"RET-{rid:06d}",
        }
        u = rng.random()
        if u < 0.02:
            r["q03"] = None  # dropna subset (nps) and all (returns, orders)
        elif u < 0.04:
            r["q01"] = None
        elif u < 0.06:
            r["q12"] = None  # only the returns all-column dropna sees it
        elif u < 0.07:
            r["q01"], r["q03"] = "", ""  # empty is not null
        elif u < 0.09:
            r["q01"] = rng.choice(["A6", "N10"])  # whitelist rejects
        elif u < 0.10:
            r["submitdate"] = None  # returns/orders do not project it
        elif u < 0.11:
            r["q03"] = f"joão.señor{rid}@exämple.com"
        # keep-latest groups: reuse an earlier order number, sometimes
        # with the exact same datestamp (tie broken on id desc)
        if rid > 1 and rng.random() < 0.06:
            other = self.responses[rng.randrange(max(1, rid - 3 * self.per_day), rid)]
            r["q06"] = other["q06"]
            if rng.random() < 0.3 and other["datestamp"][:10] == day_str(day):
                r["datestamp"] = other["datestamp"]
        return r

    def add_day(self) -> None:
        day = self.n_days
        ids = []
        for _ in range(self.per_day):
            rid = self.next_id
            self.next_id += 1
            self.responses[rid] = self._new_response(day, rid)
            ids.append(rid)
        self.ids_by_day[day] = ids
        self.n_days += 1

    def advance(self) -> None:
        """One cron period: late edits to the previous days, then a new day."""
        rng = self.rng
        first = max(0, self.n_days - self.edit_days)
        pool = [rid for d in range(first, self.n_days) for rid in self.ids_by_day[d]]
        for rid in rng.sample(pool, min(self.edits, len(pool))):
            r = self.responses[rid]
            # an edit moves datestamp later within the same day and
            # changes an answer
            stamp = r["datestamp"]
            sec = int(stamp[11:13]) * 3600 + int(stamp[14:16]) * 60 + int(stamp[17:19])
            r["datestamp"] = self._stamp(self._day_of(rid), min(sec + 3600, 86399))
            r["q01"] = f"A{rng.randint(1, 5)}"
        self.add_day()

    def _day_of(self, rid: int) -> int:
        return (date.fromisoformat(self.responses[rid]["datestamp"][:10]) - BASE_DAY).days

    def export(self, from_id: int | None, to_id: int | None) -> list[dict]:
        lo = 1 if from_id is None else max(1, from_id)
        hi = self.next_id - 1 if to_id is None else min(to_id, self.next_id - 1)
        return [{str(rid): dict(self.responses[rid])} for rid in range(lo, hi + 1)]


# ---------------------------------------------------------------------------
# Documents
# ---------------------------------------------------------------------------

STOP = ["the", "the", "and", "of", "to", "a", "in", "is", "it"]
GERMAN = ["der", "die", "und", "das", "ist"]
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def head_token(doc_id: int) -> str:
    """A letters-only token naming ``doc_id``. It survives tokenising,
    span dedup and redaction, so outputs without an id column (packed
    train bins) can still be traced back to input documents."""
    s = ""
    n = doc_id
    while True:
        s = _ALPHA[n % 26] + s
        n //= 26
        if n == 0:
            break
    return "zqx" + s


def parse_head(token: str) -> int | None:
    if not token.startswith("zqx") or len(token) == 3:
        return None
    n = 0
    for ch in token[3:]:
        if ch not in _ALPHA:
            return None
        n = n * 26 + _ALPHA.index(ch)
    return n


class DocGen:
    """English-like documents from a seeded vocabulary.

    Content words are 4-9 letters, stopwords make up about a third of
    the tokens and punctuation breaks the text into sentences, so
    generated originals pass ``ops.text.filter_decisions``' default
    gates. Every document starts with its ``head_token``.
    """

    def __init__(self, rng: random.Random, vocab_size: int = 3000):
        self.rng = rng
        words = set()
        while len(words) < vocab_size:
            w = "".join(rng.choice(_ALPHA) for _ in range(rng.randint(4, 9)))
            if not w.startswith("zq"):  # the head-token prefix stays unique
                words.add(w)
        self.vocab = sorted(words)

    def body(self, n_tokens: int, stop=STOP) -> list[str]:
        rng = self.rng
        out = []
        for i in range(n_tokens):
            out.append(rng.choice(stop) if rng.random() < 0.35 else rng.choice(self.vocab))
            if i % 11 == 10:
                out[-1] += rng.choice([".", ",", ";"])
        return out

    def near_copy(self, words: list[str], rate: float = 0.04) -> list[str]:
        rng = self.rng
        out = list(words)
        for _ in range(max(1, round(rate * len(out)))):
            out[rng.randrange(len(out))] = rng.choice(self.vocab)
        return out


def _text(doc_id: int, body: list[str]) -> str:
    return " ".join([head_token(doc_id)] + body)


def corpus_docs(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], dict]:
    """The ``corpus_prep`` input: (doc_id, text) rows plus the plant map.

    Make-up, by share of ``n_docs``: ~70% originals, ~8% exact copies in
    groups of 2-4 (identical text, the original's head token), ~10%
    near copies (4% of tokens replaced, own head token), ~6% one
    templated boilerplate family (same 120-token template, 3 slot words
    varied) whose members share most LSH band keys, so those buckets
    are far larger than the rest, and ~6% docs that the filter drops
    (too short, or German marker words).
    """
    rng = random.Random(f"corpus:{seed}")
    g = DocGen(rng)
    rows: list[tuple[int, str]] = []
    bodies: dict[int, list[str]] = {}
    originals: list[int] = []
    groups: dict[int, list[int]] = {}
    template = g.body(120)
    n_family = max(2, n_docs * 6 // 100)
    next_id = 1
    while len(rows) < n_docs:
        u = rng.random()
        doc_id = next_id
        next_id += rng.randint(1, 3)  # ids are sparse, as in a real table
        src = rng.choice(originals[-200:]) if originals else None
        if u < 0.08 and src is not None and len(groups.get(src, ())) < 4:
            groups.setdefault(src, [src]).append(doc_id)
            rows.append((doc_id, _text(src, bodies[src])))
        elif 0.08 <= u < 0.18 and src is not None:
            rows.append((doc_id, _text(doc_id, g.near_copy(bodies[src]))))
        elif 0.18 <= u < 0.24 and n_family > 0:
            n_family -= 1
            body = list(template)
            for pos in (5, 40, 90):
                body[pos] = rng.choice(g.vocab)
            rows.append((doc_id, _text(doc_id, body)))
        elif 0.24 <= u < 0.27:
            rows.append((doc_id, _text(doc_id, g.body(rng.randint(2, 7)))))
        elif 0.27 <= u < 0.30:
            rows.append((doc_id, _text(doc_id, g.body(rng.randint(40, 120), stop=GERMAN))))
        else:
            body = g.body(rng.randint(40, 180))
            bodies[doc_id] = body
            originals.append(doc_id)
            rows.append((doc_id, _text(doc_id, body)))
    return rows, {"exact_groups": list(groups.values())}


def ingest_batches(seed: int, n_batches: int, per_batch: int) -> tuple[list[list[tuple[int, str]]], set[int]]:
    """The ``ingest_dedup`` input: ``n_batches`` lists of (doc_id, text).

    Each batch holds ``per_batch`` docs: ~70% originals, ~15% exact
    copies and ~15% near copies of originals from this or an earlier
    batch. Ids grow across and within batches, so an exact copy always
    has a larger id than its source and must be decided a duplicate.
    Returns the batches and the set of exact-copy ids.
    """
    rng = random.Random(f"ingest:{seed}")
    g = DocGen(rng)
    bodies: dict[int, list[str]] = {}
    exact: set[int] = set()
    batches = []
    next_id = 1
    for _ in range(n_batches):
        batch = []
        n_orig = per_batch * 70 // 100
        for _ in range(n_orig):
            body = g.body(rng.randint(40, 150))
            bodies[next_id] = body
            batch.append((next_id, _text(next_id, body)))
            next_id += 1
        recent = sorted(bodies)[-400:]
        for _ in range(per_batch - n_orig):
            src = rng.choice(recent)
            if rng.random() < 0.5:
                batch.append((next_id, _text(src, bodies[src])))
                exact.add(next_id)
            else:
                batch.append((next_id, _text(next_id, g.near_copy(bodies[src]))))
            next_id += 1
        batches.append(batch)
    return batches, exact
