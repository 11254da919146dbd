"""Plain-Python reference computations for the output checks.

They restate the rules the program documents, without Spark and
without importing the program:

- the three survey pipelines (``pipelines/surveys.py``: nps :57-74,
  returns :77-96, orders_shipped :99-115) and the day-partitioned
  dynamic overwrite of ``io.sinks.idempotent_reload``;
- Jaccard over word 3-gram shingle sets, the definition behind
  ``ops/dedup.py`` ``ngram_jaccard_pairs`` with the canonical
  tokeniser of ``ops/text.py`` (lower-cased ``[a-z0-9]+`` runs).
"""

from __future__ import annotations

import re

GRADE_WHITELIST = {"A1", "A2", "A3", "A4", "A5"}

NPS_COLS = (
    "id_answer", "date_sent", "last_page", "language", "start_date",
    "last_action_date", "nps", "email", "cohort", "updated_ts",
)
RETURNS_COLS = (
    "id_answer", "date_sent", "grade", "email", "order_number",
    "return_order_number", "language", "updated_ts", "return_channel",
)
ORDERS_COLS = ("id_answer", "date_sent", "grade", "email", "order_number", "updated_ts")


def strip_cast(value: str | None, pattern: str) -> float | None:
    """regexp_replace then try_cast to double: NULL on malformed."""
    if value is None:
        return None
    s = re.sub(pattern, "", value)
    if not re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s.strip()):
        return None
    return float(s)


def nps(responses: dict[int, dict], run_ts: str) -> list[tuple]:
    out = []
    for rid, r in responses.items():
        if r.get("q03") is None or r.get("q01") is None:  # dropna subset
            continue
        out.append((
            str(rid), r.get("submitdate"), r.get("lastpage"), r.get("startlanguage"),
            r.get("startdate"), r.get("datestamp"), strip_cast(r["q01"], "A|N"),
            r["q03"], r.get("q06"), run_ts,
        ))
    return out


def returns(responses: dict[int, dict], run_ts: str) -> list[tuple]:
    cols = ("id", "datestamp", "q01", "q03", "q06", "q12", "q22", "startlanguage")
    out = []
    for r in responses.values():
        if any(r.get(c) is None for c in cols):  # dropna over the projection
            continue
        out.append((
            r["id"], r["datestamp"], strip_cast(r["q01"], "A"), r["q03"], r["q06"],
            r["q22"], r["startlanguage"], run_ts, r["q12"],
        ))
    return out


def orders_shipped(responses: dict[int, dict], run_ts: str) -> list[tuple]:
    cols = ("id", "datestamp", "q01", "q03", "q06")
    latest: dict[str, dict] = {}
    for r in responses.values():
        if any(r.get(c) is None for c in cols):
            continue
        cur = latest.get(r["q06"])
        # keep the latest date_sent per order; ties go to the larger id
        if cur is None or (r["datestamp"], r["id"]) > (cur["datestamp"], cur["id"]):
            latest[r["q06"]] = r
    return [
        (r["id"], r["datestamp"], strip_cast(r["q01"], "A"), r["q03"], r["q06"], run_ts)
        for r in latest.values()
        if r["q01"] in GRADE_WHITELIST
    ]


PIPELINES = {
    # name -> (rule, output columns, column the partition day comes from)
    "nps": (nps, NPS_COLS, "last_action_date"),
    "returns": (returns, RETURNS_COLS, "date_sent"),
    "orders_shipped": (orders_shipped, ORDERS_COLS, "date_sent"),
}


class Warehouse:
    """Expected content of one day-partitioned table under repeated
    dynamic partition overwrites: a reload replaces exactly the days
    present in what it writes and leaves every other day as it was."""

    def __init__(self, pipeline: str):
        self.rule, self.cols, day_col = PIPELINES[pipeline]
        self.day_idx = self.cols.index(day_col)
        self.days: dict[str, list[tuple]] = {}

    def reload(self, responses: dict[int, dict], run_ts: str, first_day: str) -> None:
        fresh: dict[str, list[tuple]] = {}
        for row in self.rule(responses, run_ts):
            day = row[self.day_idx][:10]
            if day >= first_day:
                fresh.setdefault(day, []).append(row)
        self.days.update(fresh)

    def rows(self) -> list[tuple]:
        """Sorted (day, *columns) rows."""
        return sorted(
            ((day, *row) for day, rows in self.days.items() for row in rows),
            key=repr,
        )


def tokens(text: str | None) -> list[str]:
    return re.findall(r"[a-z0-9]+", (text or "").lower())


def shingle_set(text: str | None, n: int = 3) -> set[tuple[str, ...]]:
    t = tokens(text)
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str | None, b: str | None, n: int = 3) -> float:
    sa, sb = shingle_set(a, n), shingle_set(b, n)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)
