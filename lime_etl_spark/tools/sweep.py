"""Seed-sweep harness shared by the generative checkers (gencheck,
llmgen, opsgen, composegen, streamgen).

Each checker supplies only its domain code: a ``check(seed) -> record``
function (the drawn case, its run and its oracle) plus the head keys of
its report. This module owns what they have in common:

- the weighted family pick and the per-seed record: ``ops`` (the op
  labels drawn), then ``rows`` (compared, on a pass) or ``mismatch``
  (the differences) or ``error`` (an exception, which never ends the
  sweep);
- the seed loop with its running tallies, progress lines and an
  optional stop predicate (the "run until every label has a floor"
  sweeps);
- the report (``seeds_run``, ``seed_min``/``seed_max``, ``failures``,
  ``failure_count``, ``rows_compared_total``, ``op_histogram``,
  ``elapsed_sec``) and its printing and ``--out`` file.
"""

from __future__ import annotations

import json
import random
import time
from collections import Counter

# one progress line per this many seeds run
PROGRESS_EVERY = 50


def pick_family(rng: random.Random, families):
    """Weighted draw of one family from ``[(fn, weight), ...]``. It
    consumes exactly one ``rng.uniform`` — the seed -> family mapping
    that every pinned seed and committed GENCHECK artifact relies on."""
    total = sum(w for _, w in families)
    pick = rng.uniform(0, total)
    acc = 0.0
    for f, w in families:
        acc += w
        if pick <= acc:
            return f
    return families[-1][0]


def check_family_seed(spark, seed: int, families, big: bool = False) -> dict:
    """One seed of a family-drawn checker: seed the RNG, pick the family,
    run ``fn(spark, rng) -> (ops, errs, rows)`` and record the outcome.
    ``rng.big`` tells the generators to widen their draw ranges."""
    rng = random.Random(seed)
    rng.big = big
    fam = pick_family(rng, families)
    rec: dict = {"seed": seed}
    try:
        ops, errs, rows = fam(spark, rng)
        rec["ops"] = ops
        if errs:
            rec["mismatch"] = errs
        else:
            rec["rows"] = rows
    except Exception as exc:
        rec["ops"] = [fam.__name__]
        rec["error"] = f"{type(exc).__name__}: {exc}"
    return rec


def failed(rec: dict) -> bool:
    return "error" in rec or "mismatch" in rec


def family_label(op: str) -> str:
    """Histogram key of an op label: its family, the text before ':'."""
    return op.split(":")[0]


class Sweep:
    """Running tallies of one seed sweep. A seed source may read
    ``ops`` (the running op histogram) to choose its next seed: the
    loop runs each seed before it draws the next."""

    def __init__(self, label=family_label):
        self.label = label
        self.t0 = time.time()
        self.drawn: list[int] = []
        self.records: list[dict] = []
        self.failures: list[dict] = []
        self.rows = 0
        self.ops: Counter = Counter()

    def run(self, check, seeds, stop=None, note=None) -> "Sweep":
        """Run ``check(seed)`` for each seed; a ``None`` record (a seed
        the checker gave up on, e.g. over its wall budget) is drawn but
        not counted. After each counted seed, ``stop(self)`` may end
        the sweep; ``note(self)`` adds text to the progress line."""
        for seed in seeds:
            self.drawn.append(seed)
            rec = check(seed)
            if rec is None:
                continue
            self.records.append(rec)
            if failed(rec):
                self.failures.append(rec)
            else:
                self.rows += rec["rows"]
            for op in rec.get("ops", []):
                self.ops[self.label(op)] += 1
            if len(self.records) % PROGRESS_EVERY == 0:
                print(
                    f"# {len(self.records)} seeds, {len(self.failures)} failures"
                    f"{note(self) if note else ''}, {time.time() - self.t0:.0f}s",
                    flush=True,
                )
            if stop and stop(self):
                break
        return self

    def floor_met(self, labels, floor: int) -> bool:
        return all(self.ops[t] >= floor for t in labels)

    def report(self, head: dict, histogram: bool = True, tail=None) -> dict:
        """``head`` keys, then the common tallies, then ``tail`` keys
        and ``elapsed_sec``. ``seed_min``/``seed_max`` span the seeds
        drawn (None when none were)."""
        rep = dict(head) | {
            "seeds_run": len(self.records),
            "seed_min": min(self.drawn, default=None),
            "seed_max": max(self.drawn, default=None),
            "failures": self.failures,
            "failure_count": len(self.failures),
            "rows_compared_total": self.rows,
        }
        if histogram:
            rep["op_histogram"] = dict(sorted(self.ops.items()))
        return rep | (tail or {}) | {"elapsed_sec": round(time.time() - self.t0, 1)}


def emit(report: dict, out: "str | None") -> None:
    """Print the report without its failure list on one JSON line, then
    the first 10 failures one per line; write the whole report to
    ``out`` when given."""
    print(json.dumps({k: v for k, v in report.items() if k != "failures"}))
    for f in report["failures"][:10]:
        print(json.dumps(f))
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
