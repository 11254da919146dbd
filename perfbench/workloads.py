"""One benchmark workload in one fresh process.

Started by ``run.py`` (which sets the environment and the private
working directory); prints the result JSON as its last stdout line.
Every workload is a closed loop with one client: set-up (session
start, input generation, state seeding, warm-up), then a fixed number
of operations, each waiting for the one before it, then the output
checks. With ``--trace 1`` each operation also runs under spans and the
layer calls are timed one by one; only per-layer metrics are printed.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import reference
from spans import Tracer

# Operations per 10 s of --seconds. The count depends on --seconds only,
# never on how fast a run happens to be. These are what fit: comparing
# two commits makes 70 runs, each a fresh JVM with its own warm-up, and
# all of them must end within 3420 s.
OPS_PER_10S = {"survey_reload": 2, "ingest_dedup": 1, "corpus_prep": 1}

SURVEY_PIPELINES = (("nps", 101), ("returns", 202), ("orders_shipped", 303))
SURVEY_INITIAL_DAYS = 3
SURVEY_PER_DAY = 150
SURVEY_EDIT_DAYS = 2  # late edits reach back this many days
SURVEY_EDITS = 30  # late edits per survey per cycle
SURVEY_PAGE_SIZE = 1000

INGEST_PER_BATCH = 100
INGEST_SEED_BATCHES = 2
INGEST_THRESHOLD = 0.5  # dedup_on_ingest's default

CORPUS_DOCS = 400
CORPUS_BUDGET = 512  # prepare_training_corpus's default

PER_LAYER_NA = {
    "survey_reload": ("ingest.", "state.", "text.", "dedup."),
    "ingest_dedup": ("limesurvey.", "surveys.", "text.", "dedup."),
    "corpus_prep": ("limesurvey.", "surveys.", "sinks.", "ingest.", "state."),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def list_files(root: str) -> dict[str, int]:
    """path -> size of every data file under ``root`` (no Spark job)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def sink_counts(before: dict[str, int], after: dict[str, int]) -> dict:
    new = {p: s for p, s in after.items() if p not in before}
    gone = {p for p in before if p not in after}
    touched = {os.path.dirname(p) for p in list(new) + list(gone)}
    return {
        "partitions_replaced": len(touched),
        "files_written": len(new),
        "bytes_written": sum(new.values()),
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared run loop; subclasses define setup, op, traced layers, check."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layer: dict[str, list[float]] = {}

    def record(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def setup(self, n_ops: int) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def run(self, n_ops: int) -> dict:
        """``n_ops`` operations, one after the other. A failed operation
        is counted and left out of the timings; the loop goes on."""
        times, items, failed = [], 0, 0
        for i in range(n_ops):
            self.before_op(i)
            try:
                with self.tracer.span("op", i) as rec:
                    t0 = time.perf_counter()
                    n = self.op(i, rec)
                    dt = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            times.append(dt)
            items += n
            if self.tracer.enabled:
                self.trace_layers(i)
            self.after_op(i)
        return {"times": times, "items": items, "failed": failed}

    def before_op(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass

    def trace_layers(self, i: int) -> None:
        pass


# ---------------------------------------------------------------------------
# survey_reload
# ---------------------------------------------------------------------------


class SurveyReload(Workload):
    name = "survey_reload"

    def setup(self, n_ops: int) -> None:
        from lime_etl_spark.io.limesurvey import LimeSurveyClient
        from stub_server import StubServer

        self.surveys = {}
        for _, sid in SURVEY_PIPELINES:
            s = gen.SurveyData(self.seed, sid, SURVEY_PER_DAY, SURVEY_EDIT_DAYS, SURVEY_EDITS)
            for _ in range(SURVEY_INITIAL_DAYS):
                s.add_day()
            self.surveys[sid] = s
        self.server = StubServer(self.surveys)
        self.server.start()
        self.make_client = functools.partial(
            LimeSurveyClient, url=self.server.url, username="bench", password="bench"
        )
        self.models = {name: reference.Warehouse(name) for name, _ in SURVEY_PIPELINES}
        self.tables = {name: os.path.join(self.work, "warehouse", name) for name, _ in SURVEY_PIPELINES}
        # the initial full load is the warm-up
        self.cycle(0, first_day=gen.day_str(0))
        self.model_cycle()

    def close(self) -> None:
        self.server.stop()

    def window_start(self) -> str:
        n_days = next(iter(self.surveys.values())).n_days
        return gen.day_str(max(0, n_days - SURVEY_EDIT_DAYS - 1))

    def advance(self) -> None:
        with self.server.lock:
            for s in self.surveys.values():
                s.advance()

    def frames(self, run_ts: str, first_day: str, flats: dict | None = None):
        """(name, path, frame) per pipeline: extract -> pipeline -> window."""
        from pyspark.sql import functions as F

        from lime_etl_spark.pipelines import surveys

        for name, sid in SURVEY_PIPELINES:
            flat = flats[name] if flats else self.extract(sid)
            out = getattr(surveys, name)(flat, run_ts)
            day_col = reference.PIPELINES[name][2]
            out = out.withColumn("day", F.substring(day_col, 1, 10)).filter(F.col("day") >= first_day)
            yield name, self.tables[name], out

    def extract(self, sid: int):
        from lime_etl_spark.io.limesurvey import extract_responses_partitioned

        return extract_responses_partitioned(
            self.spark, self.make_client, sid,
            max_response_id=self.surveys[sid].next_id - 1, page_size=SURVEY_PAGE_SIZE,
        )

    def cycle(self, c: int, first_day: str) -> int:
        """Reload cycle ``c`` of the three pipelines; returns responses extracted."""
        from lime_etl_spark.io.sinks import idempotent_reload

        run_ts = f"2024-06-01 06:00:{c:02d}"
        served0 = self.server.responses_served
        for _, path, out in self.frames(run_ts, first_day):
            idempotent_reload(out, path, "day")
        self.last = (c, run_ts, first_day)
        return self.server.responses_served - served0

    def model_cycle(self) -> None:
        _, run_ts, first_day = self.last
        for name, sid in SURVEY_PIPELINES:
            self.models[name].reload(self.surveys[sid].responses, run_ts, first_day)

    def before_op(self, i: int) -> None:
        self.advance()

    def op(self, i: int, rec: dict) -> int:
        if self.tracer.enabled:
            files0 = {n: list_files(p) for n, p in self.tables.items()}
            calls0, bytes0 = self.server.counters()
        n = self.cycle(i + 1, self.window_start())
        if self.tracer.enabled:
            calls1, bytes1 = self.server.counters()
            self.record("limesurvey.rpc_calls", calls1 - calls0)
            self.record("limesurvey.bytes_served", bytes1 - bytes0)
            agg = {"partitions_replaced": 0, "files_written": 0, "bytes_written": 0}
            for name, path in self.tables.items():
                for k, v in sink_counts(files0[name], list_files(path)).items():
                    agg[k] += v
            for k, v in agg.items():
                self.record(f"sinks.{k}", v)
        return n

    def after_op(self, i: int) -> None:
        self.model_cycle()

    def trace_layers(self, i: int) -> None:
        """Each layer on its own: extract to a noop sink, transform over
        a pinned extract, reload of a pinned transform (same content, so
        the table is unchanged)."""
        from lime_etl_spark.io.sinks import idempotent_reload

        _, run_ts, first_day = self.last
        tr = self.tracer
        with tr.span("limesurvey.extract", i, "op") as rec:
            for _, sid in SURVEY_PIPELINES:
                noop(self.extract(sid))
        self.record("limesurvey.extract_s", rec["end"] - rec["start"])
        flats = {name: self.extract(sid).localCheckpoint(eager=True) for name, sid in SURVEY_PIPELINES}
        with tr.span("surveys.transform", i, "op") as rec:
            outs = [(path, out.localCheckpoint(eager=True)) for _, path, out in self.frames(run_ts, first_day, flats)]
        self.record("surveys.transform_s", rec["end"] - rec["start"])
        with tr.span("sinks.reload", i, "op") as rec:
            for path, out in outs:
                idempotent_reload(out, path, "day")
        self.record("sinks.reload_s", rec["end"] - rec["start"])

    def read_table(self, name: str) -> list[tuple]:
        part = ds.partitioning(pa.schema([("day", pa.string())]), flavor="hive")
        t = ds.dataset(self.tables[name], format="parquet", partitioning=part).to_table()
        cols = ["day", *reference.PIPELINES[name][1]]
        rows = zip(*(t.column(c).to_pylist() for c in cols))
        return sorted(rows, key=repr)

    def check(self) -> list[str]:
        errors = []
        got = {}
        for name, _ in SURVEY_PIPELINES:
            got[name] = self.read_table(name)
            want = self.models[name].rows()
            if got[name] != want:
                errors.append(
                    f"{name}: warehouse differs from the reference "
                    f"({len(got[name])} rows vs {len(want)} expected)"
                )
        # re-running the last cycle must leave every table's content as is
        c, _, first_day = self.last
        self.cycle(c, first_day)
        for name, _ in SURVEY_PIPELINES:
            if self.read_table(name) != got[name]:
                errors.append(f"{name}: re-running the last cycle changed the table")
        return errors


# ---------------------------------------------------------------------------
# ingest_dedup
# ---------------------------------------------------------------------------


class IngestDedup(Workload):
    name = "ingest_dedup"

    def setup(self, n_ops: int) -> None:
        self.src = os.path.join(self.work, "ingest_src")
        self.state = os.path.join(self.work, "ingest_state")
        self.ckpt = os.path.join(self.work, "ingest_ckpt")
        os.makedirs(self.src)
        self.batches, self.exact = gen.ingest_batches(
            self.seed, INGEST_SEED_BATCHES + n_ops, INGEST_PER_BATCH
        )
        self.texts = {d: t for b in self.batches for d, t in b}
        self.stream = self.spark.readStream.schema("doc_id bigint, text string").parquet(self.src)
        self.fed = 0
        # the state is seeded through the same query checkpoint the timed
        # batches use, so batch ids keep counting up
        for _ in range(INGEST_SEED_BATCHES):
            self.feed()
            t0 = time.perf_counter()
            self.trigger()
            print(f"seed batch {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    def feed(self) -> None:
        rows = self.batches[self.fed]
        t = pa.table({"doc_id": pa.array([d for d, _ in rows], pa.int64()),
                      "text": pa.array([x for _, x in rows], pa.string())})
        tmp = os.path.join(self.work, f".batch-{self.fed:05d}.parquet")
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(self.src, f"batch-{self.fed:05d}.parquet"))
        self.fed += 1

    def trigger(self):
        from lime_etl_spark.streaming.dedup import dedup_on_ingest

        q = dedup_on_ingest(self.stream, self.state, self.ckpt)
        q.awaitTermination()
        return q

    def before_op(self, i: int) -> None:
        self.feed()

    def op(self, i: int, rec: dict) -> int:
        if self.tracer.enabled:
            files0 = list_files(self.state)
        q = self.trigger()
        if self.tracer.enabled:
            rec["groups"].append(str(q.runId))
            prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0][-1]
            dur = prog["durationMs"]
            self.record("ingest.add_batch_s", dur.get("addBatch", 0) / 1000)
            self.record("ingest.log_s", (dur["triggerExecution"] - dur.get("addBatch", 0)) / 1000)
            after = list_files(self.state)
            for k, v in sink_counts(files0, after).items():
                self.record(f"sinks.{k}", v)
            docs = [p for p in after if os.sep + "docs" + os.sep in p]
            self.record("state.docs", sum(pq.read_metadata(p).num_rows for p in docs))
            self.record("state.files", len(after))
            self.record("state.bytes", sum(after.values()))
        return INGEST_PER_BATCH

    def trace_layers(self, i: int) -> None:
        """The sink on its own: this batch's three state partitions,
        pinned, reloaded into copies of the state tables."""
        from pyspark.sql import functions as F

        from lime_etl_spark.io.sinks import idempotent_reload

        batch_id = INGEST_SEED_BATCHES + i
        pins = []
        for sub in ("decisions", "bands", "docs"):
            df = self.spark.read.parquet(os.path.join(self.state, sub))
            pins.append((sub, df.filter(F.col("ingest_batch") == batch_id).localCheckpoint(eager=True)))
        with self.tracer.span("sinks.reload", i, "op") as rec:
            for sub, df in pins:
                idempotent_reload(df, os.path.join(self.work, "sink_copy", sub), "ingest_batch")
        self.record("sinks.reload_s", rec["end"] - rec["start"])

    def check(self) -> list[str]:
        errors = []
        dec = pq.read_table(os.path.join(self.state, "decisions")).to_pylist()
        ids = [r["doc_id"] for r in dec]
        fed = {d for b in self.batches[: self.fed] for d, _ in b}
        if sorted(ids) != sorted(fed):
            errors.append(f"decisions: {len(ids)} rows for {len(fed)} docs, or ids differ")
        by_id = {r["doc_id"]: r for r in dec}
        missed = [d for d in self.exact if d in fed and not by_id.get(d, {}).get("is_dup")]
        if missed:
            errors.append(f"{len(missed)} planted exact copies not marked duplicate, e.g. {missed[:3]}")
        low = []
        for r in dec:
            if r["is_dup"]:
                j = reference.jaccard(self.texts[r["doc_id"]], self.texts.get(r["dup_of"]))
                if j < INGEST_THRESHOLD:
                    low.append((r["doc_id"], r["dup_of"], round(j, 3)))
        if low:
            errors.append(f"{len(low)} duplicates below the Jaccard threshold, e.g. {low[:3]}")
        n_state = pq.read_table(os.path.join(self.state, "docs"), columns=["doc_id"]).num_rows
        survivors = sum(1 for r in dec if not r["is_dup"])
        if n_state != survivors:
            errors.append(f"state holds {n_state} docs for {survivors} survivors")
        return errors


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------


class CorpusPrep(Workload):
    name = "corpus_prep"

    def setup(self, n_ops: int) -> None:
        from lime_etl_spark.pipelines.corpus import prepare_training_corpus

        self.sf_dir = os.path.join(self.work, "corpus_in")
        os.makedirs(self.sf_dir)
        rows, self.plants = gen.corpus_docs(self.seed, CORPUS_DOCS)
        self.input_ids = {d for d, _ in rows}
        self.texts = dict(rows)
        t = pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": pa.array([x for _, x in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["perfbench"] * len(rows), pa.string()),
            "n_chars": pa.array([len(x) for _, x in rows], pa.int64()),
        })
        pq.write_table(t, os.path.join(self.sf_dir, "documents.parquet"))
        t0 = time.perf_counter()
        self.warm_counts = prepare_training_corpus(self.spark, self.sf_dir, os.path.join(self.work, "corpus_warmup"))
        print(f"warm-up run {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        self.results: dict[int, dict] = {}
        self.errors: list[str] = []

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"corpus_out_{i}")

    def op(self, i: int, rec: dict) -> int:
        from lime_etl_spark.pipelines.corpus import prepare_training_corpus

        self.results[i] = prepare_training_corpus(self.spark, self.sf_dir, self.out_dir(i))
        return self.results[i]["n_total"]

    def after_op(self, i: int) -> None:
        self.errors += self.check_output(i)
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    def trace_layers(self, i: int) -> None:
        from pyspark.sql import functions as F

        from lime_etl_spark.io.sources import read_table
        from lime_etl_spark.ops import dedup, text

        tr = self.tracer
        docs = read_table(self.spark, self.sf_dir, "documents")
        with tr.span("text.filter", i, "op") as rec:
            verdicts = text.filter_decisions(docs).localCheckpoint(eager=True)
        self.record("text.filter_s", rec["end"] - rec["start"])
        kept = docs.join(verdicts.filter("keep").select("doc_id"), "doc_id", "left_semi").localCheckpoint(eager=True)
        with tr.span("dedup.candidates", i, "op") as rec:
            n_cand = dedup.minhash_lsh_candidates(kept).count()
        with tr.span("dedup.near_dups", i, "op") as rec:
            pairs = dedup.minhash_near_dups(kept).localCheckpoint(eager=True)
        self.record("dedup.near_dups_s", rec["end"] - rec["start"])
        n_ver = pairs.count()
        self.record("dedup.candidate_pairs", n_cand)
        self.record("dedup.verified_pairs", n_ver)
        self.record("dedup.verify_yield", n_ver / n_cand if n_cand else 0.0)
        with tr.span("dedup.components", i, "op") as rec:
            comp = dedup.connected_components(pairs).localCheckpoint(eager=True)
        self.record("dedup.components_s", rec["end"] - rec["start"])
        dropped = comp.filter(F.col("doc_id") != F.col("component_id")).select("doc_id")
        survivors = kept.join(dropped, "doc_id", "left_anti").localCheckpoint(eager=True)
        with tr.span("text.clean", i, "op") as rec:
            spans = text.span_dedup(survivors)
            noop(text.redact(spans.select("doc_id", F.col("text_deduped").alias("text")), out="text"))
        self.record("text.clean_s", rec["end"] - rec["start"])

    def check_output(self, i: int) -> list[str]:
        r = self.results[i]
        errors = []
        stages = [r["n_total"], r["n_after_filter"], r["n_after_near_dedup"]]
        if r["n_total"] != len(self.input_ids):
            errors.append(f"n_total {r['n_total']} != {len(self.input_ids)} input docs")
        if any(b > a for a, b in zip(stages, stages[1:])):
            errors.append(f"stage counts increase: {stages}")
        out = self.out_dir(i)
        evald = pq.read_table(os.path.join(out, "eval"), columns=["doc_id", "text"]).to_pylist()
        train = pq.read_table(os.path.join(out, "train"), columns=["n_docs", "total_tokens", "packed_text"]).to_pylist()
        eval_ids = [e["doc_id"] for e in evald]
        if not set(eval_ids) <= self.input_ids:
            errors.append("eval holds ids that are not input ids")
        # every output doc starts with its source's head token (span dedup
        # keeps a doc's first span, which holds it): decode train docs
        heads = []
        for e in evald:
            heads.append(gen.parse_head(reference.tokens(e["text"])[0]) if e["text"] else None)
        n_train = 0
        for b in train:
            pieces = b["packed_text"].split("\n\n")
            n_train += len(pieces)
            heads.extend(gen.parse_head(reference.tokens(p)[0]) if p else None for p in pieces)
            lengths = [len(reference.tokens(p)) for p in pieces]
            if sum(lengths) != b["total_tokens"] or len(pieces) != b["n_docs"]:
                errors.append(f"bin holds {len(pieces)} docs/{sum(lengths)} tokens, says {b['n_docs']}/{b['total_tokens']}")
            # next-fit packing: a bin may pass the budget only by its last doc
            if b["total_tokens"] - lengths[-1] >= CORPUS_BUDGET:
                errors.append(f"bin over budget before its last doc: {b['total_tokens']} tokens")
        if None in heads or not set(heads) <= self.input_ids:
            errors.append("an output doc does not trace back to an input doc")
        if len(set(heads)) != len(heads):
            errors.append("train and eval overlap, or an exact-copy group kept two docs")
        if n_train + len(evald) != r["n_after_near_dedup"] or r["n_train_docs"] != n_train or r["n_eval_docs"] != len(evald):
            errors.append(
                f"train {n_train} + eval {len(evald)} != n_after_near_dedup {r['n_after_near_dedup']}"
            )
        for group in self.plants["exact_groups"]:
            if sum(1 for d in eval_ids if d in group) > 1:
                errors.append(f"exact-copy group {group} kept more than one doc in eval")
        return errors

    def check(self) -> list[str]:
        errors = list(self.errors)
        runs = [self.warm_counts, *self.results.values()]
        if len({json.dumps(r, sort_keys=True) for r in runs}) != 1:
            errors.append("stage counts differ between runs on the same input")
        return errors


WORKLOADS = {"survey_reload": SurveyReload, "ingest_dedup": IngestDedup, "corpus_prep": CorpusPrep}


def layer_metrics(w: Workload, tracer: Tracer, jvm_rss_mb: float, start_s: float) -> tuple[dict, list[str]]:
    """Per-operation medians of every per-layer metric; n/a layers read 0."""
    from metrics import PER_LAYER

    ops = tracer.by_op("op")
    vals = dict(w.layer)
    vals["session.start_s"] = [start_s]
    vals["session.jvm_peak_rss_mb"] = [jvm_rss_mb]
    for key in ("jobs", "stages", "tasks", "broadcast_jobs", "checkpoint_jobs", "write_jobs",
                "shuffle_write_bytes", "spill_bytes"):
        vals[f"spark.{key}"] = [s[key] for s in ops.values()]
    vals["spark.executor_run_s"] = [s["executor_run_ms"] / 1000 for s in ops.values()]
    na = [m for m, _ in PER_LAYER if m.startswith(PER_LAYER_NA[w.name])]
    out = {}
    for m, unit in PER_LAYER:
        out[m] = {"value": float(median(vals.get(m, []))) if m not in na else 0.0, "unit": unit}
    return out, na


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out", default=None)
    a = ap.parse_args()

    n_ops = max(1, round(a.seconds * OPS_PER_10S[a.workload] / 10))
    t_setup = time.perf_counter()
    from lime_etl_spark import get_spark

    spark = get_spark(
        f"perfbench-{a.workload}",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    start_s = time.perf_counter() - t_setup
    tracer = Tracer(spark, bool(a.trace))
    w = WORKLOADS[a.workload](spark, a.work, a.seed, tracer)
    try:
        w.setup(n_ops)
        setup_s = time.perf_counter() - t_setup
        res = w.run(n_ops)
        errors = w.check()
    finally:
        w.close()
    rss = jvm_peak_rss_mb(spark)
    spark.stop()

    for e in errors:
        print(f"CHECK FAILED [{a.workload}]: {e}", file=sys.stderr)
    times = res["times"]
    if not times:
        print(f"{a.workload}: every operation failed", file=sys.stderr)
        return 1
    print(f"{a.workload}: setup {setup_s:.2f}s, ops {[round(t, 3) for t in times]}", file=sys.stderr)
    if a.trace:
        metrics, na = layer_metrics(w, tracer, rss, start_s)
        if a.trace_out:
            tracer.dump(a.trace_out)
        print(json.dumps({"workload": a.workload, "n/a layers": sorted({m.split(".")[0] for m in na})}))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": median(times), "unit": "s"},
            "items_per_s": {"value": res["items"] / sum(times), "unit": "1/s"},
        }
    print(json.dumps({"correct": not errors, "attempted": n_ops, "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
