"""Spans around calls into the program, with Spark counts per span.

A span records name, start, end, parent and operation id. Each span
runs under its own Spark job group, so the jobs it caused are read back
from the public ``StatusTracker``; a streaming trigger runs under the
query's own group (its run id), which the caller adds to the span.
Per-job and per-stage figures (tags, run time, shuffle, spill) come
from Spark's status store. Spans stay in memory until ``dump``.

Two counts need more than the job list. A write job is a job of a SQL
execution whose plan runs ``InsertIntoHadoopFsRelationCommand``, read
from the SQL status store. Jobs started by a streaming query all carry
the query's call site, so eager ``localCheckpoint``/``checkpoint`` calls
are counted by wrapping those two ``DataFrame`` methods for the life of
a traced run; each eager call runs one checkpoint job.

A disabled tracer times nothing and touches no Spark state, so the
end-to-end run pays nothing for it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._checkpoints = 0
        if enabled:
            self._count_checkpoints()

    def _count_checkpoints(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        def counted(method):
            @functools.wraps(method)
            def wrapper(df, eager: bool = True, *args, **kwargs):
                if eager:
                    with self._lock:
                        self._checkpoints += 1
                return method(df, eager, *args, **kwargs)

            return wrapper

        DataFrame.localCheckpoint = counted(DataFrame.localCheckpoint)
        DataFrame.checkpoint = counted(DataFrame.checkpoint)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, op_id: int, parent: str | None = None):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        group = f"{name}#{op_id}"
        rec = {"name": name, "op_id": op_id, "parent": parent, "groups": [group]}
        sc.setJobGroup(group, name)
        n_exec = int(self._sql_store().executionsCount())
        with self._lock:
            ckpt0 = self._checkpoints
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            sc.setJobGroup("perfbench", "between spans")
            with self._lock:
                rec["checkpoint_jobs"] = self._checkpoints - ckpt0
            rec["write_jobs"] = self._write_jobs(n_exec)
            rec.update(self._spark_counts(rec["groups"]))
            self.spans.append(rec)

    def _write_jobs(self, first_exec: int) -> int:
        st = self._sql_store()
        new = st.executionsList(first_exec, int(st.executionsCount()) - first_exec)
        n = 0
        for i in range(new.size()):
            e = new.apply(i)
            if "InsertIntoHadoopFsRelationCommand" in str(e.physicalPlanDescription()):
                n += int(e.jobs().size())
        return n

    def _spark_counts(self, groups: list[str]) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        c = {
            "job_names": [],
            "jobs": len(job_ids), "stages": 0, "tasks": 0, "broadcast_jobs": 0,
            "executor_run_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        seen_stages: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            name = str(job.name())
            tags = str(job.jobTags())
            c["job_names"].append(name)
            if "broadcast exchange" in tags:
                c["broadcast_jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += int(st.numCompleteTasks())
                c["executor_run_ms"] += int(st.executorRunTime())
                c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return c

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh, indent=1)

    def by_op(self, name: str) -> dict[int, dict]:
        """Spans called ``name``, keyed by operation id."""
        return {s["op_id"]: s for s in self.spans if s["name"] == name}
