"""LimeSurvey as a Spark 4 Python DataSource (`format("limesurvey")`).

The modern connector idiom for the reference's extract
(/root/reference/limesurvey.py:112-126, a one-shot driver-side base64
pull): the source plans one InputPartition per response-id page, and
every partition's RPC export runs ON AN EXECUTOR — the driver never holds
response data, and Spark's scheduler gets real partitions to place,
retry, and speculate (none of which mapInPandas-over-ranges gives the
`extract_responses_partitioned` path; both are kept — this one is the
API users wire into `spark.read`).

Modes (options):
- live:   url / username / password / sid / max_response_id /
          page_size — each partition opens its own RPC session
          executor-side (credentials travel as options; resolve them
          from a secret manager reference in production).
- replay: replay_path → a JSON file of canned export payloads (the
          offline/CI mode; the container has no LimeSurvey server —
          same gating philosophy as the Kafka connector).

Rows surface as (index STRING, payload STRING-JSON); flatten_source_df
projects the typed response columns (schemas.SURVEY_RESPONSE parity
with the file-based reader).
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from lime_etl_spark.io.limesurvey import checked_page_size, response_id_pages


class LimeSurveyDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "limesurvey"

    def schema(self) -> str:
        return "index string, payload string"

    def reader(self, schema) -> "LimeSurveyReader":
        return LimeSurveyReader(dict(self.options))

    def simpleStreamReader(self, schema) -> "LimeSurveyStreamReader":
        return LimeSurveyStreamReader(dict(self.options))


class _Page(InputPartition):
    def __init__(self, from_id: int | None, to_id: int | None, replay_idx: int | None):
        self.from_id = from_id
        self.to_id = to_id
        self.replay_idx = replay_idx


class LimeSurveyReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self) -> Sequence[_Page]:
        """Partition planning, driver-side and metadata-only: page
        COUNT comes from options (live) or the canned file's length
        (replay) — never from pulling data."""
        replay = self.options.get("replay_path")
        if replay:
            with open(replay, encoding="utf-8") as fh:
                n_pages = len(json.load(fh))
            return [_Page(None, None, i) for i in range(n_pages)]
        return [
            _Page(lo, hi, None)
            for lo, hi in response_id_pages(
                int(self.options["max_response_id"]),
                int(self.options.get("page_size", "5000")),
            )
        ]

    def read(self, partition: _Page) -> Iterator[tuple]:
        """Executor-side: fetch ONE page (live RPC range export or the
        canned payload) and yield (response_id, json fields) rows."""
        if partition.replay_idx is not None:
            with open(self.options["replay_path"], encoding="utf-8") as fh:
                payload = json.load(fh)[partition.replay_idx]
        else:
            from lime_etl_spark.io.limesurvey import LimeSurveyClient

            client = LimeSurveyClient(
                url=self.options["url"],
                username=self.options["username"],
                password=self.options["password"],
            )
            try:
                payload = client.export_responses(
                    int(self.options["sid"]),
                    from_response_id=partition.from_id,
                    to_response_id=partition.to_id,
                )
            finally:
                client.close()
        for entry in payload.get("responses", []):
            for resp_id, fields in entry.items():
                yield (str(resp_id), json.dumps(fields))


class LimeSurveyStreamReader(SimpleDataSourceStreamReader):
    """Incremental extract as a STREAM (`spark.readStream.format(
    "limesurvey")`): the reference re-ran its whole batch script on
    cron; here each micro-batch pulls only responses with id beyond
    the committed offset, so the survey becomes an append stream with
    exactly-once offsets from the checkpoint.

    Offset = {"last_id": n}. Each read() emits up to
    ``stream_page_size`` responses above last_id (server-side id-range
    export in live mode, escalating the window exponentially so an id
    GAP wider than one page — deletions; LimeSurvey never reuses ids —
    cannot stall the offset; the canned payload in replay mode) and
    advances the offset to the max id it emitted. An empty pull
    returns the same offset — that quiesces availableNow /
    processAllAvailable instead of spinning.

    SimpleDataSourceStreamReader reads driver-side (the simple API's
    contract — fine: a page per trigger is catalog-scale traffic, and
    the heavy historical backfill belongs to the batch source above).
    """

    def __init__(self, options: dict):
        self.options = options
        self.page = checked_page_size(
            int(options.get("stream_page_size", "1000")), "stream_page_size"
        )

    def initialOffset(self) -> dict:
        return {"last_id": int(self.options.get("start_after_id", "0"))}

    def _fetch_above(self, last_id: int) -> list[tuple[int, str, str]]:
        replay = self.options.get("replay_path")
        rows: list[tuple[int, str, str]] = []
        if replay:
            with open(replay, encoding="utf-8") as fh:
                pages = json.load(fh)
            entries = [e for p in pages for e in p.get("responses", [])]
        else:
            from lime_etl_spark.io.limesurvey import LimeSurveyClient

            client = LimeSurveyClient(
                url=self.options["url"],
                username=self.options["username"],
                password=self.options["password"],
            )
            try:
                # Response ids are auto-increment and deletions leave
                # gaps that are NEVER reused, so a fixed window
                # [last+1, last+page] stalls the offset forever when a
                # gap outgrows it (the export returns nothing, the
                # offset never advances, new data beyond the gap is
                # never emitted). Escalate the window exponentially
                # within this read — a gap of any size is crossed in
                # O(log gap) exports, and a truly idle survey still
                # returns the same offset (immediate availableNow
                # quiesce) at the cost of a few cheap empty exports.
                width = self.page
                cap = self.page << 20
                while True:
                    payload = client.export_responses(
                        int(self.options["sid"]),
                        from_response_id=last_id + 1,
                        to_response_id=last_id + width,
                    )
                    entries = payload.get("responses", [])
                    if entries or width >= cap:
                        break
                    width <<= 1
            finally:
                client.close()
        for entry in entries:
            for resp_id, fields in entry.items():
                rid = int(resp_id)
                if rid > last_id:
                    rows.append((rid, str(resp_id), json.dumps(fields)))
        rows.sort()
        return rows[: self.page]

    def read(self, start: dict) -> tuple:
        last_id = int(start["last_id"])
        rows = self._fetch_above(last_id)
        if not rows:
            return iter([]), {"last_id": last_id}
        next_off = {"last_id": rows[-1][0]}
        return iter([(idx, payload) for _, idx, payload in rows]), next_off

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay for recovery: deterministic because ids only grow."""
        lo, hi = int(start["last_id"]), int(end["last_id"])
        return iter(
            [(idx, payload) for rid, idx, payload in self._fetch_above(lo) if rid <= hi]
        )

    def commit(self, end: dict) -> None:
        return None


def register(spark: SparkSession) -> None:
    """Idempotent format registration for this session."""
    spark.dataSource.register(LimeSurveyDataSource)


def flatten_source_df(raw: DataFrame) -> DataFrame:
    """(index, payload-json) → typed response columns — the same
    flatten contract as io.sources.read_survey_export_json."""
    from pyspark.sql import functions as F

    from lime_etl_spark import schemas

    parsed = raw.select(
        "index", F.from_json("payload", "MAP<STRING, STRING>").alias("fields")
    )
    names = [f.name for f in schemas.SURVEY_RESPONSE.fields if f.name != "index"]
    return parsed.select(
        "index", *[F.col("fields").getItem(n).alias(n) for n in names]
    )
