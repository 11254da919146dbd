"""LimeSurvey JSON-RPC 2.0 source — rebuilt, not ported.

The reference vendors a client (/root/reference/limesurvey.py:11-218)
whose ``_getJSON`` swallows every exception and returns None
(limesurvey.py:27-32), whose ``release_session_key`` payload is
malformed (limesurvey.py:109), and whose token-export has typo'd param
names (limesurvey.py:135-136). This module re-implements the protocol
surface with real error propagation and a partitioned-extract design:

- metadata calls (list_surveys/groups/questions/properties/summary) are
  driver-side catalog lookups → small broadcastable DataFrames;
- the bulk export is paginated by (iStart, iLimit) — the reference's own
  pagination knob (limesurvey.py:207-218) — and pages are fetched in
  parallel ON EXECUTORS via mapInPandas over a page-range DataFrame, so
  a 100 TB-scale survey archive never lands in driver RAM (the reference
  pulls the whole export as ONE base64 payload, limesurvey.py:112-126);
- write-back batches rows per partition with client-side rate limiting,
  replacing the 1 row/s ``sleep(1)`` loop (limesurvey.py:142-149, :164).

``requests`` may be absent in the test container; HTTP is isolated
behind ``_rpc`` and everything above it is testable with a fake
transport.
"""

from __future__ import annotations

import base64
import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Transport = Callable[[str, dict], dict]
"""(url, json_rpc_request_body) -> decoded json response dict."""


class _RequestsTransport:
    """Default HTTP transport: one ``requests.Session`` PER TRANSPORT
    INSTANCE (and therefore per client — each LimeSurveyClient gets its
    own via ``default_factory``).

    A Session reuses the TCP/TLS connection — bare requests.post()
    opens a fresh handshake per RPC, so a thousand-page export paid a
    thousand TLS setups. The session must NOT be a module global: the
    server sets auth cookies (PHPSESSID) on it, so a process-wide
    session replays one user's cookies on a different client's
    requests against the same host, it can never be closed safely, and
    requests.Session is not documented thread-safe for concurrent
    drivers. Per-client scoping fixes all three; the client's
    ``close()`` / ``__exit__`` tears it down.
    """

    def __init__(self) -> None:
        self._session = None  # lazy: requests may be absent offline

    def __call__(self, url: str, body: dict) -> dict:
        import requests  # gated: not needed for offline tests

        if self._session is None:
            self._session = requests.Session()
        resp = self._session.post(
            url,
            json=body,
            headers={"content-type": "application/json"},
            timeout=60,
        )
        resp.raise_for_status()
        return resp.json()

    def close(self) -> None:
        if self._session is not None:
            self._session.close()
            self._session = None


class LimeSurveyError(RuntimeError):
    """RPC-level failure (the reference silently returned None here)."""


@dataclass
class LimeSurveyClient:
    """JSON-RPC 2.0 client for the LimeSurvey remote-control API.

    Protocol parity with /root/reference/limesurvey.py: same method
    names and parameter order, minus the bugs.
    """

    url: str
    username: str
    # repr=False: the dataclass-generated __repr__ otherwise prints the
    # password and live session key into logs, pytest diffs, and
    # executor tracebacks
    password: str = field(repr=False)
    transport: Transport = field(default_factory=_RequestsTransport)
    _session_key: str | None = field(default=None, repr=False)
    _next_id: int = 1

    # -- plumbing -----------------------------------------------------------

    def _rpc(self, method: str, params: list) -> object:
        body = {"method": method, "params": params, "jsonrpc": "2.0", "id": self._next_id}
        self._next_id += 1
        try:
            payload = self.transport(self.url, body)
        except Exception as exc:  # propagate with context, never swallow
            raise LimeSurveyError(f"RPC {method} transport failure: {exc}") from exc
        if not isinstance(payload, dict) or "result" not in payload:
            # strict-2.0 error replies omit 'result' entirely; surface
            # the server's message instead of a bare 'malformed'
            if isinstance(payload, dict) and payload.get("error") is not None:
                raise LimeSurveyError(
                    f"RPC {method} server error: {payload['error']!r}"
                )
            raise LimeSurveyError(f"RPC {method} malformed response: {payload!r}")
        if payload.get("error") is not None:
            # Yii/JSON-RPC-1.x style: 'result': null WITH an 'error'
            # member. Ignoring it returned None as success-with-empty-
            # data — list_surveys() masked it to [] and session_key
            # cached the literal string 'None': the reference's
            # swallowed-error bug, re-created
            raise LimeSurveyError(f"RPC {method} server error: {payload['error']!r}")
        result = payload["result"]
        if isinstance(result, dict) and "status" in result and len(result) == 1:
            # {'status': X} is LimeSurvey's shape for BOTH errors and
            # some success acks: delete_survey and friends return
            # {'status': 'OK'} on success — raising on those reported
            # every successful admin call as a failure
            if str(result["status"]) == "OK":
                return result
            raise LimeSurveyError(f"RPC {method} server error: {result['status']}")
        return result

    @property
    def session_key(self) -> str:
        if self._session_key is None:
            # reference: get_session_key at limesurvey.py:12-21
            self._session_key = str(self._rpc("get_session_key", [self.username, self.password]))
        return self._session_key

    def close(self) -> None:
        try:
            if self._session_key is not None:
                # reference's release payload is malformed (limesurvey.py:109); fixed
                self._rpc("release_session_key", [self._session_key])
        finally:
            # the key dies with the transport either way: clearing it
            # HERE (not only on RPC success) keeps a failed release
            # from leaving the client reporting an active session and
            # replaying the release over a freshly recreated HTTP
            # session on a retried close() (round-8 advisor finding)
            self._session_key = None
            # tear down the per-client HTTP session (cookies, pooled
            # sockets) even when the release RPC itself fails — an
            # unreachable server must not leak the Session it was
            # talking to (round-7 review finding)
            release = getattr(self.transport, "close", None)
            if callable(release):
                release()

    def __enter__(self) -> "LimeSurveyClient":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self.close()
        except Exception:
            # teardown noise must not mask the body's exception — an
            # export that died because the server went away would
            # otherwise surface as 'release_session_key failed'
            if exc_type is None:
                raise

    # -- catalog / metadata (S6) -------------------------------------------

    def list_surveys(self) -> list[dict]:
        return self._rpc("list_surveys", [self.session_key]) or []

    def list_groups(self, sid: int) -> list[dict]:
        return self._rpc("list_groups", [self.session_key, sid]) or []

    def list_questions(self, sid: int) -> list[dict]:
        return self._rpc("list_questions", [self.session_key, sid]) or []

    def list_participants(self, sid: int, start: int = 0, limit: int = 10000) -> list[dict]:
        return self._rpc("list_participants", [self.session_key, sid, start, limit]) or []

    def get_survey_properties(self, sid: int) -> dict:
        return self._rpc("get_survey_properties", [self.session_key, sid]) or {}

    def get_summary(self, sid: int, stat: str = "all") -> dict:
        return self._rpc("get_summary", [self.session_key, sid, stat]) or {}

    # -- admin mutations (K8) ----------------------------------------------

    def activate_survey(self, sid: int) -> dict:
        return self._rpc("activate_survey", [self.session_key, sid]) or {}

    def delete_survey(self, sid: int) -> dict:
        return self._rpc("delete_survey", [self.session_key, sid]) or {}

    def set_survey_property(self, sid: int, prop: str, value) -> dict:
        return self._rpc("set_survey_properties", [self.session_key, sid, {prop: value}]) or {}

    def import_survey(self, lss_base64: str, name: str) -> object:
        return self._rpc("import_survey", [self.session_key, lss_base64, "lss", name])

    # -- bulk export (S1/S2) -----------------------------------------------

    def export_responses(
        self,
        sid: int,
        status: str = "all",
        heading: str = "code",
        response: str = "short",
        fields: list[str] | None = None,
        from_response_id: int | None = None,
        to_response_id: int | None = None,
    ) -> dict:
        """Decoded export (limesurvey.py:112-126 parity), optionally a
        response-id range — the server-side pagination the reference
        never used (it pulled the WHOLE survey as one base64 payload):
        LimeSurvey's remote-control API takes iFromResponseID /
        iToResponseID exactly for this."""
        try:
            raw = self._rpc(
                "export_responses",
                [
                    self.session_key, sid, "json", None, status, heading, response,
                    from_response_id, to_response_id, fields,
                ],
            )
        except LimeSurveyError as exc:
            # LimeSurvey reports an empty export ('No Data, ...') as a
            # status payload — a DATA condition, not a failure: a sparse
            # id range must yield an empty page, not crash the extract
            if "No Data" in str(exc):
                return {"responses": []}
            raise
        return json.loads(base64.b64decode(str(raw)).decode("utf-8"))

    def export_responses_by_token(self, sid: int, token: str) -> dict:
        # reference param names are typo'd ($sLanguageCode / sCompletationStatus,
        # limesurvey.py:135-136); correct spelling used here.
        try:
            raw = self._rpc(
                "export_responses_by_token",
                [self.session_key, sid, "json", token, None, "all", "code", "short"],
            )
        except LimeSurveyError as exc:
            if "No Data" in str(exc):  # same data-condition rule as above
                return {"responses": []}
            raise
        return json.loads(base64.b64decode(str(raw)).decode("utf-8"))

    def add_response(self, sid: int, response_data: dict) -> object:
        return self._rpc("add_response", [self.session_key, sid, response_data])


# ---------------------------------------------------------------------------
# Spark-side source: partitioned extract
# ---------------------------------------------------------------------------


def checked_page_size(size: int, option: str) -> int:
    """``size`` if it is at least 1, else ``ValueError`` naming the
    option it came from: a smaller page size would plan no pages, or
    cut rows off the end of each stream read."""
    if size < 1:
        raise ValueError(f"{option} must be an integer >= 1, got {size}")
    return size


def response_id_pages(max_response_id: int, page_size: int) -> list[tuple[int, int]]:
    """Inclusive ``(from_id, to_id)`` ranges of ``page_size`` ids that
    cover response ids 1..max_response_id; the last page ends at
    max_response_id."""
    size = checked_page_size(page_size, "page_size")
    return [
        (lo, min(lo + size - 1, max_response_id))
        for lo in range(1, max_response_id + 1, size)
    ]


def extract_responses_df(
    spark: SparkSession,
    client: LimeSurveyClient,
    sid: int,
    **export_kwargs,
) -> DataFrame:
    """Single-payload extract → flattened DataFrame (small surveys).

    For parity with the reference's one-shot export. For large surveys
    prefer ``extract_responses_partitioned``.
    """
    from lime_etl_spark.io.sources import responses_payload_to_df

    return responses_payload_to_df(spark, client.export_responses(sid, **export_kwargs))


def extract_responses_partitioned(
    spark: SparkSession,
    make_client: Callable[[], LimeSurveyClient],
    sid: int,
    max_response_id: int,
    page_size: int = 5000,
) -> DataFrame:
    """Executor-parallel paged extract over response-id ranges.

    A tiny DataFrame of (from_id, to_id) ranges is repartitioned so each
    executor pulls its own pages via mapInPandas with SERVER-SIDE range
    export (iFromResponseID/iToResponseID) — the driver never holds the
    dataset and no page transfers more than its slice. This is the
    100 TB-posture fix for the reference's single-payload export
    (/root/reference/limesurvey.py:112-126). ``make_client`` must be a
    picklable factory (credentials resolved executor-side) — never ship
    a live session.
    """
    import pandas as pd

    pages = response_id_pages(max_response_id, page_size)
    pages_df = spark.createDataFrame(pages, "from_id BIGINT, to_id BIGINT").repartition(
        max(1, min(len(pages), 64))
    )

    def fetch(batches):
        client = make_client()
        try:
            for pdf in batches:
                rows = []
                for from_id, to_id in zip(pdf["from_id"], pdf["to_id"]):
                    payload = client.export_responses(
                        sid, from_response_id=int(from_id), to_response_id=int(to_id)
                    )
                    for entry in payload.get("responses", []):
                        for resp_id, fields_ in entry.items():
                            rows.append(
                                {"index": str(resp_id), "payload": json.dumps(fields_)}
                            )
                yield pd.DataFrame(rows, columns=["index", "payload"])
        finally:
            client.close()

    raw = pages_df.mapInPandas(fetch, "index STRING, payload STRING")
    # one flatten contract for both extract paths — a schema change
    # updated in flatten_source_df must not leave a stale copy here
    from lime_etl_spark.io.limesurvey_source import flatten_source_df

    return flatten_source_df(raw)


def write_back_responses(
    df: DataFrame,
    make_client: Callable[[], LimeSurveyClient],
    sid: int,
    rows_per_second: float = 50.0,
) -> None:
    """Batched RPC write-back via foreachPartition.

    Replaces the reference's 1-row-per-RPC + ``sleep(1)`` loop
    (/root/reference/limesurvey.py:142-149, :164) with per-partition
    clients. ``rows_per_second`` is the AGGREGATE rate against the
    server: partitions write concurrently, so the per-row sleep inside
    each partition is ``n_partitions / rows_per_second`` — without that
    division a 64-partition frame would hit the server at 64× the
    configured rate (an upper bound: slow partitions only make the
    aggregate rate lower).

    AT-LEAST-ONCE delivery, not exactly-once: foreachPartition side
    effects re-run FROM ROW ZERO on task retry
    (spark.task.maxFailures, default 4) and speculative execution
    duplicates whole partitions — and add_response carries no
    idempotency key the server could dedupe on. For a write-back where
    duplicates matter, run with spark.task.maxFailures=1 and
    speculation off (accepting job failure over duplication), or
    include a client-generated unique response field and dedupe
    server-side afterwards.
    """
    import time

    n_parts = max(1, df.rdd.getNumPartitions())
    interval = n_parts / rows_per_second if rows_per_second > 0 else 0.0

    def send(rows) -> None:
        client = make_client()
        try:
            for row in rows:
                client.add_response(sid, row.asDict(recursive=True))
                if interval:
                    time.sleep(interval)
        finally:
            client.close()

    df.foreachPartition(send)
