"""LimeSurvey RPC source tests over a fake transport (no network).

Protocol parity with /root/reference/limesurvey.py, minus its bugs:
swallowed exceptions (limesurvey.py:27-32), malformed release payload
(:109), typo'd token-export params (:135-136)."""

from __future__ import annotations

import base64
import json

import pytest

from lime_etl_spark.io.limesurvey import LimeSurveyClient, LimeSurveyError
from lime_etl_spark.pipelines.fixtures import make_survey_payload


class FakeServer:
    def __init__(self):
        self.calls = []
        self.responses_added = []

    def transport(self, url, body):
        self.calls.append(body)
        method, params = body["method"], body["params"]
        if method == "get_session_key":
            assert params == ["admin", "secret"]
            return {"result": "SESSKEY", "id": body["id"]}
        if method == "release_session_key":
            assert params == ["SESSKEY"]
            return {"result": "OK"}
        if method == "export_responses":
            payload = json.dumps(make_survey_payload()).encode()
            return {"result": base64.b64encode(payload).decode()}
        if method == "list_surveys":
            return {"result": [{"sid": 123, "surveyls_title": "NPS"}]}
        if method == "list_participants":
            sess, sid, start, limit = params
            return {"result": [{"tid": i} for i in range(start, start + min(limit, 3))]}
        if method == "add_response":
            self.responses_added.append(params[2])
            return {"result": "42"}
        if method == "boom":
            return {"result": {"status": "Invalid session key"}}
        raise AssertionError(f"unexpected method {method}")


@pytest.fixture
def server():
    return FakeServer()


@pytest.fixture
def client(server):
    return LimeSurveyClient("http://fake/rpc", "admin", "secret", transport=server.transport)


def test_session_lifecycle(client, server):
    assert client.session_key == "SESSKEY"
    assert client.session_key == "SESSKEY"  # cached, no second RPC
    client.close()
    methods = [c["method"] for c in server.calls]
    assert methods == ["get_session_key", "release_session_key"]


def test_export_responses_decodes(client):
    payload = client.export_responses(123)
    assert len(payload["responses"]) == 52


def test_server_error_raises(client):
    with pytest.raises(LimeSurveyError, match="Invalid session key"):
        client._rpc("boom", [])


def test_status_ok_ack_is_success_not_error():
    """LimeSurvey returns {'status': 'OK'} as the SUCCESS ack for admin
    mutations (delete_survey et al.) — the same single-key shape it
    uses for errors. The client must not report a successful delete as
    a failure."""
    def transport(url, body):
        if body["method"] == "get_session_key":
            return {"result": "SESSKEY"}
        if body["method"] == "delete_survey":
            return {"result": {"status": "OK"}}
        raise AssertionError(body["method"])

    c = LimeSurveyClient("http://fake", "u", "p", transport=transport)
    assert c.delete_survey(123) == {"status": "OK"}


def test_export_no_data_yields_empty_page_not_error():
    """An id range with zero responses comes back as a
    {'status': 'No Data, ...'} payload — a data condition: the extract
    must yield an empty page, not crash the job on one sparse range."""
    def transport(url, body):
        if body["method"] == "get_session_key":
            return {"result": "SESSKEY"}
        if body["method"] == "export_responses":
            return {"result": {"status": "No Data, could not get max id."}}
        if body["method"] == "export_responses_by_token":
            return {"result": {"status": "No Data"}}
        raise AssertionError(body["method"])

    c = LimeSurveyClient("http://fake", "u", "p", transport=transport)
    assert c.export_responses(123, from_response_id=6, to_response_id=1005) == {
        "responses": []
    }
    assert c.export_responses_by_token(123, "tok") == {"responses": []}


def test_stream_reader_crosses_response_id_gaps(monkeypatch):
    """Response ids are auto-increment and deletions leave gaps that
    are never reused: a fixed [last+1, last+page] window stalled the
    offset forever when a gap outgrew it. The reader must escalate the
    window and emit the post-gap rows (responses 1-5 exist, 6-4999
    were deleted, 5000-5002 are new; page=1000)."""
    import base64
    import json as _json

    from lime_etl_spark.io import limesurvey_source

    def transport(url, body):
        if body["method"] == "get_session_key":
            return {"result": "SESSKEY"}
        if body["method"] == "release_session_key":
            return {"result": "OK"}
        if body["method"] == "export_responses":
            lo, hi = body["params"][7], body["params"][8]
            hits = [
                {str(i): {"q01": "v"}} for i in (5000, 5001, 5002) if lo <= i <= hi
            ]
            if not hits:
                return {"result": {"status": "No Data, could not get max id."}}
            payload = _json.dumps({"responses": hits}).encode()
            return {"result": base64.b64encode(payload).decode()}
        raise AssertionError(body["method"])

    from lime_etl_spark.io import limesurvey as ls_mod

    real_client = ls_mod.LimeSurveyClient  # captured before patching

    class FakeClientFactory:
        def __call__(self, url, username, password):
            return real_client(url, username, password, transport=transport)

    monkeypatch.setattr(ls_mod, "LimeSurveyClient", FakeClientFactory())
    reader = limesurvey_source.LimeSurveyStreamReader(
        {"url": "http://fake", "username": "u", "password": "p",
         "sid": "123", "stream_page_size": "1000"}
    )
    rows = reader._fetch_above(5)
    assert [r[0] for r in rows] == [5000, 5001, 5002]
    it, off = reader.read({"last_id": 5})
    assert off == {"last_id": 5002} and len(list(it)) == 3
    # truly idle (nothing beyond 5002): offset unchanged -> quiesce
    it2, off2 = reader.read({"last_id": 5002})
    assert off2 == {"last_id": 5002} and list(it2) == []


def test_transport_failure_propagates():
    def broken(url, body):
        raise ConnectionError("refused")

    c = LimeSurveyClient("http://fake", "u", "p", transport=broken)
    with pytest.raises(LimeSurveyError, match="transport failure"):
        c.list_surveys()


def test_catalog_calls(client):
    surveys = client.list_surveys()
    assert surveys[0]["sid"] == 123
    parts = client.list_participants(123, start=5, limit=3)
    assert [p["tid"] for p in parts] == [5, 6, 7]


def test_extract_to_dataframe(spark, client):
    from lime_etl_spark.io.limesurvey import extract_responses_df

    df = extract_responses_df(spark, client, 123)
    assert df.count() == 52
    assert "index" in df.columns and "q01" in df.columns


def test_write_back_batched(spark):
    from lime_etl_spark.io.limesurvey import write_back_responses

    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id BIGINT, answer STRING")

    # the factory and its transport are defined as CLOSURES so
    # cloudpickle ships them by value — executors cannot import the
    # test module (exactly the constraint a real credentials-resolving
    # factory has on a cluster)
    def make_client():
        def transport(url, body):
            if body["method"] == "get_session_key":
                return {"result": "SESSKEY"}
            return {"result": "OK"}

        return LimeSurveyClient("http://fake/rpc", "admin", "secret", transport=transport)

    # rate limit high enough to finish instantly; assertion is that the
    # partition-parallel path executes without a driver round-trip per row
    write_back_responses(df.repartition(2), make_client, 123, rows_per_second=10000)


def test_response_id_pages_cover_ids_and_reject_sizes_below_one():
    from lime_etl_spark.io.limesurvey import (
        extract_responses_partitioned,
        response_id_pages,
    )

    assert response_id_pages(37, 10) == [(1, 10), (11, 20), (21, 30), (31, 37)]
    assert response_id_pages(10, 10) == [(1, 10)]
    assert response_id_pages(0, 10) == []
    for bad in (0, -10):
        with pytest.raises(ValueError, match="^page_size must be"):
            response_id_pages(37, bad)
        # raised while planning, before any Spark work
        with pytest.raises(ValueError, match="^page_size must be"):
            extract_responses_partitioned(None, None, 1, 37, page_size=bad)


def test_datasource_live_partitions_and_bad_page_sizes():
    """The batch source's live mode plans one partition per id page; a
    page size below 1, batch or stream, raises naming its option."""
    from lime_etl_spark.io.limesurvey_source import (
        LimeSurveyReader,
        LimeSurveyStreamReader,
    )

    live = {"url": "http://fake", "username": "u", "password": "p", "sid": "1"}
    parts = LimeSurveyReader(
        {**live, "max_response_id": "37", "page_size": "10"}
    ).partitions()
    assert [(p.from_id, p.to_id, p.replay_idx) for p in parts] == [
        (1, 10, None), (11, 20, None), (21, 30, None), (31, 37, None)
    ]
    for bad in ("0", "-3"):
        reader = LimeSurveyReader({**live, "max_response_id": "37", "page_size": bad})
        with pytest.raises(ValueError, match="^page_size must be"):
            reader.partitions()
        with pytest.raises(ValueError, match="^stream_page_size must be"):
            LimeSurveyStreamReader({**live, "stream_page_size": bad})


def test_partitioned_extract_ranges(spark):
    """Range-paged extract: each executor page requests ONLY its id
    slice server-side; rows across pages reassemble the full survey."""
    from lime_etl_spark.io.limesurvey import extract_responses_partitioned

    def make_client():
        import base64 as b64
        import json as js

        def transport(url, body):
            method, params = body["method"], body["params"]
            if method == "get_session_key":
                return {"result": "SESSKEY"}
            if method == "release_session_key":
                return {"result": "OK"}
            if method == "export_responses":
                from_id, to_id = params[7], params[8]
                assert from_id is not None and to_id is not None
                responses = [
                    {str(i): {"id": str(i), "q01": f"A{i % 5 + 1}", "token": f"t{i}"}}
                    for i in range(from_id, to_id + 1)
                ]
                payload = js.dumps({"responses": responses}).encode()
                return {"result": b64.b64encode(payload).decode()}
            raise AssertionError(method)

        return LimeSurveyClient("http://fake", "u", "p", transport=transport)

    df = extract_responses_partitioned(
        spark, make_client, sid=1, max_response_id=37, page_size=10
    )
    rows = df.collect()
    assert len(rows) == 37
    got = {r["index"] for r in rows}
    assert got == {str(i) for i in range(1, 38)}
    by_id = {r["index"]: r for r in rows}
    assert by_id["13"].q01 == "A4" and by_id["13"].token == "t13"


def test_python_datasource_replay_pages(spark, tmp_path):
    """spark.read.format('limesurvey') (Spark 4 Python DataSource):
    one InputPartition per page, executor-side reads, flatten parity
    with the file-based export reader."""
    import json as _json

    from lime_etl_spark.io.limesurvey_source import flatten_source_df, register
    from lime_etl_spark.pipelines.fixtures import make_survey_payload

    payload = make_survey_payload()
    entries = payload["responses"]
    mid = len(entries) // 2
    pages = [{"responses": entries[:mid]}, {"responses": entries[mid:]}]
    replay = tmp_path / "pages.json"
    replay.write_text(_json.dumps(pages))

    register(spark)
    raw = (
        spark.read.format("limesurvey")
        .option("replay_path", str(replay))
        .load()
    )
    assert raw.rdd.getNumPartitions() == 2  # one partition per page
    flat = flatten_source_df(raw)
    rows = {r["index"]: r for r in flat.collect()}
    assert len(rows) == 52
    assert rows["1002"]["q01"] == "A3"


def test_python_datasource_stream_incremental(spark, tmp_path):
    """readStream.format('limesurvey'): micro-batches advance the
    last_id offset page by page (stream_page_size=20 over 52 canned
    responses -> >=3 batches), availableNow drains exactly once."""
    import json as _json

    from lime_etl_spark.io.limesurvey_source import register
    from lime_etl_spark.pipelines.fixtures import make_survey_payload

    payload = make_survey_payload()
    replay = tmp_path / "pages.json"
    replay.write_text(_json.dumps([payload]))

    register(spark)
    stream = (
        spark.readStream.format("limesurvey")
        .option("replay_path", str(replay))
        .option("stream_page_size", "20")
        .load()
    )
    assert stream.isStreaming
    # The simple stream reader prefetches one page per start; loop
    # availableNow from ONE checkpoint — each restart resumes from the
    # committed last_id offset (exactly-once across restarts), which is
    # the real deployment shape (cron'd availableNow drains).
    dest = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rounds_with_data = 0
    for _ in range(6):
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            rounds_with_data += 1
    got = spark.read.parquet(dest)
    rows = [r["index"] for r in got.collect()]
    assert len(rows) == 52 and len(set(rows)) == 52  # all pages, no dups
    assert "1000" in rows and "1050" in rows
    assert rounds_with_data >= 3  # paged (20/20/12), not one gulp


def test_jsonrpc_error_member_raises_not_none(client):
    """A reply carrying 'result': null WITH an 'error' member (the
    Yii/JSON-RPC-1.x style LimeSurvey servers emit) must raise with the
    server's message — returning None re-created the reference's
    swallowed-error bug: list_surveys() masked it to [] and session_key
    cached the literal string 'None'."""
    c = LimeSurveyClient(
        url="http://x",
        username="admin",
        password="secret",
        transport=lambda url, body: {
            "id": body["id"], "result": None, "error": "Method not found",
        },
    )
    with pytest.raises(LimeSurveyError, match="Method not found"):
        c._rpc("whatever", [])
    # strict-2.0 style: no 'result' key at all, error object present
    c2 = LimeSurveyClient(
        url="http://x",
        username="admin",
        password="secret",
        transport=lambda url, body: {
            "id": body["id"], "error": {"code": -32601, "message": "nope"},
        },
    )
    with pytest.raises(LimeSurveyError, match="nope"):
        c2._rpc("whatever", [])


def test_client_repr_never_leaks_credentials(client):
    """The dataclass __repr__ lands in logs, pytest diffs, and executor
    tracebacks — it must not carry the password or a live session key."""
    c = LimeSurveyClient(url="http://x", username="admin", password="secret")
    c._session_key = "LIVEKEY"
    shown = repr(c)
    assert "secret" not in shown and "LIVEKEY" not in shown
    assert "admin" in shown  # identity stays debuggable


def test_default_transport_is_per_client_not_process_global():
    """Each client must own its HTTP transport: a process-global
    requests.Session replays one user's auth cookies (PHPSESSID) on a
    different client's requests against the same host, can never be
    closed safely, and is not thread-safe across concurrent drivers.
    (round-6 advice: io/limesurvey.py _REQUESTS_SESSION global)"""
    from lime_etl_spark.io.limesurvey import _RequestsTransport

    a = LimeSurveyClient(url="http://x", username="u1", password="p1")
    b = LimeSurveyClient(url="http://x", username="u2", password="p2")
    assert isinstance(a.transport, _RequestsTransport)
    assert a.transport is not b.transport


def test_close_tears_down_transport_and_context_manager():
    closed = []

    class FakeTransport:
        def __call__(self, url, body):
            m = body["method"]
            if m == "get_session_key":
                return {"result": "K"}
            if m == "release_session_key":
                return {"result": "OK"}
            raise AssertionError(m)

        def close(self):
            closed.append(True)

    with LimeSurveyClient(
        url="http://x", username="u", password="p", transport=FakeTransport()
    ) as c:
        assert c.session_key == "K"
    assert closed == [True]
    assert c._session_key is None


def test_concurrent_driver_threads_isolated_sessions():
    """Two driver threads with distinct credentials against the same
    host must never observe each other's session key — the failure mode
    of the old shared-Session global."""
    import threading

    def make_transport(key):
        def transport(url, body):
            if body["method"] == "get_session_key":
                return {"result": key}
            if body["method"] == "list_surveys":
                # echo the session key the server saw
                return {"result": [{"sid": 1, "seen_key": body["params"][0]}]}
            return {"result": "OK"}
        return transport

    results = {}

    def run(name, key):
        c = LimeSurveyClient(
            url="http://x", username=name, password="p",
            transport=make_transport(key),
        )
        out = []
        for _ in range(50):
            out.append(c.list_surveys()[0]["seen_key"])
        results[name] = out

    t1 = threading.Thread(target=run, args=("alice", "KEY_A"))
    t2 = threading.Thread(target=run, args=("bob", "KEY_B"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert set(results["alice"]) == {"KEY_A"}
    assert set(results["bob"]) == {"KEY_B"}


def test_close_tears_down_transport_even_when_release_rpc_fails():
    """An unreachable server at close() must not leak the HTTP session,
    and inside a with-block the teardown failure must not mask the
    body's original exception (round-7 review finding)."""
    closed = []

    class DyingTransport:
        def __init__(self):
            self.calls = 0

        def __call__(self, url, body):
            self.calls += 1
            if body["method"] == "get_session_key":
                return {"result": "K"}
            raise ConnectionError("server went away")

        def close(self):
            closed.append(True)

    c = LimeSurveyClient(
        url="http://x", username="u", password="p", transport=DyingTransport()
    )
    t = c.transport
    assert c.session_key == "K"
    with pytest.raises(LimeSurveyError):
        c.close()
    assert closed == [True]  # transport torn down despite the RPC failure
    # the key died with the transport: the client must not keep
    # reporting an active session, and a retried close() must not
    # replay the release over a recreated HTTP session (round-8
    # advisor finding)
    assert c._session_key is None
    calls_after_first_close = t.calls
    c.close()
    assert t.calls == calls_after_first_close  # no replayed release RPC

    # with-block: the body's exception survives a failing teardown
    closed.clear()
    with pytest.raises(RuntimeError, match="body failure"):
        with LimeSurveyClient(
            url="http://x", username="u", password="p",
            transport=DyingTransport(),
        ) as c2:
            assert c2.session_key == "K"
            raise RuntimeError("body failure")
    assert closed == [True]
