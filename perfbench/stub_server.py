"""Single-threaded localhost stub of the LimeSurvey JSON-RPC 2.0 API.

It serves the export calls ``io.limesurvey.LimeSurveyClient`` makes
(session keys and ranged ``export_responses``) from in-memory
``gen.SurveyData`` objects, and counts the calls and response bytes
it serves. One request is handled at a time, on one thread, and every
connection closes after its reply (HTTP/1.0), so concurrent executor
clients queue at the server as they would at a small LimeSurvey host.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer


class _Handler(BaseHTTPRequestHandler):
    server: "StubServer"

    def do_POST(self) -> None:  # noqa: N802 (http.server naming)
        body = json.loads(self.rfile.read(int(self.headers["content-length"])))
        result = self.server.dispatch(body["method"], body["params"])
        data = json.dumps({"id": body.get("id"), "result": result, "error": None}).encode()
        self.send_response(200)
        self.send_header("content-type", "application/json")
        self.send_header("content-length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        self.server.count(len(data))

    def log_message(self, *args) -> None:
        pass


class StubServer(HTTPServer):
    request_queue_size = 64

    def __init__(self, surveys: dict[int, "object"]):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.surveys = surveys
        self.lock = threading.Lock()
        self.calls = 0
        self.bytes_served = 0
        self.responses_served = 0
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}/index.php/admin/remotecontrol"

    def count(self, n_bytes: int) -> None:
        with self.lock:
            self.calls += 1
            self.bytes_served += n_bytes

    def counters(self) -> tuple[int, int]:
        with self.lock:
            return self.calls, self.bytes_served

    def dispatch(self, method: str, params: list):
        if method == "get_session_key":
            return "bench-session"
        if method == "release_session_key":
            return "OK"
        if method == "export_responses":
            sid, from_id, to_id = int(params[1]), params[7], params[8]
            with self.lock:
                rows = self.surveys[sid].export(from_id, to_id)
                self.responses_served += len(rows)
            if not rows:
                return {"status": "No Data, could not get max id."}
            payload = json.dumps({"responses": rows}).encode()
            return base64.b64encode(payload).decode()
        return {"status": f"unsupported method {method}"}

    def start(self) -> None:
        self._thread = threading.Thread(target=self.serve_forever, name="stub-limesurvey", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.shutdown()
        self.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
