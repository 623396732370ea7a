"""A fake ClickHouse HTTP endpoint for the benchmark (stdlib only).

It accepts `POST /?query=INSERT ... FORMAT JSONEachRow`, gunzips the
body, counts rows and pulls each row's generator sequence number out of
its `message` ("req <seq> ..."). Per request it records the wire
(compressed) and body bytes, the time spent handling it, when it
finished and which sequence numbers it carried. A repeated
`insert_deduplication_token` is counted as a replay. Anything else, a
malformed body or a row without a sequence number, is answered with a
4xx and counted as an HTTP error.
"""

from __future__ import annotations

import gzip
import re
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_SEQ = re.compile(rb'"message":\s*"req (\d+) ')


class FakeClickHouse:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.requests: list[dict] = []  # one record per accepted INSERT
        self.tokens: set[str] = set()
        self.token_replays = 0
        self.http_errors = 0
        self.rows = 0
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "FakeClickHouse":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def _handler(self):
        fake = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:
                pass

            def _answer(self, code: int, body: bytes = b"") -> None:
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:
                t0 = time.time()
                qs = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query)
                wire = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                try:
                    if self.headers.get("Content-Encoding") == "gzip":
                        body = gzip.decompress(wire)
                    else:
                        body = wire
                    n_rows = body.count(b"\n")
                    seqs = [int(s) for s in _SEQ.findall(body)]
                    query = qs.get("query", [""])[0]
                    if "INSERT" not in query or len(seqs) != n_rows:
                        raise ValueError("not a JSONEachRow insert of generator rows")
                except (OSError, ValueError) as e:
                    with fake.lock:
                        fake.http_errors += 1
                    self._answer(400, str(e).encode())
                    return
                token = qs.get("insert_deduplication_token", [None])[0]
                with fake.lock:
                    if token is not None:
                        if token in fake.tokens:
                            fake.token_replays += 1
                        fake.tokens.add(token)
                    fake.rows += n_rows
                    fake.requests.append({
                        "done": time.time(),
                        "handle_s": time.time() - t0,
                        "wire_bytes": len(wire),
                        "body_bytes": len(body),
                        "seqs": seqs,
                    })
                self._answer(200)

            def do_GET(self) -> None:  # no DESCRIBE is expected
                with fake.lock:
                    fake.http_errors += 1
                self._answer(404)

        return Handler
