"""Loopback ``_bulk`` receiver for the shipper benchmark (stdlib only).

A ``ThreadingHTTPServer`` on 127.0.0.1 that accepts Elasticsearch-shaped
``POST /_bulk`` bodies (action line + doc line per document). It answers
429 to the FIRST attempt of a seeded, key-deterministic ~5% of bulks
(keyed on the ``X-Bulk-Key`` header the transport sends), so the
transport's retry path runs on about one bulk in twenty. Accepted
bodies are counted: POSTs, rejected POSTs, docs and unique docs (by the
generator's message token), so the benchmark can tell a lost doc from a
duplicated one.

There is no item-level ``"errors": true`` mode: every accepted bulk
answers ``{"errors": false}``.
"""

from __future__ import annotations

import hashlib
import http.server
import re
import threading

from gen import TOKEN_RE

REJECT_PERCENT = 5
_TOKEN = re.compile(TOKEN_RE.encode())


def rejects_first_attempt(seed: int, key: str) -> bool:
    """The seeded 429 rule: a fixed ~5% of bulk keys fail once."""
    h = hashlib.sha256(f"{seed}:{key}".encode()).digest()
    return int.from_bytes(h[:4], "big") % 100 < REJECT_PERCENT


class _Handler(http.server.BaseHTTPRequestHandler):
    def do_POST(self):
        recv: BulkReceiver = self.server.receiver
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path != "/_bulk":
            self._reply(404, b'{"error":"not found"}')
            return
        key = self.headers.get("X-Bulk-Key", "")
        accepted = recv.record(key, body)
        if accepted:
            self._reply(200, b'{"errors":false}')
        else:
            self._reply(429, b'{"error":"too many requests"}')

    def _reply(self, status: int, out: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *args):
        pass


class _Server(http.server.ThreadingHTTPServer):
    request_queue_size = 64  # the default listen backlog of 5 resets bursts
    daemon_threads = False  # server_close joins the handler threads


class BulkReceiver:
    """Start with :meth:`start`, read :meth:`counts`, zero them with
    :meth:`reset` between drains, and always :meth:`stop`."""

    def __init__(self, seed: int):
        self.seed = seed
        self._lock = threading.Lock()
        self._server: _Server | None = None
        self._thread: threading.Thread | None = None
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self._attempts: dict[str, int] = {}
            self._tokens: set[bytes] = set()
            self._posts = 0
            self._rejected = 0
            self._docs = 0
            self._docs_without_token = 0

    def record(self, key: str, body: bytes) -> bool:
        """Count one POST; returns False when it is answered with 429."""
        lines = [ln for ln in body.split(b"\n") if ln]
        docs = lines[1::2]
        with self._lock:
            self._posts += 1
            n = self._attempts.get(key, 0) + 1
            self._attempts[key] = n
            if n == 1 and rejects_first_attempt(self.seed, key):
                self._rejected += 1
                return False
            self._docs += len(docs)
            for doc in docs:
                m = _TOKEN.search(doc)
                if m:
                    self._tokens.add(m.group(0))
                else:
                    self._docs_without_token += 1
            return True

    def counts(self) -> dict:
        with self._lock:
            return {
                "posts": self._posts,
                "rejected": self._rejected,
                "bulks": len(self._attempts),
                "docs": self._docs,
                "unique_docs": len(self._tokens) + self._docs_without_token,
            }

    def tokens(self) -> set[str]:
        with self._lock:
            return {t.decode() for t in self._tokens}

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/_bulk"

    def start(self) -> "BulkReceiver":
        srv = _Server(("127.0.0.1", 0), _Handler)
        srv.receiver = self
        self._server = srv
        self._thread = threading.Thread(
            target=srv.serve_forever, kwargs={"poll_interval": 0.1},
            name="bulk-receiver",
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._server is None:
            return
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
        self._server = None
